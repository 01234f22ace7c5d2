"""Adversarial / corrupt-stream fuzz over the r10/r11 parser paths
(VERDICT r10 #6): hostile corpus bytes must fail LOUDLY with a
controlled error (ValueError / NotImplementedError), never hang,
silently succeed on truncated data, or escape with a low-level
IndexError from deep inside a slice loop. Extends the r9 MV
bounds-check work to the MP4 container, the avcC record, the
length-prefixed sample layer, the deblocking filter's block-info
surface and the MP3 frame parser."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    encode_h264_p_gop,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
    build_avcc,
    decode_h264_mp4,
    demux_h264_mp4,
    mux_h264_mp4,
    parse_avcc,
)

_CTRL = (ValueError, NotImplementedError)


def _planes(h, w, seed):
    r = np.random.default_rng(seed)
    return (
        r.integers(0, 256, (h, w), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
    )


def _good_mp4() -> bytes:
    frames = [_planes(32, 32, 1), _planes(32, 32, 2)]
    specs = [[("16x16", [(0, 0)]), ("skip",), ("i16",),
              ("16x16", [(4, -4)])]]
    annexb, _ = encode_h264_p_gop(frames, specs, qp=20)
    return mux_h264_mp4(annexb, doc_id=7, width=32, height=32)


GOOD_MP4 = _good_mp4()


# ------------------------------------------------------------- avcC

def _good_avcc() -> bytes:
    _, info = demux_h264_mp4(GOOD_MP4)
    box = build_avcc(info["sps"], info["pps"],
                     length_size=info["length_size"])
    return box[8:]  # parse_avcc takes the record with box header stripped


GOOD_AVCC = _good_avcc()


def test_avcc_roundtrip_sanity():
    cfg = parse_avcc(GOOD_AVCC)
    assert cfg["sps"] and cfg["pps"] and cfg["length_size"] == 4


def test_avcc_every_truncation_fails_loudly():
    """EVERY proper prefix of a valid avcC either raises ValueError
    or (for prefixes that happen to stay self-consistent) parses to
    complete parameter sets — never an IndexError / struct.error /
    silent short slice."""
    for cut in range(len(GOOD_AVCC)):
        try:
            cfg = parse_avcc(GOOD_AVCC[:cut])
        except ValueError:
            continue
        # a successful parse must have consumed intact NAL bytes
        assert all(isinstance(n, bytes) for n in cfg["sps"])
        assert cfg["sps"] == parse_avcc(GOOD_AVCC)["sps"][: len(cfg["sps"])]


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=64))
def test_avcc_random_bytes_controlled(data):
    try:
        cfg = parse_avcc(data)
        assert 1 <= cfg["length_size"] <= 4
    except ValueError:
        pass


# ------------------------------------------- MP4 samples / container

def test_oversize_nal_length_rejected():
    """Corrupting a sample's 4-byte NAL length prefix to a huge
    value must be caught by the sample-bounds check."""
    data = bytearray(GOOD_MP4)
    # find the mdat payload: first IDR sample starts right after the
    # mdat header; patch its length prefix to 0xFFFFFFF0
    at = bytes(data).find(b"mdat") + 4
    data[at : at + 4] = b"\xff\xff\xff\xf0"
    with pytest.raises(ValueError, match="overruns|truncated|checksum|length"):
        demux_h264_mp4(bytes(data))


def test_truncated_mp4_fails_loudly():
    for cut in (4, 16, 64, len(GOOD_MP4) // 2, len(GOOD_MP4) - 3):
        with pytest.raises(_CTRL):
            demux_h264_mp4(GOOD_MP4[:cut])


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31), n=st.integers(1, 3))
def test_mp4_bitflips_controlled(seed, n):
    """Random bit flips anywhere in the container: decode either
    still succeeds (flip landed in a don't-care byte) or raises a
    controlled error — never a hang or low-level crash."""
    rng = np.random.default_rng(seed)
    data = bytearray(GOOD_MP4)
    for _ in range(n):
        i = int(rng.integers(0, len(data)))
        data[i] ^= 1 << int(rng.integers(0, 8))
    try:
        decode_h264_mp4(bytes(data))
    except _CTRL:
        pass
    except (IndexError, KeyError, struct_error_types()):
        pytest.fail("low-level error escaped the parser")


def struct_error_types():
    import struct

    return struct.error


# ------------------------------------ deblocking filter block info

def test_deblock_missing_neighbor_info_shapes():
    """deblock_frame must reject wrong-geometry frames loudly and
    tolerate arbitrary (well-shaped) block info without crashing."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (
        deblock_frame,
        make_block_info_b,
    )

    y = np.full((24, 16), 100, np.uint8)  # 24 % 16 != 0
    c = np.full((12, 8), 128, np.uint8)
    with pytest.raises(ValueError, match="whole macroblocks"):
        deblock_frame(y, c, c.copy(), qp=30)
    rng = np.random.default_rng(5)
    for seed in range(8):
        r = np.random.default_rng(seed)
        y = r.integers(0, 256, (32, 32), np.uint8)
        c = r.integers(0, 256, (16, 16), np.uint8)
        info = make_block_info_b(
            2, 2,
            inter=r.integers(0, 2, (8, 8)).astype(bool),
            nnz=r.integers(0, 3, (8, 8)),
            mv0=r.integers(-64, 65, (8, 8, 2)),
            mv1=r.integers(-64, 65, (8, 8, 2)),
            pf0=r.integers(0, 2, (8, 8)).astype(bool),
            pf1=r.integers(0, 2, (8, 8)).astype(bool),
            pic0=0, pic1=8,
        )
        out = deblock_frame(y, c, c.copy(), qp=int(rng.integers(0, 52)),
                            info=info)
        assert out[0].shape == y.shape and out[0].dtype == np.uint8


# ----------------------------------------------------------- MP3

def test_mp3_truncation_and_bitflips_controlled():
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _fixture_granule,
        decode_mp3_l3,
        encode_mp3_l3,
    )

    good = encode_mp3_l3([_fixture_granule(3, k) for k in range(6)])
    decode_mp3_l3(good)  # sanity
    for cut in (0, 2, 10, len(good) // 2, len(good) - 1):
        try:
            decode_mp3_l3(good[:cut])
        except _CTRL:
            pass
    rng = np.random.default_rng(9)
    for _ in range(20):
        data = bytearray(good)
        i = int(rng.integers(0, len(data)))
        data[i] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_mp3_l3(bytes(data))
        except _CTRL:
            pass


# ------------------------------------- MP3 / FLAC / TIFF-LZW / bzip2


def _hostile_mp3() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _fixture_granule,
        decode_mp3_l3,
        encode_mp3_l3,
    )

    good = encode_mp3_l3([_fixture_granule(5, k) for k in range(8)], nch=2)
    return good, decode_mp3_l3


def _hostile_flac() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.flac import (
        decode_flac,
        encode_flac_stereo,
    )

    r = np.random.default_rng(4)
    left = [int(v) for v in r.integers(-3000, 3000, 16 * 6)]
    right = [v + int(d) for v, d in zip(left, r.integers(-40, 40, 16 * 6))]
    return encode_flac_stereo(left, right, {"TITLE": "x"}), decode_flac


def _hostile_lzw() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.tiff import (
        lzw_decode,
        lzw_encode,
    )

    data = bytes(np.random.default_rng(6).integers(0, 9, 1500,
                                                   dtype=np.uint8))
    return lzw_encode(data), lzw_decode


def _hostile_bzip2() -> tuple[bytes, object]:
    import bz2

    from neuroimaging_data_pipeline_spark.sources.bzip2 import parse_bzip2

    body = b"voxel spark cohort " * 20 + bytes(range(60))
    return bz2.compress(body, 1) + bz2.compress(b"S9", 9), parse_bzip2


def _hostile_jpeg_gray() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    img = np.random.default_rng(7).integers(0, 256, (16, 24), np.uint8)
    return encode_jpeg_gray(img, restart_interval=2), decode_jpeg


def _hostile_jpeg_progressive_color() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
        sa_script,
    )

    img = np.random.default_rng(8).integers(0, 256, (16, 16, 3), np.uint8)
    good = encode_jpeg_progressive(img, script=sa_script(3),
                                   subsampling="420", restart_interval=1)
    return good, decode_jpeg


def _hostile_jpeg_arith() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.jpeg_arith import (
        decode_jpeg_arith,
        encode_jpeg_arith,
    )

    img = np.random.default_rng(11).integers(0, 4096, (16, 16), np.uint16)
    return encode_jpeg_arith(img, precision=12), decode_jpeg_arith


def _hostile_jpeg_hier() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.jpeg_hier import (
        decode_jpeg_hierarchical,
        encode_jpeg_hierarchical,
    )

    r = np.random.default_rng(10)
    small = r.integers(0, 256, (8, 8)).astype(np.uint8)
    levels = [small, np.repeat(np.repeat(small, 2, 0), 2, 1)]
    good, _ = encode_jpeg_hierarchical(levels)
    return good, decode_jpeg_hierarchical


def _hostile_png() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
        decode_png,
        encode_png,
    )

    img = np.random.default_rng(12).integers(0, 256, (10, 8, 3), np.uint8)
    return encode_png(img, interlace=True), decode_png


def _hostile_gif() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.gif import (
        decode_gif,
        encode_gif,
        gif_palette,
    )

    r = np.random.default_rng(13)
    frames = [r.integers(0, 8, (12, 16)).astype(np.uint8) for _ in range(2)]
    lct = [(255 - a, 255 - b, 255 - c) for a, b, c in gif_palette()]
    good = encode_gif(frames, gif_palette(), [5, 10],
                      local_palettes=[None, lct], interlaced=True)
    return good, decode_gif


def _hostile_bmp() -> tuple[bytes, object]:
    from neuroimaging_data_pipeline_spark.multimodal.bmp import (
        decode_bmp,
        encode_bmp,
    )

    r = np.random.default_rng(14)
    px = [[tuple(int(v) for v in r.integers(0, 256, 3)) for _ in range(5)]
          for _ in range(3)]
    return encode_bmp(px), decode_bmp


@pytest.mark.parametrize(
    "make",
    [_hostile_mp3, _hostile_flac, _hostile_lzw, _hostile_bzip2,
     _hostile_jpeg_gray, _hostile_jpeg_progressive_color, _hostile_jpeg_arith,
     _hostile_jpeg_hier, _hostile_png, _hostile_gif, _hostile_bmp],
    ids=["mp3", "flac", "tiff_lzw", "bzip2", "jpeg_gray",
         "jpeg_progressive_color", "jpeg_arith", "jpeg_hierarchical",
         "png", "gif", "bmp"],
)
def test_codec_every_prefix_and_bitflips_controlled(make):
    """Every proper prefix of a valid stream, and seeded 1-2 bit
    flips of it, either decode or raise ValueError /
    NotImplementedError — never IndexError, KeyError, TypeError or
    struct.error from inside a parser."""
    good, decode = make()
    decode(good)  # sanity
    for cut in range(len(good)):
        try:
            decode(good[:cut])
        except _CTRL:
            pass
    rng = np.random.default_rng(len(good))
    for _ in range(150):
        data = bytearray(good)
        for _ in range(int(rng.integers(1, 3))):
            i = int(rng.integers(0, len(data)))
            data[i] ^= 1 << int(rng.integers(0, 8))
        try:
            decode(bytes(data))
        except _CTRL:
            pass


# ------------------------------------------------------------- JPEG


def test_jpeg_scan_ending_in_lone_ff_raises_valueerror():
    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    img = np.random.default_rng(2).integers(0, 256, (16, 16), np.uint8)
    blob = encode_jpeg_gray(img)
    sos = blob.index(b"\xff\xda")
    scan_at = sos + 2 + int.from_bytes(blob[sos + 2 : sos + 4], "big")
    for cut in range(scan_at + 1, len(blob) - 2):
        with pytest.raises(ValueError):
            decode_jpeg(blob[:cut] + b"\xff")


def test_jpeg_short_dht_raises_valueerror():
    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    blob = encode_jpeg_gray(np.zeros((8, 8), np.uint8))
    at = blob.index(b"\xff\xc4")
    seglen = int.from_bytes(blob[at + 2 : at + 4], "big")
    for keep in (3, 10, 17, 18, seglen - 3):
        # the DHT segment keeps its first `keep` body bytes
        short = (
            blob[:at + 2] + (keep + 2).to_bytes(2, "big")
            + blob[at + 4 : at + 4 + keep] + blob[at + 2 + seglen :]
        )
        with pytest.raises(ValueError):
            decode_jpeg(short)
