"""H.264-inside-MP4 wiring (multimodal/h264_mp4.py): avcC build/parse,
Annex-B <-> length-prefixed sample conversion, and the container-first
decode path against the from-scratch H.264 decoder.

Reference parity: preprocess_parallel.sh:59-182 shells out for video
inputs; these tests pin the engine-side MP4/H.264 equivalent.
"""

import shutil
import subprocess
import tempfile
from pathlib import Path

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    decode_h264_sequence,
    encode_h264_p_gop,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
    annexb_to_samples,
    build_avcc,
    decode_h264_mp4,
    demux_h264_mp4,
    extract_avcc,
    mux_h264_mp4,
    parse_avcc,
)


def _planes(h, w, seed):
    r = np.random.default_rng(seed)
    return (
        r.integers(0, 256, (h, w), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
    )


def _gop(seed, h=32, w=48, qp=23, num_refs=2):
    rng = np.random.default_rng(seed)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    frames = [_planes(h, w, seed + k) for k in range(3)]
    specs = [
        [("16x16", [mv()]) for _ in range((h // 16) * (w // 16))],
        [("8x8", [("8x8", [mv()]), ("4x4", [mv()] * 4),
                  ("8x4", [mv(), mv()]), ("4x8", [mv(), mv()])]),
         ("i16",), ("skip",), ("16x8", [mv(), mv()]),
         ("16x16", [(mv(), 1)]), ("16x16", [(mv(), 0)])],
    ]
    return encode_h264_p_gop(frames, specs, qp=qp, num_refs=num_refs)


def test_avcc_roundtrip():
    annexb, _ = _gop(3)
    sps, pps, samples = annexb_to_samples(annexb)
    assert len(sps) == 1 and len(pps) >= 1 and len(samples) == 3
    box = build_avcc(sps, pps)
    assert box[4:8] == b"avcC"
    cfg = parse_avcc(box[8:])
    assert cfg["sps"] == sps and cfg["pps"] == pps
    assert cfg["profile"] == 66  # baseline (SPS byte 1)
    assert cfg["level"] == 20
    assert cfg["length_size"] == 4


@pytest.mark.parametrize("length_size", [2, 4])
def test_container_decode_bit_exact(length_size):
    """Container-first decode == elementary-stream decode == encoder
    recon, for every NAL length-prefix size avcC can declare."""
    annexb, recons = _gop(11 + length_size)
    mp4 = mux_h264_mp4(annexb, 7, 48, 32, length_size=length_size)
    frames, info = decode_h264_mp4(mp4)
    assert info["length_size"] == length_size
    assert info["n_samples"] == 3
    assert (info["width"], info["height"]) == (48, 32)
    direct = decode_h264_sequence(annexb)
    for a, b, c in zip(frames, direct, recons):
        for p, q, r in zip(a, b, c):
            np.testing.assert_array_equal(p, q)
            np.testing.assert_array_equal(p, r)


def test_demux_reassembles_parameter_sets_first():
    annexb, _ = _gop(21)
    mp4 = mux_h264_mp4(annexb, 3, 48, 32)
    out, info = demux_h264_mp4(mp4)
    # SPS (type 7) then PPS (type 8) precede every slice NAL
    from neuroimaging_data_pipeline_spark.multimodal.h264 import (
        _split_nals,
    )

    types = [n[0] & 0x1F for n in _split_nals(out)]
    assert types[0] == 7 and types[1] == 8
    assert all(t in (1, 5) for t in types[2:])
    assert info["major_brand"] == "isom" and info["handler"] == "vide"


def test_corrupt_containers_raise():
    annexb, _ = _gop(31)
    mp4 = bytearray(mux_h264_mp4(annexb, 1, 48, 32))
    # no avcC: flip the box tag
    broken = bytes(mp4).replace(b"avcC", b"avcX", 1)
    with pytest.raises(ValueError):
        extract_avcc(broken)
    # truncated length prefix inside a sample: shrink stsz's last size
    idx = bytes(mp4).find(b"stsz")
    # stsz payload: ver/flags(4) + fixed(4) + count(4) + sizes
    import struct

    count = struct.unpack(">I", mp4[idx + 12 : idx + 16])[0]
    last_off = idx + 16 + 4 * (count - 1)
    (last,) = struct.unpack(">I", mp4[last_off : last_off + 4])
    mp4[last_off : last_off + 4] = struct.pack(">I", last - 2)
    with pytest.raises(ValueError):
        demux_h264_mp4(bytes(mp4))
    with pytest.raises(ValueError):
        build_avcc([], [b"\x68"])
    with pytest.raises(ValueError):
        parse_avcc(b"\x02" + b"\x00" * 10)


def test_avcc_rejects_non_sps_first():
    annexb, _ = _gop(41)
    sps, pps, _ = annexb_to_samples(annexb)
    with pytest.raises(ValueError):
        build_avcc(pps, sps)  # swapped
    # a 1-byte length prefix cannot frame a coded-picture NAL
    with pytest.raises(ValueError):
        annexb_to_samples(annexb, length_size=1)


@pytest.mark.skipif(
    shutil.which("ffprobe") is None, reason="ffprobe not installed"
)
def test_ffprobe_cross_pin():
    """Conformance cross-check where the binary exists: ffprobe must
    see an avc1/h264 track with the muxed dimensions and 3 frames."""
    annexb, _ = _gop(51)
    mp4 = mux_h264_mp4(annexb, 9, 48, 32)
    with tempfile.NamedTemporaryFile(suffix=".mp4") as f:
        f.write(mp4)
        f.flush()
        out = subprocess.run(
            ["ffprobe", "-v", "error", "-select_streams", "v:0",
             "-show_entries",
             "stream=codec_name,width,height,nb_frames",
             "-of", "csv=p=0", f.name],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    codec, w, h, nb = out.split(",")[:4]
    assert codec == "h264" and (w, h) == ("48", "32")
    assert nb in ("3", "N/A")


def test_e15_shard_pack_and_decode_features(spark):
    """e15 helpers end-to-end: pack m40-style MP4s into a USTAR shard
    with ``tar_shards``, decode (eagerly) through the full
    tar -> box -> avcC -> CAVLC stack, and pin the shard layer
    (member order, metadata verification, md5 composition) against
    independent per-document decodes."""
    import hashlib

    import pandas as pd

    import neuroimaging_data_pipeline_spark.multimodal.mp4_shard_helpers as mh  # noqa: E501
    from tests.eager_df import EagerDF
    from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
        decode_h264_mp4,
        synthesize_h264_mp4_clips,
    )
    from neuroimaging_data_pipeline_spark.multimodal.tar import tar_shards

    ids = [0, 1, 2, 7]
    out = synthesize_h264_mp4_clips(
        EagerDF(pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64")}))
    ).pdf
    captured = {int(i): bytes(c) for i, c in zip(out["doc_id"], out["content"])}
    expect_parts = []
    p2_total = 0
    for i in ids:
        frames, info = decode_h264_mp4(captured[i])
        assert info["n_samples"] == 3
        sums = (
            int(frames[0][0].sum()), int(frames[1][0].sum()),
            int(frames[2][0].sum()), int(frames[2][1].sum()),
            int(frames[2][2].sum()),
        )
        p2_total += sums[2]
        expect_parts.append(f"{i}:" + ":".join(str(v) for v in sums))
    media = spark.createDataFrame(
        [(i, captured[i]) for i in ids], "doc_id long, content binary"
    )
    shard = EagerDF(tar_shards(media, "mp4").toPandas())
    row = mh.decode_mp4_shard_features(shard).pdf.iloc[0]
    assert row["n_docs"] == len(ids)
    assert row["n_samples_total"] == 3 * len(ids)
    assert row["sum_y_p2_total"] == p2_total
    want = hashlib.md5("|".join(expect_parts).encode()).hexdigest()
    assert row["docs_md5"] == want
