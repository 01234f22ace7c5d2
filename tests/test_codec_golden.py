"""Golden digests for the FLAC, JPEG, TIFF-LZW, MP3 and bzip2 codecs.

Each case pins the md5 of the bytes an encoder writes and the md5 of
what the matching decoder returns (bzip2 has no encoder here: its
streams come from stdlib ``bz2``, so only the parse is pinned). The
digests are a fixed reference: a change to the codec modules must
reproduce them exactly, never regenerate them. The round-trip suites
check that encoder and decoder agree with each other; these pins
check that neither drifts from the streams already written.
"""

from __future__ import annotations

import bz2
import hashlib

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.flac import (
    decode_flac,
    encode_flac,
    encode_flac_multichannel,
    encode_flac_stereo,
)
from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
    decode_jpeg,
    encode_jpeg_color,
    encode_jpeg_gray,
    encode_jpeg_progressive,
    sa_script,
)
from neuroimaging_data_pipeline_spark.multimodal.jpeg12 import (
    encode_jpeg_gray12,
)
from neuroimaging_data_pipeline_spark.multimodal.jpeg_hier import (
    decode_jpeg_hierarchical,
    encode_jpeg_hierarchical,
)
from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
    _SLEN,
    GranuleSpec,
    _fixture_granule,
    decode_mp3_l3,
    encode_mp3_l3,
)
from neuroimaging_data_pipeline_spark.multimodal.tiff import (
    lzw_decode,
    lzw_encode,
    read_tiff,
    write_tiff,
)
from neuroimaging_data_pipeline_spark.sources.bzip2 import parse_bzip2


def _md5(data: bytes) -> str:
    return hashlib.md5(bytes(data)).hexdigest()


def _feed(h, obj) -> None:
    """Canonical byte form of a decoder's output: dict keys sorted,
    arrays by shape, dtype and raw bytes, everything else by repr."""
    if isinstance(obj, dict):
        h.update(b"{")
        for k in sorted(obj, key=repr):
            h.update(repr(k).encode())
            _feed(h, obj[k])
        h.update(b"}")
    elif isinstance(obj, (list, tuple)):
        h.update(b"[")
        for v in obj:
            _feed(h, v)
        h.update(b"]")
    elif isinstance(obj, np.ndarray):
        a = np.ascontiguousarray(obj)
        h.update(f"{a.shape}{a.dtype}".encode())
        h.update(a.tobytes())
    elif isinstance(obj, (bytes, bytearray)):
        h.update(b"b" + bytes(obj))
    else:
        h.update(repr(obj).encode())


def _out_md5(obj) -> str:
    h = hashlib.md5()
    _feed(h, obj)
    return h.hexdigest()


# --- FLAC ----------------------------------------------------------------------


def _tone(n, seed, amp=9000, period=37.0):
    r = np.random.default_rng(seed)
    t = np.arange(n)
    x = amp * np.sin(2 * np.pi * t / period) + r.normal(0, 40, n)
    return [int(v) for v in np.clip(np.round(x), -32768, 32767)]


def _flac_mono():
    s = _tone(16 * 48, 1)
    s[16 * 5 : 16 * 6] = [1234] * 16  # a CONSTANT subframe
    s[16 * 9 : 16 * 10] = list(  # a VERBATIM-ish noise block
        np.random.default_rng(2).integers(-32768, 32767, 16).tolist()
    )
    stream = encode_flac(s, {"TITLE": "mono", "ARTIST": "golden"})
    return stream, decode_flac(stream)


def _flac_stereo_channels():
    """Per 16-sample block, signals that make each of the four
    channel assignments (independent, left-side, right-side,
    mid-side) the cheapest."""
    r = np.random.default_rng(3)
    left, right = [], []
    for b in range(64):
        kind = b % 4
        base = r.integers(-20000, 20000, 16)
        if kind == 0:  # unrelated channels: independent
            lb, rb = base, r.integers(-20000, 20000, 16)
        elif kind == 1:  # smooth left, noisy right near left
            lb = np.round(3000 * np.sin(np.arange(16) / 3.0 + b))
            rb = lb + r.integers(-300, 300, 16)
        elif kind == 2:  # noisy left near a smooth right
            rb = np.round(3000 * np.sin(np.arange(16) / 3.0 + b))
            lb = rb + r.integers(-300, 300, 16)
        else:  # a smooth mean under opposite noise: mid-side
            mid = np.round(3000 * np.sin(np.arange(16) / 3.0 + b))
            noise = r.integers(-2000, 2000, 16)
            lb, rb = mid + noise, mid - noise
        left += [int(v) for v in np.clip(lb, -32768, 32767)]
        right += [int(v) for v in np.clip(rb, -32768, 32767)]
    return left, right


def _flac_channel_nibbles(stream: bytes) -> set[int]:
    """Channel-assignment nibbles of every frame header (sync 0xFFF8)."""
    return {
        stream[i + 3] >> 4
        for i in range(len(stream) - 4)
        if stream[i] == 0xFF and stream[i + 1] == 0xF8
        and stream[i + 2] == 0x69
    }


def _flac_stereo():
    left, right = _flac_stereo_channels()
    stream = encode_flac_stereo(left, right, {"TITLE": "stereo"})
    return stream, decode_flac(stream)


def _flac_multichannel():
    chans = [_tone(16 * 24, 10 + c, amp=4000 + 1000 * c, period=20.0 + c)
             for c in range(5)]
    stream = encode_flac_multichannel(chans, {"TITLE": "5ch"})
    return stream, decode_flac(stream)


# --- JPEG ----------------------------------------------------------------------


def _img(h, w, seed, ch=None):
    """Smooth gradients plus noise: every Huffman code length and
    both short and long AC runs occur."""
    r = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 3 + xx * 2 + seed * 11) % 256
    if ch is None:
        return np.clip(base + r.integers(-20, 20, (h, w)), 0, 255).astype(
            np.uint8
        )
    planes = [
        np.clip((base + 40 * c) % 256 + r.integers(-25, 25, (h, w)), 0, 255)
        for c in range(ch)
    ]
    return np.stack(planes, axis=-1).astype(np.uint8)


_Q = np.full((8, 8), 3, np.int64)


def _jpeg(stream):
    return stream, decode_jpeg(stream)


def _jpeg_hier():
    r = np.random.default_rng(41)
    small = r.integers(0, 256, (8, 16)).astype(np.uint8)
    levels = [small]
    for _ in range(2):
        up = np.repeat(np.repeat(levels[-1], 2, 0), 2, 1).astype(np.int64)
        levels.append(
            np.clip(up + r.integers(-9, 9, up.shape), 0, 255).astype(
                np.uint8
            )
        )
    stream, recon = encode_jpeg_hierarchical(levels, qtable=_Q)
    return stream, (recon, decode_jpeg_hierarchical(stream))


# --- TIFF ----------------------------------------------------------------------


def _lzw():
    r = np.random.default_rng(5)
    # repetitive runs drive the table past 4094 codes (ClearCode) and
    # through every 9..12-bit width change
    data = bytes(r.integers(0, 6, 20000, dtype=np.uint8)) + bytes(
        range(256)
    ) * 30
    stream = lzw_encode(data)
    return stream, lzw_decode(stream)


def _tiff(little_endian):
    w, h = 40, 23
    px = bytes(((x * 7 + y * 3) ^ (x * y)) & 0xFF
               for y in range(h) for x in range(w))
    stream = write_tiff(px, w, h, rows_per_strip=5, compression=5,
                        little_endian=little_endian)
    return stream, read_tiff(stream)


# --- MP3 -----------------------------------------------------------------------


def _short_granule(d, k):
    big = 30 + (d + k) % 10
    lines = [0] * 576
    for i in range(2 * big):
        lines[i] = (d + k + i) % 3 - 1
    for j in range(24):
        lines[2 * big + j] = (d + j) % 3 - 1
    scomp = (d + k) % 16
    slen1, slen2 = _SLEN[scomp]
    ssf = [
        [
            (d + b + w) % (1 << (slen1 if b < 6 else slen2))
            if (slen1 if b < 6 else slen2) else 0
            for w in range(3)
        ]
        for b in range(12)
    ]
    return GranuleSpec(
        lines=lines, big_values=big, table_sel=(1, 1, 0), count1=6,
        count1_table_b=False, global_gain=130 + d % 40,
        scalefac_compress=scomp, scalefacs=[0] * 21,
        block_type=2, subblock_gain=(d % 8, (d + 1) % 8, (d + 2) % 8),
        short_scalefacs=ssf,
    )


def _mixed_granule(d, k):
    lines = [0] * 576
    for i in range(60):
        lines[i] = (d + k + i) % 3 - 1
    slen1, slen2 = _SLEN[9]
    ssf = {
        "long": [(d + b) % (1 << slen1) for b in range(8)],
        "short": [
            [(d + b + w) % (1 << (slen1 if b < 6 else slen2))
             for w in range(3)]
            for b in range(3, 12)
        ],
    }
    return GranuleSpec(
        lines=lines, big_values=30, table_sel=(2, 3, 0), count1=0,
        count1_table_b=True, global_gain=150, scalefac_compress=9,
        scalefacs=[0] * 21, block_type=2, mixed=True,
        subblock_gain=(1, 2, 3), short_scalefacs=ssf,
    )


def _long_granule(d, k, tabs=(1, 1, 1), vmax=1, zero_above=None, sf=None):
    lines = [0] * 576
    for i in range(120):
        lines[i] = (d + k + i) % (2 * vmax + 1) - vmax
    if zero_above is not None:
        lines[zero_above:] = [0] * (576 - zero_above)
    return GranuleSpec(
        lines=lines, big_values=60, table_sel=tabs, count1=0,
        count1_table_b=False, global_gain=130 + d,
        scalefac_compress=5 if sf else 0, scalefacs=sf or [0] * 21,
        region0_count=4, region1_count=3,
    )


def _mp3(gs, **kw):
    stream = encode_mp3_l3(gs, **kw)
    return stream, decode_mp3_l3(stream)


def _mp3_intensity():
    pos_sf = [0] * 21
    for b in range(8, 21):
        pos_sf[b] = b % 2
    gs = [
        _long_granule(4, 0),
        _long_granule(4, 1, zero_above=36, sf=pos_sf),
        _long_granule(4, 2),
        _long_granule(4, 3, zero_above=36, sf=pos_sf),
    ]
    return _mp3(gs, nch=2, intensity=True)


# --- bzip2 ---------------------------------------------------------------------


def _bzip2_text():
    r = np.random.default_rng(8)
    words = [b"spark", b"voxel", b"bold", b"cohort", b"zzzz", b"\xff\x00"]
    return b" ".join(words[int(i)] for i in r.integers(0, 6, 30000))


def _bzip2(blob):
    return None, parse_bzip2(blob)


CASES = {
    "flac_mono": _flac_mono,
    "flac_stereo_all_assignments": _flac_stereo,
    "flac_multichannel": _flac_multichannel,
    "jpeg_gray": lambda: _jpeg(encode_jpeg_gray(_img(37, 45, 1), _Q)),
    "jpeg_gray_restart": lambda: _jpeg(
        encode_jpeg_gray(_img(37, 45, 2), _Q, restart_interval=3)
    ),
    "jpeg_color_444": lambda: _jpeg(
        encode_jpeg_color(_img(24, 40, 3, ch=3), _Q, subsampling="444")
    ),
    "jpeg_color_420": lambda: _jpeg(
        encode_jpeg_color(_img(35, 42, 4, ch=3), _Q, subsampling="420",
                          restart_interval=2)
    ),
    "jpeg_progressive_gray_restart": lambda: _jpeg(
        encode_jpeg_progressive(_img(40, 48, 5), _Q, script=sa_script(1),
                                restart_interval=2)
    ),
    "jpeg_progressive_color_restart": lambda: _jpeg(
        encode_jpeg_progressive(_img(40, 56, 6, ch=3), _Q,
                                script=sa_script(3), subsampling="420",
                                restart_interval=3)
    ),
    "jpeg_gray12": lambda: _jpeg(
        encode_jpeg_gray12(
            (_img(24, 32, 7).astype(np.uint16) * 16
             + np.arange(32, dtype=np.uint16) % 16)
        )
    ),
    "jpeg_hierarchical": _jpeg_hier,
    "tiff_lzw": _lzw,
    "tiff_write_lzw_le": lambda: _tiff(True),
    "tiff_write_lzw_be": lambda: _tiff(False),
    "mp3_mono": lambda: _mp3([_fixture_granule(7, k) for k in range(6)]),
    "mp3_mono_midrange_tables": lambda: _mp3(
        [_long_granule(3, k, tabs=(7, 8, 9), vmax=5) for k in range(2)]
        + [_long_granule(5, k, tabs=(10, 12, 10), vmax=7) for k in range(2)]
    ),
    "mp3_stereo": lambda: _mp3(
        [_fixture_granule(9, k) for k in range(8)], nch=2
    ),
    "mp3_ms": lambda: _mp3(
        [_long_granule(2, k) for k in range(8)], nch=2, ms=True
    ),
    "mp3_intensity": _mp3_intensity,
    "mp3_short_blocks": lambda: _mp3([_short_granule(3, k) for k in range(4)]),
    "mp3_mixed_blocks": lambda: _mp3([_mixed_granule(7, k) for k in range(2)]),
    "bzip2_level1": lambda: _bzip2(bz2.compress(_bzip2_text(), 1)),
    "bzip2_level9_two_streams": lambda: _bzip2(
        bz2.compress(_bzip2_text()[:50000], 9) + bz2.compress(b"tail", 9)
    ),
    "bzip2_two_blocks": lambda: _bzip2(
        bz2.compress(bytes(np.random.default_rng(9).integers(
            0, 40, 130000, dtype=np.uint8)), 1)
    ),
}

# (stream md5 or None, decoded-output md5), computed once on the
# codecs as they stood before the shared bit-I/O kernel and never
# regenerated.
GOLDEN = {
    "bzip2_level1": (
        None,
        "3a05ca40f110cbe103efbcf0a9958868",
    ),
    "bzip2_level9_two_streams": (
        None,
        "dd4f5b87105008768313af79425ceb43",
    ),
    "bzip2_two_blocks": (
        None,
        "9418c9cf7e5b07ed7d891f1a2667178d",
    ),
    "flac_mono": (
        "8cf0d1ad0fc3932c9b781193c8e8dc92",
        "1c3d5c1dd7dc0a9d9d9e6134f85806c0",
    ),
    "flac_multichannel": (
        "9b86050af45bb1fb411d83d10318e73f",
        "8d0b6fb76e127974689a15231db70c56",
    ),
    "flac_stereo_all_assignments": (
        "c03f13f5d1bceaa7fb079ce580026ed9",
        "71ef862701e21874ab5242c85dd62150",
    ),
    "jpeg_color_420": (
        "2bd46de69d08af5e6322a67ffb4c7deb",
        "fa3ebc0b7821353a7bf20a29cda80f81",
    ),
    "jpeg_color_444": (
        "a59887b19a437ce6264b759294c363bc",
        "d69db6ea8660eea9d94431088f00fcbd",
    ),
    "jpeg_gray": (
        "a724b6e5f1caeefe72ed899193cfc685",
        "9651132a336ce33b2226412947e19b40",
    ),
    "jpeg_gray12": (
        "581bbb7b0cf911f6fd08e8c87feed5d0",
        "bb6880e4f09a95b74add7040b8c7dbd2",
    ),
    "jpeg_gray_restart": (
        "bc11bd8d4e00d2e13058c8778c1406cc",
        "4c7c4e20512d720a261495dc9435abab",
    ),
    "jpeg_hierarchical": (
        "83eb02729ea2a1db49927c992da677db",
        "23f399b08f754c8871a53326c92090b5",
    ),
    "jpeg_progressive_color_restart": (
        "8e681cd2299d2cec7e35d35271c0ee84",
        "c86c96c7b917422d54fa88a22ac475e4",
    ),
    "jpeg_progressive_gray_restart": (
        "e7ebae31f27540d22ee31eb54d636b6d",
        "2173e1b1bc16b8557c2d2ea8f7e0ad91",
    ),
    "mp3_intensity": (
        "59dd6d9840d932f3df48cc3bda45d77e",
        "a69d2100937da49d956558a1a565f749",
    ),
    "mp3_mixed_blocks": (
        "57a6359ad4c5c7793f7f051e5b17a7d7",
        "0d0f2c33927ec78d6f6ae39679e6f43a",
    ),
    "mp3_mono": (
        "ed347fdd32b0cee1a55234d9c320f986",
        "75abd81c04f6bc9a7d2fafec08c81533",
    ),
    "mp3_mono_midrange_tables": (
        "e759cfa17e42a5f84f71c8b5d35f7c68",
        "0d7f01239903eaf01a6d833aa995c368",
    ),
    "mp3_ms": (
        "11da0000b0bff9ca62b56e2838a6dd2a",
        "f5f86bc31503b6521fedf6917a17b5ef",
    ),
    "mp3_short_blocks": (
        "2858489f7aa7cd206aaed775bf90a84f",
        "7463770c82eb4f0cc8fdf0f7e573cea6",
    ),
    "mp3_stereo": (
        "aa7c1b96a860096833d4db5ec13cd041",
        "e176c72edb05d1896a819fde3a69a94d",
    ),
    "tiff_lzw": (
        "ebca0f11cfcb06022689ae0699c0ff82",
        "143901d03e83f28e09b090d8edac313a",
    ),
    "tiff_write_lzw_be": (
        "d10b5a7c59903ac6f83d3e00542964f7",
        "24f46e7be391c8a907261b41db940f64",
    ),
    "tiff_write_lzw_le": (
        "8088e34147a6fefcd466afd0ca79f64e",
        "e4033c0667c1b9477828096118837ea3",
    ),
}


def test_flac_stereo_case_covers_every_channel_assignment():
    stream, _ = _flac_stereo()
    assert _flac_channel_nibbles(stream) == {0b0001, 0b1000, 0b1001, 0b1010}


@pytest.mark.parametrize("case", sorted(CASES))
def test_codec_golden_digest(case):
    stream, out = CASES[case]()
    got = (None if stream is None else _md5(stream), _out_md5(out))
    assert got == GOLDEN[case]
