"""Golden digests for every public H.264 encoder and its decoder.

Each case pins the md5 of the Annex B (or MP4) bytes an encoder
writes and the md5 of the planes the matching decoder returns. The
digests are a fixed reference: a change to the codec modules must
reproduce them exactly, never regenerate them. The round-trip suites
check that encoder and decoder agree with each other; these pins
check that neither drifts from the streams already written.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    decode_h264_ipcm,
    encode_h264_ipcm,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
    decode_h264_b_stream,
    encode_h264_b_sequence,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
    decode_h264_cabac,
    encode_h264_cabac_intra,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac_inter import (
    decode_h264_cabac_p,
    encode_h264_cabac_p_gop,
    synthetic_p_init,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    decode_h264_sequence,
    encode_h264_p_gop,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    decode_h264_frame,
    encode_h264_i4x4,
    encode_h264_i16x16,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
    decode_h264_mp4,
    mux_h264_mp4,
)


def _planes(h, w, seed):
    r = np.random.default_rng(seed)
    return (
        r.integers(0, 256, (h, w), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
    )


def _smooth(h, w, seed):
    """Low-detail planes: motion-compensated frames of these keep
    small residuals, so skip and direct macroblocks stay cheap."""
    yy, xx = np.mgrid[0:h, 0:w]
    rr, cc = np.mgrid[0 : h // 2, 0 : w // 2]
    return (
        ((seed * 7 + yy * 3 + xx * 5) % 200 + 20).astype(np.uint8),
        ((seed * 3 + rr * 5 + cc * 2) % 180 + 30).astype(np.uint8),
        ((seed * 5 + rr * 2 + cc * 7) % 160 + 40).astype(np.uint8),
    )


def _md5(data: bytes) -> str:
    return hashlib.md5(bytes(data)).hexdigest()


def _planes_md5(frames) -> str:
    h = hashlib.md5()
    for frame in frames:
        for p in frame:
            a = np.ascontiguousarray(p)
            h.update(f"{a.shape}{a.dtype}".encode())
            h.update(a.tobytes())
    return h.hexdigest()


# --- P-GOP macroblock specs (2 x 3 macroblocks, 32 x 48 frames) -------------

_P_SPECS_1REF = [
    ("16x16", [(5, -3)]),
    ("skip",),
    ("16x8", [(2, 1), (-6, 7)]),
    ("8x8", [("8x8", [(1, 2)]), ("4x4", [(3, -1), (0, 0), (-2, 5), (7, 7)]),
             ("8x4", [(4, 4), (-3, 2)]), ("4x8", [(1, -5), (6, 0)])]),
    ("i16",),
    ("8x16", [(-1, -1), (9, 3)]),
]
_P_SPECS_INTRA = [
    ("i4", 4),
    ("ipcm",),
    ("16x16", [(0, 4)]),
    ("skip",),
    ("i4",),
    ("16x16", [(-4, -2)]),
]
_P_SPECS_MULTI = [
    ("16x16", [((3, 1), 2)]),
    ("16x8", [((2, 0), 1), ((-1, 3), 0)]),
    ("8x8", [("8x8", [(1, 1)], 2), ("4x4", [(0, 1)] * 4, 1),
             ("8x4", [(2, -2), (1, 0)], 0), ("4x8", [(0, 0), (3, 3)], 1)]),
    ("skip",),
    ("8x16", [((4, 4), 0), ((-2, 1), 2)]),
    ("i16",),
]


def _p_gop(num_refs, weights=None, deblock=False, offsets=(0, 0)):
    n_p = 4 if num_refs > 1 else 2
    # the loop filter only acts on smooth content at a coarse QP
    make, qp = (_smooth, 36) if deblock else (_planes, 24)
    frames = [make(32, 48, 40 + k) for k in range(n_p + 1)]
    specs = []
    for k in range(n_p):
        if num_refs > 1 and k >= 2:
            specs.append(_P_SPECS_MULTI)
        else:
            specs.append(_P_SPECS_1REF if k % 2 == 0 else _P_SPECS_INTRA)
    stream, _ = encode_h264_p_gop(
        frames, specs, qp=qp, num_refs=num_refs, weights=weights,
        deblock=deblock, deblock_offsets=offsets,
    )
    return stream, decode_h264_sequence(stream)


_P_WEIGHTS_1 = {"luma_denom": 5, "chroma_denom": 3,
                "refs": [{"wy": 36, "oy": -3, "wc": 9, "oc": 2}]}
_P_WEIGHTS_3 = {"luma_denom": 4, "chroma_denom": 2, "refs": [
    {"wy": 18, "oy": 1},
    {"wcr": 5, "ocr": -1},  # wcr-only: Cb falls back to wcr
    {"wy": 14, "oy": -2, "wc": 3, "oc": 1, "wcr": 6, "ocr": 0},
]}


# --- B sequences (2 x 2 macroblocks, 32 x 32 frames) ------------------------

_B_SPECS = [
    ("16x16", [("bi", (3, -1), (-2, 2))]),
    ("direct",),
    ("8x8", [("bi", "8x8", [((1, 0), (0, 1))]),
             ("l0", "8x4", [(2, 2), (-1, 0)]),
             ("l1", "4x8", [(0, 3), (1, 1)]),
             ("direct",)]),
    ("16x8", [("l0", (4, 0)), ("bi", (0, 4), (2, -2))]),
]
_B_SPECS_2 = [
    ("skip",),
    ("i16",),
    ("8x16", [("l1", (1, 1)), ("l0", (-3, 2))]),
    ("i4", 6),
]


def _b_entries(pyramid=False):
    f = {k: _smooth(32, 32, 60 + k) for k in range(5)}
    p_specs = [("16x16", [(2, -2)]), ("skip",), ("i16",),
               ("16x8", [(1, 0), (0, 1)])]
    if not pyramid:
        # POC 1 of 4: implicit weights differ from the plain average
        return [("idr", f[0]), ("p", f[1], p_specs, 4),
                ("b", f[2], _B_SPECS, 1)]
    return [
        ("idr", f[0]),
        ("p", f[1], p_specs, 8),
        ("bref", f[2], _B_SPECS, 4),
        ("b", f[3], _B_SPECS_2, 2),
        ("b", f[4], _B_SPECS, 6),
    ]


def _b_seq(pyramid=False, **kw):
    stream, _, pocs = encode_h264_b_sequence(_b_entries(pyramid), qp=26,
                                             **kw)
    frames, dpocs = decode_h264_b_stream(stream)
    assert dpocs == pocs
    return stream, frames


_B_WEIGHTS = {
    "luma_denom": 4, "chroma_denom": 3,
    "l0": {"wy": 20, "oy": 1, "wcr": 11, "ocr": -2},
    "l1": {"wy": 14, "oy": -1, "wc": 6, "oc": 0, "wcr": 9, "ocr": 2},
}


def _intra(encode, decode, h, w, seed, **kw):
    y, cb, cr = _planes(h, w, seed)
    stream = encode(y, cb, cr, **kw)
    if isinstance(stream, tuple):
        stream = stream[0]
    return stream, [decode(stream)]


def _cabac_p():
    frames = [_planes(32, 48, 90 + k) for k in range(4)]
    specs = [
        [("16x16", [(3, 1)]), ("skip",), ("16x8", [(2, 2), (-1, 4)]),
         ("8x16", [(0, -3), (5, 5)]), ("i16",), ("skip",)],
        [("8x8", [("8x8", [(1, 2)]), ("4x4", [(2, 1)] * 4),
                  ("8x4", [(3, 0), (0, 3)], 1), ("4x8", [(1, 1), (4, 2)])]),
         ("16x16", [((2, 2), 1)]), ("skip",), ("i16",),
         ("16x8", [((1, 0), 0), ((0, 1), 1)]), ("16x16", [(6, -6)])],
        [("skip",)] * 3 + [("16x16", [((1, 1), 1)])] * 3,
    ]
    table = synthetic_p_init(7)
    stream, _ = encode_h264_cabac_p_gop(frames, specs, qp=22, num_refs=2,
                                        init_table=table)
    return stream, decode_h264_cabac_p(stream, init_table=table)


def _mp4():
    annexb, _ = _p_gop(3, weights=_P_WEIGHTS_3, deblock=True, offsets=(1, -2))
    mp4 = mux_h264_mp4(annexb, doc_id=11, width=48, height=32)
    frames, _ = decode_h264_mp4(mp4)
    return mp4, frames


CASES = {
    "ipcm": lambda: _intra(encode_h264_ipcm, decode_h264_ipcm, 20, 36, 1),
    "i16x16": lambda: _intra(encode_h264_i16x16, decode_h264_frame,
                             24, 40, 2, qp=18),
    "i16x16_plane": lambda: _intra(encode_h264_i16x16, decode_h264_frame,
                                   32, 32, 3, qp=30, pred_mode=3,
                                   chroma_mode=3),
    "i4x4": lambda: _intra(encode_h264_i4x4, decode_h264_frame,
                           24, 40, 4, qp=22, mode=4),
    "cabac_intra": lambda: _intra(encode_h264_cabac_intra,
                                  decode_h264_cabac, 40, 24, 5, qp=26,
                                  i4x4_mode=6),
    "p_gop_1ref": lambda: _p_gop(1),
    "p_gop_3ref": lambda: _p_gop(3),
    "p_gop_1ref_weights": lambda: _p_gop(1, weights=_P_WEIGHTS_1),
    "p_gop_3ref_weights_wcr_only": lambda: _p_gop(3, weights=_P_WEIGHTS_3),
    "p_gop_deblock_on": lambda: _p_gop(1, deblock=True),
    "p_gop_deblock_offsets": lambda: _p_gop(3, deblock=True,
                                            offsets=(2, -3)),
    "p_gop_deblock_idc2": lambda: _p_gop(1, deblock=2, offsets=(-1, 1)),
    "b_seq": lambda: _b_seq(),
    "b_seq_temporal_deblock": lambda: _b_seq(direct_mode="temporal",
                                             deblock=2,
                                             deblock_offsets=(1, 2)),
    "b_seq_explicit_weights": lambda: _b_seq(weights=_B_WEIGHTS),
    "b_seq_implicit_weights": lambda: _b_seq(weights="implicit"),
    "b_pyramid": lambda: _b_seq(pyramid=True),
    "b_pyramid_temporal_deblock": lambda: _b_seq(
        pyramid=True, direct_mode="temporal", deblock=True,
        deblock_offsets=(-2, 1)),
    "cabac_p_gop": _cabac_p,
    "mp4_mux": _mp4,
}

# (stream md5, decoded-planes md5), computed once on the codec as it
# stood before the shared header layer and never regenerated.
GOLDEN = {
    "b_pyramid": (
        "04e6c7a234eb8ea38d9eb4dc7bf828df",
        "a8cee1e518a5486a987480c69a476f0b",
    ),
    "b_pyramid_temporal_deblock": (
        "ad3919ad87e8bdbc9cef4131d55d1e5b",
        "05d1f034f10875fced934c25d8b8170f",
    ),
    "b_seq": (
        "c649fc03f3cbc41d1db27969dbceec55",
        "c2a13aa84a57ace61d6352aa065cd587",
    ),
    "b_seq_explicit_weights": (
        "baca2595e1cb08ad8775e6e6b20a597c",
        "cde455c2e4143f214ae60d2ca4304e4e",
    ),
    "b_seq_implicit_weights": (
        "66aa4e2be6787a720d0259d344e669fd",
        "aaf3ea41883e34168be2e644b4b6d43a",
    ),
    "b_seq_temporal_deblock": (
        "e31528fba1ef47230b30d8917733cc55",
        "1daff8464eb15aa710517c9bfd6129f4",
    ),
    "cabac_intra": (
        "4d0bc8e2971d240d3e4776741e53cca5",
        "3156883490460f41e968d7abc8459389",
    ),
    "cabac_p_gop": (
        "0aaa0a44196618c8f8a21e7f36e4fd25",
        "5955d142d3e86dd7b47b0402e54cfb34",
    ),
    "i16x16": (
        "e3a0efbe3a267c69c172ea9ebcbd5496",
        "80225e8698b742544841bc0276d2b03a",
    ),
    "i16x16_plane": (
        "5ae256aa0fdc323e393cf234b782a3d8",
        "cabc8b75a57df96ef5183d5c7ff70642",
    ),
    "i4x4": (
        "4449549d1055a9db4dcd23e911be876d",
        "cf6b8e0ad0e5720489760937e2eccf02",
    ),
    "ipcm": (
        "100df08f094bbc5f0b0e7052d6b52401",
        "d773c705a89ea1828ad5abf7dc56cd01",
    ),
    "mp4_mux": (
        "cd3349f04de31275f78482f7af3467e5",
        "ec02042f25bab98aa05309977c27f9cf",
    ),
    "p_gop_1ref": (
        "c8c73a82ca2c7ea58dca40fa6c66fb87",
        "a65228f0e7a6bbf82ddebff2cd2ce93f",
    ),
    "p_gop_1ref_weights": (
        "35a8d01127355da2ad5153bfdf8c226b",
        "ea61614f364f750e1317680d83b5df06",
    ),
    "p_gop_3ref": (
        "7c66c919c3eea2c62af17bef21d09f65",
        "773d08ecf959b1533094c85803490123",
    ),
    "p_gop_3ref_weights_wcr_only": (
        "76637fa61722c0b0daba11a923171f73",
        "3ef8a64d19cfec4c0ffd4b30932704c1",
    ),
    "p_gop_deblock_idc2": (
        "04bb778f89640190d913093c1d48f342",
        "bb17e8aba6be4900ec01d18b8d02d425",
    ),
    "p_gop_deblock_offsets": (
        "dcdfffe47cf4d9df2c6d9f2c3c0334fb",
        "d9fa89f267b08e02bfe421d96d03ed1c",
    ),
    "p_gop_deblock_on": (
        "238d0bb60ed8b9907357e0027b983734",
        "2de194e774fde39043e2649fbe5bf1e4",
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_h264_golden_digest(case):
    stream, frames = CASES[case]()
    assert (_md5(stream), _planes_md5(frames)) == GOLDEN[case]
