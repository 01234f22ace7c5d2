"""The shared H.264 header layer (multimodal/h264.py): slice headers
and pred_weight_tables written by ``_slice_header`` parse back to the
same fields under the matching SPS/PPS, and every decoder applies the
parser's range checks to hostile headers."""

from __future__ import annotations

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.bitio import BitReader, BitWriter
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _nal,
    _norm_pwt,
    _parse_pps,
    _parse_slice_header,
    _parse_sps,
    _pps_rbsp,
    _resolve_pwt,
    _slice_header,
    _sps_rbsp,
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

_WEIGHTS = {"luma_denom": 3, "chroma_denom": 2}
_ENTRIES = [{"wy": 9, "oy": -2}, {"wcr": 5, "ocr": 1},
            {"wy": 7, "oy": 0, "wc": 3, "oc": 1, "wcr": 6, "ocr": -1}]


@pytest.mark.parametrize("case", [
    dict(kind="i"),
    dict(kind="i", cabac=True, deblock_idc=1),
    dict(kind="i", poc_lsb=0, deblock_idc=0, deblock_offs=(2, -3)),
    dict(kind="p", idr=False, frame_num=19, nra=3, deblock_idc=2,
         deblock_offs=(-6, 6)),
    dict(kind="p", idr=False, frame_num=3, nra=3,
         pwt=_norm_pwt(_WEIGHTS, _ENTRIES), deblock_idc=1),
    dict(kind="p", idr=False, frame_num=2, nra=2, cabac=True,
         deblock_idc=1),
    dict(kind="p", idr=False, frame_num=1, poc_lsb=70, deblock_idc=1),
    dict(kind="b", idr=False, ref=False, frame_num=2, poc_lsb=3,
         spatial=False, deblock_idc=0, deblock_offs=(1, 1)),
    dict(kind="b", idr=False, frame_num=2, poc_lsb=4,
         pwt=_norm_pwt(_WEIGHTS, _ENTRIES[1:2], _ENTRIES[2:]),
         deblock_idc=1),
])
def test_slice_header_round_trip(case):
    poc_type = 0 if "poc_lsb" in case else 2
    sps = _parse_sps(_sps_rbsp(2, 2, 32, 32, max_refs=3, poc_type=poc_type))
    pwt = case.get("pwt")
    pps = _parse_pps(_pps_rbsp(
        cabac=case.get("cabac", False),
        weighted_pred=case["kind"] == "p" and pwt is not None,
        bipred_idc=1 if case["kind"] == "b" and pwt is not None else 0,
        deblock_control="deblock_idc" in case,
    ))
    sl = BitWriter()
    _slice_header(sl, 31, **case)
    sl.u(0b1011, 4)  # first slice_data() bits
    sl.trailing()
    rbsp = sl.bytes_()
    idr = case.get("idr", True)
    nal_hdr = (0x40 if case.get("ref", True) else 0) | (5 if idr else 1)
    r = BitReader(rbsp)
    hdr = _parse_slice_header(r, sps, pps, nal_hdr)
    assert r.u(4) == 0b1011
    kind = case["kind"]
    assert hdr["kind"] == kind and hdr["qp"] == 31
    assert hdr["frame_num"] == case.get("frame_num", 0) % 16
    assert hdr["poc"] == case.get("poc_lsb", 0) % 64
    assert hdr["nra"] == (0 if kind == "i" else case.get("nra", 1))
    assert hdr["nra_l1"] == (1 if kind == "b" else 0)
    assert hdr["spatial"] == case.get("spatial", True)
    assert hdr["idc"] == case.get("deblock_idc", 1)
    if hdr["idc"] != 1:
        assert hdr["offs"] == case.get("deblock_offs", (0, 0))
    if pwt is None:
        assert hdr["pwt"] is None
    else:
        want = _resolve_pwt(pwt)
        want["l0"] = want["l0"][: hdr["nra"]]
        assert hdr["pwt"] == want


def _planes(h, w, seed):
    r = np.random.default_rng(seed)
    return tuple(
        r.integers(0, 256, s, dtype=np.uint8)
        for s in ((h, w), (h // 2, w // 2), (h // 2, w // 2))
    )


def _with_slice(stream: bytes, **hdr) -> bytes:
    """``stream`` plus one slice NAL carrying only a header with the
    given fields: the decoder must reject it before slice_data()."""
    sl = BitWriter()
    _slice_header(sl, 26, **hdr)
    sl.trailing()
    idr = hdr.get("idr", True)
    ref_idc = (3 if idr else 2) if hdr.get("ref", True) else 0
    return stream + _nal(ref_idc, 5 if idr else 1, sl.bytes_())


_TABLE = synthetic_p_init(3)
_F = [_planes(32, 32, k) for k in range(3)]


def _cabac_intra():
    return encode_h264_cabac_intra(*_F[0], qp=20)[0]


def _cabac_p():
    return encode_h264_cabac_p_gop(
        _F[:2], [[("16x16", [(1, 0)])] * 4], qp=20, init_table=_TABLE
    )[0]


def _cavlc_p():
    return encode_h264_p_gop(_F[:2], [[("16x16", [(1, 0)])] * 4],
                             qp=20, deblock=True)[0]


def _cavlc_b():
    return encode_h264_b_sequence(
        [("idr", _F[0]), ("p", _F[1], [("16x16", [(0, 0)])] * 4, 4)],
        qp=20,
    )[0]


_P = dict(kind="p", idr=False, frame_num=2)
_B = dict(kind="b", idr=False, ref=False, frame_num=2, poc_lsb=2)
_HOSTILE = [
    ("cabac_idr_idc", _cabac_intra, decode_h264_cabac,
     dict(cabac=True, deblock_idc=3)),
    ("cabac_idr_offsets", _cabac_intra, decode_h264_cabac,
     dict(cabac=True, deblock_idc=0, deblock_offs=(7, 0))),
    ("cabac_p_idc", _cabac_p,
     lambda s: decode_h264_cabac_p(s, init_table=_TABLE),
     dict(_P, cabac=True, deblock_idc=3)),
    ("cabac_p_offsets", _cabac_p,
     lambda s: decode_h264_cabac_p(s, init_table=_TABLE),
     dict(_P, cabac=True, deblock_idc=2, deblock_offs=(0, -7))),
    ("cabac_p_num_ref_idx", _cabac_p,
     lambda s: decode_h264_cabac_p(s, init_table=_TABLE),
     dict(_P, cabac=True, nra=16, deblock_idc=1)),
    ("cavlc_p_idc", _cavlc_p, decode_h264_sequence,
     dict(_P, deblock_idc=3)),
    ("cavlc_p_num_ref_idx", _cavlc_p, decode_h264_sequence,
     dict(_P, nra=16, deblock_idc=1)),
    ("cavlc_b_idc", _cavlc_b, decode_h264_b_stream,
     dict(_B, deblock_idc=5)),
    ("cavlc_b_offsets", _cavlc_b, decode_h264_b_stream,
     dict(_B, deblock_idc=0, deblock_offs=(-9, 0))),
]


@pytest.mark.parametrize("name,make,decode,hdr", _HOSTILE,
                         ids=[c[0] for c in _HOSTILE])
def test_every_decoder_range_checks_slice_headers(name, make, decode, hdr):
    stream = make()
    decode(stream)  # the untouched stream decodes
    with pytest.raises(ValueError, match="out of range|exceeds"):
        decode(_with_slice(stream, **hdr))
