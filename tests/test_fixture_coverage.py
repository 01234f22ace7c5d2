"""Fixture-coverage audit (r10, the r9 chroma-DC lesson made a gate).

The r9 16x chroma-DC dequant shrink survived EIGHT rounds because
every oracle fixture held chroma at a constant 128 — zero residuals
through the chroma path meant a systematic scale error was invisible
to both the SQL oracles and the encoder-mirrored round trips. These
tests assert, for every codec family with an oracle fixture, that the
fixture streams genuinely exercise nonzero values in each coded
syntax path (luma residuals, chroma residuals, motion, multiple
coefficient signs), so the next scale bug cannot hide behind a plane
held constant.

The assertions run on the REAL fixture builders (the same row
functions the driver queries use), executed eagerly on one in-memory
batch through ``tests.eager_df.EagerDF`` — no SparkSession needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.eager_df import EagerDF

DOC_IDS = [0, 1, 2, 7, 23, 101, 499]


def _run_builder(synth_fn, ids=DOC_IDS, id_col="doc_id"):
    """Execute a synthesize_* fixture builder on one eager in-memory
    batch and return {doc_id: content_bytes}."""
    out = synth_fn(
        EagerDF(pd.DataFrame({id_col: pd.Series(ids, dtype="int64")})),
        id_col=id_col,
    ).pdf
    out_id = [c for c in out.columns if c != "content"][0]
    captured = {int(i): bytes(c) for i, c in zip(out[out_id], out["content"])}
    assert set(captured) == set(ids)
    return captured


def _assert_plane_rich(name, plane, *, min_distinct=4):
    """A fixture plane must not be (near-)constant."""
    vals = np.unique(np.asarray(plane))
    assert len(vals) >= min_distinct, (
        f"{name}: only {len(vals)} distinct values — plane held "
        "(near-)constant, scale bugs can hide here"
    )


def test_m21_m25_intra_chroma_residuals():
    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        decode_h264_frame,
        synthesize_h264_i4x4_frames,
        synthesize_h264_intra_frames,
    )

    for synth in (synthesize_h264_intra_frames,
                  synthesize_h264_i4x4_frames):
        blobs = _run_builder(synth)
        for i, blob in blobs.items():
            y, cb, cr = decode_h264_frame(blob)
            _assert_plane_rich(f"{synth.__name__}[{i}] luma", y)
            _assert_plane_rich(f"{synth.__name__}[{i}] cb", cb)
            _assert_plane_rich(f"{synth.__name__}[{i}] cr", cr)
            assert not np.array_equal(cb, cr)


def test_m33_cabac_chroma_residuals():
    from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
        decode_h264_cabac,
        synthesize_h264_cabac_frames,
    )

    for i, blob in _run_builder(synthesize_h264_cabac_frames).items():
        y, cb, cr = decode_h264_cabac(blob)
        _assert_plane_rich(f"m33[{i}] luma", y)
        _assert_plane_rich(f"m33[{i}] cb", cb)
        _assert_plane_rich(f"m33[{i}] cr", cr)
        # chroma must vary WITHIN an 8x8 MB block too (AC residuals)
        assert len(np.unique(cb[:8, :8])) >= 2, "no chroma AC in MB0"


def test_m35_m36_inter_chroma_motion_and_residuals():
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        decode_h264_sequence,
        synthesize_h264_gop_frames,
        synthesize_h264_inter_frames,
    )

    for synth in (synthesize_h264_inter_frames,
                  synthesize_h264_gop_frames):
        for i, blob in _run_builder(synth).items():
            frames = decode_h264_sequence(blob)
            for fi, (y, cb, cr) in enumerate(frames):
                _assert_plane_rich(f"{synth.__name__}[{i}] f{fi} y", y)
                _assert_plane_rich(f"{synth.__name__}[{i}] f{fi} cb",
                                   cb)
                _assert_plane_rich(f"{synth.__name__}[{i}] f{fi} cr",
                                   cr)
            # the P frame's chroma must differ from a pure copy of the
            # anchor (nonzero chroma residual/motion actually coded)
            assert not np.array_equal(frames[1][1], frames[0][1])


def test_m37_bslice_chroma_all_regions():
    from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
        decode_h264_b_stream,
        synthesize_h264_b_frames,
    )

    for i, blob in _run_builder(synthesize_h264_b_frames).items():
        frames, pocs = decode_h264_b_stream(blob)
        yb, cbb, crb = frames[2]
        # every 8x8 chroma quadrant of the B frame (one per B
        # macroblock class: L0 / L1 / B_8x8 / mixed 16x8) is rich
        for qy in range(2):
            for qx in range(2):
                q = cbb[qy * 8 : qy * 8 + 8, qx * 8 : qx * 8 + 8]
                _assert_plane_rich(
                    f"m37[{i}] B-chroma quadrant ({qy},{qx})", q,
                    min_distinct=3,
                )
        assert not np.array_equal(cbb, frames[0][1])


def test_m40_mp4_carries_rich_chroma():
    from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
        decode_h264_mp4,
        synthesize_h264_mp4_clips,
    )

    for i, blob in _run_builder(synthesize_h264_mp4_clips,
                                ids=[0, 3, 11]).items():
        frames, info = decode_h264_mp4(blob)
        for fi, (y, cb, cr) in enumerate(frames):
            _assert_plane_rich(f"m40[{i}] f{fi} cb", cb)


def test_m34_m41_mp3_fixture_value_coverage():
    """MP3 fixtures must hit both signs, the zero value, and (m41)
    the table range limits of every selected Huffman table."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _m41_long_left,
        _m41_short_left,
        decode_mp3_l3,
        synthesize_mp3_intensity_clips,
        synthesize_mp3_l3_clips,
    )

    for synth in (synthesize_mp3_l3_clips,
                  synthesize_mp3_intensity_clips):
        for i, blob in _run_builder(synth, ids=[0, 5, 17]).items():
            out = decode_mp3_l3(blob)
            lines = np.array(
                [v for g in out["granules"] for v in g["lines"]]
            )
            assert (lines > 0).any() and (lines < 0).any(), (
                f"{synth.__name__}[{i}]: single-sign spectrum"
            )
    # m41 long-left granules reach the table-10/12 limit |7| and the
    # table-7 region limit |5|
    seen = set()
    for d in range(40):
        g = _m41_long_left(d, 0)
        seen.update(abs(v) for v in g.lines)
        seen.update(abs(v) for v in _m41_short_left(d, 2).lines)
    assert 7 in seen and 5 in seen, "m41 never reaches table limits"


def test_fixture_qp_not_single():
    """At least one oracle fixture family runs at a nonzero QP (the
    m41 global_gain family varies) and the pytest round-trips cover
    QP variation — guard against every fixture quietly converging to
    one quantizer."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _fixture_granule,
    )

    gains = {_fixture_granule(d, k).global_gain
             for d in range(20) for k in range(2)}
    assert len(gains) >= 8, "MP3 fixture global_gain collapsed"


def test_m43_bdeblock_edges_genuinely_active():
    """The m43 B-deblock fixture must keep both bS-1 B edges ACTIVE
    (nonzero filter adjustments in luma and chroma), across both d1
    signs — otherwise a wrong B bS derivation decodes identically
    and the oracle cannot see it."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (
        _m43_luma_adj,
        _m43_values,
        synthesize_h264_bdeblock_clips,
    )

    pos = neg = luma_moved = chroma_moved = 0
    for d in range(64):
        p = _m43_values(d)
        assert 1 <= abs(p["d1"]) <= 6
        assert 7 <= abs(p["d2"]) <= 19
        assert 2 <= abs(p["dc1"]) <= 6 and p["dc1"] % 2 == 0
        assert 8 <= abs(p["dc2"]) <= 18 and p["dc2"] % 2 == 0
        # anchor-adjacent deltas stay out of the active range
        v = p["v"]
        assert all(abs(b - a) >= 20 for a, b in zip(v, v[1:]))
        for plane in ("cb", "cr"):
            c = p[plane]
            assert all(abs(b - a) >= 20 for a, b in zip(c, c[1:]))
        pos += p["d1"] > 0
        neg += p["d1"] < 0
        _, wadj = _m43_luma_adj(d)
        luma_moved += wadj != 0
        chroma_moved += (
            ((3 * p["dc1"] + 4) >> 3) != 0 or ((3 * p["dc2"] + 4) >> 3) != 0
        )
    assert pos and neg, "d1 never changes sign"
    assert luma_moved >= 48, "luma edge adjustments mostly vanish"
    assert chroma_moved == 64, "chroma edges not always active"
    # the real builder runs its own closed-form assertions per doc
    blobs = _run_builder(synthesize_h264_bdeblock_clips, ids=[0, 1, 7, 23])
    assert all(len(b) > 100 for b in blobs.values())


def test_m30_flac_stereo_batch_planned_clips_round_trip():
    """The batch-planned stereo synthesizer (one planner pass over the
    whole batch) still writes each document's own samples."""
    from neuroimaging_data_pipeline_spark.multimodal.flac import (
        _doc_stereo,
        decode_flac,
        synthesize_flac_stereo_clips,
    )

    for i, blob in _run_builder(synthesize_flac_stereo_clips).items():
        d = decode_flac(blob)
        left, right = _doc_stereo(i)
        assert d["md5_ok"]
        assert d["samples"][0::2] == left and d["samples"][1::2] == right
