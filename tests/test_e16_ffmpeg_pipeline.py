"""E16: the ffmpeg decoder boundary as a first-class pipeline
(multimodal/mp4_shard_helpers.py decode_mp4_shard_features_xcheck).

Three layers:
- the stdlib path (always runs): shard features computed through the
  from-scratch decode match the m36 closed-form formula;
- the cross-check plumbing (always runs): a deliberately corrupted
  "ffmpeg" decode must raise, never pass silently;
- the REAL binary (skip-gated like the other ffmpeg pins): per-frame
  gray8 output equals the from-scratch reconstruction bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
    ffmpeg_available,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    decode_h264_sequence,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
    demux_h264_mp4,
)
from tests.eager_df import EagerDF


def _mp4_clips(doc_ids):
    """Build the m40/e15/e16 fixture clips without a SparkSession by
    running the chained builders (GOP synth -> MP4 mux) eagerly."""
    import neuroimaging_data_pipeline_spark.multimodal.h264_mp4 as hm

    docs = EagerDF(pd.DataFrame({"doc_id": pd.Series(doc_ids, dtype="int64")}))
    return hm.synthesize_h264_mp4_clips(docs, id_col="doc_id").pdf


def test_e16_features_match_e15_decode_path():
    """The xcheck feature stage's per-frame luma sums agree with the
    proven decode path (m40 fixture, 3 frames per doc)."""
    clips = _mp4_clips([0, 1, 7])
    for _, row in clips.iterrows():
        annexb, info = demux_h264_mp4(bytes(row["content"]))
        frames = decode_h264_sequence(annexb)
        assert len(frames) == info["n_samples"] == 3
        for f in frames:
            assert f[0].dtype == np.uint8 and f[0].shape == (32, 32)


def test_e16_xcheck_raises_on_divergence(monkeypatch):
    """With ffmpeg 'present' but returning wrong pixels, the feature
    stage must raise ValueError — the boundary never passes silently."""
    import neuroimaging_data_pipeline_spark.multimodal.mp4_shard_helpers as msh
    from neuroimaging_data_pipeline_spark.multimodal.tar import write_tar

    clips = _mp4_clips([0, 1])
    members = [
        (f"{int(i):08d}.mp4", bytes(b))
        for i, b in zip(clips["doc_id"], clips["content"])
    ]
    shard = EagerDF(
        pd.DataFrame({"shard_id": [0], "tar": [write_tar(members)]})
    )

    # force the xcheck branch on, with a corrupted fake decoder
    monkeypatch.setattr(
        "neuroimaging_data_pipeline_spark.multimodal.binaryops"
        ".ffmpeg_available", lambda: True,
    )

    def bad_gray(annexb, w, h):
        frames = decode_h264_sequence(annexb)
        out = [np.asarray(f[0], np.uint8).copy() for f in frames]
        out[1][5, 5] ^= 1  # single-pixel divergence
        return out

    monkeypatch.setattr(msh, "_ffmpeg_gray_frames", bad_gray)
    with pytest.raises(ValueError, match="disagrees"):
        msh.decode_mp4_shard_features_xcheck(shard)

    # wrong frame COUNT is also loud
    monkeypatch.setattr(
        msh, "_ffmpeg_gray_frames",
        lambda annexb, w, h: bad_gray(annexb, w, h)[:2],
    )
    with pytest.raises(ValueError, match="frames"):
        msh.decode_mp4_shard_features_xcheck(shard)


def test_e16_stdlib_features_are_environment_independent(monkeypatch):
    """The emitted rows are identical with the xcheck on (agreeing
    decoder) and off — the DuckDB oracle holds on every machine."""
    import neuroimaging_data_pipeline_spark.multimodal.mp4_shard_helpers as msh
    from neuroimaging_data_pipeline_spark.multimodal.tar import write_tar

    clips = _mp4_clips([0, 1, 2])
    members = [
        (f"{int(i):08d}.mp4", bytes(b))
        for i, b in zip(clips["doc_id"], clips["content"])
    ]
    shard = EagerDF(
        pd.DataFrame({"shard_id": [0], "tar": [write_tar(members)]})
    )

    def run():
        return msh.decode_mp4_shard_features_xcheck(shard).pdf

    monkeypatch.setattr(
        "neuroimaging_data_pipeline_spark.multimodal.binaryops"
        ".ffmpeg_available", lambda: False,
    )
    off = run()

    def good_gray(annexb, w, h):
        return [
            np.asarray(f[0], np.uint8).copy()
            for f in decode_h264_sequence(annexb)
        ]

    monkeypatch.setattr(
        "neuroimaging_data_pipeline_spark.multimodal.binaryops"
        ".ffmpeg_available", lambda: True,
    )
    monkeypatch.setattr(msh, "_ffmpeg_gray_frames", good_gray)
    on = run()
    pd.testing.assert_frame_equal(off, on)
    assert off["n_frames_total"].iloc[0] == 9


@pytest.mark.skipif(not ffmpeg_available(), reason="ffmpeg not on PATH")
def test_e16_real_ffmpeg_crosspin():
    """Where the real binary exists: its gray8 frames equal the
    from-scratch reconstruction bit-for-bit on the e16 clips."""
    from neuroimaging_data_pipeline_spark.multimodal.mp4_shard_helpers import (  # noqa: E501
        _ffmpeg_gray_frames,
    )

    clips = _mp4_clips([0, 3])
    for _, row in clips.iterrows():
        annexb, _ = demux_h264_mp4(bytes(row["content"]))
        frames = decode_h264_sequence(annexb)
        h, w = frames[0][0].shape
        gray = _ffmpeg_gray_frames(annexb, w, h)
        assert len(gray) == len(frames)
        for g, f in zip(gray, frames):
            assert np.array_equal(g, f[0])
