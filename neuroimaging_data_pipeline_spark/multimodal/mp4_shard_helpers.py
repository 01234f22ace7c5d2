"""Shard-level helpers for the e15 composed CONTAINER-FIRST video
pipeline: reverse the whole stack of a USTAR tar shard of
per-document MP4 clips (avc1 + avcC + length-prefixed samples, the
m40 fixture) — tar member walk, MP4 box parse, avcC parameter-set
extraction, length-prefix re-framing, CAVLC H.264 decode over the
DPB — into order-pinned per-shard features. Completes the e13 (raw
Annex-B GOP shards) / e14 (MP3 shards) family with the container-first
path real corpora use (WebDataset .tar of .mp4 members).

The pack half is ``multimodal/tar.py`` ``tar_shards(media, "mp4")``.
Scale shape (same as e13/e14): ONE pack shuffle (groupBy shard), a
deliberate re-spread after it, then a single narrow decode+aggregate
task per shard — at 100 TB one task per tar shard, linear CPU.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
    decode_h264_mp4,
)
from neuroimaging_data_pipeline_spark.multimodal.tar import parse_tar


def decode_mp4_shard_features(shards: DataFrame) -> DataFrame:
    """Walk each tar shard, demux + fully decode every member's MP4
    (box walk, avcC, length-prefixed NALs, CAVLC + DPB), verify the
    container metadata every member must carry, and emit per-shard
    (n_docs, n_samples_total, sum of the decoded P2 luma, md5 over
    'doc_id:sum_y_idr:sum_y_p1:sum_y_p2:sum_cb_p2:sum_cr_p2' strings
    in member order)."""
    out_schema = (
        "shard_id long, n_docs long, n_samples_total long,"
        " sum_y_p2_total long, docs_md5 string"
    )

    def feat(shard_id, blob):
        parts = []
        p2_total = 0
        samples_total = 0
        for name, data in parse_tar(blob):
            doc_id = int(name.split(".")[0])
            frames, info = decode_h264_mp4(bytes(data))
            if (info["n_samples"] != len(frames)
                    or info["profile"] != 66
                    or info["length_size"] != 4):
                raise ValueError(
                    f"doc {doc_id}: container metadata "
                    "disagrees with the decoded stream"
                )
            samples_total += info["n_samples"]
            sums = (
                int(frames[0][0].sum()),
                int(frames[1][0].sum()),
                int(frames[2][0].sum()),
                int(frames[2][1].sum()),
                int(frames[2][2].sum()),
            )
            p2_total += sums[2]
            parts.append(
                f"{doc_id}:" + ":".join(str(v) for v in sums)
            )
        yield (shard_id, len(parts), samples_total,
               p2_total,
               hashlib.md5("|".join(parts).encode()).hexdigest())

    return map_rows(shards, feat, out_schema, cols=("shard_id", "tar"))


def _ffmpeg_gray_frames(annexb: bytes, w: int, h: int) -> list:
    """REAL decode of an Annex-B H.264 elementary stream through the
    ffmpeg binary (pipe in, gray8 rawvideo out) — the production
    decoder boundary for a 100 TB corpus, where a pure-Python
    software decode is the verification path, not the throughput
    path. Caller gates on ffmpeg_available()."""
    import subprocess

    import numpy as np

    proc = subprocess.run(
        ["ffmpeg", "-v", "error", "-f", "h264", "-i", "pipe:0",
         "-f", "rawvideo", "-pix_fmt", "gray8", "pipe:1"],
        input=annexb, stdout=subprocess.PIPE, check=True,
    )
    raw = proc.stdout
    fsz = w * h
    nf = len(raw) // fsz
    if nf == 0 or nf * fsz != len(raw):
        raise ValueError(
            f"ffmpeg produced {len(raw)} bytes — not a whole number "
            f"of {w}x{h} gray8 frames"
        )
    return [
        np.frombuffer(raw[i * fsz : (i + 1) * fsz], np.uint8)
        .reshape(h, w)
        for i in range(nf)
    ]


def decode_mp4_shard_features_xcheck(shards: DataFrame) -> DataFrame:
    """E16 feature stage — the e15 walk with the ffmpeg boundary
    exercised as a first-class pipeline step. The FROM-SCRATCH decode
    is always the source of the emitted features (so the output — and
    the DuckDB oracle — is identical on every machine); when the
    ffmpeg binary is on PATH, every member's recovered Annex-B stream
    is ALSO decoded through the real binary and each frame's luma
    plane must equal the from-scratch reconstruction bit-for-bit — a
    divergence raises ValueError instead of passing silently. Emits
    per-shard (n_docs, n_frames_total, sum over every frame's luma,
    md5 over 'doc_id:fsum0:fsum1:...' strings in member order)."""
    import numpy as np

    from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
        ffmpeg_available,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        decode_h264_sequence,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
        demux_h264_mp4,
    )

    out_schema = (
        "shard_id long, n_docs long, n_frames_total long,"
        " sum_y_frames_total long, frames_md5 string"
    )

    def feat(shard_id, blob):
        xcheck = ffmpeg_available()
        parts = []
        y_total = 0
        n_frames = 0
        for name, data in parse_tar(blob):
            doc_id = int(name.split(".")[0])
            annexb, _info = demux_h264_mp4(bytes(data))
            frames = decode_h264_sequence(annexb)
            fsums = [int(f[0].sum()) for f in frames]
            if xcheck:
                h, w = frames[0][0].shape
                gray = _ffmpeg_gray_frames(annexb, w, h)
                if len(gray) != len(frames):
                    raise ValueError(
                        f"doc {doc_id}: ffmpeg decoded "
                        f"{len(gray)} frames, from-scratch "
                        f"decoded {len(frames)}"
                    )
                for k, (g, f) in enumerate(zip(gray, frames)):
                    if not np.array_equal(g, f[0]):
                        raise ValueError(
                            f"doc {doc_id} frame {k}: ffmpeg "
                            "luma disagrees with the "
                            "from-scratch reconstruction"
                        )
            n_frames += len(frames)
            y_total += sum(fsums)
            parts.append(f"{doc_id}:" + ":".join(str(v) for v in fsums))
        yield (shard_id, len(parts), n_frames, y_total,
               hashlib.md5("|".join(parts).encode()).hexdigest())

    return map_rows(shards, feat, out_schema, cols=("shard_id", "tar"))
