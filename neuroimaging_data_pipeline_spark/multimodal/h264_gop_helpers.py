"""Shard-level helpers for the e13 composed video pipeline: reverse
the whole stack of a USTAR tar shard of per-document H.264 GOP blobs
(the WebDataset shape) — tar walk, NAL parse, CAVLC decode, motion
compensation — into order-pinned per-shard features.

The pack half is ``multimodal/tar.py`` ``tar_shards(media, "h264")``,
shared with the e14/e15/e16 pipelines. Kept in a dedicated module so
both the query layer and tests can drive the decode half directly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    decode_h264_sequence,
)
from neuroimaging_data_pipeline_spark.multimodal.tar import parse_tar


def decode_shard_features(
    shards: DataFrame,
) -> DataFrame:
    """Walk each tar shard, decode every member's 3-frame GOP, and
    emit per-shard (n_docs, total final-frame luma sum, md5 over
    'doc_id:sum' strings in member order)."""
    out_schema = (
        "shard_id long, n_docs long, sum_y_p2_total long,"
        " docs_md5 string"
    )

    def feat(shard_id, blob):
        parts = []
        total = 0
        for name, data in parse_tar(blob):
            doc_id = int(name.split(".")[0])
            frames = decode_h264_sequence(bytes(data))
            s = int(frames[-1][0].sum())
            total += s
            parts.append(f"{doc_id}:{s}")
        digest = hashlib.md5(
            "|".join(parts).encode()
        ).hexdigest()
        yield (shard_id, len(parts), total, digest)

    return map_rows(shards, feat, out_schema, cols=("shard_id", "tar"))
