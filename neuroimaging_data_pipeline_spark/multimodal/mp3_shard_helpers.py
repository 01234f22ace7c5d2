"""Shard-level helpers for the e14 composed AUDIO pipeline: reverse
the whole stack of a USTAR tar shard of per-document MP3 Layer III
streams (the WebDataset shape an audio training corpus uses) — tar
walk, frame-header hop, bit-reservoir reassembly, side-info /
scalefactor / Huffman decode, requantization — into order-pinned
per-shard features. Mirrors h264_gop_helpers (e13).

The pack half is ``multimodal/tar.py`` ``tar_shards(media, "mp3")``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
    decode_mp3_l3,
)
from neuroimaging_data_pipeline_spark.multimodal.tar import parse_tar


def decode_mp3_shard_features(shards: DataFrame) -> DataFrame:
    """Walk each tar shard, fully decode every member's Layer III
    payload (bit reservoir and all), and emit per-shard (n_docs,
    total granules, total order-weighted spectral checksum, md5 over
    'doc_id:wsum' strings in member order)."""
    out_schema = (
        "shard_id long, n_docs long, n_granules_total long,"
        " wsum_total long, docs_md5 string"
    )

    def feat(shard_id, blob):
        parts = []
        wtotal = 0
        gr_total = 0
        for name, data in parse_tar(blob):
            doc_id = int(name.split(".")[0])
            out = decode_mp3_l3(bytes(data))
            if not out["reservoir_used"]:
                raise ValueError(
                    f"doc {doc_id}: bit reservoir never "
                    "exercised — fixture contract broken"
                )
            wsum = 0
            for k, g in enumerate(out["granules"]):
                for idx, v in enumerate(g["lines"]):
                    if v:
                        wsum += v * (idx + 1) * (k + 1)
            gr_total += out["n_granules"]
            wtotal += wsum
            parts.append(f"{doc_id}:{wsum}")
        digest = hashlib.md5(
            "|".join(parts).encode()
        ).hexdigest()
        yield (shard_id, len(parts), gr_total, wtotal,
               digest)

    return map_rows(shards, feat, out_schema, cols=("shard_id", "tar"))
