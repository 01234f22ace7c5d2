"""Mixed-container JSONL shard pack/unpack for the e12 pipeline.

Real training corpora are container-heterogeneous: Wikipedia dumps
ship ``.bz2``, many research dumps ship ``.xz``, and a release
pipeline ingests BOTH through one plan. This module packs documents
into multi-doc JSONL shards whose compression container ALTERNATES by
shard id — even shards written by stdlib libbzip2, odd shards by
stdlib liblzma (xz, CRC64 check) — and unpacks them with this repo's
FROM-SCRATCH decoders (``sources/bzip2.py``: Huffman-selector MTF /
inverse BWT / RLE stack; ``sources/xz.py``: LZMA2 range coder inside
the xz container). Every byte of every shard flows through a
hand-written entropy decoder; stdlib is only ever the conformance
WRITER, the same discipline as e11's libzstd shards.

Scale shape: one keyed pack shuffle (shard = id // 50), narrow
decode (one task per shard), exactly like the zstd twin.
"""

from __future__ import annotations


from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows, pack_shards

DOCS_PER_SHARD = 50


def synthesize_jsonl_bxz_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into 50-doc JSONL shards; even shard ids are
    ``.jsonl.bz2`` (compresslevel cycling 1/5/9 by shard//2), odd are
    ``.jsonl.xz`` (preset cycling 0/6/9). One keyed shuffle."""
    import bz2 as _bz2
    import json as _json
    import lzma as _lzma

    def pack(shard, docs):
        lines = [
            _json.dumps({"id": i, "text": "" if t is None else t}, sort_keys=True)
            for i, t in docs
        ]
        body = ("\n".join(lines) + "\n").encode()
        if shard % 2 == 0:
            blob = _bz2.compress(body, compresslevel=(1, 5, 9)[(shard // 2) % 3])
            container = "bz2"
        else:
            blob = _lzma.compress(
                body, format=_lzma.FORMAT_XZ,
                preset=(0, 6, 9)[(shard // 2) % 3],
            )
            container = "xz"
        yield shard, container, blob

    return pack_shards(
        docs, pack, "shard_id long, container string, content binary",
        DOCS_PER_SHARD, cols=(id_col, text_col),
    )


def bxz_shard_documents(
    shards: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Unpack mixed bz2/xz JSONL shards with the from-scratch
    decoders and re-emit one row per document. The integrity facts
    each container carries (bzip2's stream CRC-32, xz's CRC64 block
    checks) are verified inside the respective parsers."""
    import json as _json

    from neuroimaging_data_pipeline_spark.sources.bzip2 import parse_bzip2
    from neuroimaging_data_pipeline_spark.sources.xz import parse_xz

    out_schema = f"shard_id long, container string, {id_col} long, text string"

    def unpack(sid, container, content):
        if container == "bz2":
            d = parse_bzip2(content)
            if not d["crc_ok"]:
                raise ValueError(f"shard {sid}: bzip2 CRC failed")
        else:
            d = parse_xz(content)
        for line in d["content"].decode().splitlines():
            rec = _json.loads(line)
            yield sid, container, int(rec["id"]), rec["text"]

    return map_rows(
        shards, unpack, out_schema, cols=("shard_id", "container", "content")
    )
