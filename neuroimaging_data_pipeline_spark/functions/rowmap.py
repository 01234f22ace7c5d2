"""One Arrow boundary for per-row Python work: ``map_rows``.

Every codec, container parser and fixture builder in the engine is a
per-row Python function over a narrow scan (decode one payload, emit
its features; encode one document, emit its bytes). ``map_rows`` is
the single place those rows cross into and out of Python: it runs on
``mapInArrow``, calls ``fn(*row)`` with the row's columns in order
(Arrow hands over plain ``int``/``float``/``bytes``/``str``/``list``),
and builds each output column with one ``pa.array`` against the
declared schema.

``fn`` returns an iterable of output tuples in **schema order**: a 1:1
map yields one tuple, a flat map (audio frames, IPC documents) yields
zero or more. Arrow batches are matched to the schema by position, not
by name, so pass-through columns are yielded explicitly.

Conversion keeps the pandas-serializer semantics the engine's value
hashes were pinned under: ``from_pandas=True`` turns a NaN double into
null. When ``fn`` raises, the exception keeps its type (hostile-bytes
callers rely on ``ValueError``/``NotImplementedError``) and gains a
note naming the row's key, its first column.

Batch-vectorised kernels (the FLAC planners, CDC cut search, the NIfTI
per-TR explode) stay on ``mapInPandas``; ``operators/ols.py`` keeps its
own ``mapInArrow`` kernel.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame

_ARROW_TYPES = {
    "long": pa.int64(),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
    "boolean": pa.bool_(),
}


def _arrow_type(ddl: str) -> pa.DataType:
    t = ddl.strip().lower()
    if t.startswith("array<") and t.endswith(">"):
        return pa.list_(_arrow_type(t[6:-1]))
    return _ARROW_TYPES[t]


def _arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema of a flat DDL string (``"id long, xs array<double>"``).

    Parsed here because pyspark's DDL parser needs a live JVM, which
    the eager test stand-in (``tests/eager_df.py``) runs without."""
    return pa.schema(
        pa.field(name, _arrow_type(typ))
        for name, typ in (f.strip().split(None, 1) for f in schema.split(","))
    )


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple[Any, ...]]],
    schema: str,
) -> DataFrame:
    """``fn(*row)`` over every row of ``df``; its tuples become rows of
    ``schema``. See the module docstring for the contract."""
    out = _arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list[tuple[Any, ...]] = []
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                try:
                    rows.extend(fn(*row))
                except Exception as e:
                    e.add_note(f"map_rows: row key {row[0]!r:.80}")
                    raise
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(col, type=f.type, from_pandas=True)
                        for col, f in zip(zip(*rows, strict=True), out, strict=True)
                    ],
                    schema=out,
                )

    return df.mapInArrow(run, schema)
