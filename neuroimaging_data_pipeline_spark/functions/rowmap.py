"""One Arrow boundary for Python work: ``map_rows``, ``map_batches``
and ``pack_shards``.

Every codec, container parser and fixture builder in the engine is a
per-row Python function over a narrow scan (decode one payload, emit
its features; encode one document, emit its bytes). ``map_rows`` is
the single place those rows cross into and out of Python: it runs on
``mapInArrow``, calls ``fn(*row)`` with the row's columns in order
(Arrow hands over plain ``int``/``float``/``bytes``/``str``/``list``),
and builds each output column with one ``pa.array`` against the
declared schema. ``map_batches`` is the same boundary for the
batch-vectorised kernels (the FLAC planners, CDC cut search, the NIfTI
per-TR explode): ``fn`` maps an iterator of pandas frames to an
iterator of pandas frames, and each output frame's columns are read by
schema name. ``pack_shards`` is the same boundary for the shard writers
(WARC, mbox, Avro, IPC, ZIP, SQLite, CBOR, TFRecord, JSONL and tar
shards): one keyed shuffle on ``cols[0] // per_shard``, then
``fn(shard_id, rows)`` once per shard on ``applyInArrow``, with the
shard's rows as tuples of ``cols`` sorted ascending by ``cols[0]``.

``map_rows`` and ``map_batches`` take ``cols``, the input columns to
select (names, or Column expressions); without it every column of
``df`` is passed. ``pack_shards`` needs ``cols`` as names.

``fn`` returns an iterable of output tuples in **schema order**: a 1:1
map yields one tuple, a flat map (audio frames, IPC documents) yields
zero or more. Arrow batches are matched to the schema by position, not
by name, so pass-through columns are yielded explicitly.

Conversion keeps the pandas-serializer semantics the engine's value
hashes were pinned under: ``from_pandas=True`` turns a NaN double into
null. When ``fn`` raises, the exception keeps its type (hostile-bytes
callers rely on ``ValueError``/``NotImplementedError``) and gains a
note naming the row's key, its first column (for ``pack_shards``, the
shard id).

Chained maps fuse. Synthesize → decode and parse → features are two
maps back to back; run as two ``mapInArrow`` nodes, each task pays the
Python crossing (worker setup, Arrow to JVM rows and back) twice. Each
DataFrame these functions return is recorded with its source and its
Arrow batch function, so a map over one composes onto the source's
single ``mapInArrow``: ``run2(project(cols, run1(batches)))``. The
intermediate batches are built exactly as the unfused path builds them
(same ``pa.array`` types, NaN → null), so only batch boundaries
differ. A chain fuses only when ``cols`` are plain names of the
upstream output; anything between the two maps (a filter, a
repartition, a join, a Column expression in ``cols``, a grouped map)
yields a new DataFrame that is not recorded, and the plain path runs.
A cached intermediate is read from the cache rather than recomputed.

Per-task importer re-reads. pyspark's worker calls
``importlib.invalidate_caches()`` at the start of every task. On
CPython 3.11 and 3.12 that makes every cached ``zipimport.zipimporter``
(one per package directory imported from ``pyspark.zip`` or
``py4j.zip``, 14-16 in a warm worker) re-read its archive's whole
central directory, 0.10-0.13 CPU-s per task. CPython 3.13 made that
call lazy. ``drop_zip_importers`` removes those importers from
``sys.path_importer_cache`` before the next task starts; the next
import from such a path rebuilds its importer from
``zipimport._zip_directory_cache`` without reading the archive. The
batch functions of ``map_rows``, ``map_batches``, ``pack_shards``, the
mass-OLS kernels (``operators/ols.py``) and the grouped cosine kernels
(``similarity/cosine.py``) call it first; only the streaming
``applyInPandasWithState`` operators do not.
"""

from __future__ import annotations

import sys
import weakref
import zipimport
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ARROW_TYPES = {
    "long": pa.int64(),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
    "boolean": pa.bool_(),
}

BatchFn = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]

# DataFrame returned by map_rows/map_batches -> (the DataFrame its
# mapInArrow reads, the batch function from those batches to its own
# batches, its output column names)
_CHAINS: weakref.WeakKeyDictionary[Any, tuple[Any, BatchFn, list[str]]] = (
    weakref.WeakKeyDictionary()
)


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


def drop_zip_importers() -> None:
    """Forget cached zipimporters so the next task's
    ``importlib.invalidate_caches()`` has no archive to re-read (see
    the module docstring). A no-op on CPython 3.13 and later."""
    if sys.version_info < (3, 13):
        cache = sys.path_importer_cache
        for path, finder in list(cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del cache[path]


def _map_arrow(
    df: DataFrame,
    run: BatchFn,
    schema: str,
    out: pa.Schema,
    cols: Sequence[str | Column] | None,
) -> DataFrame:
    """``df.select(*cols).mapInArrow(run, schema)``, fused onto the
    source's ``mapInArrow`` when ``df`` is an uncached map output."""
    link = None if getattr(df, "is_cached", False) else _CHAINS.get(df)
    names = None if cols is None else list(cols)
    if link is not None and all(
        isinstance(c, str) and c in link[2] for c in names or ()
    ):
        src, up, _ = link
        down = run

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            mid = up(batches)
            if names is not None:
                mid = (b.select(names) for b in mid)
            return down(mid)

    else:
        src = df if names is None else df.select(*names)
    result = src.mapInArrow(run, schema)
    _CHAINS[result] = (src, run, out.names)
    return result


def _batch(rows: list[tuple[Any, ...]], out: pa.Schema) -> pa.RecordBatch:
    """Non-empty output tuples, in schema order, as one Arrow batch."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array(col, type=f.type, from_pandas=True)
            for col, f in zip(zip(*rows, strict=True), out, strict=True)
        ],
        schema=out,
    )


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple[Any, ...]]],
    schema: str,
    cols: Sequence[str | Column] | None = None,
) -> DataFrame:
    """``fn(*row)`` over ``cols`` of every row of ``df``; its tuples
    become rows of ``schema``. See the module docstring for the
    contract."""
    out = _arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_importers()
        for batch in batches:
            rows: list[tuple[Any, ...]] = []
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                try:
                    rows.extend(fn(*row))
                except Exception as e:
                    e.add_note(f"map_rows: row key {row[0]!r:.80}")
                    raise
            if rows:
                yield _batch(rows, out)

    return _map_arrow(df, run, schema, out, cols)


def map_batches(
    df: DataFrame,
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    schema: str,
    cols: Sequence[str | Column] | None = None,
) -> DataFrame:
    """``fn`` over pandas frames of ``cols``; each frame it yields
    becomes rows of ``schema``, its columns read by name. See the
    module docstring for the contract."""
    out = _arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_importers()
        for pdf in fn(b.to_pandas() for b in batches):
            if len(pdf):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(pdf[f.name], type=f.type, from_pandas=True)
                        for f in out
                    ],
                    schema=out,
                )

    return _map_arrow(df, run, schema, out, cols)


def pack_shards(
    df: DataFrame,
    fn: Callable[[int, list[tuple[Any, ...]]], Iterable[tuple[Any, ...]]],
    schema: str,
    per_shard: int,
    cols: Sequence[str],
) -> DataFrame:
    """``fn(shard_id, rows)`` once per shard of ``per_shard`` keys:
    shard ``k`` holds the rows whose ``cols[0] / per_shard`` truncates
    to ``k``, as tuples of ``cols`` sorted ascending by ``cols[0]``;
    its tuples become rows of ``schema``. See the module docstring."""
    out = _arrow_schema(schema)
    names = list(cols)

    def run(key: tuple[pa.Scalar, ...], table: pa.Table) -> pa.Table:
        drop_zip_importers()
        shard_id = key[0].as_py()
        table = table.select(names).sort_by(names[0])
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
        try:
            got = list(fn(shard_id, rows))
        except Exception as e:
            e.add_note(f"pack_shards: shard {shard_id}")
            raise
        return pa.Table.from_batches([_batch(got, out)]) if got else out.empty_table()

    shard = (F.col(names[0]) / per_shard).cast("long").alias("_shard")
    return df.select(*names, shard).groupBy("_shard").applyInArrow(run, schema)
