"""functions/rowmap against the boundaries it replaced.

Each ``map_rows`` case runs the same per-row function twice: through
``map_rows`` and through a reference ``mapInPandas`` generator built
the old way (one list per column, one ``pd.DataFrame`` per batch). The
collected rows must be equal for every column type the engine's row
maps emit, including NaN/None doubles and nulls in integer columns.

The chain cases compare a fused chain of maps with the same maps run
as separate ``mapInArrow`` nodes (``_unfused`` puts a ``select("*")``
between them, which breaks the chain), and the importer case checks
``drop_zip_importers`` in a fresh interpreter.

The ``pack_shards`` cases run one shard writer twice: through
``pack_shards`` and through a reference ``applyInPandas`` packer
written the way the shard sources used to be (a ``_shard`` column,
``sort_values``, one-row ``pd.DataFrame``). The shard bytes must be
equal.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from neuroimaging_data_pipeline_spark.functions.rowmap import (
    map_batches,
    map_rows,
    pack_shards,
)
from neuroimaging_data_pipeline_spark.plans import audit
from tests.eager_df import EagerDF

SCHEMA = (
    "k long, i int, d double, s string, b binary, f boolean, "
    "ad array<double>, al array<long>"
)
NAN = float("nan")
# one row per key; every column sees a value, a null and an edge value
VALUES = {
    0: (0, 1, 0.5, "a", b"\x00\xff", True, [1.0, 2.5], [1, 2]),
    1: (1, None, NAN, None, None, None, None, []),
    2: (2, -3, None, "", b"", False, [], None),
    3: (3, 2**31 - 1, -0.0, "é中", b"x" * 300, True, [NAN], [2**40]),
}


def _reference(df, fn, schema):
    """The pre-``map_rows`` shape: per-column lists rebuilt as pandas."""
    names = [f.split()[0] for f in schema.split(",")]

    def gen(batches):
        for pdf in batches:
            cols = {n: [] for n in names}
            for row in zip(*(pdf[c] for c in pdf.columns)):
                row = [v.tolist() if hasattr(v, "tolist") else v for v in row]
                for out in fn(*row):
                    for n, v in zip(names, out):
                        cols[n].append(v)
            yield pd.DataFrame(cols)

    return df.mapInPandas(gen, schema)


def _both(df, fn, schema=SCHEMA):
    new = map_rows(df, fn, schema)
    ref = _reference(df, fn, schema)
    return new, ref


def _same(a, b):
    """Row equality where NaN equals NaN (inside arrays too)."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=lambda r: r[0])


def test_every_column_type_matches_pandas_boundary(spark):
    keys = spark.createDataFrame([(k,) for k in VALUES], "k long")

    def fn(k):
        yield VALUES[k]

    new, ref = _both(keys, fn)
    got, want = _rows(new), _rows(ref)
    assert len(got) == len(VALUES)
    assert _same(got, want), (got, want)
    # a NaN double reaches Spark as null on both paths
    assert got[1][2] is None
    assert got[1][1] is None and got[2][7] is None


@pytest.mark.parametrize("fanout", [0, 1, 5])
def test_flat_map_row_counts(spark, fanout):
    keys = spark.range(7).repartition(3)

    def fn(k):
        for j in range(fanout):
            yield k, j, float(k * j), f"{k}:{j}"

    schema = "k long, j int, x double, tag string"
    new, ref = _both(keys, fn, schema)
    assert new.count() == 7 * fanout
    assert sorted(new.collect()) == sorted(ref.collect())


def test_variable_fanout_and_empty_partitions(spark):
    # 2 rows over 6 partitions: at least four partitions are empty
    keys = spark.range(2).repartition(6)

    def fn(k):
        for j in range(k * 3):
            yield k, j

    new, ref = _both(keys, fn, "k long, j int")
    assert sorted(new.collect()) == sorted(ref.collect())
    assert new.count() == 3
    empty = map_rows(spark.range(0), lambda k: [(k,)], "k long")
    assert empty.collect() == []
    assert empty.columns == ["k"]


def test_exception_keeps_type_and_names_row_key():
    def fn(k, payload):
        if k == 7:
            raise ValueError("bad payload")
        yield k, len(payload)

    src = EagerDF(pd.DataFrame({"k": [3, 7], "payload": [b"ab", b"c"]}))
    with pytest.raises(ValueError, match="bad payload") as ei:
        map_rows(src, fn, "k long, n int")
    assert ei.value.__notes__ == ["map_rows: row key 7"]


def test_exception_surfaces_through_spark(spark):
    def fn(k):
        if k == 2:
            raise NotImplementedError("unsupported")
        yield (k,)

    with pytest.raises(Exception) as ei:
        map_rows(spark.range(4), fn, "k long").collect()
    msg = str(ei.value)
    assert "NotImplementedError: unsupported" in msg
    assert "map_rows: row key 2" in msg


def test_wrong_tuple_width_is_loud():
    src = EagerDF(pd.DataFrame({"k": [1]}))
    with pytest.raises(ValueError):
        map_rows(src, lambda k: [(k, 1, 2)], "k long, n int")


def test_plan_is_one_map_in_arrow(spark):
    df = map_rows(spark.range(3), lambda k: [(k, str(k))], "k long, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert audit.node_count(plan, "MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert audit.exchange_count(plan) == 0


# ---------------------------------------------------------------- chains


def _map_in_arrow_count(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return audit.node_count(plan, "MapInArrow")


def _unfused(df):
    """A new DataFrame over ``df``'s output: not a recorded map output,
    so a map over it runs as its own ``mapInArrow``."""
    return df.select("*")


def _synth(k):
    yield k, bytes([k % 256]) * (k % 5), k / 3.0


SYNTH = "k long, payload binary, x double"


def _feat(k, payload):
    yield k, len(payload), str(k)


FEAT = "k long, n int, tag string"


def _times_ten(k, n):
    yield k, n * 10


def test_fused_row_to_row_matches_separate_maps(spark):
    src = spark.range(23).repartition(3)
    mid = map_rows(src, _synth, SYNTH)
    fused = map_rows(mid, _feat, FEAT, cols=("k", "payload"))
    plain = map_rows(_unfused(mid), _feat, FEAT, cols=("k", "payload"))
    assert _map_in_arrow_count(fused) == 1
    assert _map_in_arrow_count(plain) == 2
    assert sorted(fused.collect()) == sorted(plain.collect())
    assert fused.count() == 23


def test_fused_batch_to_row_matches_separate_maps(spark):
    def explode(batches):
        for pdf in batches:
            ks = pdf["id"].repeat(2).to_numpy()
            yield pd.DataFrame(
                {"k": ks, "payload": [bytes([int(i) % 7]) * 3 for i in ks]}
            )

    src = spark.range(11)
    mid = map_batches(src, explode, "k long, payload binary", cols=("id",))
    fused = map_rows(mid, _feat, FEAT)
    plain = map_rows(_unfused(mid), _feat, FEAT)
    assert _map_in_arrow_count(fused) == 1
    got = sorted(fused.collect())
    assert got == sorted(plain.collect())
    assert len(got) == 22 and got[0] == (0, 3, "0")


def test_three_stage_chain_is_one_map(spark):
    src = spark.range(9)
    s1 = map_rows(src, _synth, SYNTH)
    s2 = map_rows(s1, _feat, FEAT, cols=("k", "payload"))
    s3 = map_rows(s2, _times_ten, "k long, m long", cols=("k", "n"))
    p1 = _unfused(map_rows(src, _synth, SYNTH))
    p2 = _unfused(map_rows(p1, _feat, FEAT, cols=("k", "payload")))
    p3 = map_rows(p2, _times_ten, "k long, m long", cols=("k", "n"))
    assert _map_in_arrow_count(s3) == 1
    assert _map_in_arrow_count(p3) == 3
    assert sorted(s3.collect()) == sorted(p3.collect())


def test_nan_in_intermediate_arrives_as_none(spark):
    mid = map_rows(
        spark.range(3), lambda k: [(k, float("nan") if k == 1 else k * 0.5)],
        "k long, x double",
    )

    def seen(k, x):
        yield k, x is None, x

    fused = map_rows(mid, seen, "k long, is_null boolean, x double")
    plain = map_rows(_unfused(mid), seen, "k long, is_null boolean, x double")
    assert _map_in_arrow_count(fused) == 1
    got = sorted(fused.collect())
    assert got == sorted(plain.collect())
    assert [tuple(r) for r in got] == [
        (0, False, 0.0), (1, True, None), (2, False, 1.0)
    ]


def test_intermediate_also_consumed_directly(spark):
    mid = map_rows(spark.range(6), _synth, SYNTH)
    fused = map_rows(mid, _feat, FEAT, cols=("k", "payload"))
    direct = sorted(mid.collect())
    assert [r.k for r in direct] == list(range(6))
    assert direct[4].payload == b"\x04" * 4
    assert sorted(fused.collect()) == sorted(
        map_rows(_unfused(mid), _feat, FEAT, cols=("k", "payload")).collect()
    )
    # the intermediate itself is still its own single map
    assert _map_in_arrow_count(mid) == 1


def test_what_breaks_a_chain(spark):
    mid = map_rows(spark.range(4), _synth, SYNTH)
    # a Column expression in cols, a filter, a cached intermediate
    expr = map_rows(mid, lambda k: [(k,)], "k long", cols=(mid.k + 1,))
    filt = map_rows(mid.filter("k > 0"), lambda k, p, x: [(k,)], "k long")
    assert _map_in_arrow_count(expr) == 2
    assert _map_in_arrow_count(filt) == 2
    cached = map_rows(spark.range(4), _synth, SYNTH).cache()
    try:
        over = map_rows(cached, lambda k, p, x: [(k,)], "k long")
        plan = over._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert sorted(r.k for r in over.collect()) == [0, 1, 2, 3]
    finally:
        cached.unpersist()


def test_upstream_exception_keeps_type_and_note(spark):
    def bad(k):
        if k == 3:
            raise ValueError("bad synth")
        yield k, b"", 0.0

    mid = map_rows(spark.range(5), bad, SYNTH)
    fused = map_rows(mid, _feat, FEAT, cols=("k", "payload"))
    assert _map_in_arrow_count(fused) == 1
    with pytest.raises(Exception) as ei:
        fused.collect()
    msg = str(ei.value)
    assert "ValueError: bad synth" in msg
    assert "map_rows: row key 3" in msg

    # eagerly: the original exception object, one note, from stage one
    src = EagerDF(pd.DataFrame({"k": [1, 3]}))
    with pytest.raises(ValueError, match="bad synth") as ei:
        map_rows(map_rows(src, bad, SYNTH), _feat, FEAT, cols=("k", "payload"))
    assert ei.value.__notes__ == ["map_rows: row key 3"]


# ---------------------------------------------------------------- shards

SHARD = "shard_id long, content binary"


def _write_shard(shard_id, docs):
    """A shard writer whose bytes show member order and null text."""
    yield shard_id, json.dumps([shard_id, [list(d) for d in docs]]).encode()


def _reference_pack(df, per_shard):
    """The pre-``pack_shards`` packer, as the shard sources wrote it."""
    from pyspark.sql import functions as F

    def build(pdf):
        pdf = pdf.sort_values("doc_id")
        shard_id = int(pdf["_shard"].iloc[0])
        docs = [
            (int(i), None if t is None else str(t))
            for i, t in zip(pdf["doc_id"], pdf["text"])
        ]
        ((_, content),) = _write_shard(shard_id, docs)
        return pd.DataFrame({"shard_id": [shard_id], "content": [content]})

    keyed = df.select(
        "doc_id", "text", (F.col("doc_id") / per_shard).cast("long").alias("_shard")
    )
    return keyed.groupBy("_shard").applyInPandas(build, SHARD)


def _docs(spark):
    """Ids 0..29 in descending order, text null on every 4th id, split
    over two single-partition halves (odd ids, even ids), so every
    shard's rows come from both input partitions."""
    rows = [(i, None if i % 4 == 0 else f"doc {i}") for i in range(29, -1, -1)]
    halves = [r for r in rows if r[0] % 2] + [r for r in rows if not r[0] % 2]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(halves, 2), "doc_id long, text string"
    )


def _shards(df):
    return {r.shard_id: bytes(r.content) for r in df.collect()}


def test_pack_shards_matches_applyinpandas_packer(spark):
    docs = _docs(spark)
    assert docs.rdd.getNumPartitions() == 2
    got = _shards(pack_shards(docs, _write_shard, SHARD, 8, ("doc_id", "text")))
    want = _shards(_reference_pack(docs, 8))
    assert sorted(got) == [0, 1, 2, 3]
    assert got == want
    for shard_id, content in got.items():
        k, members = json.loads(content)
        ids = [i for i, _ in members]
        assert k == shard_id
        assert ids == sorted(ids) == list(range(8 * k, min(8 * k + 8, 30)))
        assert {i % 2 for i in ids} == {0, 1}  # both input partitions
        assert all((t is None) == (i % 4 == 0) for i, t in members)


def test_pack_shards_yields_any_number_of_rows(spark):
    def fn(shard_id, docs):
        for i, _ in docs[: shard_id]:
            yield i, b""

    got = pack_shards(_docs(spark), fn, "doc_id long, content binary", 8,
                      ("doc_id", "text"))
    assert sorted(r.doc_id for r in got.collect()) == [8, 16, 17, 24, 25, 26]


def test_pack_shards_exception_keeps_type_and_names_shard(spark):
    def fn(shard_id, docs):
        if shard_id == 2:
            raise NotImplementedError("unsupported shard")
        yield from _write_shard(shard_id, docs)

    with pytest.raises(Exception) as ei:
        pack_shards(_docs(spark), fn, SHARD, 8, ("doc_id", "text")).collect()
    msg = str(ei.value)
    assert "NotImplementedError: unsupported shard" in msg
    assert "pack_shards: shard 2" in msg


def test_pack_shards_plan_is_grouped_arrow(spark):
    df = pack_shards(_docs(spark), _write_shard, SHARD, 8, ("doc_id", "text"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert audit.node_count(plan, "FlatMapGroupsInArrow") == 1
    assert "FlatMapGroupsInPandas" not in plan


# ------------------------------------------------------------- importers

_IMPORTER_PROBE = """
import importlib, sys, zipfile, zipimport

from neuroimaging_data_pipeline_spark.functions.rowmap import drop_zip_importers

path = sys.argv[1]
with zipfile.ZipFile(path, "w") as z:
    z.writestr("zpkg/__init__.py", "")
    z.writestr("zpkg/a.py", "A = 1")
    z.writestr("zpkg/b.py", "B = 2")
sys.path.insert(0, path)

def zip_entries():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]

import zpkg.a
assert zip_entries(), "the import should have cached a zipimporter"

reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)
importlib.invalidate_caches()
control = len(reads)

drop_zip_importers()
assert zip_entries() == [], zip_entries()
import zpkg.b
assert zpkg.b.B == 2
drop_zip_importers()
reads.clear()
importlib.invalidate_caches()
print(control, len(reads), zip_entries())
"""


def test_drop_zip_importers_stops_per_task_rereads(tmp_path):
    root = str(Path(__file__).resolve().parents[1])
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )}
    out = subprocess.run(
        [sys.executable, "-c", _IMPORTER_PROBE, str(tmp_path / "z.zip")],
        capture_output=True, text=True, check=True, env=env,
    ).stdout.split(maxsplit=2)
    control, after, left = int(out[0]), int(out[1]), out[2].strip()
    if sys.version_info < (3, 13):
        # the re-read this guards against happens without the helper
        assert control > 0
    assert after == 0
    assert left == "[]"
