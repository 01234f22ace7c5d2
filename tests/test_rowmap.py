"""functions/rowmap.map_rows against the pandas boundary it replaced.

Each case runs the same per-row function twice: through ``map_rows``
and through a reference ``mapInPandas`` generator built the old way
(one list per column, one ``pd.DataFrame`` per batch). The collected
rows must be equal for every column type the engine's row maps emit,
including NaN/None doubles and nulls in integer columns.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
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
