"""applyInPandasWithState streaming spike detector: state carries
across micro-batches; spikes judged against prior history only."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _run(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name)


@pytest.fixture()
def event_stream_dir(tmp_path, spark):
    rng = np.random.default_rng(11)
    rows = []
    eid = 0
    for u in (1, 2):
        for t in range(50):
            v = float(rng.normal(10.0, 1.0))
            if u == 1 and t == 40:
                v = 60.0  # unmistakable spike, late in the stream
            rows.append({"user_id": u, "event_id": eid, "value": v})
            eid += 1
    pdf = pd.DataFrame(rows)
    d = tmp_path / "events"
    # two files -> two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(pdf[pdf.event_id < 50]).coalesce(1).write.parquet(
        str(d), mode="append"
    )
    spark.createDataFrame(pdf[pdf.event_id >= 50]).coalesce(1).write.parquet(
        str(d), mode="append"
    )
    return str(d)


def test_judge_and_update_kernel_exact():
    """Drive the per-batch kernel of the applyInPandasWithState
    operator directly (no Spark).

    Pins: (a) warm-up rows emit z=None/spike=0; (b) after min_history,
    z equals the z-score against PRIOR history only (never including
    the row itself); (c) Welford state equals numpy moments exactly;
    (d) state carries across batch boundaries; (e) within-batch order
    is by id regardless of input row order."""
    from neuroimaging_data_pipeline_spark.streaming.stateful import (
        _judge_and_update,
    )

    rng = np.random.default_rng(3)
    vals = rng.normal(5.0, 2.0, 12)
    vals[9] = 80.0  # outlier, judged against 9 prior values

    # batch 1 (shuffled input order), then batch 2 continuing the state
    b1 = pd.DataFrame(
        {"event_id": [3, 1, 2, 0, 4, 5], "value": vals[[3, 1, 2, 0, 4, 5]]}
    )
    b2 = pd.DataFrame({"event_id": range(6, 12), "value": vals[6:]})

    out1, n, mean, m2 = _judge_and_update(
        b1, "event_id", "value", 7, "user_id", 0, 0.0, 0.0,
        cutoff=3.0, min_history=5,
    )
    assert [r[1] for r in out1] == [0, 1, 2, 3, 4, 5]  # (e)
    # (a): first 5 rows are warm-up; row id=5 is the first judged
    assert all(r[3] is None and r[4] == 0 for r in out1[:5])
    z5 = (vals[5] - np.mean(vals[:5])) / np.std(vals[:5], ddof=1)
    np.testing.assert_allclose(out1[5][3], z5, rtol=1e-12)  # (b)
    # (c): Welford state after batch 1 == numpy moments of vals[:6]
    assert n == 6
    np.testing.assert_allclose(mean, np.mean(vals[:6]), rtol=1e-12)
    np.testing.assert_allclose(
        m2, np.sum((vals[:6] - np.mean(vals[:6])) ** 2), rtol=1e-10
    )

    out2, n, mean, m2 = _judge_and_update(
        b2, "event_id", "value", 7, "user_id", n, mean, m2,
        cutoff=3.0, min_history=5,
    )
    # (d): row 9 judged against vals[:9] (prior history spans batches)
    z9 = (vals[9] - np.mean(vals[:9])) / np.std(vals[:9], ddof=1)
    np.testing.assert_allclose(out2[3][3], z9, rtol=1e-12)
    assert out2[3][4] == 1  # the outlier is flagged
    assert [r[4] for r in out2] == [0, 0, 0, 1, 0, 0]  # only the outlier
    assert n == 12
    np.testing.assert_allclose(mean, np.mean(vals), rtol=1e-12)


def test_streaming_spikes_flag_only_the_outlier(spark, event_stream_dir):
    from neuroimaging_data_pipeline_spark.streaming.stateful import (
        streaming_spike_flags,
    )

    stream = (
        spark.readStream.schema("user_id long, event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(event_stream_dir)
    )
    out = _run(
        spark, streaming_spike_flags(stream, min_history=10), "t_spikes"
    ).toPandas()
    assert len(out) == 100
    flagged = out[out.is_spike == 1]
    assert list(flagged["event_id"]) == [40]
    # early rows (no history yet) have null z, later rows have values
    by_user = out[out.user_id == 2].sort_values("event_id")
    assert by_user["z"].head(10).isna().all()
    assert by_user["z"].tail(10).notna().all()


def test_stateful_over_real_events_ingest(spark, tmp_path):
    """VERDICT r3 #6: the stateful path run against the REAL events
    table through the r4 footer-probing ingest (stream_parquet_dir),
    not a synthetic value-only landing dir. Two claims pinned:
    (a) event times seen by the same stream are 2024-range, never the
    1970 the r3 unit-guess produced; (b) the stateful spike operator
    completes over that stream and judges values against genuine
    per-user history (z null until min_history, then populated)."""
    import datetime
    import os
    import shutil

    from neuroimaging_data_pipeline_spark.streaming.events import (
        stream_parquet_dir,
    )
    from neuroimaging_data_pipeline_spark.streaming.stateful import (
        streaming_spike_flags,
    )

    src = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    src_file = os.path.join(src, "events.parquet")
    if not os.path.exists(src_file):
        pytest.skip("driver testdata not present")
    # the file stream source wants a landing DIRECTORY; the driver
    # table is a single file — stage it as a one-file landing dir
    landing = tmp_path / "events_landing"
    landing.mkdir()
    shutil.copy(src_file, landing / "events.parquet")
    events = str(landing)

    stream = stream_parquet_dir(spark, events)
    assert dict(stream.dtypes)["ts"] == "timestamp"

    flags = streaming_spike_flags(
        stream, key="user_id", value_col="value", min_history=5
    )
    got = _run(spark, flags, "real_ingest_spikes").toPandas()
    ts_range = _run(
        spark,
        stream_parquet_dir(spark, events).select("ts"),
        "real_ingest_ts",
    ).toPandas()

    lo, hi = ts_range["ts"].min(), ts_range["ts"].max()
    assert lo >= datetime.datetime(2024, 1, 1), lo
    assert hi < datetime.datetime(2026, 1, 1), hi

    batch = spark.read.parquet(events)
    assert len(got) == batch.count()
    judged = got[got["z"].notna()]
    # every user with >min_history events must have judged rows
    assert len(judged) > 0
    per_user = got.groupby("user_id").size()
    deep_users = per_user[per_user > 10].index
    judged_users = set(judged["user_id"])
    assert set(deep_users) <= judged_users
