"""Streaming sessionization (streaming/stateful.py
streaming_sessionize): live multi-batch readStream equals the batch
twin (queries/eventsops.py w10_sessionize), with session state carried
across micro-batch boundaries."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from neuroimaging_data_pipeline_spark.queries.eventsops import w10_sessionize
from neuroimaging_data_pipeline_spark.streaming.stateful import (
    streaming_sessionize,
)

ROWS = [
    # user 1: two sessions split by a >30min gap that lands EXACTLY on
    # the shard boundary (state must carry last_tus across batches)
    (0, 1, dt.datetime(2024, 1, 1, 10, 0)),
    (1, 1, dt.datetime(2024, 1, 1, 10, 10)),
    (2, 1, dt.datetime(2024, 1, 1, 10, 20)),   # shard 1 ends here
    (3, 1, dt.datetime(2024, 1, 1, 10, 45)),   # 25min gap -> SAME session
    (4, 1, dt.datetime(2024, 1, 1, 12, 0)),    # 75min gap -> new session
    # user 2: one event per shard, 10min apart -> one session
    (5, 2, dt.datetime(2024, 1, 1, 10, 0)),
    (6, 2, dt.datetime(2024, 1, 1, 10, 10)),
]


@pytest.fixture()
def session_fixture(spark, tmp_path):
    ev = spark.createDataFrame(
        [(i, ts, u, "view", 1.0, "{}") for i, u, ts in ROWS],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    ev.coalesce(1).write.parquet(str(sf / "events.parquet"))
    landing = tmp_path / "landing"
    micro = ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("tus")
    )
    micro.filter("event_id <= 2 OR event_id = 5").coalesce(1).write.mode(
        "append"
    ).parquet(str(landing))
    micro.filter("event_id >= 3 AND event_id != 5").coalesce(1).write.mode(
        "append"
    ).parquet(str(landing))
    return str(sf), str(landing)


def _run_stream(spark, landing):
    stream = (
        spark.readStream.schema("event_id long, user_id long, tus long")
        .option("maxFilesPerTrigger", 1)  # one shard per micro-batch
        .parquet(landing)
    )
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessionized")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return (
        spark.table("sessionized")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )


def test_streaming_sessionize_matches_batch(spark, session_fixture):
    sf, landing = session_fixture
    got = _run_stream(spark, landing)
    want = (
        w10_sessionize(spark, sf)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert list(got["session_idx"]) == list(want["session_idx"])
    # the cross-batch claims, stated directly:
    by_id = got.set_index("event_id")["session_idx"]
    assert by_id[3] == by_id[2]  # 25min gap across shards: same session
    assert by_id[4] == by_id[3] + 1  # 75min gap: new session
    assert by_id[6] == by_id[5]  # user 2 spans shards in one session

