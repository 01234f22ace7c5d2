"""SparkSession factory tuned for the engine.

Scale notes (100 TB design targets, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy demotion are the first line of
  defense against skew at cluster scale.
- ``spark.sql.shuffle.partitions`` default of 200 is wrong in both
  directions: too many for local tests, far too few at 100 TB. We set
  a local-friendly default and rely on AQE coalescing; a real cluster
  deployment overrides via ``extra_conf``.
- Arrow enabled: every pandas_udf / applyInPandas / mapInArrow
  boundary (mass-OLS, t-CDF) moves through Arrow batches, not pickled
  rows. Per-row codec and source work goes through
  ``functions.rowmap.map_rows`` (``mapInArrow``: Arrow columns straight
  to Python values, no pandas frame either way), and the
  batch-vectorised kernels through ``map_batches`` on the same
  ``mapInArrow``. A map over another map's output fuses into one
  ``mapInArrow``, so a synthesize → decode stage crosses into Python
  once per task; no ``mapInPandas`` is left in the engine.
- Session timezone pinned to UTC so timestamp semantics are stable
  against the DuckDB oracle and across clusters.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing floor (r13, guide §2.2/§2.5): AQE sizes
    # post-shuffle partitions by BYTES, but several operators hang
    # expensive per-row Python work (shard pack/parse, codec decode)
    # off a tiny keyed shuffle — at bench SFs the default 1 MB floor
    # coalesces those stages to 1-3 tasks and serializes the CPU-bound
    # part (s19 mbox 3.1 s -> 1.0 s, s28 tfrecord 1.7 s -> 0.7 s at
    # sf0.1/local[32] from this one floor). parallelismFirst=true
    # (default) already targets defaultParallelism first, so the floor
    # only binds when partitions are genuinely small; at cluster scale
    # post-shuffle partitions are orders of magnitude above 64 KB and
    # this setting is inert — advisoryPartitionSizeInBytes (the
    # at-scale knob) stays untouched for cluster overrides.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow UDF batches: large enough to amortize Arrow transfer for
    # the packed voxel series of mass-OLS (SURVEY.md §4.3) without
    # OOMing a task (10k series x 296 TRs ~ 47 MB).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast threshold: dims (region/nation/supplier, kernel tables,
    # offset tables) are tiny; keep the default 10 MB but make it
    # explicit that we rely on it.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    # Subset-key co-partitioning: a table bucketed on (bx,by,bz) can
    # feed a join on (bx,by,bz,nx,ny,nz) without reshuffling — the
    # halo-exchange stencil path (operators/stencil.py) depends on it.
    # Spark's default (true) reshuffles BOTH sides on the full key set.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # Read timestamps without UTC-adjustment flag as NTZ so values
    # match DuckDB's naive timestamps bit-for-bit.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (e.g. pandas-written events tables) is
    # otherwise unreadable by Spark: read as long (ns since epoch);
    # sources.read_table normalizes back to a timestamp column.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Managed tables (the bucketed-layout path, sources/bucketing.py)
    # land outside the repo; in-memory catalog, so table metadata is
    # session-scoped — at deployment a real metastore replaces this.
    "spark.sql.warehouse.dir": os.path.join(
        tempfile.gettempdir(), "ndp_spark_warehouse"
    ),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "neuroimaging-data-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*])
    when no cluster master is configured in the environment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
