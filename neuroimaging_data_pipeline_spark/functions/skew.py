"""Skew mitigation: salting patterns for hot keys (SURVEY.md §4, the
100 TB failure mode AQE can't always fix).

Where skew bites this workload: a handful of voxel/bucket/shingle keys
carrying orders of magnitude more rows than the median (empty-text
shingles, a dominant LSH bucket, the background label in a volume).
AQE's skew-join splitting handles sort-merge *joins*; these helpers
cover the two other hot paths:

- ``salted_count_distinct`` — distinct aggregation over a skewed
  group: salting by the *distinct value's* hash keeps each value in
  exactly one salt partition, so partial distinct counts add up
  exactly (no approximation).
- ``replicated_broadcast_join`` — fact-side hot-key equi-join where
  the dim is small but one fact key floods a partition: the dim is
  replicated ``n_salt`` times and fact rows spread deterministically
  across replicas, so the hot key's rows land on ``n_salt`` tasks
  instead of one.

Both are algebraic rewrites — results are exactly equal to the
unsalted forms (pinned in tests/test_skew.py).

Engine consumers: ``queries.relational.a4_count_distinct`` runs
through ``salted_count_distinct`` (oracle-checked — the rewrite is
exact). d_ngram_jaccard is deliberately NOT salted: it has no
shingle self-join to salt. Each shingle's posting list is grouped
once and its id pairs are emitted in place, and the df-cap bounds
every list at <= cap (64) ids, so no hot shingle key survives into a
join or a pair aggregate. ``replicated_broadcast_
join`` remains the prescribed shape for a skewed fact-dim join whose
dim is too large for a plain broadcast-everywhere; every current
engine dim is small enough that plain ``F.broadcast`` wins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_of(col: Column | str, n_salt: int) -> Column:
    """Deterministic salt in [0, n_salt) from a column's hash."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n_salt)).cast("int")


def salted_count_distinct(
    df: DataFrame,
    keys: list[str],
    col: str,
    n_salt: int = 16,
    out_col: str = "n_distinct",
) -> DataFrame:
    """count(DISTINCT col) per keys, two-stage over a value-hash salt.

    Stage 1 groups by (keys, salt) — the skewed key's distinct-set
    build spreads over ``n_salt`` tasks; because the salt is a
    function of the value, the per-salt distinct sets are disjoint and
    stage 2 just SUMs them. Exact, not approximate.
    """
    stage1 = df.groupBy(*keys, salt_of(col, n_salt).alias("_salt")).agg(
        F.countDistinct(col).alias("_partial")
    )
    return stage1.groupBy(*keys).agg(F.sum("_partial").alias(out_col))


def replicated_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salt: int = 8,
    fact_salt_col: Column | None = None,
) -> DataFrame:
    """fact ⋈ dim on a skewed key, dim replicated across ``n_salt``
    salts so the hot key's fact rows don't serialize on one task.

    ``fact_salt_col`` defaults to a hash of the fact's whole row id
    space via ``spark_partition_id``-independent expression: the
    caller should pass a high-cardinality fact column for an even
    spread (e.g. the fact table's primary key).
    """
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salt - 1))
    ).alias("_salt")
    dim_rep = F.broadcast(dim.select("*", salts))
    if fact_salt_col is None:
        fact_salt_col = F.pmod(
            F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salt)
        ).cast("int")
    else:
        fact_salt_col = F.pmod(F.xxhash64(fact_salt_col), F.lit(n_salt)).cast(
            "int"
        )
    f = fact.withColumn("_salt", fact_salt_col)
    return f.join(dim_rep, on=[on, "_salt"]).drop("_salt")
