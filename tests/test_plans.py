"""Physical-plan regression gate (SURVEY.md §4).

The reference achieves pushdown/pruning by hand (entity filters before
reads, ssm_loop.py:40-41,60,72; 6-of-30 column selects, ssm_loop.py:73).
Here those properties — plus the ones that only matter at cluster scale
(bounded shuffle count, broadcast dims, no per-row Python) — are pinned
as plan assertions so a refactor that silently regresses them fails CI
before it ever reaches a benchmark.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from neuroimaging_data_pipeline_spark.plans.audit import (
    assert_plan,
    explain_str,
    python_eval_count,
    sortmerge_join_count,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


@pytest.fixture(scope="module")
def built(spark, queries):
    """Every registered query's DataFrame at sf0.001, built once."""
    return {name: fn(spark, SF_DIR) for name, fn in queries.items()}


def _chained_maps(node, out: list[str]) -> list[str]:
    """``MapInArrow`` nodes whose input, through Projects only, is
    another Python map: two crossings where one would do. A JVM plan
    walk over the pre-AQE physical plan (``queryExecution.sparkPlan``)."""
    if node.nodeName() == "MapInArrow":
        child = node.child()
        while child.nodeName() == "Project":
            child = child.child()
        if child.nodeName() in ("MapInArrow", "MapInPandas"):
            out.append(child.nodeName())
    kids = node.children().iterator()
    while kids.hasNext():
        _chained_maps(kids.next(), out)
    return out


def test_projection_filter_pushdown(spark, queries):
    """P1: predicate and projection must reach the parquet scan."""
    assert_plan(
        queries["p1_projection_filter"](spark, SF_DIR),
        max_exchanges=0,
        require_pushed_filter="EqualTo(l_returnflag,R)",
        max_scan_columns=5,
        forbid=("SortMergeJoin", "BatchEvalPython"),
    )


def test_broadcast_3way_no_shuffle_join(spark, queries):
    """J: dim joins broadcast; the fact scan is never shuffled for them."""
    assert_plan(
        queries["j_broadcast_3way"](spark, SF_DIR),
        require=("BroadcastHashJoin",),
        forbid=("SortMergeJoin", "ShuffledHashJoin"),
    )


def test_pricing_summary_single_agg_shuffle(spark, queries):
    """A1: partial (map-side) aggregation first — one data shuffle for
    the final agg, one for the output sort, nothing else."""
    assert_plan(
        queries["a1_pricing_summary"](spark, SF_DIR),
        max_exchanges=2,
        require=("HashAggregate",),
        forbid=("SortMergeJoin", "BatchEvalPython"),
    )


def test_topk_avoids_global_sort(spark, queries):
    """O2: LIMIT+ORDER BY must plan as top-k (TakeOrderedAndProject),
    not a full sort shuffle of the table."""
    plan = explain_str(queries["o2_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_stencil_join_broadcasts_offsets(spark, queries):
    """J4: the 19-row offset table must broadcast — shuffling the voxel
    side by (x+dx,y+dy,z+dz) would rewrite the whole volume at scale."""
    assert_plan(
        queries["j4_stencil_mode"](spark, SF_DIR),
        require=("BroadcastHashJoin",),
        forbid=("SortMergeJoin",),
    )


def test_smooth_kernel_broadcasts(spark, queries):
    """W8: Gaussian kernel-offset join broadcasts the kernel table."""
    assert_plan(
        queries["w8_gaussian_smooth"](spark, SF_DIR),
        require=("BroadcastHashJoin",),
        forbid=("SortMergeJoin", "BatchEvalPython"),
    )


def test_mass_ols_is_arrow_not_row_python(spark, queries):
    """A9: per-voxel OLS runs through Arrow batches of packed series
    (mapInArrow), never row-pickling BatchEvalPython."""
    plan = explain_str(queries["a9_mass_ols"](spark, SF_DIR))
    assert python_eval_count(plan) == 0, plan


def test_no_row_python_or_sortmerge_anywhere(built):
    """Global gate: across every registered query, (a) no row-at-a-time
    Python eval; (b) no SortMergeJoin — at the driver SFs every join
    side that isn't the fact table fits the broadcast threshold, so a
    SortMergeJoin appearing means a broadcast hint regressed.

    Exceptions, each declared below: fact-to-fact joins whose sides
    both scale with the corpus, where SortMergeJoin is the right
    strategy at 100 TB."""
    # g_pagerank3: the iterative edge<->rank join — after the edge
    # list's localCheckpoint the static plan loses build-side stats,
    # and at corpus scale the rank vector (one row per document) is
    # NOT broadcastable anyway: the shuffle join co-partitioned on
    # the edge key is the canonical distributed-PageRank shape. AQE
    # still converts it to broadcast at bench sizes at runtime.
    # d_semdedup: the kept-flag join (cells LEFT JOIN dropped on
    # vec_id) is fact-to-fact — the dropped set is a corpus FRACTION
    # (every near-duplicate id), so broadcasting it would be wrong at
    # 100 TB; the co-partitioned shuffle join is the scale shape and
    # AQE broadcasts it at bench sizes at runtime.
    # e5_shard_pipeline: composes source_cap and exact_dedup, whose
    # keep-set semi-joins are id-keyed fact-to-fact (the keep set is a
    # corpus fraction, never broadcastable at 100 TB) — the same class
    # as d_semdedup's declared join. The post-window/post-agg sides
    # have no stats, so the static planner picks SMJ; AQE broadcasts
    # them at bench sizes at runtime.
    # g_triangles: the edge<->edge wedge-closure joins are
    # fact-to-fact co-partitioned on the wedge key — the canonical
    # distributed triangle-counting shape (an edge list is never
    # broadcastable at corpus scale); AQE broadcasts at bench sizes.
    # e6_decontam_split: the flagged-id anti/semi joins are id-keyed
    # fact-to-fact (a contaminated set is a corpus fraction in the
    # worst case) — same keep-set class as d_semdedup/e5.
    # s_ivfpq_topk: the candidate<->code join is fact-to-fact (both
    # sides scale with the corpus; co-partitioned on vec_id is the
    # scale shape). The query-batch probe side IS broadcast.
    smj_ok = {
        "g_pagerank3",
        "d_semdedup",
        "e5_shard_pipeline",
        "g_triangles",
        # g_triangles_cap: same fact-to-fact edge joins as
        # g_triangles, but wedge generation is bounded to cap^2/2 per
        # vertex by the capped adjacency — the skew-proof scale
        # sibling. The closure semi-join stays co-partitioned on the
        # (lo, hi) edge key; AQE broadcasts at bench sizes.
        "g_triangles_cap",
        "e6_decontam_split",
        "s_ivfpq_topk",
        # j8_interval_overlap: both interval sets scale with the fact
        # table; the co-partitioned (user, bin) equi-join IS the
        # 100 TB interval-join shape (neither side broadcastable).
        "j8_interval_overlap",
        # sv_incremental_agg: the state<->delta merge is a FULL OUTER
        # join (keys may exist on either side only), which Spark can
        # never execute as broadcast; both sides are distinct-key
        # aggregate tables that scale with the key domain, so the
        # co-partitioned shuffle join is also the 100 TB shape.
        "sv_incremental_agg",
        # sv_version_diff: the CDC snapshot diff is the same FULL
        # OUTER class — two whole table versions, neither
        # broadcastable at scale.
        "sv_version_diff",
        # e10_release_pipeline: composes ONLY already-declared join
        # classes — per-doc enrich joins (repaired<->hosts and
        # kept<->shard assignment, both one row per corpus document,
        # co-partitioned on doc_id, never broadcastable at 100 TB)
        # and the exact-dedup keep-set semi-join (same class as
        # d_semdedup/e5/e6). AQE broadcasts them at bench sizes.
        "e10_release_pipeline",
    }
    offenders: dict[str, list[str]] = {}
    for name, df in built.items():
        plan = explain_str(df)
        probs = []
        if python_eval_count(plan):
            probs.append("BatchEvalPython")
        if sortmerge_join_count(plan) and name not in smj_ok:
            probs.append("SortMergeJoin")
        if probs:
            offenders[name] = probs
    assert not offenders, offenders


def test_no_chained_python_maps_anywhere(built):
    """Global gate: a Python map over another Python map, with only a
    Project between them, is one ``functions.rowmap`` chain that did
    not fuse, and each task pays the Python crossing twice. Build such
    stages with ``map_rows``/``map_batches`` and pass ``cols`` instead
    of a ``select``. A map over a grouped map (``FlatMapGroupsInArrow``)
    stays allowed: the grouped map needs its shuffle."""
    offenders = {}
    for name, df in built.items():
        pairs = _chained_maps(df._jdf.queryExecution().sparkPlan(), [])
        if pairs:
            offenders[name] = pairs
    assert not offenders, offenders


def _node_names(node, out: set[str]) -> set[str]:
    """Every node name in a JVM physical plan tree."""
    out.add(node.nodeName())
    kids = node.children().iterator()
    while kids.hasNext():
        _node_names(kids.next(), out)
    return out


def test_no_grouped_pandas_maps_outside_cosine(built):
    """Global gate: a grouped Python map goes through
    ``rowmap.pack_shards`` (``FlatMapGroupsInArrow``), not a
    hand-rolled ``groupBy(...).applyInPandas`` packer. Only the
    queries backed by the grouped GEMM kernels of
    ``similarity/cosine.py`` keep ``FlatMapGroupsInPandas``."""
    cosine = {
        "d_embedding_neardup",
        "d_semdedup",
        "g_triangles",
        "g_triangles_cap",
        "s_knn_graph",
    }
    offenders = sorted(
        name
        for name, df in built.items()
        if name not in cosine
        and "FlatMapGroupsInPandas"
        in _node_names(df._jdf.queryExecution().sparkPlan(), set())
    )
    assert not offenders, offenders
