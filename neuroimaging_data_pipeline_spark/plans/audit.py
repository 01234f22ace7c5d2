"""Physical-plan auditing: make "would this survive 100 TB?" checkable.

The reference engine has no optimizer (SURVEY.md §4.1 — its pushdown
and pruning are hand-written call-site discipline, e.g. entity filters
before data reads at ``ssm_loop.py:40-41,60,72`` and 6-of-30 column
selects at ``ssm_loop.py:73``). On Spark those properties come from
Catalyst, but only if the query is *expressed* so Catalyst can prove
them. This module turns the properties we rely on at scale into
assertions over the formatted physical plan:

- filters/column pruning reached the parquet scan (``PushedFilters``,
  ``ReadSchema``) — a scan reading all columns for a 2-column
  projection is a 50× I/O regression at 100 TB;
- small dimensions broadcast (``BroadcastHashJoin``) instead of
  shuffling the fact table (``SortMergeJoin``);
- shuffle count (``Exchange`` nodes) is bounded — each Exchange is a
  full rewrite of the data over the network at cluster scale;
- the hot path stays inside whole-stage codegen / columnar scans
  rather than row-at-a-time Python.

Used by tests/test_plans.py (regression gate) and tools/audit_plans.py
(human-readable report per headline query).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

__all__ = [
    "explain_str",
    "node_count",
    "exchange_count",
    "broadcast_join_count",
    "sortmerge_join_count",
    "pushed_filters",
    "read_schemas",
    "python_eval_count",
    "assert_plan",
]


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan string ``df.explain(mode)`` would print.

    Goes through the JVM helper directly when available (classic
    local-mode PySpark); falls back to capturing ``explain`` output.
    """
    try:
        jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
        qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
        return jvm.PythonSQLUtils.explainString(qe, mode)
    except Exception:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()


def node_count(plan: str, token: str) -> int:
    """Occurrences of ``token`` at a plan-node position.

    Matches node headers like ``* HashAggregate (12)`` or ``+- Exchange``
    as well as formatted-mode operator lines; substring matches inside
    other identifiers are excluded by requiring a word boundary.
    """
    return len(re.findall(rf"\b{re.escape(token)}\b", plan))


def exchange_count(plan: str) -> int:
    """Number of real shuffle ``Exchange`` nodes.

    ``BroadcastExchange``/``ReusedExchange`` never match ``\\bExchange\\b``
    (no word boundary mid-identifier) and must NOT be subtracted — the
    round-1 version did, undercounting real shuffles to 0 whenever a
    broadcast was present. Shuffle-origin broadcasts
    (``EXECUTOR_BROADCAST``) are excluded: they move only the small side.

    Formatted mode lists every node twice (tree line + ``(N) Name``
    detail section); we count detail sections only, and fall back to
    per-line token counting for simple-mode plans.
    """
    headers = list(re.finditer(r"(?m)^\(\d+\)\s+([A-Za-z]+)", plan))
    if headers:
        n = 0
        for i, m in enumerate(headers):
            if m.group(1) != "Exchange":
                continue
            end = headers[i + 1].start() if i + 1 < len(headers) else len(plan)
            if "EXECUTOR_BROADCAST" not in plan[m.start():end]:
                n += 1
        return n
    return sum(
        1
        for line in plan.splitlines()
        if re.search(r"\bExchange\b", line) and "EXECUTOR_BROADCAST" not in line
    )


def broadcast_join_count(plan: str) -> int:
    return node_count(plan, "BroadcastHashJoin") + node_count(
        plan, "BroadcastNestedLoopJoin"
    )


def sortmerge_join_count(plan: str) -> int:
    return node_count(plan, "SortMergeJoin")


def pushed_filters(plan: str) -> list[str]:
    """Every non-empty ``PushedFilters: [...]`` payload in scan nodes."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.append(body)
    return out


def read_schemas(plan: str) -> list[str]:
    """Every ``ReadSchema`` struct string — audit of column pruning."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def python_eval_count(plan: str) -> int:
    """Row-at-a-time Python operators in the plan (the slow path).

    Arrow-vectorized ops are deliberate engine choices and not
    counted: ``ArrowEvalPython``; ``MapInArrow`` (every
    ``functions.rowmap`` codec, source and batch-kernel boundary, a
    fused chain of maps being one node); ``FlatMapGroupsInArrow`` (the
    ``rowmap.pack_shards`` shard writers); ``FlatMapGroupsInPandas``
    (the grouped cosine kernels). ``BatchEvalPython`` is the per-row
    pickling path we forbid. Chained maps that did not fuse, and
    grouped pandas maps outside the cosine kernels, are gated in
    ``tests/test_plans.py``.
    """
    return node_count(plan, "BatchEvalPython")


def assert_plan(
    df: DataFrame,
    *,
    max_exchanges: int | None = None,
    require: tuple[str, ...] = (),
    forbid: tuple[str, ...] = (),
    require_pushed_filter: str | None = None,
    max_scan_columns: int | None = None,
) -> str:
    """Assert scale-critical properties of ``df``'s physical plan.

    Returns the plan string so callers can attach it to failure output.
    """
    plan = explain_str(df)
    problems: list[str] = []
    if max_exchanges is not None:
        n = exchange_count(plan)
        if n > max_exchanges:
            problems.append(f"{n} shuffles (Exchange), budget {max_exchanges}")
    for tok in require:
        if node_count(plan, tok) == 0:
            problems.append(f"missing required node {tok!r}")
    for tok in forbid:
        if node_count(plan, tok) > 0:
            problems.append(f"forbidden node {tok!r} present")
    if require_pushed_filter is not None:
        if not any(require_pushed_filter in p for p in pushed_filters(plan)):
            problems.append(
                f"filter {require_pushed_filter!r} not pushed to scan "
                f"(PushedFilters={pushed_filters(plan)})"
            )
    if max_scan_columns is not None:
        for schema in read_schemas(plan):
            ncols = schema.count(":")
            if ncols > max_scan_columns:
                problems.append(
                    f"scan reads {ncols} columns (> {max_scan_columns}): "
                    f"{schema[:120]}"
                )
    if problems:
        raise AssertionError(
            "plan audit failed:\n- " + "\n- ".join(problems) + "\n\n" + plan
        )
    return plan
