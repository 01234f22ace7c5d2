"""Drive the engine from outside: one client, one call at a time.

Each call is split into the registry's query function
``fn(spark, sf_dir)`` (planning plus any eager actions in the Spark
application process) and the noop-sink action,
and both are timed. Between calls every cached table and persisted RDD
is released, after recording what the call left behind, so no timed
call reads a cache an earlier call filled.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import procstat
from neuroimaging_data_pipeline_spark.plans import audit

#: Spark 4 plan nodes that run Python (Arrow-batched or row-at-a-time)
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow", "ArrowAggregatePython", "ArrowWindowPython",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)
#: the tail is the highest of these percentiles (in tenths of a
#: percent, so the test below is exact) with >= 10 samples beyond it
TAIL_LADDER = (500, 750, 900, 950, 990, 999)
#: a pass during which other guests of the host took more than this
#: share of the machine's CPU time (``steal``) was slowed by the host;
#: an undisturbed pass here sees well under 1%
STEAL_MAX = 0.02
HEAP_SETTLE_S = 2.5


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile that leaves at least ten of ``n``
    samples above it; None below 20 samples, where none does."""
    fit = [q for q in TAIL_LADDER if n * (1000 - q) >= 10 * 1000]
    return fit[-1] / 10.0 if fit else None


def call_tail(passes: list[list[float]]) -> tuple[float, float]:
    """``(tail latency, percentile)`` of the calls of a window of passes.

    With at least 20 calls this is the highest ladder percentile with
    ten calls beyond it. With fewer, no percentile qualifies, so the
    tail is the slowest call of each pass, median over passes, and the
    percentile reported is 100.
    """
    lat = [x for p in passes for x in p]
    pct = tail_percentile(len(lat))
    if pct is None:
        return statistics.median(max(p) for p in passes if p), 100.0
    return float(np.percentile(lat, pct)), pct


@dataclass
class Call:
    name: str
    build_s: float = 0.0
    action_s: float = 0.0
    release_s: float = 0.0
    pins_left: int = 0
    left_mb: float = 0.0
    error: str | None = None
    group: str = ""
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.action_s


@dataclass
class Window:
    """The timed passes of one window, with what each pass cost the
    process tree in CPU and lost to the host."""

    passes: list[list[Call]] = field(default_factory=list)
    #: share of the machine's CPU time stolen by the host during each pass
    steal: list[float] = field(default_factory=list)
    #: CPU seconds of the whole process tree during each pass
    cpu_s: list[float] = field(default_factory=list)
    wall_s: float = 0.0

    def kept(self, n: int) -> list[int]:
        """Indices of the undisturbed passes, or of the ``n`` least
        disturbed ones if fewer than ``n`` were undisturbed; in run order."""
        order = sorted(range(len(self.passes)), key=self.steal.__getitem__)
        clean = sum(x <= STEAL_MAX for x in self.steal)
        return sorted(order[:max(n, clean)])


class Spans:
    """In-memory spans (run -> pass -> call -> build/action) of one run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.items.append({
            "id": len(self.items), "parent": parent, "name": name,
            "start_s": time.perf_counter() - self.t0, "end_s": None, **attrs,
        })
        return len(self.items) - 1

    def close(self, span: int) -> None:
        self.items[span]["end_s"] = time.perf_counter() - self.t0

    def to_json(self) -> dict:
        return {"run_id": self.run_id, "spans": self.items}


class Client:
    """One closed-loop client bound to one SparkSession."""

    def __init__(self, spark, sf_dir: str, calls, spans: Spans | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.calls = calls
        self.spans = spans
        self.n_groups = 0

    def release(self) -> tuple[int, float]:
        """Unpersist everything; returns (persisted RDDs, their MiB) before."""
        jsc = self.sc._jsc
        left_mb = sum(
            i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()
        ) / float(1 << 20)
        rdds = jsc.getPersistentRDDs()
        pins = len(rdds)
        self.spark.catalog.clearCache()
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
        return pins, left_mb

    def live_heap_mb(self) -> float:
        """JVM heap in use once the garbage is gone, in MiB: what the
        JVM holds at this point, cached blocks included.

        Spark's cleaner thread frees the broadcasts, shuffles and
        accumulators of collected objects only after a GC found them,
        and it can take 1.5 s to get to them (a 195 MB drop after
        t_kn_bigram came at the fourth 0.5 s step). So full GCs repeat
        until the heap has not shrunk for ``HEAP_SETTLE_S``.
        """
        gc.collect()  # drop Python proxies that pin JVM objects
        jvm = self.sc._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        low, since = float("inf"), time.perf_counter()
        deadline = since + 4 * HEAP_SETTLE_S
        while True:
            jvm.java.lang.System.gc()
            now = heap.getHeapMemoryUsage().getUsed() / float(1 << 20)
            t = time.perf_counter()
            if now < low - 1.0:
                since = t
            low = min(low, now)
            if t - since >= HEAP_SETTLE_S or t >= deadline:
                return low
            time.sleep(0.5)

    def _wait_listeners(self) -> None:
        # status tracker and SQL store are fed by the listener bus;
        # drain it so every finished job and plan update is visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _last_execution_id(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(n - 1, 1).head().executionId()

    def _plan_counts(self, after_id: int) -> dict[str, int]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        execs = store.executionsList(max(0, n - 8), min(n, 8))
        counts = dict.fromkeys(
            ("exchanges", "bhj", "smj", "python_evals", "inmemory_scans"), 0
        )
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            if ex.executionId() <= after_id:
                continue
            plan = final_plan_tree(ex.physicalPlanDescription())
            counts["exchanges"] += audit.exchange_count(plan)
            counts["bhj"] += audit.broadcast_join_count(plan)
            counts["smj"] += audit.sortmerge_join_count(plan)
            counts["python_evals"] += sum(
                audit.node_count(plan, tok) for tok in PYTHON_NODES
            )
            counts["inmemory_scans"] += audit.node_count(plan, "InMemoryTableScan")
        return counts

    def _job_counts(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages, tasks, seen = 0, 0, set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                stage = tracker.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def call(self, name, build, count: bool = False, parent: int | None = None) -> Call:
        """Time one call; ``count`` also reads job, stage, task and plan counts."""
        group = f"{self.spans.run_id if self.spans else 'untraced'}:{self.n_groups}:{name}"
        rec = Call(name, group=group)
        self.n_groups += 1
        self.sc.setJobGroup(group, name)
        span = self.spans.open(name, parent, group=group) if self.spans else None
        try:
            t0 = time.perf_counter()
            sub = self.spans.open("build", span) if self.spans else None
            df = build(self.spark, self.sf_dir)
            rec.build_s = time.perf_counter() - t0
            if self.spans:
                self.spans.close(sub)
                sub = self.spans.open("action", span)
            last_id = self._last_execution_id() if count else -1
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec.action_s = time.perf_counter() - t1
            if self.spans:
                self.spans.close(sub)
            if count:
                self._wait_listeners()
                rec.counts = {**self._job_counts(group), **self._plan_counts(last_id)}
        except Exception:  # noqa: BLE001 - a failing call is counted, not fatal
            rec.error = traceback.format_exc()
            print(f"perfbench: call {name} failed:\n{rec.error}", file=sys.stderr)
        finally:
            if span is not None:
                self.spans.close(span)
            self.sc.setJobGroup("perfbench-idle", "release")
        t3 = time.perf_counter()
        rec.pins_left, rec.left_mb = self.release()
        rec.release_s = time.perf_counter() - t3
        return rec

    def run_pass(self, count: bool = False, parent: int | None = None) -> list[Call]:
        span = self.spans.open("pass", parent) if self.spans else None
        out = [self.call(n, b, count=count, parent=span) for n, b in self.calls]
        if span is not None:
            self.spans.close(span)
        return out

    def window(self, seconds: float, min_passes: int, count_first: bool = False,
               parent: int | None = None, cap_s: float | None = None) -> Window:
        """Repeat passes for at least ``seconds`` and ``min_passes``.

        With ``cap_s``, a pass the host disturbed (steal above
        ``STEAL_MAX``) does not count toward ``min_passes`` until the
        window has run for ``cap_s`` seconds.
        """
        win = Window()
        cpus = os.cpu_count() or 1  # steal is summed over the machine's CPUs
        t0 = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t0
            clean = sum(x <= STEAL_MAX for x in win.steal)
            if len(win.passes) >= min_passes and elapsed >= seconds and (
                cap_s is None or clean >= min_passes or elapsed >= cap_s
            ):
                break
            cpu0, steal0, p0 = procstat.tree_cpu_s(), procstat.steal_s(), time.perf_counter()
            win.passes.append(
                self.run_pass(count=count_first and not win.passes, parent=parent)
            )
            wall = time.perf_counter() - p0
            win.cpu_s.append(procstat.tree_cpu_s() - cpu0)
            win.steal.append((procstat.steal_s() - steal0) / (wall * cpus))
        win.wall_s = time.perf_counter() - t0
        return win


def final_plan_tree(description: str) -> str:
    """The operator tree of the final (post-AQE) physical plan.

    ``physicalPlanDescription`` in formatted mode lists the tree, then
    one detail section per node; under AQE the tree holds both the
    final and the initial plan. Only the final tree's lines are kept,
    so each executed node is counted once.
    """
    tree = description.split("\n\n(", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return tree


def summarize(passes: list[list[Call]]) -> dict[str, float]:
    """End-to-end timings of one window of passes."""
    ok = [[c.latency_s for c in p if c.error is None] for p in passes]
    tail, pct = call_tail(ok)
    return {
        "pass_s": statistics.median(
            sum(c.latency_s + c.release_s for c in p) for p in passes
        ),
        "call_p50_s": statistics.median(x for p in ok for x in p),
        "call_tail_s": tail,
        "tail_pct": pct,
        "samples": sum(len(p) for p in ok),
    }
