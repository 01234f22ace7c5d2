"""Unit tests of the benchmark's own accounting (no Spark session).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

import datagen
import eventlog
import harness
import procstat

BURN = "import time\nt=time.process_time()\nwhile time.process_time()-t<{s}: pass\n"


def test_parse_stat_handles_odd_command_names():
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    line = "42 (a) b (c)) S 7 1 1 0 -1 0 0 0 0 0 100 50 30 20 20 0 1 0"
    ppid, cpu = procstat.parse_stat(line)
    assert ppid == 7
    assert cpu == pytest.approx(200 / procstat.CLK_TCK)


def test_tree_cpu_counts_live_and_reaped_children():
    before = procstat.tree_cpu_s()
    # a reaped child's CPU moves into our cutime
    subprocess.run([sys.executable, "-c", BURN.format(s=0.3)], check=True)
    reaped = procstat.tree_cpu_s()
    assert reaped - before >= 0.25
    # a live child is found through its parent link
    child = subprocess.Popen(
        [sys.executable, "-c", BURN.format(s=0.3) + "time.sleep(30)\n"]
    )
    try:
        assert child.pid in procstat.descendants(os.getpid())
        deadline = time.monotonic() + 10
        while procstat.tree_cpu_s() - reaped < 0.25 and time.monotonic() < deadline:
            time.sleep(0.1)
        assert procstat.tree_cpu_s() - reaped >= 0.25
        assert procstat.alive(child.pid)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert not procstat.alive(child.pid)


def test_age_counts_from_process_start():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        time.sleep(0.5)
        assert 0.3 <= procstat.age_s(child.pid) <= 5.0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert procstat.age_s(os.getpid()) > 0


def test_vm_hwm_reads_this_process():
    assert procstat.vm_hwm_mb(os.getpid()) > 1.0


@pytest.mark.parametrize(
    "n, pct",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert harness.tail_percentile(n) == pct


def test_call_tail_below_twenty_calls_is_median_of_pass_maxima():
    passes = [[1.0, 2.0, 9.0], [1.0, 3.0, 4.0], [1.0, 2.0, 5.0]]
    assert harness.call_tail(passes) == (5.0, 100.0)


def test_call_tail_uses_ladder_percentile_with_enough_calls():
    passes = [[float(i) for i in range(10 * k, 10 * k + 10)] for k in range(4)]
    tail, pct = harness.call_tail(passes)  # 40 calls 0..39 -> p75
    assert pct == 75.0
    assert tail == pytest.approx(29.25)


def _ev(**kw):
    return json.dumps(kw)


def test_fold_attributes_tasks_to_job_groups():
    lines = [
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 0, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "run:0:q"}}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2]}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 0,
            "Task Metrics": {
                "Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000,
                "JVM GC Time": 250, "Disk Bytes Spilled": 1 << 20,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 21},
                "Shuffle Read Metrics": {"Local Bytes Read": 1 << 20,
                                         "Remote Bytes Read": 1 << 20},
            },
            "Task Info": {"Accumulables": [
                {"Name": "time to run Python workers", "Update": "1500"},
                {"Name": "time to run Python workers", "Update": "500"},
                {"Name": "data sent to Python workers", "Update": str(1 << 20)},
                {"Name": "data returned from Python workers", "Update": "0"},
                {"Name": "internal.metrics.peakExecutionMemory", "Update": 7},
            ]},
        }),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 1, "Task Metrics": {"Executor CPU Time": 1_000_000_000},
            "Task Info": {"Accumulables": []},
        }),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 2, "Task Metrics": {"Executor CPU Time": 5_000_000_000},
        }),
        "",
    ]
    folded = eventlog.fold(lines)
    assert set(folded) == {"run:0:q"}
    g = folded["run:0:q"]
    assert g["tasks"] == 2
    assert g["executor_cpu_s"] == pytest.approx(3.0)
    assert g["run_s"] == pytest.approx(3.0)
    assert g["gc_s"] == pytest.approx(0.25)
    assert g["spill_mb"] == pytest.approx(1.0)
    assert g["shuffle_write_mb"] == pytest.approx(2.0)
    assert g["shuffle_read_mb"] == pytest.approx(2.0)
    assert g["py_worker_s"] == pytest.approx(2.0)
    assert g["to_python_mb"] == pytest.approx(1.0)
    assert g["from_python_mb"] == 0.0


PLAN = """== Physical Plan ==
OverwriteByExpression (9)
+- AdaptiveSparkPlan (8)
   +- == Final Plan ==
      +- MapInPandas (4)
         +- BroadcastHashJoin Inner BuildRight (3)
            :- Exchange (1)
            +- InMemoryTableScan (2)
   +- == Initial Plan ==
      MapInPandas (7)
      +- SortMergeJoin (6)
         +- Exchange (5)


(1) Exchange
Arguments: hashpartitioning(k#1, 32)

(5) Exchange
Arguments: hashpartitioning(k#1, 32)
"""


def test_final_plan_tree_keeps_only_executed_nodes():
    tree = harness.final_plan_tree(PLAN)
    assert "SortMergeJoin" not in tree
    from neuroimaging_data_pipeline_spark.plans import audit

    assert audit.exchange_count(tree) == 1
    assert audit.broadcast_join_count(tree) == 1
    assert audit.node_count(tree, "InMemoryTableScan") == 1
    assert sum(audit.node_count(tree, t) for t in harness.PYTHON_NODES) == 1


def test_generated_tables_depend_only_on_seed():
    scale = datagen.Scale(customers=20, suppliers=5, parts=30, orders=40,
                          lineitems=90, events=50, users=7, documents=25,
                          embeddings=10)
    a, b = datagen.tables(3, scale), datagen.tables(3, scale)
    c = datagen.tables(4, scale)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    assert a["lineitem"].num_rows == 90 and a["documents"].num_rows == 25
    ts = a["events"]["ts"].to_pylist()
    assert ts == sorted(ts)


def test_near_copies_share_their_originals_source():
    # the dedup queries only pair documents of one source, so a near-copy
    # in another source would leave them nothing to find
    docs = datagen.tables(5, datagen.Scale(documents=32))["documents"].to_pylist()
    pairs = [
        (a, b) for i, a in enumerate(docs) for b in docs[:i]
        if len(a["text"].split()) == len(b["text"].split())
        and sum(x != y for x, y in zip(a["text"].split(), b["text"].split())) <= 3
    ]
    assert len(pairs) >= 32 // 8
    assert all(a["source"] == b["source"] for a, b in pairs)


class _FakeClient(harness.Client):
    """A client whose passes take no Spark and a set host steal each."""

    def __init__(self, steal_per_pass):
        self.steal = iter(steal_per_pass)
        self.total = 0.0

    def run_pass(self, count=False, heap=False, parent=None):
        time.sleep(0.01)
        return [harness.Call("q", build_s=0.01)]

    def stolen(self):
        # called before and after each pass: the second read adds the steal
        self.reads = getattr(self, "reads", 0) + 1
        if self.reads % 2 == 0:
            self.total += next(self.steal)
        return self.total


def _window(monkeypatch, steal, cap_s):
    client = _FakeClient(steal)
    monkeypatch.setattr(procstat, "steal_s", client.stolen)
    return client.window(0.0, 3, cap_s=cap_s)


def test_window_replaces_passes_the_host_disturbed(monkeypatch):
    win = _window(monkeypatch, [0.0, 5.0, 0.0, 5.0, 0.0, 0.0], cap_s=60.0)
    assert len(win.passes) == 5
    assert [x <= harness.STEAL_MAX for x in win.steal] == [True, False, True, False, True]
    assert win.kept(3) == [0, 2, 4]


def test_window_stops_at_its_cap_and_keeps_the_least_disturbed(monkeypatch):
    win = _window(monkeypatch, [5.0, 9.0, 1.0, 7.0], cap_s=0.0)
    assert len(win.passes) == 3
    assert win.kept(3) == [0, 1, 2]
    assert win.kept(2) == [0, 2]


def test_window_without_cap_ignores_steal(monkeypatch):
    win = _window(monkeypatch, [5.0, 5.0, 5.0, 5.0], cap_s=None)
    assert len(win.passes) == 3
