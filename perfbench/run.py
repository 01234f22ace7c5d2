"""Cache-isolated, closed-loop benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload neuro_media --seed 1 --seconds 8 --trace 0

One process, one client, one call at a time on ``local[<cpus>]``. The
seed generates the input tables (and the cohort values) and permutes
the call order; the engine sees only the generated inputs. A run:

1. sets up: writes the inputs, starts a SparkSession and makes
   ``WARMUP_PASSES`` untimed passes, the first of them cold
   (``setup_s`` is the time from process start to the end of this);
2. times passes over the call list for ``--seconds`` (at least
   ``MIN_PASSES``), releasing every cache between calls, and replaces
   passes the host disturbed, for at most ``WINDOW_CAP`` x ``--seconds``;
3. checks every query once against its DuckDB ``oracle_sql()`` twin
   and the cohort betas against numpy ``lstsq``, and with ``--trace 0``
   reads the live JVM heap after each check;
4. with ``--trace 1``, also counts jobs, stages, tasks and plan nodes
   on the first timed pass, then repeats the timed window in a second
   session that writes Spark's event log, and folds that log into the
   ``trace.*`` layer metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Everything the run writes stays
under ``.perfbench/`` in the working directory; a per-run record and,
for traced runs, the spans are kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

import procstat
from workloads import WORKLOADS

#: untimed passes before the timed window, the first of them cold;
#: a fixed warm-up, the same on every commit, counted in setup_s
WARMUP_PASSES = 2
MIN_PASSES = 3
#: the traced window only feeds the per-pass trace.* averages
MIN_TRACED_PASSES = 2
#: how long, in multiples of --seconds, the window may run on to
#: replace passes the host disturbed (harness.STEAL_MAX)
WINDOW_CAP = 2.5


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(root: Path, work: Path) -> None:
    """Keep every file the engine, the JVM and the Python workers write
    under ``work``, and let the workers import the engine from ``root``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join([
        os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
    ]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    sys.path.insert(0, str(root))


def _session(master: str, work: Path, event_log: Path | None = None):
    from neuroimaging_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return None
    if procstat.comm(proc.pid) == "java":
        return proc.pid
    return next(
        (p for p in procstat.descendants(proc.pid) if procstat.comm(p) == "java"),
        None,
    )


def _shutdown(spark) -> None:
    """Stop Spark and the JVM, and wait until every child process ended."""
    from pyspark import SparkContext

    children = procstat.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate to a kill
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in children if procstat.alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def _verify(client, cohort, heap: bool) -> tuple[list[str], dict[str, float]]:
    """Check each call's output once; returns one line per failure, and,
    with ``heap``, the live JVM heap each check left before its release.

    This runs after timing, as the forced GCs of ``live_heap_mb`` would
    change the heap the next timed call starts with.
    """
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import TABLES, normalize

    spark, sf_dir = client.spark, client.sf_dir
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        problems, live_heap = [], {}
        for name, build in client.calls:
            try:
                if cohort is not None and name == cohort.name:
                    bad = cohort.verify(spark)
                elif name not in oracles:
                    bad = f"{name}: no oracle"
                else:
                    got = build(spark, sf_dir).toPandas()
                    want = con.execute(oracles[name]).df()
                    bad = None
                    if want.empty:
                        # an empty result would match an empty result
                        bad = f"{name}: the oracle returns no rows, so nothing is checked"
                    elif sorted(got.columns) != sorted(want.columns):
                        bad = f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
                    elif normalize(got) != normalize(want):
                        bad = f"{name}: {len(got)} rows differ from the oracle's {len(want)}"
            except Exception as e:  # noqa: BLE001 - a crash is a failed check
                bad = f"{name}: {type(e).__name__}: {e}"
            if bad:
                problems.append(bad)
            if heap:
                live_heap[name] = client.live_heap_mb()
            client.release()
        return problems, live_heap
    finally:
        con.close()


def _median(values):
    return statistics.median(values) if values else 0.0


def _trace_metrics(passes, folded) -> dict[str, float]:
    """Folded event-log metrics of the traced window, per pass (total
    over the window divided by its passes, so a rare GC still shows).

    Python-runner time is reported as its share of task run time: it is
    wait-inclusive (chained Python nodes each report it, so the share
    can exceed 1), and it is zero on a workload that runs no Python.
    """
    keys = (
        "executor_cpu_s", "run_s", "py_worker_s", "to_python_mb",
        "from_python_mb", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    )
    total = {
        k: sum(folded.get(c.group, {}).get(k, 0.0) for p in passes for c in p)
        for k in keys
    }
    out = {
        f"trace.{k}": total[k] / len(passes)
        for k in keys if k not in ("run_s", "py_worker_s")
    }
    out["trace.py_worker_share"] = (
        total["py_worker_s"] / total["run_s"] if total["run_s"] else 0.0
    )
    return out


def _bench(args, work: Path, record: dict) -> tuple[dict, int, int]:
    import datagen
    from harness import Client, summarize
    from workloads import call_list

    wl = WORKLOADS[args.workload]
    marks = record.setdefault("phase_end_s", {})
    age = lambda: procstat.age_s(os.getpid())  # noqa: E731
    sf_dir = str(datagen.write(work / "sf", args.seed, wl.scale))
    calls, cohort = call_list(wl, args.seed)
    record["calls"] = [n for n, _ in calls]
    master = f"local[{len(os.sched_getaffinity(0))}]"
    attempted = failed = 0

    marks["inputs"] = age()

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(master, work)
        session_s = time.perf_counter() - t0
        client = Client(spark, sf_dir, calls)
        for _ in range(WARMUP_PASSES):
            warm = client.run_pass()
            record.setdefault("warmup_calls_s", []).append(
                {c.name: round(c.latency_s, 3) for c in warm}
            )
            attempted += len(warm)
            failed += sum(c.error is not None for c in warm)
        setup_s = age()
        record["session_s"], marks["setup"] = session_s, setup_s

        win = client.window(
            args.seconds, MIN_PASSES, count_first=bool(args.trace),
            cap_s=WINDOW_CAP * args.seconds,
        )
        passes = win.passes
        keep = win.kept(MIN_PASSES)
        kept = [passes[i] for i in keep]
        attempted += sum(len(p) for p in passes)
        failed += sum(c.error is not None for p in passes for c in p)
        timing = summarize(kept)
        record.update(window_s=win.wall_s, passes=len(passes), kept=keep, **timing)
        record["pass_walls_s"] = [sum(c.latency_s + c.release_s for c in p) for p in passes]
        record["pass_steal"], record["pass_cpu_s"] = win.steal, win.cpu_s
        record["call_median_s"] = {
            n: _median([c.latency_s for p in kept for c in p if c.name == n])
            for n, _ in calls
        }

        marks["window"] = age()
        # before verification, which loads the oracle's tables into this process
        record["rss_python_mb"] = procstat.vm_hwm_mb(os.getpid())
        problems, record["live_heap_mb"] = _verify(client, cohort, heap=not args.trace)
        marks["verify"] = age()
        attempted += len(calls)
        failed += len(problems)
        record["verify_failures"] = problems
        for line in problems:
            print(f"perfbench: verification failed: {line}", file=sys.stderr)

        jvm = _jvm_pid()
        record["rss_jvm_mb"] = procstat.vm_hwm_mb(jvm) if jvm else 0.0
        record["failed_frac"] = failed / attempted
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "pass_s": timing["pass_s"],
                "call_p50_s": timing["call_p50_s"],
                "call_tail_s": timing["call_tail_s"],
                "cpu_s": _median([win.cpu_s[i] for i in keep]),
                "peak_rss_mb": (
                    max(record["live_heap_mb"].values()) + record["rss_python_mb"]
                ),
            }
        else:
            metrics = _layers(args, master, work, spark, client, passes, kept, timing,
                              session_s, cohort)
            spark = None  # _layers stopped it
            record["per_call_counts"] = {c.name: c.counts for c in passes[0]}
            metrics["failed_frac"] = record["failed_frac"]
    finally:
        _shutdown(spark)
        marks["shutdown"] = age()
    return metrics, attempted, failed


def _layers(args, master, work, spark, client, passes, kept, timing, session_s,
            cohort) -> dict:
    """Per-layer metrics: counts from the first timed pass, times from the
    kept passes, then a traced session whose event log is folded per call."""
    import eventlog
    from harness import Client, Spans, summarize

    first = passes[0]
    counts = {
        k: sum(c.counts.get(k, 0) for c in first)
        for k in ("jobs", "stages", "tasks", "exchanges", "bhj", "smj",
                  "python_evals", "inmemory_scans")
    }
    out = {
        "session.start_s": session_s,
        "queries.build_s": _median([sum(c.build_s for c in p) for p in kept]),
        "exec.action_s": _median([sum(c.action_s for c in p) for p in kept]),
        **{f"spark.{k}": counts[k] for k in ("jobs", "stages", "tasks")},
        **{
            f"plan.{k}": counts[k]
            for k in ("exchanges", "bhj", "smj", "python_evals", "inmemory_scans")
        },
        "cache.pins_left": sum(c.pins_left for c in first),
        "cache.left_mb": _median([sum(c.left_mb for c in p) for p in kept]),
        "call.tail_pct": timing["tail_pct"],
        "call.samples": timing["samples"],
    }
    if cohort is not None:
        lat = _median([c.latency_s for p in kept for c in p if c.name == cohort.name])
        out["ols.voxels_per_s"] = cohort.voxels / lat
    else:
        out["ols.voxels_per_s"] = 0.0

    log_dir = work / "eventlog"
    spark.stop()
    spark = _session(master, work, log_dir)
    traced = Client(spark, client.sf_dir, client.calls)
    traced.run_pass()  # untimed: the new session's first pass is cold
    traced.spans = Spans(f"{args.workload}-seed{args.seed}-{os.getpid()}")
    run_span = traced.spans.open("run", workload=args.workload, seed=args.seed)
    tpasses = traced.window(args.seconds, MIN_TRACED_PASSES, parent=run_span).passes
    traced.spans.close(run_span)
    spark.stop()
    (log,) = [p for p in log_dir.iterdir() if p.is_file()]
    with log.open() as f:
        folded = eventlog.fold(f)
    out.update(_trace_metrics(tpasses, folded))
    out["trace.overhead_s"] = summarize(tpasses)["pass_s"] - timing["pass_s"]
    results = Path.cwd() / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{traced.spans.run_id}-spans.json").write_text(
        json.dumps(traced.spans.to_json())
    )
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    root = Path.cwd().resolve()
    if not (root / "__spark_entry__.py").is_file() or not (
        root / "neuroimaging_data_pipeline_spark" / "__init__.py"
    ).is_file():
        print("perfbench: run from the repository root (engine not found)", file=sys.stderr)
        return 2
    work = root / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(root, work)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        metrics, attempted, failed = _bench(args, work, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spec = json.loads((root / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    record["metrics"] = metrics
    results = root / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json").write_text(
        json.dumps(record, indent=1)
    )
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={record['passes']} "
        f"tail=p{record['tail_pct']:g} of {record['samples']} calls "
        f"failed_frac={record['failed_frac']:.4f}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
