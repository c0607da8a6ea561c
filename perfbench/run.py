"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload {olap,llm_ingest} \
        --seed N --seconds S --trace {0,1}

The run sets up once: Spark session start (with the JVM launch), input
generation from the seed, base builds, and one warm-up unit; that is
``setup_s``. The warmed state is then driven by one closed-loop client
for whole units (a query pass, or an ingest day) until ``--seconds`` have
passed or the generated inputs run out.
Outputs are checked after the timed phase. With ``--trace 1`` the same
loop runs with spans and the Spark event log on, and the per-layer
metrics are printed instead; the spans and the layer table are written
under ``.perfbench_out/``. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
    "op_tail_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(run_dir: str, trace: bool) -> str:
    """Environment the program reads at import / session start. Returns
    the event-log directory (empty unless tracing)."""
    for sub in ("scratch", "data", "local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    event_dir = os.path.join(run_dir, "eventlog") if trace else ""
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # A fixed young generation keeps the JVM's RSS from tracking G1's
        # adaptive eden sizing from run to run; the heap still grows to
        # the program's default driver memory. No hsperfdata files are
        # written outside the run directory.
        "spark.driver.extraJavaOptions=-Xmn768m -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir={event_dir}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "PYCAIM_SCRATCH": os.path.join(run_dir, "scratch"),
        "PYCAIM_EXTRA_CONFS": ";".join(confs),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return event_dir


def shutdown_jvm() -> None:
    """Stop Spark, shut the py4j gateway JVM down and wait for its process
    tree (the JVM and its Python workers) to end."""
    import stats
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    tree = stats.descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    stats.wait_gone(tree, timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pycaim_spark")):
        print(f"no pycaim_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_root = os.path.join(ROOT, ".perfbench_run")
    shutil.rmtree(run_root, ignore_errors=True)
    try:
        return measure(args, os.path.join(run_root, f"{args.workload}-{args.seed}"))
    finally:
        shutdown_jvm()
        shutil.rmtree(run_root, ignore_errors=True)


def measure(args, run_dir: str) -> int:
    trace = bool(args.trace)
    # Before anything imports pyspark or caches the temp directory.
    event_dir = configure_env(run_dir, trace)

    import stats
    import spans as tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    from pycaim_spark.session import get_spark

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    workload = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    tracer = tracing.Tracer(run_id, spark, enabled=False)
    workload.generate(os.path.join(run_dir, "data"), args.seed)
    workload.build(spark, tracer)
    # One warm-up unit: JIT, lazy builds and first-touch costs land here,
    # outside the timed phase.
    warm: list[workloads.Op] = []
    workload.capture = True
    workload.unit(spark, tracer, warm)
    workload.capture = False
    setup_s = time.perf_counter() - t0
    if any(op.error for op in warm):
        raise RuntimeError("warm-up failed: "
                           + "; ".join(op.error for op in warm if op.error))

    workload.begin_timed()
    tracer.enabled = trace
    log: list[workloads.Op] = []
    unit_walls: list[float] = []
    gc0 = gc_seconds(spark)
    cpu0 = stats.cpu_jiffies()
    with stats.PeakRss() as rss:
        start = time.perf_counter()
        while True:
            u0 = time.perf_counter()
            with tracer.span("unit"):
                workload.unit(spark, tracer, log)
            unit_walls.append(time.perf_counter() - u0)
            if workload.exhausted() or (
                    len(unit_walls) >= workload.min_units
                    and time.perf_counter() - start >= args.seconds):
                break
        wall = time.perf_counter() - start
    gc_s = gc_seconds(spark) - gc0
    steal = stats.steal_share(cpu0, stats.cpu_jiffies())
    tracer.enabled = False

    t0 = time.perf_counter()
    check = workload.check(spark, log)
    check_s = time.perf_counter() - t0
    failed = workloads.mark_failed(log, check)
    if trace:
        tracer.enabled = True
        workload.counters(spark, tracer)
        span_cost_s = tracing.span_cost_s(tracer)
        tracer.enabled = False
    app_id = spark.sparkContext.applicationId

    attempted = len(log)
    lat = stats.latency_summary([op.latency_s for op in log])
    info = {
        "workload": args.workload, "seed": args.seed, "units": len(unit_walls),
        "timed_wall_s": round(wall, 3),
        "unit_walls_s": [round(u, 3) for u in unit_walls], "ops": attempted, "failed": failed,
        "op_tail_pct": lat["tail_pct"], "ops_beyond_tail": lat["beyond"],
        "nproc": _nproc(), "loadavg_1m": os.getloadavg()[0],
        "cpu_steal_share": round(steal, 4),
        "session_s": round(session_s, 3), "check_s": round(check_s, 3),
        "quality": check.quality,
        "median_s_by_kind": {
            k: round(statistics.median(op.latency_s for op in log if op.kind == k), 3)
            for k in sorted({op.kind for op in log})},
    }
    for problem in check.problems[:20]:
        print(f"check failed: {problem}")
    for op in log:
        if op.error:
            print(f"op failed: {op.kind} {op.key}: {op.error}")

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": sum(op.rows for op in log) / wall,
            "op_p50_s": lat["p50"],
            "op_tail_s": lat["tail"],
            "ok_ratio": 1.0 - failed / attempted,
            "peak_rss_mb": rss.peak_mb,
        }
        units = END_TO_END_UNITS
    else:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        # Stopping the context flushes the event log and gives it its
        # final name (``<app id>`` instead of ``<app id>.inprogress``).
        spark.stop()
        table = tracing.layer_table(tracer, os.path.join(event_dir, app_id))
        metrics, units = tracing.per_layer_metrics(
            table, tracer, session_s, gc_s,
            span_cost_s * (len(tracer.spans) / len(unit_walls)),
            check.quality, failed / attempted)
        tag = f"{args.workload}-{args.seed}"
        tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"))
        with open(os.path.join(out_dir, f"layers-{tag}.json"), "w") as fh:
            json.dump(table, fh, indent=1, sort_keys=True)
        print(f"{'layer':<34}{'calls':>7}{'wall_s':>10}{'self_s':>10}")
        for name, row in sorted(table.items()):
            print(f"{name:<34}{int(row['calls']):>7}{row['wall_s']:>10.3f}"
                  f"{row['self_s']:>10.3f}")
    print("info " + json.dumps(info, sort_keys=True))
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
