"""Benchmark harness: run headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BASELINE.md §Protocol): shared SparkSession on
local[$SPARK_GRAFT_CPUS], warm runs — each query executed once to warm
codegen/IO caches, then timed as the median of 3 steady-state runs.
JVM startup is excluded (the 2× bar compares query execution).

``--isolate [names...] [--n N]`` runs each query in its OWN subprocess
(fresh JVM + fresh warmup) and reports the same JSON line with
``"protocol": "isolate"`` — the bisection tool for per-query regressions,
immune to the shared-session ±10% noise floor round 5 measured.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Streaming checkpoints fsync per micro-batch; on the bench box that disk
# latency is the dominant (and noisiest) cost of the true-streaming
# queries. tmpfs is the local stand-in for the fast checkpoint volume a
# cluster provisions — set before pycaim_spark.streaming reads the env.
if "PYCAIM_SCRATCH" not in os.environ and os.access("/dev/shm", os.W_OK):
    os.environ["PYCAIM_SCRATCH"] = "/dev/shm/pycaim_scratch"

# Headline queries: mirror BASELINE.md's measured-oracle table, plus the
# reference-core CAIM path, plus ≥1 query per SURVEY §2 family so a
# per-family regression (like round 2's caim_fit) is caught here.
HEADLINE = [
    # BASELINE.md measured-oracle set
    "agg_hash",
    "join_broadcast",
    # Same join, no pinned hint: AQE picks the strategy at runtime — the
    # plan a 100× cluster would actually run (VERDICT r7 item 5).
    "join_aqe_choice",
    "topk_per_group",
    "dedup_exact",
    "stream_session",
    # CAIM core
    "caim_fit",
    # LLM dedup / similarity / text
    "sim_cosine_exact",
    "dedup_minhash",
    "text_tfidf",
    "sim_lsh_bucketed",
    "sim_ivf",
    # round 9: incremental ingest probe + ANN-over-stored-index (the
    # steady-state index store persists across runs, so timings measure
    # the query path — the deployment shape)
    "dedup_incremental_minhash",
    "sim_ivf_pq_stored",
    # TPC-H shapes
    "tpch_q3",
    "tpch_q10",
    # round 12: the orderkey-bucketed layout twins — the 100 TB answer to
    # the fact-fact shuffle (layout persists in scratch; warmup pays the
    # one-time build, timed runs measure the query path)
    "tpch_q5_bucketed",
    "tpch_q18_bucketed",
    # family coverage: scans, scalar fns, sorts, set ops, UDFs, streaming,
    # multimodal, pipeline ops
    "scan_pruned",
    "fn_array",
    "sort_multi",
    "set_except",
    "udaf_pandas_grouped",
    "stream_watermark_agg",
    "mm_decode",
    "emb_quantize",
    "pipeline_pretrain",
]

#: Tables cached (storage-level memory) in the warmup: every later scan of
#: the same path resolves to the InMemoryRelation via Spark's cache manager,
#: so per-query timings measure execution, not repeated parquet decode —
#: matching the warm-cache protocol BASELINE.md §Protocol prescribes.
HOT_TABLES = (
    "lineitem", "orders", "customer", "nation", "region", "part",
    "supplier", "events", "documents", "embeddings",
)


def _parquet_bytes(sf_dir: str) -> int:
    """Total parquet bytes under ``sf_dir``, recursing into directory-style
    datasets (Spark-written tables are directories of part files; a
    top-level getsize on the dirent reports ~4 KB and silently defeats the
    size-scaled heap/split heuristics — ADVICE r11)."""
    total = 0
    for entry in os.listdir(sf_dir):
        path = os.path.join(sf_dir, entry)
        if entry.endswith(".parquet") and os.path.isfile(path):
            total += os.path.getsize(path)
        elif os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files if f.endswith(".parquet")
                )
    return total


def _load_guard(label: str) -> list[float]:
    """Record the box load average; warn when the 1-min average exceeds
    0.5 — three rounds of BENCH_r{N} comparisons started false regression
    alarms from shared-session drift that paired series kept ruling noise
    (VERDICT r11). Decision-grade series should refuse to start hot
    (see ``_settle``); the headline bench just records."""
    load = [round(x, 3) for x in os.getloadavg()]
    if load[0] > 0.5:
        print(
            f"bench: WARNING {label} starting with 1-min load {load[0]}"
            " > 0.5 — timings are not decision evidence (CLAUDE.md"
            " measurement rules)",
            file=sys.stderr,
        )
    return load


#: Settle gate (VERDICT r18 #1): both BENCH_r17 and BENCH_r18 ran at 1-min
#: load 2.3–2.7 and produced a phantom across-the-board "regression" that
#: the settled paired runs (BENCH_r18_settled vs _post) ruled a wash. The
#: headline bench now waits — bounded — for the box to settle before
#: timing: poll until 1-min load < 0.5,
#: proceed after 900 s regardless, and record what happened in the JSON
#: (``settle_waited_s``, plus ``settle_timeout: true`` when it gave up) so
#: a hot run is marked instead of silently misread. PYCAIM_BENCH_NO_SETTLE=1
#: skips the wait (for harnesses that already settle before each run).
_SETTLE_THRESHOLD = 0.5
_SETTLE_TIMEOUT_S = 900.0


def _settle(label: str) -> tuple[list[float], dict]:
    """Bounded settle-wait, then the usual load record. Returns the load
    triple plus the JSON fields describing the wait."""
    extra: dict = {}
    if not os.environ.get("PYCAIM_BENCH_NO_SETTLE"):
        t0 = time.monotonic()
        waited = False
        while os.getloadavg()[0] > _SETTLE_THRESHOLD:
            elapsed = time.monotonic() - t0
            if elapsed >= _SETTLE_TIMEOUT_S:
                extra["settle_timeout"] = True
                break
            if not waited:
                print(
                    f"bench: {label} waiting for 1-min load "
                    f"{os.getloadavg()[0]:.2f} to settle below "
                    f"{_SETTLE_THRESHOLD} (max {_SETTLE_TIMEOUT_S:.0f}s)",
                    file=sys.stderr,
                )
                waited = True
            time.sleep(min(15.0, _SETTLE_TIMEOUT_S - elapsed))
        if waited or extra:
            extra["settle_waited_s"] = round(time.monotonic() - t0, 1)
    return _load_guard(label), extra


def _tune_partitions(spark) -> None:
    """Size input splits for ≥8 fat tasks over this sf dir (4 MiB floor for
    the ~10 MiB fixture files; 128 MiB cap = the real-cluster default).
    The old 3-tasks-per-core heuristic cost 15% on scan-bound aggregates at
    sf10 — KNOBS_r8.json measured splits {18M auto: 1.26 s, 32M: 1.29 s,
    54M: 1.23 s, 128M: 1.09 s}: locally, per-task overhead beats marginal
    scan parallelism, so prefer the fattest split up to the cluster
    default. An explicit $PYCAIM_MAX_PARTITION_BYTES wins (knob
    experiments)."""
    explicit = os.environ.get("PYCAIM_MAX_PARTITION_BYTES")
    if explicit:
        spark.conf.set("spark.sql.files.maxPartitionBytes", explicit)
        return
    total = _parquet_bytes(SF_DIR)
    target = max(4 << 20, min(128 << 20, total // 8))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))


def _run_once(fn, spark) -> float:
    t0 = time.perf_counter()
    df = fn(spark, SF_DIR)
    # noop sink: consumes every row AND column without driver transfer.
    # NOT count() — Catalyst's distinct-key join elimination + column
    # pruning can collapse a count() plan to a fraction of the query
    # (measured: the incremental-dedup probe's count() optimized to a
    # bare delta scan, reporting 0.8 s for an 86 s probe at sf10 —
    # ISOLATE_r9.json `count_elimination`).
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _time_query(fn, spark, n: int = 3) -> float:
    """Warm-up run, then median of ``n`` steady-state runs."""
    first = _run_once(fn, spark)  # warm-up (codegen + page cache)
    if first > 20.0:
        # Heavy query: one more steady-state run, no median-of-n —
        # keeps the whole bench bounded.
        return round(_run_once(fn, spark), 4)
    runs = sorted(_run_once(fn, spark) for _ in range(n))
    return round(runs[n // 2], 4)


def _fresh_session():
    """Session + warm caches, shared by both protocols."""
    from pycaim_spark.catalog import load_table
    from pycaim_spark.session import get_spark

    # Scale the child heap to the corpus: at sf10 (~2.5 GiB parquet) the
    # default 8 GiB JVM runs at the heap ceiling once the hot tables are
    # cached, and ~15% of r11 series children died with heap OOM
    # (surfacing as temp_shuffle ENOENT from the shutdown cascade —
    # ISOLATE_r11.json `q18_shape_paired_series` note). An explicit
    # PYCAIM_DRIVER_MEM still wins.
    if "PYCAIM_DRIVER_MEM" not in os.environ:
        if _parquet_bytes(SF_DIR) > (1 << 30):
            os.environ["PYCAIM_DRIVER_MEM"] = "16g"
    spark = get_spark(app_name="pycaim-bench")
    _tune_partitions(spark)
    # PYCAIM_BENCH_NO_CACHE=1 keeps queries on the direct parquet scan
    # (page-cache warm only) — the knob-table control for cache effects.
    if not os.environ.get("PYCAIM_BENCH_NO_CACHE"):
        for t in HOT_TABLES:
            load_table(spark, SF_DIR, t).cache().count()
    return spark


def _single(name: str, n: int) -> None:
    """Isolated child: fresh JVM, one query, JSON on the last stdout line."""
    from pycaim_spark.registry import queries as all_queries

    spark = _fresh_session()
    fn = all_queries()[name]
    sec = _time_query(fn, spark, n=n)
    print(json.dumps({"query": name, "sec": sec}))
    spark.stop()


def _canary_child() -> float | None:
    """Machine-state canary: one fresh-JVM ``tpch_q6`` isolate (pure
    lineitem filter+agg) with PYCAIM_BENCH_NO_CACHE=1 so the child skips
    the 10-table cache warmup — it measures the same JVM-start + parquet
    scan + codegen path the real measurement children take, in ~¼ their
    wall. Round 13 diagnosed child-to-child machine-state decay (same-
    config fresh JVMs degrading 3.96 → 21.57 s, ISOLATE_r13.json
    `q21_window_slowmode_heap_ab`) as the binding noise source for shape
    adjudications on this box; the canary makes that state observable
    per-child instead of inferred post-hoc (VERDICT r13 #2).

    The probe runs under a PINNED env: every ``PYCAIM_*`` knob from the
    parent (conf arms, shape arms, partition-bytes overrides) is stripped
    so the canary measures BOX state, not the arm under test — an arm
    whose conf slows q6 itself would otherwise read as decay, burn the
    probe budget, and land in ``canary_drift`` as a false positive
    (r14 ADVICE). Non-PYCAIM env (SPARK_GRAFT_SF_DIR, JAVA_HOME…)
    passes through."""
    import subprocess

    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYCAIM_")}
    env["PYCAIM_BENCH_NO_CACHE"] = "1"
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--single", "tpch_q6", "--n", "3"],
            capture_output=True, text=True, env=env,
            timeout=int(os.environ.get("PYCAIM_ISOLATE_TIMEOUT", "600")),
        )
    except subprocess.TimeoutExpired:
        return None
    line = proc.stdout.strip().rsplit("\n", 1)[-1] if proc.stdout else ""
    try:
        return json.loads(line)["sec"]
    except (ValueError, KeyError):
        return None


#: Canary gate: retry threshold as a multiple of the session's best
#: (minimum) canary. Min, not median: the r13 decay mode is monotonic
#: degradation, so a median over a decaying session drifts up with the
#: decay and masks exactly the state it should flag.
_CANARY_DRIFT = 1.2


def _isolate(names: list[str], n: int, canary: bool = False) -> None:
    """Fresh-session-per-query protocol: each query runs in its own
    subprocess (own JVM, own page-cache warmup), immune to shared-session
    pressure (GC debt, codegen cache, block-manager residue). Round 5
    measured the shared protocol's noise floor at ~±10% (uniform +8% on
    byte-identical code); use this mode to bisect per-query regressions.

    ``--canary`` (decision-series protocol, VERDICT r13 #2): before each
    measurement child, run `_canary_child` and gate — when it reads
    >20% above the session minimum, sleep 60 s and re-probe (≤3 probes),
    then record every probe in the output JSON (``canary`` map) plus a
    ``canary_drift`` list naming the measurements whose final probe was
    still hot. A measurement taken under a flagged canary is weather,
    not evidence, and the flag travels with the artifact.
    """
    import subprocess

    load, settle_extra = _settle("--isolate")
    timings: dict[str, float] = {}
    canaries: dict[str, list[float]] = {}
    # $PYCAIM_CANARY_REF carries the best canary seen EARLIER in a series
    # that spans multiple bench.py invocations (e.g. one invocation per
    # (round, arm) of a paired series); without it each invocation's
    # first probe would define its own reference and the gate could never
    # fire on a box that decayed between invocations.
    ref_env = os.environ.get("PYCAIM_CANARY_REF")
    series_ref = [float(ref_env)] if ref_env else []

    def _session_min() -> float | None:
        vals = [v for probe_list in canaries.values() for v in probe_list]
        vals += series_ref
        return min(vals) if vals else None

    # Probe budget: decay recovers over minutes, not seconds — the r14
    # flag-recheck saw probes improve 2.22 → 1.61 → 1.45 against a 1.13
    # reference and run out of attempts (ISOLATE_r14.json
    # `q10_bucketed_flag_recheck`). Default 3 keeps a series bounded;
    # raise for a measurement that must not run flagged.
    max_probes = int(os.environ.get("PYCAIM_CANARY_PROBES", "3"))
    for name in names:
        if canary:
            probes = canaries.setdefault(name, [])
            for _attempt in range(max_probes):
                c = _canary_child()
                if c is None:
                    break
                probes.append(round(c, 4))
                # _session_min includes the probe just taken, so the
                # gate reads: hot relative to the best state this series
                # has ever observed → settle and re-probe.
                if c <= _CANARY_DRIFT * _session_min():
                    break
                time.sleep(60)
        try:
            # Per-child wall-clock cap: --isolate gets pointed at
            # pathological queries by design (guard-off clique shapes);
            # a hung child must not wedge the whole protocol.
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--single", name,
                 "--n", str(n)],
                capture_output=True, text=True,
                timeout=int(os.environ.get("PYCAIM_ISOLATE_TIMEOUT", "600")),
            )
        except subprocess.TimeoutExpired:
            print(f"bench --isolate: {name} timed out", file=sys.stderr)
            continue
        line = proc.stdout.strip().rsplit("\n", 1)[-1] if proc.stdout else ""
        try:
            timings[name] = json.loads(line)["sec"]
        except (ValueError, KeyError):
            print(f"bench --isolate: {name} failed:\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    extra = {}
    if canary:
        session_min = _session_min()
        extra["canary"] = canaries
        extra["canary_drift"] = sorted(
            q for q, vals in canaries.items()
            if vals and session_min and vals[-1] > _CANARY_DRIFT * session_min
        )
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "protocol": "isolate",
                "n": n,
                "load": load,
                **settle_extra,
                **extra,
            }
        )
    )


def main() -> None:
    from pycaim_spark.registry import queries as all_queries

    load, settle_extra = _settle("headline bench")
    spark = _fresh_session()
    registry = all_queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry.get(name)
        if fn is None:
            continue
        try:
            timings[name] = _time_query(fn, spark)
        except Exception as exc:  # never let one query kill the bench line
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
    # CAIM reference point (BASELINE.md §Protocol): single-core NumPy fit
    # on the same data, as the stand-in for the unavailable reference
    # timing. Uses the same vectorized greedy the estimator ships.
    try:
        import numpy as np
        import pyarrow.parquet as pq

        from pycaim_spark.operators.caim.core import caim_greedy, histogram_from_arrays

        tbl = pq.read_table(os.path.join(SF_DIR, "events.parquet"),
                            columns=["value", "event_type"])
        x = tbl["value"].to_numpy()
        y = np.asarray(tbl["event_type"].to_pylist())
        t0 = time.perf_counter()
        values, counts, _ = histogram_from_arrays(x, y)
        caim_greedy(values, counts)
        timings["caim_fit_numpy_ref"] = round(time.perf_counter() - t0, 4)
    except Exception as exc:
        print(f"bench: numpy caim ref failed: {exc}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 4)
    # Per-query regime notes: the bucketed-layout twins read EXTERNAL
    # bucketed tables, which bypass the shared session's in-memory table
    # cache every other headline query enjoys — at sf0.1 that known
    # penalty (~1 s across the two) is not a regression signal; their
    # representative regime is the parquet-resident fresh-JVM isolate at
    # sf10, where they win 20/20 paired rounds (SCALING_r12.json
    # `bucketed_layout_sweep` note; VERDICT r12 item 4).
    regimes = {
        q: "external-bucketed-layout: bypasses the session cache at this "
           "sf; representative regime is parquet-resident sf10 isolates"
        for q in timings
        if q.startswith("tpch_") and q.endswith("_bucketed")
    }
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "load": load,
                **settle_extra,
                **({"regimes": regimes} if regimes else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    import argparse

    parser = argparse.ArgumentParser(description=__doc__)
    mode = parser.add_mutually_exclusive_group()
    mode.add_argument("--single", metavar="QUERY",
                      help="internal: time one query in this process")
    mode.add_argument("--isolate", nargs="*", metavar="QUERY",
                      help="fresh-JVM-per-query protocol (default: HEADLINE)")
    parser.add_argument("--n", type=int, default=3,
                        help="steady-state runs per query (median reported)")
    parser.add_argument("--canary", action="store_true",
                        help="decision-series protocol: fresh-JVM q6 canary "
                             "+ drift gate before each isolate child")
    args = parser.parse_args()
    if args.single is not None:
        _single(args.single, args.n)
    elif args.isolate is not None:
        _isolate(args.isolate or HEADLINE, args.n, canary=args.canary)
    else:
        main()
