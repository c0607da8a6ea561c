"""Spans, counters and Spark event-log attribution for the traced run.

A :class:`Tracer` records one span per call into a layer (name, start,
end, parent, run id) in memory and tags the Spark jobs the call launches
with a job group equal to the span id, so the event log attributes every
task to exactly one span. With ``enabled=False`` spans and counters are
no-ops, which is how the untraced run measures the end-to-end metrics.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: Spark task metrics reported per layer (per call), plus the layer's
#: self time (span wall minus its child spans).
SPARK_METRICS = ("jobs", "tasks", "tasks_failed", "executor_run_s",
                 "executor_cpu_s", "shuffle_write_mb", "spill_mb", "self_s")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float
    run_id: str


class Tracer:
    def __init__(self, run_id: str, spark=None, enabled: bool = False):
        self.run_id = run_id
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._next = 0

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{self.run_id}:{span_id}", "", False)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._set_group(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(Span(sid, name, parent, start, end, self.run_id))

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name].append(float(value))

    def group_of(self, span: Span) -> str:
        return f"{span.run_id}:{span.id}"

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counters": dict(self.counters)}, fh)


def span_cost_s(tracer: Tracer, n: int = 200) -> float:
    """Driver-thread cost of one span (job-group tagging on entry and
    exit plus the record): times ``n`` empty spans, then drops them."""
    kept = len(tracer.spans)
    start = time.perf_counter()
    for _ in range(n):
        with tracer.span("trace.probe"):
            pass
    cost = (time.perf_counter() - start) / n
    del tracer.spans[kept:]
    return cost


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = (s.end - s.start) - covered
    return out


@dataclass
class StageStats:
    group: str | None
    wall_s: float
    python: bool
    tasks: int = 0
    tasks_failed: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0


def read_event_log(path: str) -> tuple[dict[str, int], dict[int, StageStats]]:
    """Parse an uncompressed, non-rolling Spark event log file.

    Returns (jobs per job group, per-stage stats keyed by stage id). A
    stage is marked ``python`` when one of its RDDs is a pandas/Python
    operator (e.g. ``FlatMapGroupsInPandas``)."""
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[int, StageStats] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    jobs[group] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stages[info["Stage ID"]] = StageStats(group, 0.0, False)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"],
                                       StageStats(None, 0.0, False))
                st.wall_s = (info.get("Completion Time", 0)
                             - info.get("Submission Time", 0)) / 1000.0
                scopes = [r.get("Scope") or "" for r in info["RDD Info"]]
                st.python = any("Pandas" in s or "Python" in s or "Arrow" in s
                                for s in scopes)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"],
                                       StageStats(None, 0.0, False))
                st.tasks += 1
                if ev["Task End Reason"].get("Reason") != "Success":
                    st.tasks_failed += 1
                tm = ev.get("Task Metrics") or {}
                st.run_s += tm.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                st.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                st.spill_b += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0))
    return dict(jobs), stages


def layer_table(tracer: Tracer, event_log: str | None) -> dict[str, dict[str, float]]:
    """Totals over every recorded span of each name.

    Keys per span name: ``calls``, ``wall_s``, ``self_s``,
    ``python_stage_s`` (wall of the stages running pandas/Python code)
    and the :data:`SPARK_METRICS` totals."""
    selfs = self_times(tracer.spans)
    jobs, stages = read_event_log(event_log) if event_log else ({}, {})
    by_group: dict[str, list[StageStats]] = defaultdict(list)
    for st in stages.values():
        if st.group:
            by_group[st.group].append(st)
    table: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        row = table.setdefault(s.name, defaultdict(float))
        row["calls"] += 1
        row["wall_s"] += s.end - s.start
        row["self_s"] += selfs[s.id]
        group = tracer.group_of(s)
        sts = by_group.get(group, [])
        row["python_stage_s"] += sum(st.wall_s for st in sts if st.python)
        row["jobs"] += jobs.get(group, 0)
        row["tasks"] += sum(st.tasks for st in sts)
        row["tasks_failed"] += sum(st.tasks_failed for st in sts)
        row["executor_run_s"] += sum(st.run_s for st in sts)
        row["executor_cpu_s"] += sum(st.cpu_s for st in sts)
        row["shuffle_write_mb"] += sum(st.shuffle_write_b for st in sts) / 2**20
        row["spill_mb"] += sum(st.spill_b for st in sts) / 2**20
    return {k: dict(v) for k, v in table.items()}


#: The ten ``olap`` queries, in pass order.
OLAP_QUERIES = ("agg_hash", "tpch_q3", "tpch_q10", "join_aqe_choice",
                "topk_per_group", "sort_multi", "scan_pruned", "set_except",
                "tpch_q5_bucketed", "tpch_q18_bucketed")

#: Layers whose Spark task metrics are reported (per call).
SPARK_LAYERS = ("queries.plan", "queries.exec", "operators.caim.fit",
                "operators.caim.transform", "operators.dedup.probe",
                "operators.dedup.append", "operators.dedup.compact",
                "operators.similarity.query", "operators.similarity.append")

#: Layers whose mean wall time per call is reported as ``<layer>_s``.
TIMED_LAYERS = (
    "queries.plan", "queries.exec",
    *[f"queries.{q}.{part}" for q in OLAP_QUERIES for part in ("plan", "exec")],
    "operators.caim.fit", "operators.caim.transform",
    "operators.dedup.probe", "operators.dedup.append",
    "operators.dedup.compact", "operators.dedup.delete",
    "operators.similarity.query", "operators.similarity.append",
    "operators.similarity.delete", "operators.similarity.vacuum",
)

COUNTERS = {
    "operators.caim.hist_rows": "count",
    "operators.dedup.live_layers": "count",
    "operators.dedup.bytes_written": "bytes",
    "operators.dedup.rewrite_ratio": "ratio",
    "operators.similarity.codes_bytes": "bytes",
}

QUALITY = ("caim_criterion", "dedup_recall", "dedup_precision",
           "ann_recall_at_5", "store_bytes_per_input_byte")

_SPARK_UNITS = {"jobs": "count", "tasks": "count", "tasks_failed": "count",
                "executor_run_s": "s", "executor_cpu_s": "s",
                "shuffle_write_mb": "MB", "spill_mb": "MB", "self_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {"session.start_s": "s"}
    for layer in TIMED_LAYERS:
        units[f"{layer}_s"] = "s"
    units["operators.caim.hist_s"] = "s"
    units["operators.caim.greedy_s"] = "s"
    units.update(COUNTERS)
    for layer in SPARK_LAYERS:
        for m in SPARK_METRICS:
            units[f"{layer}.{m}"] = _SPARK_UNITS[m]
    units.update({"unit.self_s": "s", "jvm.gc_s": "s", "trace.overhead_s": "s"})
    units.update({q: "ratio" for q in QUALITY})
    units["caim_criterion"] = "score"
    units["fail_ratio"] = "ratio"
    return units


def layer_of(span_name: str) -> str:
    """``queries.<q>.plan`` → ``queries.plan``; other names are layers."""
    parts = span_name.split(".")
    if parts[0] == "queries" and len(parts) == 3:
        return f"queries.{parts[2]}"
    return span_name


def per_layer_metrics(table, tracer: Tracer, session_s: float,
                      gc_s: float, overhead_s: float, quality: dict[str, float],
                      fail_ratio: float) -> tuple[dict[str, float], dict[str, str]]:
    """Per-call means of the layer table plus counters and quality; a
    layer the workload does not exercise reports 0."""
    layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for name, row in table.items():
        for target in {name, layer_of(name)}:
            for k, v in row.items():
                layers[target][k] += v

    def per_call(layer: str, key: str) -> float:
        row = layers.get(layer)
        return row[key] / row["calls"] if row and row["calls"] else 0.0

    units = per_layer_units()
    m = {"session.start_s": session_s}
    for layer in TIMED_LAYERS:
        m[f"{layer}_s"] = per_call(layer, "wall_s")
    greedy = per_call("operators.caim.fit", "python_stage_s")
    m["operators.caim.greedy_s"] = greedy
    m["operators.caim.hist_s"] = m["operators.caim.fit_s"] - greedy
    for name in COUNTERS:
        vals = tracer.counters.get(name, [])
        m[name] = sum(vals) / len(vals) if vals else 0.0
    for layer in SPARK_LAYERS:
        for key in SPARK_METRICS:
            m[f"{layer}.{key}"] = per_call(layer, key)
    m["unit.self_s"] = per_call("unit", "self_s")
    m["jvm.gc_s"] = gc_s
    m["trace.overhead_s"] = overhead_s
    for q in QUALITY:
        m[q] = quality.get(q, 0.0)
    m["fail_ratio"] = fail_ratio
    return {k: m[k] for k in units}, units
