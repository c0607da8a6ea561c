"""The two closed-loop workloads: ``olap`` and ``llm_ingest``.

Each workload generates its inputs (:mod:`gen`), builds its base state, and runs *units* of operations: one pass over the ten queries,
or one ingest day (which ends with a CAIM refit). A single client (the driver
thread) submits each operation only after the previous one returned.
Every call into the program is wrapped in a tracer span named after the
module it enters; output checks run after the timed phase and map every
mismatch back to the operations that produced it.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from spans import OLAP_QUERIES


@dataclass
class Op:
    kind: str
    key: str
    rows: int
    latency_s: float = 0.0
    error: str | None = None
    failed_check: bool = False


@dataclass
class CheckResult:
    """Keys of ops whose output failed a check, plus quality figures."""
    failed_keys: set[str] = field(default_factory=set)
    problems: list[str] = field(default_factory=list)
    quality: dict[str, float] = field(default_factory=dict)

    def fail(self, key: str, why: str) -> None:
        self.failed_keys.add(key)
        self.problems.append(f"{key}: {why}")


def mark_failed(log: list[Op], check: CheckResult) -> int:
    """Flag every op whose output failed a check; return how many ops
    failed (raised or failed a check)."""
    for op in log:
        op.failed_check = op.key in check.failed_keys
    return sum(1 for op in log if op.error or op.failed_check)


def run_op(log: list[Op], op: Op, fn) -> object:
    """Time ``fn`` as one closed-loop operation; an exception is recorded
    on the op (it counts as failed) and the loop carries on."""
    start = time.perf_counter()
    result = None
    try:
        result = fn()
    except Exception as exc:  # a failing op is data, not a crash
        op.error = f"{type(exc).__name__}: {exc}"[:500]
        traceback.print_exc()
    op.latency_s = time.perf_counter() - start
    log.append(op)
    return result


def noop_write(df) -> None:
    """Materialize every row without letting the optimizer prune work."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# --------------------------------------------------------------------------
# olap
# --------------------------------------------------------------------------

#: Query → tables it reads (the declared input rows of one execution).
QUERY_TABLES: dict[str, tuple[str, ...]] = {
    "agg_hash": ("lineitem",),
    "tpch_q3": ("customer", "orders", "lineitem"),
    "tpch_q10": ("customer", "orders", "lineitem", "nation"),
    "join_aqe_choice": ("orders", "customer", "nation"),
    "topk_per_group": ("orders",),
    "sort_multi": ("customer",),
    "scan_pruned": ("lineitem",),
    "set_except": ("customer", "events"),
    "tpch_q5_bucketed": ("region", "nation", "customer", "orders", "lineitem"),
    "tpch_q18_bucketed": ("lineitem", "orders", "customer"),
}


def rows_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows (order-insensitive, by
    column name), else a one-line reason."""
    from pycaim_spark.parity import canonicalize

    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count {len(spark_pdf)} != {len(oracle_pdf)}"
    s, o = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    if s != o:
        bad = sum(a != b for a, b in zip(s, o))
        return f"{bad} rows differ"
    return None


class Workload:
    """Hooks every workload provides; the defaults do nothing."""

    name = ""
    #: Whole units timed at least, however long they take.
    min_units = 1
    #: Set during the warm-up unit: keep outputs a check needs that the
    #: timed ops discard (they materialize through the noop sink).
    capture = False

    def begin_timed(self) -> None:
        """Forget warm-up outputs so checks cover exactly the timed ops."""

    def exhausted(self) -> bool:
        """True when the generated inputs are used up."""
        return False

    def counters(self, spark, tracer) -> None:
        """Record per-layer counts after the timed phase (traced run)."""


class Olap(Workload):
    name = "olap"
    # Two passes give every query two samples, so the median op averages
    # four latencies of the two mid-length queries rather than two.
    min_units = 2
    #: Replicas of the sf0.1 fixture (≈600 000 lineitems each).
    factor = 1

    def generate(self, data_dir: str, seed: int) -> None:
        from pycaim_spark.catalog import DEFAULT_SF_DIR

        if not os.path.isfile(os.path.join(DEFAULT_SF_DIR, "lineitem.parquet")):
            raise FileNotFoundError(
                f"TPC-H fixture not found at {DEFAULT_SF_DIR} "
                "(set SPARK_GRAFT_SF_DIR)")
        self.dir = os.path.join(data_dir, "tpch")
        self.table_rows = gen.tpch_replica(self.dir, self.factor, DEFAULT_SF_DIR)

    def build(self, spark, tracer) -> None:
        from pycaim_spark.registry import REGISTRY, _ensure_loaded

        _ensure_loaded()
        self.specs = {q: REGISTRY[q] for q in OLAP_QUERIES}
        self.results: dict[str, pd.DataFrame] = {}
        # Planning a bucketed query builds (and attaches) the persisted
        # orderkey layout it reads: that is the workload's base build.
        for q in ("tpch_q5_bucketed", "tpch_q18_bucketed"):
            self.specs[q].fn(spark, self.dir)

    def unit(self, spark, tracer, log: list[Op]) -> None:
        for q in OLAP_QUERIES:
            rows = sum(self.table_rows[t] for t in QUERY_TABLES[q])
            run_op(log, Op("query", q, rows), lambda q=q: self._query(spark, tracer, q))

    def _query(self, spark, tracer, q: str) -> None:
        with tracer.span(f"queries.{q}.plan"):
            df = self.specs[q].fn(spark, self.dir)
        with tracer.span(f"queries.{q}.exec"):
            if self.capture:
                self.results[q] = df.toPandas()
            else:
                noop_write(df)

    def check(self, spark, log: list[Op]) -> CheckResult:
        from pycaim_spark.parity import duckdb_connection

        res = CheckResult()
        con = duckdb_connection(self.dir)
        try:
            for q, spec in self.specs.items():
                why = rows_match(self.results[q], con.execute(spec.oracle).df())
                if why:
                    res.fail(q, why)
        finally:
            con.close()
        return res


# --------------------------------------------------------------------------
# CAIM refit (the last step of an llm_ingest day)
# --------------------------------------------------------------------------


def caim_reference(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Cuts of the NumPy greedy over a driver-side histogram."""
    from pycaim_spark.operators.caim.core import caim_greedy, histogram_from_arrays

    values, counts, _ = histogram_from_arrays(x, y)
    return caim_greedy(values, counts)


def caim_criterion(x: np.ndarray, y: np.ndarray, cuts) -> float:
    """CAIM value (Kurgan & Cios 2004, eq. 2) of a cut scheme."""
    from pycaim_spark.operators.caim.core import caim_value

    cuts = np.asarray(cuts, dtype=np.float64)
    bins = np.searchsorted(cuts, x, side="left")
    classes, y_codes = np.unique(y, return_inverse=True)
    quanta = np.zeros((len(cuts) + 1, len(classes)), dtype=np.int64)
    np.add.at(quanta, (bins, y_codes), 1)
    return caim_value(quanta)


def cuts_match(fitted: dict[str, list[float]], reference: dict[str, np.ndarray]) -> str | None:
    if sorted(fitted) != sorted(reference):
        return f"features {sorted(fitted)} != {sorted(reference)}"
    for f, ref in reference.items():
        got = np.asarray(fitted[f], dtype=np.float64)
        if got.shape != ref.shape or not np.array_equal(got, ref):
            return f"{f}: cuts {got.tolist()[:6]} != {ref.tolist()[:6]}"
    return None


def score_verdicts(v: pd.DataFrame, day_ids: set[int], planted: dict[int, int],
                   deleted: set[int], after_delete: bool, res: CheckResult,
                   key: str) -> tuple[int, int, int]:
    """Score one day's probe verdicts ``(doc_id, dup_of, is_new, ...)``
    against the planted pairs; returns (true, false, missed) dup flags and
    fails ``key`` on missing documents, a match to a deleted document, or
    dedup recall or precision below a gross-breakage floor (observed
    quality sits near 0.99)."""
    min_dedup = 0.8
    if len(v) != len(day_ids) or set(v["doc_id"]) != day_ids:
        res.fail(key, "verdicts do not cover the day's documents")
        return 0, 0, 0
    if after_delete and v["dup_of"].isin(deleted).any():
        res.fail(key, "a deleted document was matched")
    dup = v["is_new"] == 0
    plant = v["doc_id"].isin(planted.keys())
    tp = int((dup & plant).sum())
    fp = int((dup & ~plant).sum())
    fn = int((~dup & plant).sum())
    if tp < min_dedup * (tp + fn) or tp < min_dedup * (tp + fp):
        res.fail(key, f"dedup tp={tp} fp={fp} fn={fn}")
    return tp, fp, fn


class CaimStep:
    """Refit ``CaimDiscretizer`` and transform over a seeded frame held in
    memory (:func:`gen.caim_frame`); one op per refit."""

    rows = 100_000

    def generate(self, data_dir: str, seed: int) -> None:
        self.path = os.path.join(data_dir, "caim.parquet")
        self.features = gen.caim_frame(self.path, seed, self.rows)["features"]

    def build(self, spark, tracer) -> None:
        frame = spark.read.parquet(self.path).repartition(
            spark.sparkContext.defaultParallelism).cache()
        noop_write(frame)
        self.frame = frame
        self.fits: list[tuple[str, dict[str, list[float]]]] = []

    def unit(self, spark, tracer, log: list[Op], key: str) -> None:
        from pycaim_spark.operators.caim.estimator import CaimDiscretizer

        def refit():
            with tracer.span("operators.caim.fit"):
                model = CaimDiscretizer(inputCols=self.features,
                                        labelCol="label").fit(self.frame)
            with tracer.span("operators.caim.transform"):
                noop_write(model.transform(self.frame))
            return model

        model = run_op(log, Op("refit", key, self.rows), refit)
        if model is not None:
            self.fits.append((key, model.cuts))
            self.model = model

    def begin_timed(self) -> None:
        self.fits = []

    def _arrays(self):
        t = pq.read_table(self.path)
        return {f: t[f].to_numpy() for f in self.features}, t["label"].to_numpy()

    def check(self, spark, log: list[Op]) -> CheckResult:
        res = CheckResult()
        xs, y = self._arrays()
        ref = {f: caim_reference(xs[f], y) for f in self.features}
        for key, cuts in self.fits:
            why = cuts_match(cuts, ref)
            if why:
                res.fail(key, why)
        if self.fits:
            key, cuts = self.fits[-1]
            bins = self.model.transform(self.frame).select(
                [f"{f}_bin" for f in self.features] + self.features
            ).limit(20_000).toPandas()
            for f in self.features:
                want = np.searchsorted(np.asarray(cuts[f]), bins[f].to_numpy(),
                                       side="left") + 1
                if not np.array_equal(bins[f"{f}_bin"].to_numpy(), want):
                    res.fail(key, f"{f}: bucket ids differ")
                    break
            res.quality["caim_criterion"] = float(np.mean(
                [caim_criterion(xs[f], y, cuts[f]) for f in self.features]))
        return res

    def counters(self, spark, tracer) -> None:
        from pycaim_spark.operators.caim.estimator import melted_histogram

        tracer.count("operators.caim.hist_rows",
                     melted_histogram(self.frame, self.features, "label").count())


# --------------------------------------------------------------------------
# llm_ingest
# --------------------------------------------------------------------------


class LlmIngest(Workload):
    """Daily ingest: dedup probe, store compaction, dedup append, ANN
    append and query, and a CAIM refit every day; the one delete batch
    (signature store, ANN index, codes vacuum) opens the timed day.

    Day 0 is the warm-up day and day 1 the one timed day, so every run
    times the same op mix whatever the machine speed. The timed probe
    reads the base plus two live layers: day 0's append and the delete
    batch."""

    name = "llm_ingest"
    base_docs = 2_000
    day_docs = 400
    days = 2
    n_queries = 20
    delete_day = 1

    def __init__(self):
        self.caim = CaimStep()

    def generate(self, data_dir: str, seed: int) -> None:
        self.dir = os.path.join(data_dir, "llm")
        self.manifest = gen.llm_corpus(
            self.dir, seed, self.base_docs, self.day_docs, self.days,
            n_queries=self.n_queries, delete_day=self.delete_day)
        self.caim.generate(data_dir, seed)

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def build(self, spark, tracer) -> None:
        from pycaim_spark.operators.dedup import minhash_signature_store_build
        from pycaim_spark.operators.similarity import ivf_pq_index_build
        from pycaim_spark.streaming.runner import _SCRATCH

        self.store = os.path.join(_SCRATCH, "bench_sigstore")
        self.ann = os.path.join(_SCRATCH, "bench_ivfpq")
        minhash_signature_store_build(
            spark.read.parquet(self._path("base_docs.parquet")), self.store)
        ivf_pq_index_build(spark.read.parquet(self._path("base_emb.parquet")),
                           self.ann)
        self.caim.build(spark, tracer)
        self.verdicts: dict[int, object] = {}
        self.answers: dict[int, list] = {}
        self.day = 0
        self.written: dict[str, int] = {"append": 0, "compact": 0, "delete": 0}

    def begin_timed(self) -> None:
        self.verdicts, self.answers = {}, {}
        self.written = dict.fromkeys(self.written, 0)
        self.first_timed_day = self.day
        self.caim.begin_timed()

    def exhausted(self) -> bool:
        return self.day >= self.days

    def _store_bytes(self) -> int:
        return dir_bytes(self.store)

    def unit(self, spark, tracer, log: list[Op]) -> None:
        from pycaim_spark.operators.dedup import (
            _store_delete_dirs,
            _store_layer_dirs,
            incremental_minhash_dedup_layered,
            minhash_signature_store_append,
            minhash_signature_store_compact,
            minhash_signature_store_delete,
        )
        from pycaim_spark.operators.similarity import (
            ivf_pq_codes_vacuum,
            ivf_pq_index_append,
            ivf_pq_index_delete,
            ivf_pq_topk_stored,
        )
        import pyspark.sql.functions as F

        d = self.day
        self.day += 1
        docs = spark.read.parquet(self._path(f"day_{d:03d}_docs.parquet"))
        emb = spark.read.parquet(self._path(f"day_{d:03d}_emb.parquet"))
        key = f"day{d:03d}"

        def store_write(kind: str, fn):
            before = self._store_bytes()
            fn()
            self.written[kind] += max(self._store_bytes() - before, 0)

        if d == self.delete_day:
            # Before the probe, so the probe must honour the tombstones.
            dels = spark.read.parquet(self._path("deletes.parquet"))

            def delete():
                with tracer.span("operators.dedup.delete"):
                    store_write("delete", lambda: minhash_signature_store_delete(
                        spark, self.store, dels, "delete-batch"))

            def ann_delete():
                with tracer.span("operators.similarity.delete"):
                    ivf_pq_index_delete(spark, self.ann,
                                        dels.withColumnRenamed("doc_id", "vec_id"),
                                        "delete-batch")

            def vacuum():
                with tracer.span("operators.similarity.vacuum"):
                    ivf_pq_codes_vacuum(spark, self.ann)

            run_op(log, Op("delete", "delete", 0), delete)
            run_op(log, Op("ann_delete", "ann_delete", 0), ann_delete)
            run_op(log, Op("vacuum", "vacuum", 0), vacuum)

        # Read amplification: the append and delete layers the probe reads
        # beside the base (the previous day's append, plus today's deletes).
        tracer.count("operators.dedup.live_layers",
                     len(_store_layer_dirs(self.store))
                     + len(_store_delete_dirs(self.store)))

        def probe():
            with tracer.span("operators.dedup.probe"):
                return incremental_minhash_dedup_layered(
                    spark, self.store, docs).localCheckpoint(eager=True)

        verdict = run_op(log, Op("probe", f"probe:{d}", self.day_docs), probe)
        self.verdicts[d] = verdict

        def compact():
            with tracer.span("operators.dedup.compact"):
                store_write("compact", lambda: minhash_signature_store_compact(
                    spark, self.store))

        # Compacting after the probe leaves each day's append layer live
        # for the next day's probe.
        run_op(log, Op("compact", f"compact:{d}", 0), compact)

        if verdict is not None:
            accepted = docs.join(
                verdict.filter(F.col("is_new") == 1).select("doc_id"), "doc_id")

            def append():
                with tracer.span("operators.dedup.append"):
                    store_write("append", lambda: minhash_signature_store_append(
                        spark, self.store, accepted, key))

            run_op(log, Op("append", f"append:{d}", 0), append)

        def ann_append():
            with tracer.span("operators.similarity.append"):
                ivf_pq_index_append(emb, self.ann, key)

        run_op(log, Op("ann_append", f"ann_append:{d}", 0), ann_append)

        live = spark.read.parquet(
            self._path("base_emb.parquet"),
            *[self._path(f"day_{i:03d}_emb.parquet") for i in range(d + 1)])

        def query():
            with tracer.span("operators.similarity.query"):
                return ivf_pq_topk_stored(live, self.ann,
                                          n_queries=self.n_queries).collect()

        self.answers[d] = run_op(log, Op("query", f"query:{d}", 0), query)

        self.caim.unit(spark, tracer, log, f"refit:{d}")

    def check(self, spark, log: list[Op]) -> CheckResult:
        res = CheckResult()
        planted = {int(k): v for k, v in self.manifest["planted"].items()}
        deleted = set(self.manifest["deleted"])
        tp = fp = fn = 0
        for d, verdict in self.verdicts.items():
            if verdict is None:
                continue
            ids = set(range(self.base_docs + d * self.day_docs,
                            self.base_docs + (d + 1) * self.day_docs))
            counts = score_verdicts(verdict.toPandas(), ids, planted, deleted,
                                    d >= self.delete_day, res, f"probe:{d}")
            tp, fp, fn = tp + counts[0], fp + counts[1], fn + counts[2]
        # Gross-breakage floor: observed ANN recall@5 sits near 0.8.
        min_recall = 0.5
        recalls = []
        for d, rows in self.answers.items():
            if rows is None:
                continue
            truth = self.manifest["topk"][d]
            got: dict[int, list[tuple[int, int, float]]] = {}
            for r in rows:
                got.setdefault(int(r["query_id"]), []).append(
                    (int(r["rn"]), int(r["neighbor_id"]), float(r["cos"])))
            if sorted(got) != sorted(int(q) for q in truth):
                res.fail(f"query:{d}", "missing query ids")
                continue
            for q, hits in got.items():
                hits.sort()
                ids = [n for _, n, _ in hits]
                coss = [c for _, _, c in hits]
                if ([r for r, _, _ in hits] != list(range(1, len(hits) + 1))
                        or len(hits) != 5 or q in ids
                        or any(a < b for a, b in zip(coss, coss[1:]))
                        or (d >= self.delete_day and deleted & set(ids))):
                    res.fail(f"query:{d}", f"query {q}: malformed top-5 {ids}")
                recalls.append(len(set(ids) & set(truth[str(q)])) / 5.0)
            batch = recalls[-len(got):]
            if sum(batch) < min_recall * len(batch):
                res.fail(f"query:{d}", f"recall@5 {sum(batch) / len(batch):.2f}")
        res.quality["dedup_recall"] = tp / max(tp + fn, 1)
        res.quality["dedup_precision"] = tp / max(tp + fp, 1)
        res.quality["ann_recall_at_5"] = float(np.mean(recalls)) if recalls else 0.0
        ingested = ["base_docs.parquet", "base_emb.parquet"] + [
            f"day_{i:03d}_{kind}.parquet" for i in range(self.day)
            for kind in ("docs", "emb")]
        input_bytes = sum(os.path.getsize(self._path(f)) for f in ingested)
        res.quality["store_bytes_per_input_byte"] = (
            (dir_bytes(self.store) + dir_bytes(self.ann)) / input_bytes)
        caim = self.caim.check(spark, log)
        res.failed_keys |= caim.failed_keys
        res.problems += caim.problems
        res.quality.update(caim.quality)
        return res

    def counters(self, spark, tracer) -> None:
        days = max(self.day - self.first_timed_day, 1)
        tracer.count("operators.dedup.bytes_written",
                     sum(self.written.values()) / days)
        tracer.count("operators.dedup.rewrite_ratio",
                     self.written["compact"] / max(self.written["append"], 1))
        tracer.count("operators.similarity.codes_bytes", dir_bytes(self.ann))
        self.caim.counters(spark, tracer)


WORKLOADS = {w.name: w for w in (LlmIngest, Olap)}
