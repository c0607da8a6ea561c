"""The stored LSM reads build with no Spark job, and the stored IVF-PQ
query runs with no Python worker.

Every store dir is read with the schema its part files' footers declare
(`commit.read_store`), and the probe's deleted-id filter is decided from
the delete layers' footer row counts, so building a stored read launches
no job once the session is warm. The stored ANN query collects its query
vectors (the one job it keeps) and scores ADC with JVM expressions.
"""

from __future__ import annotations

import re

import numpy as np
import pyspark.sql.functions as F
import pytest

from pycaim_spark.operators import commit
from pycaim_spark.operators.dedup import (
    SIGNATURE_STORE,
    _compact_frames,
    _DELETE_CANDIDATE_FILTER_MAX,
    incremental_minhash_dedup_stored,
    minhash_signature_store_append,
    minhash_signature_store_build,
    minhash_signature_store_compact,
    minhash_signature_store_delete,
)
from pycaim_spark.operators.similarity import (
    CODES_STORE,
    _live_codes,
    ivf_pq_index_append,
    ivf_pq_index_build,
    ivf_pq_index_delete,
    ivf_pq_topk_stored,
)
from pycaim_spark.planaudit import build_jobs, plan_string
from pycaim_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
ANN = dict(n_cells=4, m=4, k_centroids=8, sample_size=60, n_queries=8, k=3)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "doc_id long")


def _warm_jobs(spark, build) -> int:
    """Jobs launched by the SECOND of two builds."""
    build_jobs(spark, build)
    return build_jobs(spark, build)[1]


@pytest.fixture(scope="module")
def signature_store(spark, tmp_path_factory):
    """A signature store with one live append layer and one live delete
    layer beside its base."""
    store = str(tmp_path_factory.mktemp("sig") / "store")
    minhash_signature_store_build(
        _docs(spark, [(i, f"{TEXT} doc{i} w{i % 7}") for i in range(1, 41)]),
        store,
    )
    minhash_signature_store_append(
        spark, store, _docs(spark, [(100, "a fresh slice of text here")]),
        "day1",
    )
    minhash_signature_store_delete(spark, store, _ids(spark, [3, 5]), "del1")
    return store


@pytest.fixture(scope="module")
def codes_store(spark, tmp_path_factory):
    """An IVF-PQ store with one live append layer and one live delete
    layer beside its base, and the embedding frame it indexes."""
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(70, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path_factory.mktemp("ann") / "ann")
    params = {k: v for k, v in ANN.items() if k not in ("n_queries", "k")}
    ivf_pq_index_build(emb.filter(F.col("vec_id") < 60), store, **params)
    ivf_pq_index_append(emb.filter(F.col("vec_id") >= 60), store, "day1")
    ivf_pq_index_delete(
        spark, store, spark.createDataFrame([(7,)], "vec_id long"), "del1"
    )
    return store, emb


def test_layered_probe_and_compaction_build_with_no_job(
    spark, signature_store
):
    view = commit.read_view(SIGNATURE_STORE, signature_store)
    assert view.appends and view.deletes
    delta = _docs(spark, [(200, f"{TEXT} doc9 w2")])
    assert _warm_jobs(spark, lambda: incremental_minhash_dedup_stored(
        spark, signature_store, delta)) == 0
    assert _warm_jobs(spark, lambda: _compact_frames(spark, view)) == 0


def test_stored_ann_query_and_vacuum_build_with_no_job(spark, codes_store):
    store, emb = codes_store
    view = commit.read_view(CODES_STORE, store)
    assert view.appends and view.deletes
    # The one job left is the collect of the query vectors: the probe
    # frame's look-up tables are computed from them on the driver.
    assert _warm_jobs(
        spark, lambda: ivf_pq_topk_stored(emb, store, **ANN)) == 1
    assert _warm_jobs(spark, lambda: _live_codes(spark, view)) == 0


def test_store_read_keeps_the_inferred_schema(spark, signature_store):
    view = commit.read_view(SIGNATURE_STORE, signature_store)
    for path in (view.base["sets"], view.base["buckets"],
                 view.appends[0] + "/bands", view.deletes[0] + "/ids"):
        assert commit.read_store(spark, path).schema == \
            spark.read.parquet(path).schema


def _python_evals(plan: str) -> list[str]:
    return [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan]


@pytest.fixture
def arrow_no_fallback(spark):
    """Arrow on and its silent fall back to the pickled-row
    `createDataFrame` off, restored afterwards."""
    keys = ("spark.sql.execution.arrow.pyspark.enabled",
            "spark.sql.execution.arrow.pyspark.fallback.enabled")
    old = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set(keys[0], "true")
    spark.conf.set(keys[1], "false")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stored_ann_query_runs_no_python(
    spark, sf_dir, codes_store, arrow_no_fallback
):
    store, emb = codes_store
    assert _python_evals(plan_string(ivf_pq_topk_stored(emb, store, **ANN))) \
        == []
    assert _python_evals(
        plan_string(REGISTRY["sim_ivf_pq_stored"].fn(spark, sf_dir))) == []
    # The inline operator shares the query stages; the only Python it
    # evaluates is the corpus encode it runs on every call.
    plan = plan_string(REGISTRY["sim_ivf_pq"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert set(re.findall(
        r"\) ArrowEvalPython\nInput .*\nArguments: \[(\w+)\(", plan
    )) == {"_encode"}


def _verdicts(spark, store, delta, **kw):
    return {
        (r.doc_id, r.dup_of, r.is_new)
        for r in incremental_minhash_dedup_stored(
            spark, store, delta, **kw).collect()
    }


@pytest.mark.parametrize("n_deleted", [_DELETE_CANDIDATE_FILTER_MAX,
                                       _DELETE_CANDIDATE_FILTER_MAX + 1])
def test_delete_filter_threshold_matches_compacted(spark, tmp_path,
                                                   n_deleted):
    """At the threshold the probe filters the pending deleted ids
    exactly (one literal); one past it, it falls back to the sets-side
    anti-join. Either way the layered verdicts equal a probe of the
    compacted store."""
    base = _docs(spark, [
        (1, TEXT), (2, TEXT),
        (3, "one two three four five six seven eight nine ten"),
        (9, "totally different filler vocabulary nothing shared here"),
    ])
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)
    # Doc 1 and doc 3 are real; the rest never were in the store.
    filler = range(100_000, 100_000 + n_deleted - 2)
    minhash_signature_store_delete(
        spark, store, _ids(spark, [1, 3, *filler]), "gdpr")
    exact = commit.local_layer_ids(
        commit.read_view(SIGNATURE_STORE, store).deletes,
        _DELETE_CANDIDATE_FILTER_MAX,
    )
    assert (exact is not None) == (n_deleted <= _DELETE_CANDIDATE_FILTER_MAX)
    delta = _docs(spark, [
        (30, TEXT),
        (31, "one two three four five six seven eight nine ten"),
        (32, "totally different filler vocabulary nothing shared here"),
    ])
    layered = _verdicts(spark, store, delta)
    if exact is not None:
        # Exact pre-cap filter: deleted doc 1 frees the single slot.
        narrow = _verdicts(spark, store, delta, max_candidates_per_doc=1)
    minhash_signature_store_compact(spark, store)
    compacted = _verdicts(spark, store, delta)
    assert layered == compacted == {(30, 2, 0), (31, None, 1), (32, 9, 0)}
    if exact is not None:
        assert narrow == compacted
