"""Self-tests of the benchmark: no Spark session needed.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _file_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        if os.path.isfile(path):
            with open(path, "rb") as fh:
                out[name] = fh.read()
    return out


# -- generator determinism ---------------------------------------------------


def test_tpch_replica_byte_identical(tmp_path):
    from pycaim_spark.catalog import DEFAULT_SF_DIR

    # The smallest sibling of the configured fixture keeps this quick.
    base = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    if not os.path.isfile(os.path.join(base, "lineitem.parquet")):
        pytest.skip(f"no TPC-H fixture at {base}")
    rows = gen.tpch_replica(str(tmp_path / "a"), 2, base)
    gen.tpch_replica(str(tmp_path / "b"), 2, base)
    a, b = (_file_bytes(str(tmp_path / x)) for x in "ab")
    assert len(a) == 10 and a == b
    src = pq.ParquetFile(os.path.join(base, "lineitem.parquet")).metadata.num_rows
    assert rows["lineitem"] == 2 * src and rows["region"] == 5


def test_llm_corpus_and_caim_frame_same_seed_byte_identical(tmp_path):
    kw = dict(base_docs=200, day_docs=40, days=3, n_queries=5)
    m1 = gen.llm_corpus(str(tmp_path / "a"), 5, **kw)
    m2 = gen.llm_corpus(str(tmp_path / "b"), 5, **kw)
    assert _file_bytes(str(tmp_path / "a")) == _file_bytes(str(tmp_path / "b"))
    assert m1 == m2 and len(m1["topk"]) == 3
    # 20% of 40 docs per day.
    assert len(m1["planted"]) + len(m1["tombstoned"]) == 3 * 8
    gen.caim_frame(str(tmp_path / "f1.parquet"), 5, 1000)
    gen.caim_frame(str(tmp_path / "f2.parquet"), 5, 1000)
    assert (tmp_path / "f1.parquet").read_bytes() == (tmp_path / "f2.parquet").read_bytes()


def test_planted_sources_are_live_and_never_queried(tmp_path):
    m = gen.llm_corpus(str(tmp_path), 3, base_docs=300, day_docs=50, days=4,
                       n_queries=5, delete_day=1)
    deleted = set(m["deleted"])
    for src in m["planted"].values():
        assert src not in deleted and src >= m["n_queries"]
    for day, truth in enumerate(m["topk"]):
        for q, ids in truth.items():
            assert len(ids) == 5 and int(q) not in ids
            if day >= m["delete_day"]:
                assert not deleted & set(ids)


def test_tombstoned_copies_come_from_deleted_docs_on_the_delete_day(tmp_path):
    m = gen.llm_corpus(str(tmp_path), 4, base_docs=400, day_docs=100, days=3,
                       n_queries=5, delete_day=1)
    deleted = set(m["deleted"])
    day1 = range(400 + 100, 400 + 200)
    assert m["tombstoned"] and all(int(k) in day1 for k in m["tombstoned"])
    assert set(m["tombstoned"].values()) <= deleted
    assert not set(m["tombstoned"]) & set(m["planted"])


def test_exact_topk_excludes_self_and_orders_by_cosine():
    ids = np.array([3, 1, 2, 0])
    vecs = np.array([[1, 0], [0.9, 0.1], [0, 1], [1, 0.01]], dtype=np.float32)
    assert gen.exact_topk(ids, vecs, np.array([0]), k=2) == {0: [3, 1]}


# -- statistics --------------------------------------------------------------


@pytest.mark.parametrize("n,pct", [(5, 50), (10, 50), (20, 50), (40, 75),
                                   (100, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_latency_summary_counts_samples_beyond_tail():
    s = stats.latency_summary([float(i) for i in range(100)])
    assert (s["tail_pct"], s["beyond"], s["n"]) == (90, 10, 100)
    assert s["p50"] == pytest.approx(49.5, rel=1e-4)
    assert s["tail"] == pytest.approx(89.5, abs=0.1)


def test_hd_median_moves_smoothly_when_two_ops_swap():
    # Nine ops of unlike kinds; the fifth-fastest kind gets 0.3 s slower
    # and passes the sixth. The plain median jumps by the whole gap.
    before = [0.2, 0.3, 0.45, 0.6, 0.7, 1.9, 2.0, 2.5, 3.0]
    after = [0.2, 0.3, 0.45, 0.6, 1.0, 1.9, 2.0, 2.5, 3.0]
    assert stats.hd_quantile([5.0], 0.5) == 5.0
    assert stats.hd_quantile(before, 0.5) < stats.hd_quantile(after, 0.5)
    hd_step = stats.hd_quantile(after, 0.5) - stats.hd_quantile(before, 0.5)
    assert 0.03 < hd_step < 0.15


def test_self_time_subtracts_children():
    t = spans.Tracer("r", enabled=True)
    sp = [spans.Span(0, "unit", None, 0.0, 10.0, "r"),
          spans.Span(1, "a", 0, 1.0, 4.0, "r"),
          spans.Span(2, "b", 0, 3.0, 6.0, "r")]
    t.spans = sp
    assert spans.self_times(sp) == {0: 5.0, 1: 3.0, 2: 3.0}


# -- declared metrics --------------------------------------------------------


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]}, bench)


def test_every_printed_metric_is_declared_with_its_unit():
    e2e, layer, _ = _declared()
    assert run.END_TO_END_UNITS == e2e
    assert spans.per_layer_units() == layer


def test_per_layer_metrics_cover_declared_names():
    _, layer, _ = _declared()
    metrics, units = spans.per_layer_metrics(
        {}, spans.Tracer("r"), 0.2, 0.0, 0.0, {}, 0.0)
    assert set(metrics) == set(layer) and units == layer


def test_workloads_match_declaration():
    _, _, bench = _declared()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


# -- injected corruption is counted as failed --------------------------------


def test_one_wrong_olap_row_fails_its_query_ops():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]})
    assert workloads.rows_match(oracle.iloc[::-1].copy(), oracle) is None
    bad = oracle.copy()
    bad.loc[1, "v"] = 2.75
    check = workloads.CheckResult()
    why = workloads.rows_match(bad, oracle)
    assert why == "1 rows differ"
    check.fail("agg_hash", why)
    log = [workloads.Op("query", q, 10) for q in ("agg_hash", "tpch_q3") * 2]
    assert workloads.mark_failed(log, check) == 2


def test_probe_matching_a_deleted_doc_fails_the_probe():
    planted, deleted = {10: 1, 11: 2}, {5}
    v = pd.DataFrame({"doc_id": [10, 11, 12, 13], "dup_of": [1, 2, None, None],
                      "is_new": [0, 0, 1, 1]})
    ok = workloads.CheckResult()
    assert workloads.score_verdicts(v, {10, 11, 12, 13}, planted, deleted,
                                    True, ok, "probe:1") == (2, 0, 0)
    assert not ok.failed_keys
    # Doc 12 copies deleted doc 5: matching it means the tombstone was missed.
    bad = v.assign(dup_of=[1, 2, 5, None], is_new=[0, 0, 0, 1])
    check = workloads.CheckResult()
    workloads.score_verdicts(bad, {10, 11, 12, 13}, planted, deleted,
                             True, check, "probe:1")
    assert check.failed_keys == {"probe:1"}
    assert "a deleted document was matched" in check.problems[0]
    log = [workloads.Op("probe", "probe:1", 4), workloads.Op("query", "query:1", 0)]
    assert workloads.mark_failed(log, check) == 1


def test_one_shifted_caim_cut_fails_its_fit():
    rng = np.random.default_rng(0)
    y = rng.integers(0, 3, 500)
    x = np.round(rng.standard_normal(500) + y, 1)
    ref = {"f0": workloads.caim_reference(x, y)}
    assert len(ref["f0"]) >= 2
    good = {"f0": ref["f0"].tolist()}
    shifted = {"f0": ref["f0"].tolist()}
    shifted["f0"][0] += 0.05
    assert workloads.cuts_match(good, ref) is None
    check = workloads.CheckResult()
    for key, cuts in (("refit0", good), ("refit1", shifted)):
        why = workloads.cuts_match(cuts, ref)
        if why:
            check.fail(key, why)
    log = [workloads.Op("refit", "refit0", 1), workloads.Op("refit", "refit1", 1)]
    assert workloads.mark_failed(log, check) == 1
    # One interval: CAIM = max_i(q_i)^2 / M.
    assert workloads.caim_criterion(x, y, []) == pytest.approx(
        np.bincount(y).max() ** 2 / len(y))
