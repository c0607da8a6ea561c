"""Fleet-wide physical-plan audit (SURVEY.md §4): no query may regress into
an accidental cartesian product or row-at-a-time Python evaluation. These
are the two silent 100 TB killers — results stay correct while cost
explodes, so only a plan assertion catches them.

The whitelists/exclusions are single-sourced in pycaim_spark/planaudit.py,
shared with tools/gen_plans_md.py — whose committed PLANS_BASELINE.json is
the registry-wide shuffle-count regression gate (`python
tools/gen_plans_md.py --check`); here we additionally assert the baseline
COVERS the registry, so a new query cannot ship un-audited."""

from __future__ import annotations

import json
import os

import pytest

from pycaim_spark.planaudit import (
    BUILD_JOBS_OK,
    CARTESIAN_OK,
    EXECUTES_AT_BUILD,
    ROW_PYTHON_OK,
    build_jobs,
    is_effectful,
    plan_string,
)
from pycaim_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

_AUDITABLE = sorted(
    n for n in REGISTRY if not is_effectful(n, REGISTRY[n].tags)
)


@pytest.mark.parametrize("name", _AUDITABLE)
def test_plan_has_no_silent_scale_killers(spark, sf_dir, name):
    REGISTRY[name].fn(spark, sf_dir)
    # Build-time job budget: a second build in a warm session launches no
    # Spark job (fixture schemas come from the catalog's handle registry),
    # unless the query collects or writes at build time by design.
    df, jobs = build_jobs(spark, lambda: REGISTRY[name].fn(spark, sf_dir))
    if name in BUILD_JOBS_OK:
        assert jobs > 0, (
            f"{name}: builds with no Spark job now — drop it from "
            "planaudit.BUILD_JOBS_OK"
        )
    elif name not in EXECUTES_AT_BUILD:
        assert jobs == 0, (
            f"{name}: {jobs} Spark job(s) launched while re-building the "
            "DataFrame in a warm session (read fixtures via "
            "catalog.load_table, or list the query in "
            "planaudit.BUILD_JOBS_OK with a reason)"
        )
    plan = plan_string(df)
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{name}: unplanned cartesian"
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unplanned nested-loop join"
        )
    if name not in ROW_PYTHON_OK:
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python in the plan"
        )


#: (query, metric pins) for the r18 exchange-reuse unification — the
#: asymmetric-filter / column-pruning splits these queries used to carry
#: made identical corpus-sized subtrees execute twice (commit 3553fb4;
#: before/after plans in plans/r18/). A Catalyst upgrade that changes
#: canonicalization could rot the reuse silently — results stay right,
#: cost doubles — so the pin is structural: distinct source scans on the
#: candidate path and Python-eval node count, both from the static plan.
_REUSE_PINS = {
    # one documents scan (band + verify sides share the shingle exchange),
    # band explode once (star branch reuses the band exchange)
    "dedup_minhash": {"max_scans": 1, "arrow_evals": 0},
    # signature aggregate + band explode shared by narrow and star
    "dedup_simhash": {"max_scans": 2, "arrow_evals": 0},
    # the BLAS signature UDF crosses the Python boundary exactly once
    # (guide §4.4 duplication pinned off via asNondeterministic); the
    # second scan is the verify-side broadcast, which needs no signatures
    "sim_lsh_bucketed": {"max_scans": 2, "arrow_evals": 1},
}


@pytest.mark.parametrize("name", sorted(_REUSE_PINS))
def test_lsh_family_subtree_reuse_pinned(spark, sf_dir, name):
    import re

    pins = _REUSE_PINS[name]
    # AQE-off explain: the concrete static plan with ReusedExchange nodes
    # visible (same protocol as tools/gen_plans_md.py); restored after.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY[name].fn(spark, sf_dir)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = plan_string(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    scans = len(set(re.findall(r"\((\d+)\) Scan parquet", plan)))
    arrow = len(set(re.findall(r"\((\d+)\) ArrowEvalPython", plan)))
    assert scans <= pins["max_scans"], (
        f"{name}: {scans} distinct parquet scans (pin {pins['max_scans']})"
        " — the r18 exchange-reuse unification has rotted; see plans/r18/"
    )
    assert arrow == pins["arrow_evals"], (
        f"{name}: {arrow} ArrowEvalPython nodes (pin {pins['arrow_evals']})"
        " — a Python-boundary pass is being duplicated again (guide §4.4)"
    )
    assert "ReusedExchange" in plan, (
        f"{name}: no ReusedExchange in plan — branch subtrees no longer "
        "canonicalize identically"
    )


#: r18 change #4 (OPTIMIZATION_r18.md): the sharded-scan / n-gram family
#: runs ONE corpus pass shared by all consumers via an explicit
#: repartition both subtrees canonicalize onto (plans/r18/
#: <q>_{before,after}.txt — before: 2-3 corpus scans each). Same rot
#: risk as the LSH pins above: a canonicalization change silently splits
#: the ReusedExchange and the corpus is scanned per-consumer again.
_SCAN_UNIFY_PINS = {
    "text_pack": {"max_scans": 1, "reuse": True},
    # sample_stratified / shuffle_epoch deliberately keep the r17
    # TWO-scan shape: their corpus pass is narrow columnar (no
    # tokenize CPU), so the duplicated pass is nearly free while the
    # shared exchange forces the offsets aggregate to re-read full
    # shuffled corpus rows — the unified form lost both sf10 paired
    # series 0/4 (ISOLATE_r18.json
    # `{sample_stratified,shuffle_epoch}_scan_unify_sf10_series`).
    # The pin guards against a THIRD scan creeping in.
    "sample_stratified": {"max_scans": 2, "reuse": False},
    "shuffle_epoch": {"max_scans": 2, "reuse": False},
    "text_ngram_lm": {"max_scans": 1, "reuse": True},
    # text_dup_spans ships the unified single-scan shape: its first sf10
    # series loss (1/4 raw, degraded box — ISOLATE_r18.json
    # `text_dup_spans_scan_unify_sf10_series`) was overturned by the
    # settled-box re-run (3/4 raw incl. a 2.0x second-slot win, 2/2 on
    # clean-canary rounds, medians 33.9 vs 41.4 s —
    # `text_dup_spans_scan_unify_sf10_settled_series`).
    "text_dup_spans": {"max_scans": 1, "reuse": True},
    # one aggregate per event_type filter is the minimum; the view-step
    # aggregate's two consumers share one exchange (was 4 scans)
    "events_funnel": {"max_scans": 3, "reuse": True},
    "events_cohort_retention": {"max_scans": 1, "reuse": True},
    # diamond closed by materializing the few-row sketch aggregate
    # (cache, not exchange reuse) — pin is the single lineitem scan
    "agg_hll_sketch": {"max_scans": 1, "reuse": False},
}


@pytest.mark.parametrize("name", sorted(_SCAN_UNIFY_PINS))
def test_scan_unify_single_corpus_pass_pinned(spark, sf_dir, name):
    import re

    pins = _SCAN_UNIFY_PINS[name]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY[name].fn(spark, sf_dir)
        # fn() calls load_table -> configure_session, which re-applies
        # the runtime confs (adaptive back ON); the AQE decision is made
        # lazily at explain time, so re-disable before plan_string —
        # same double-set as the LSH pin test above.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = plan_string(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    scans = len(set(re.findall(r"\((\d+)\) Scan parquet", plan)))
    assert scans <= pins["max_scans"], (
        f"{name}: {scans} distinct parquet scans (pin {pins['max_scans']})"
        " — the r18 scan-share unification has rotted; see plans/r18/"
    )
    if pins["reuse"]:
        assert "ReusedExchange" in plan, (
            f"{name}: no ReusedExchange in plan — the shared-exchange "
            "copies no longer canonicalize identically (keep-alive "
            "pruned? inferred filter asymmetric?)"
        )


def test_shuffle_baseline_covers_registry():
    """Every statically-auditable query must appear in the committed
    shuffle-count baseline — a new operator cannot ship without a recorded
    plan budget (regenerate with `python tools/gen_plans_md.py`; gate
    count regressions with `--check`)."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANS_BASELINE.json",
    )
    with open(path) as f:
        baseline = json.load(f)["queries"]
    # EXECUTES_AT_BUILD queries run jobs at fn() time, so the sf0.1
    # baseline generator skips them; this sf0.001 forbidden-node audit is
    # their only (cheap) plan gate.
    missing = [
        n for n in _AUDITABLE
        if n not in baseline and n not in EXECUTES_AT_BUILD
    ]
    assert not missing, (
        f"queries missing from PLANS_BASELINE.json: {missing} — run "
        "python tools/gen_plans_md.py and commit the refreshed baseline"
    )
