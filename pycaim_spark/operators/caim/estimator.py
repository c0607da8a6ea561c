"""CAIM as a Spark MLlib pipeline stage (the driver's mandated approach:
"CAIM discretization algorithm … reimplemented as Spark MLlib pipeline
stage for distributed feature engineering", BASELINE.json:6-7).

Distributed fit — Strategy B (SURVEY.md §3.2):

1. Melt the requested feature columns into (feature, value, label) rows with
   one JVM-side ``stack`` projection (no Python).
2. Pre-aggregate ``groupBy(feature, value, label).count()`` — this is the
   scale step: 100 TB of raw rows collapse to ≤ Σ_f (distinct_f × S)
   histogram rows with map-side partial aggregation, and nothing downstream
   ever sees raw data.
3. ``groupBy(feature).applyInPandas`` runs the vectorized greedy
   (:func:`pycaim_spark.operators.caim.core.caim_greedy`) once per feature —
   features fit in parallel across executors, mirroring the reference's
   per-feature parallelism.
4. The fitted model is a tiny {feature: cuts} dict on the driver.

Ultra-high-cardinality guard: a feature whose distinct-value histogram
exceeds ``maxCandidates`` is compressed inside the worker by weighted
quantile binning of the histogram (documented approximation; the histogram
itself is already aggregated, so this is cheap and deterministic).

Transform is a pure projection: for each feature, the 1-based interval id
``1 + #{cuts < v}`` evaluated with a JVM higher-order function over the
literal cut array — codegen'd, no shuffle, no Python; exactly matches
:func:`core.bucketize_value` including the value==cut edge (falls left).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from pycaim_spark.operators.caim.core import caim_greedy

# The driver harness imports this package via a sys.path insert that Spark
# Python WORKERS do not inherit, so any UDF referencing package code would
# die with ModuleNotFoundError worker-side. Registering the modules for
# pickle-by-value makes every shipped closure self-contained (numpy/pandas
# are importable on workers; pycaim_spark is not assumed to be).
import sys as _sys

import pycaim_spark.operators.caim.core as _core_mod

try:
    from pyspark import cloudpickle as _cloudpickle
except ImportError:  # pragma: no cover - fallback for exotic installs
    import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_core_mod)
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])

#: The pre-pointer histogram store: one plain ``hist/`` dir. This code
#: does not read it.
_LEGACY = ("hist",)


class _CaimParams(Params):
    inputCols = Param(
        Params._dummy(), "inputCols", "continuous feature columns to discretize",
        typeConverter=TypeConverters.toListString,
    )
    labelCol = Param(
        Params._dummy(), "labelCol", "class label column",
        typeConverter=TypeConverters.toString,
    )
    outputSuffix = Param(
        Params._dummy(), "outputSuffix", "suffix for output bucket-id columns",
        typeConverter=TypeConverters.toString,
    )
    maxCandidates = Param(
        Params._dummy(), "maxCandidates",
        "per-feature distinct-value cap; larger histograms are quantile-"
        "compressed in the worker (approximation for near-unique columns)",
        typeConverter=TypeConverters.toInt,
    )
    strategy = Param(
        Params._dummy(), "strategy",
        "'histogram' (Strategy B: per-feature applyInPandas over the "
        "pre-aggregated histogram — the default) or 'jobs' (Strategy A: "
        "driver-orchestrated distributed greedy, one Spark job per round — "
        "exact even when a single feature's histogram exceeds one executor)",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self):
        super().__init__()
        self._setDefault(outputSuffix="_bin", maxCandidates=100_000,
                         strategy="histogram")


def _melt(dataset: DataFrame, cols: list[str], label: str) -> DataFrame:
    """Step 1: melt the feature columns JVM-side into ``(feature, value,
    label)`` rows with one ``stack(n, 'f1', f1, 'f2', f2, ...)``
    projection, dropping rows with a null value or label."""
    stack_args = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols)
    return dataset.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (feature, value)"),
        F.col(label).cast("string").alias("label"),
    ).filter(F.col("value").isNotNull() & F.col("label").isNotNull())


def melted_histogram(dataset: DataFrame, cols: list[str], label: str) -> DataFrame:
    """Steps 1–2 of the Strategy-B fit as a standalone frame: melt the
    feature columns JVM-side and collapse to the ``(feature, value,
    label, cnt)`` histogram with map-side partial aggregation. This frame
    is MERGEABLE STATE — counts over disjoint row sets add — which is
    what :func:`caim_incremental_fit` persists and folds delta slices
    into (the agg_incremental_merge pattern applied to the reference-core
    operator)."""
    return (
        _melt(dataset, cols, label)
        .groupBy("feature", "value", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def fit_from_histogram(hist: DataFrame, max_cand: int) -> dict[str, list[float]]:
    """Step 3: one vectorized greedy per feature via ``applyInPandas``
    over a ``(feature, value, label, cnt)`` histogram — corpus-size-free:
    cost depends only on distinct (value × label) combinations."""

    def fit_feature(pdf: pd.DataFrame) -> pd.DataFrame:
        feature = pdf["feature"].iloc[0]
        pivot = (
            pdf.pivot_table(index="value", columns="label", values="cnt",
                            aggfunc="sum", fill_value=0)
            .sort_index()
            .sort_index(axis=1)  # label order: sorted → deterministic
        )
        values = pivot.index.to_numpy(dtype=np.float64)
        counts = pivot.to_numpy(dtype=np.int64)
        if len(values) > max_cand:
            values, counts = _compress_histogram(values, counts, max_cand)
        cuts = caim_greedy(values, counts)
        return pd.DataFrame({"feature": [feature], "cuts": [list(cuts)]})

    cuts_rows = (
        hist.groupBy("feature")
        .applyInPandas(fit_feature, "feature string, cuts array<double>")
        .collect()
    )
    return {r["feature"]: list(r["cuts"]) for r in cuts_rows}


def caim_incremental_fit(
    spark,
    store_dir: str,
    base_dataset: DataFrame | None,
    delta_dataset: DataFrame,
    cols: list[str],
    label: str,
    max_cand: int = 100_000,
) -> dict[str, list[float]]:
    """Daily CAIM refit WITHOUT rescanning the corpus: the ``(feature,
    value, label, cnt)`` histogram is persisted once (built from
    ``base_dataset`` if the store is absent), each ingest merges the
    delta slice's histogram — union + groupBy SUM, counts over disjoint
    row sets add exactly — and the greedy reruns on the merged histogram,
    whose size tracks distinct values, not corpus rows. Cuts are
    IDENTICAL to a full refit over base ∪ delta (asserted in
    tests/test_caim.py): histogram merging is exact, so incrementality
    costs nothing in fidelity — the property that makes Strategy B the
    right 100 TB design.

    The store commits through ``operators/commit.py``: ``hist_v{N}``
    behind ``hist_current.json``, under the store write lock, with the
    displaced version tombstoned and grace-collected. The base histogram
    commits as its own version before the first merge, so a merge that
    crashes leaves the base (or the last merged state) in place, and a
    re-delivered slice merges into it. A dir holding the pre-pointer
    plain ``hist/`` raises `commit.LegacyFormatError` untouched."""
    import os

    from pycaim_spark.operators import commit

    def version(n):
        return os.path.join(store_dir, f"hist_v{n}")

    def publish(frame, n):
        frame.write.mode("overwrite").parquet(version(n))
        commit.write_json_atomic(ptr_path, {"version": n})

    ptr_path = os.path.join(store_dir, "hist_current.json")
    with commit.store_lock(store_dir):
        entries = os.listdir(store_dir)
        commit.refuse_legacy(store_dir, entries, _LEGACY)
        ptr = commit.load_pointer(ptr_path)
        hist_vs = [
            (int(d[len("hist_v"):]), os.path.join(store_dir, d))
            for d in entries
            if d.startswith("hist_v") and d[len("hist_v"):].isdigit()
        ]
        if ptr is not None:
            v = ptr["version"]
            commit.reconcile_versions(hist_vs, v)
            for n, path in hist_vs:
                if n < v:
                    commit.collect_if_aged(path, commit.store_grace(), data=True)
        else:
            # No pointer: every hist_v* is an unpublished write.
            commit.reconcile_versions(hist_vs, -1)
            if base_dataset is None:
                raise ValueError(
                    f"no histogram store at {store_dir} and no base"
                )
            v = 0
            publish(melted_histogram(base_dataset, cols, label), 0)
        cur = version(v)
        merged = (
            spark.read.parquet(cur)
            .unionByName(melted_histogram(delta_dataset, cols, label))
            .groupBy("feature", "value", "label")
            .agg(F.sum("cnt").alias("cnt"))
        )
        publish(merged, v + 1)
        commit.tombstone(cur, data=True)
    return fit_from_histogram(spark.read.parquet(version(v + 1)), max_cand)


def _compress_histogram(
    values: np.ndarray, counts: np.ndarray, max_bins: int
) -> tuple[np.ndarray, np.ndarray]:
    """Weighted quantile compression of an oversized histogram.

    Splits the value axis into ≤ max_bins groups of equal total weight;
    each group is represented by its weighted mean value with summed class
    counts. Deterministic; preserves total counts exactly.
    """
    weights = counts.sum(axis=1)
    cum = np.cumsum(weights)
    edges = np.searchsorted(cum, np.linspace(0, cum[-1], max_bins + 1)[1:-1], "left")
    groups = np.concatenate([[0], np.unique(edges), [len(values)]])
    new_vals, new_counts = [], []
    for a, c in zip(groups[:-1], groups[1:]):
        if c <= a:
            continue
        w = weights[a:c]
        new_vals.append(float((values[a:c] * w).sum() / w.sum()))
        new_counts.append(counts[a:c].sum(axis=0))
    return np.array(new_vals), np.array(new_counts, dtype=np.int64)


class CaimDiscretizer(Estimator, _CaimParams):
    """Estimator learning CAIM cut points per feature column."""

    def __init__(self, inputCols=None, labelCol="label", outputSuffix="_bin",
                 maxCandidates=100_000, strategy="histogram"):
        super().__init__()
        self._set(labelCol=labelCol, outputSuffix=outputSuffix,
                  maxCandidates=maxCandidates, strategy=strategy)
        if inputCols is not None:
            self._set(inputCols=inputCols)

    def _fit(self, dataset: DataFrame) -> "CaimDiscretizerModel":
        cols = self.getOrDefault(self.inputCols)
        label = self.getOrDefault(self.labelCol)
        max_cand = self.getOrDefault(self.maxCandidates)

        if self.getOrDefault(self.strategy) == "jobs":
            # Strategy A: distributed greedy per feature, one Spark job per
            # accepted cut (see strategy_a.py) — nothing single-node.
            from pycaim_spark.operators.caim.strategy_a import (
                fit_feature_distributed,
            )

            melted = _melt(dataset, cols, label)
            cuts = {
                c: fit_feature_distributed(
                    melted.filter(F.col("feature") == c).select("value", "label")
                )
                for c in cols
            }
            model = CaimDiscretizerModel(
                cuts=cuts, outputSuffix=self.getOrDefault(self.outputSuffix)
            )
            model._set(inputCols=cols, labelCol=label)
            return model

        # 2–3. Histogram collapse + per-feature greedy (factored so
        # caim_incremental_fit can persist/merge the histogram state; the
        # groupBy in fit_from_histogram inserts its own hash exchange on
        # `feature` — an explicit repartition would add a redundant one).
        cuts = fit_from_histogram(
            melted_histogram(dataset, cols, label), max_cand
        )
        model = CaimDiscretizerModel(
            cuts=cuts, outputSuffix=self.getOrDefault(self.outputSuffix)
        )
        model._set(inputCols=cols, labelCol=label)
        return model


class CaimDiscretizerModel(Model, _CaimParams):
    """Fitted model: {feature: sorted interior cuts}; transform is a pure,
    shuffle-free projection (broadcast-by-literal of the tiny cut arrays)."""

    def __init__(self, cuts: dict[str, list[float]] | None = None,
                 outputSuffix: str = "_bin"):
        super().__init__()
        self.cuts = cuts or {}
        self._set(outputSuffix=outputSuffix)

    def _transform(self, dataset: DataFrame) -> DataFrame:
        suffix = self.getOrDefault(self.outputSuffix)
        out = dataset
        for feature, cuts in self.cuts.items():
            out = out.withColumn(f"{feature}{suffix}", self.bucket_expr(feature))
        return out

    def save_cuts(self, path: str) -> None:
        """Persist the fitted cuts as JSON (tiny driver-side artifact)."""
        import json

        with open(path, "w") as fh:
            json.dump(self.cuts, fh, sort_keys=True)

    @classmethod
    def load_cuts(cls, path: str, outputSuffix: str = "_bin") -> "CaimDiscretizerModel":
        import json

        with open(path) as fh:
            return cls(cuts=json.load(fh), outputSuffix=outputSuffix)

    def bucket_expr(self, feature: str):
        """1 + #{cuts < v} as a codegen'd higher-order expression."""
        cuts = self.cuts[feature]
        if not cuts:
            return F.lit(1)
        arr = F.array(*[F.lit(float(c)) for c in cuts])
        return (
            F.size(F.filter(arr, lambda c: c < F.col(feature).cast("double")))
            + F.lit(1)
        ).alias(f"{feature}_bin")
