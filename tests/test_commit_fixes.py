"""Regressions for commit-protocol bugs: each test fails on the code
that hand-rolled its own commit and passes on ``operators/commit.py``."""

from __future__ import annotations

import builtins
import json
import os

import numpy as np
import pytest


def test_codes_frame_reads_one_pointer_snapshot(spark, tmp_path, monkeypatch):
    """A vacuum that commits while `_codes_frame` resolves its view must
    not pair the old ``app_folded`` set with the new version: that pair
    unions the folded layer a second time on top of the version that
    already contains it."""
    from pycaim_spark.operators.similarity import (
        _codes_frame,
        ivf_pq_index_append,
        ivf_pq_index_build,
    )

    rng = np.random.default_rng(5)

    def emb(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in v])
             for i, v in zip(ids, rng.normal(size=(len(ids), 8)))],
            "vec_id long, embedding array<float>",
        )

    store = str(tmp_path / "ann")
    ivf_pq_index_build(emb(range(40)), store, n_cells=4, m=4,
                       k_centroids=8, sample_size=40)
    ivf_pq_index_append(emb(range(100, 110)), store, "day1")
    assert _codes_frame(spark, store).count() == 50

    # The vacuum's post-commit state, staged aside: codes_v1 holds all
    # 50 rows and the new pointer folds day1; the layer is not yet
    # tombstoned (the window between the pointer flip and phase 1).
    staged = os.path.join(store, "v1_staged")
    _codes_frame(spark, store).write.parquet(staged)
    ptr = os.path.join(store, "codes_current.json")
    real_open = builtins.open
    fired = []

    def torn_open(file, mode="r", *args, **kwargs):
        if fired or not str(file).endswith("codes_current.json") \
                or "r" not in mode:
            return real_open(file, mode, *args, **kwargs)
        fired.append(file)
        # The reader opened the old pointer; the vacuum commits now.
        f = real_open(file, mode, *args, **kwargs)
        os.rename(staged, os.path.join(store, "codes_v1"))
        with real_open(ptr + ".tmp", "w") as out:
            json.dump({"version": 1, "app_folded": ["day1"]}, out)
        os.rename(ptr + ".tmp", ptr)
        return f

    monkeypatch.setattr(builtins, "open", torn_open)
    frame = _codes_frame(spark, store)
    monkeypatch.undo()
    assert fired
    assert frame.count() == 50


def test_caim_hist_store_survives_failed_merge(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """A crash at the merge's commit step must leave the histogram store
    readable: re-delivering the slice without a base, then merging the
    next slice, gives the cuts of a full refit."""
    import pyspark.sql.functions as F

    from pycaim_spark.catalog import load_table
    from pycaim_spark.operators.caim import CaimDiscretizer
    from pycaim_spark.operators.caim.estimator import caim_incremental_fit

    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 10 > 1)
    d1 = ev.filter(F.col("event_id") % 10 == 0)
    d2 = ev.filter(F.col("event_id") % 10 == 1)
    store = str(tmp_path / "caimhist")

    real_rename = os.rename
    fired = []

    def crashing_rename(src, dst, *args, **kwargs):
        # The merge's commit step: the rename that publishes a merged
        # histogram (the base histogram's own commit passes through).
        name = os.path.basename(dst)
        if not fired and (name == "hist" or (
            name == "hist_current.json"
            and json.load(open(src))["version"] > 0
        )):
            fired.append(dst)
            raise OSError("injected crash at the histogram commit")
        return real_rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="injected crash"):
        caim_incremental_fit(spark, store, base, d1, ["value"], "event_type")
    monkeypatch.undo()
    assert fired

    def full(df):
        return CaimDiscretizer(
            inputCols=["value"], labelCol="event_type"
        ).fit(df).cuts["value"]

    inc1 = caim_incremental_fit(
        spark, store, None, d1, ["value"], "event_type"
    )["value"]
    assert inc1 == full(base.unionByName(d1))
    inc2 = caim_incremental_fit(
        spark, store, None, d2, ["value"], "event_type"
    )["value"]
    assert inc2 == full(ev)
