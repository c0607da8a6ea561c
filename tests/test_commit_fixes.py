"""Regressions for commit-protocol bugs: each test fails on the code
that hand-rolled its own commit and passes on ``operators/commit.py``."""

from __future__ import annotations

import builtins
import json
import os
import shutil

import numpy as np
import pytest

from pycaim_spark.operators import commit


def _emb(spark, ids, rng):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v])
         for i, v in zip(ids, rng.normal(size=(len(ids), 8)))],
        "vec_id long, embedding array<float>",
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _codes_case(spark, tmp_path):
    """An IVF-PQ store of 40 base + 10 appended vectors, and a real
    vacuum of a copy of it whose new version and pointer are staged
    aside (codes_v1 holds all 50 rows; the layer in the store itself is
    not yet tombstoned)."""
    from pycaim_spark.operators.similarity import (
        CODES_STORE,
        ivf_pq_codes_vacuum,
        ivf_pq_index_append,
        ivf_pq_index_build,
    )

    rng = np.random.default_rng(5)
    store = str(tmp_path / "ann")
    ivf_pq_index_build(_emb(spark, range(40), rng), store, n_cells=4, m=4,
                       k_centroids=8, sample_size=40)
    ivf_pq_index_append(_emb(spark, range(100, 110), rng), store, "day1")
    staged = str(tmp_path / "staged")
    shutil.copytree(store, staged)
    ivf_pq_codes_vacuum(spark, staged)
    return CODES_STORE, store, staged, "codes", 50


def _signature_case(spark, tmp_path):
    """A 2-doc signature store with a 1-doc append layer, and a real
    compaction of a copy of it whose new base and pointer are staged
    aside (the layer in the store itself is not yet tombstoned)."""
    from pycaim_spark.operators.dedup import (
        SIGNATURE_STORE,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
    )

    store = str(tmp_path / "store")
    minhash_signature_store_build(_docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven"),
    ]), store)
    minhash_signature_store_append(spark, store, _docs(spark, [
        (10, "first fresh slice with its very own vocabulary entirely"),
    ]), "day1")
    staged = str(tmp_path / "staged")
    shutil.copytree(store, staged)
    minhash_signature_store_compact(spark, staged)
    return SIGNATURE_STORE, store, staged, "sets", 3


@pytest.mark.parametrize("case", [_codes_case, _signature_case],
                         ids=["codes", "signature"])
def test_read_view_reads_one_pointer_snapshot(spark, tmp_path, monkeypatch,
                                             case):
    """A fold that commits while a reader's view parses the pointer must
    not pair the old folded-key manifest with the new version: that pair
    unions the folded layer a second time on top of the version that
    already contains it. The signature case also runs the layered
    probe through the torn read and counts the shingle sets it joins."""
    spec, store, staged, kind, rows = case(spark, tmp_path)
    assert commit.read_view(spec, store).frame(spark, kind).count() == rows
    ptr = os.path.join(store, spec.pointer)
    real_open = builtins.open
    fired = []

    def torn_open(file, mode="r", *args, **kwargs):
        if fired or os.path.basename(str(file)) != spec.pointer \
                or "r" not in mode:
            return real_open(file, mode, *args, **kwargs)
        fired.append(file)
        # The reader opened the old pointer; the fold commits now.
        f = real_open(file, mode, *args, **kwargs)
        for d in commit.base_dirs(spec, staged, 1).values():
            os.rename(d, os.path.join(store, os.path.basename(d)))
        os.rename(os.path.join(staged, spec.pointer), ptr)
        return f

    monkeypatch.setattr(builtins, "open", torn_open)
    if kind == "codes":
        frame = commit.read_view(spec, store).frame(spark, kind)
    else:
        import pycaim_spark.operators.dedup as dd

        seen = []
        real_probe = dd._incremental_probe

        def counting_probe(b_sets, *args, **kwargs):
            seen.append(b_sets)
            return real_probe(b_sets, *args, **kwargs)

        monkeypatch.setattr(dd, "_incremental_probe", counting_probe)
        verdicts = dd.incremental_minhash_dedup_stored(spark, store, _docs(
            spark,
            [(30, "first fresh slice with its very own vocabulary entire")],
        ))
        (frame,) = seen
    monkeypatch.undo()
    assert fired
    assert frame.count() == rows
    assert commit.load_pointer(ptr)["version"] == 1
    if kind == "sets":
        assert {tuple(r) for r in verdicts.select(
            "doc_id", "dup_of", "is_new").collect()} == {(30, 10, 0)}


def test_manifest_trim_keeps_applied_deletes(spark, tmp_path):
    """Trimming the folded-keys manifest rewrites the pointer; the
    applied-deletion manifest must survive it, or a replayed delete key
    re-lands as a live delete layer, and so must the live layers the
    pointer names, or their rows drop out of every read."""
    from pycaim_spark.operators.dedup import (
        SIGNATURE_STORE,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
        minhash_signature_store_delete,
        minhash_store_manifest_gc,
    )

    store = str(tmp_path / "store")
    minhash_signature_store_build(_docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight"),
    ]), store)
    minhash_signature_store_append(spark, store, _docs(
        spark, [(10, "red orange yellow green blue indigo")]
    ), "day1")
    dels = spark.createDataFrame([(2,)], "doc_id long")
    minhash_signature_store_delete(spark, store, dels, "del1")
    minhash_signature_store_compact(spark, store)
    # A live unfolded append layer and a live delete layer.
    minhash_signature_store_append(spark, store, _docs(
        spark, [(11, "north south east west up down left right")]
    ), "day2")
    minhash_signature_store_delete(
        spark, store, spark.createDataFrame([(1,)], "doc_id long"), "del2")

    assert minhash_store_manifest_gc(store, keep_last=0) == 1
    with open(os.path.join(store, "current.json")) as f:
        assert json.load(f) == {
            "version": 1, "seq": 4, "app_layers": {"day2": 3},
            "del_layers": {"del2": 4}, "folded": [], "del_folded": ["del1"],
        }
    minhash_signature_store_delete(spark, store, dels, "del1")
    view = commit.read_view(SIGNATURE_STORE, store)
    assert list(view.del_layers) == ["del2"]
    assert view.frame(spark, "sets").count() == 3
    assert view.deleted_ids(spark).count() == 1


_SIG_BASE = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "one two three four five six seven eight nine ten eleven"),
]
_SIG_DAY1 = [(10, "first fresh slice with its very own vocabulary entirely")]
_SIG_PROBE = [
    (30, "first fresh slice with its very own vocabulary entire"),
    (31, "one two three four five six seven eight nine ten twelve"),
]


def _signature_store(spark, tmp_path, motion):
    """A signature store with one live layer (a delete of doc 2 for the
    delete fold, else the day1 append), its reader (the layered probe)
    and the motion."""
    from pycaim_spark.operators.dedup import (
        SIGNATURE_STORE,
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
        minhash_signature_store_delete,
    )

    store = str(tmp_path / "store")
    minhash_signature_store_build(_docs(spark, _SIG_BASE), store)
    day1 = _docs(spark, _SIG_DAY1)
    if motion == "delete_fold":
        minhash_signature_store_delete(
            spark, store, spark.createDataFrame([(2,)], "doc_id long"), "d1")
    else:
        minhash_signature_store_append(spark, store, day1, "day1")
    motions = {
        "fold": lambda: minhash_signature_store_compact(spark, store),
        "delete_fold": lambda: minhash_signature_store_compact(spark, store),
        "redelivery": lambda: minhash_signature_store_append(
            spark, store, day1, "day1"),
    }
    return SIGNATURE_STORE, store, lambda: incremental_minhash_dedup_stored(
        spark, store, _docs(spark, _SIG_PROBE)), motions[motion]


def _codes_store(spark, tmp_path, motion, monkeypatch):
    """An IVF-PQ store of 60 vectors with exact twins of the three query
    vectors as a live append layer (for the delete fold: folded in, then
    deleted by a live delete layer), its reader (the stored top-3 query)
    and the motion. The retrain re-encodes a smaller corpus under a
    bumped training version, which a same-params build retrains on."""
    import pycaim_spark.operators.similarity as sim

    rng = np.random.default_rng(9)
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(rng.normal(size=(60, 8)))]
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(rows, schema)
    twins = spark.createDataFrame(
        [(1000 + q, rows[q][1]) for q in range(3)], schema)
    emb = base.unionByName(twins)
    kw = dict(n_cells=4, m=4, k_centroids=8, sample_size=60)
    store = str(tmp_path / "ann")
    sim.ivf_pq_index_build(base, store, **kw)
    sim.ivf_pq_index_append(twins, store, "day1")
    if motion == "delete_fold":
        sim.ivf_pq_codes_vacuum(spark, store)
        sim.ivf_pq_index_delete(spark, store, twins, "d1")

    def retrain():
        monkeypatch.setattr(sim, "_INDEX_ALGO_VERSION",
                            sim._INDEX_ALGO_VERSION + 1)
        sim.ivf_pq_index_build(
            base.filter("vec_id NOT BETWEEN 3 AND 9"), store, **kw)

    motions = {
        "fold": lambda: sim.ivf_pq_codes_vacuum(spark, store),
        "delete_fold": lambda: sim.ivf_pq_codes_vacuum(spark, store),
        "redelivery": lambda: sim.ivf_pq_index_append(twins, store, "day1"),
        "retrain": retrain,
    }
    return sim.CODES_STORE, store, lambda: sim.ivf_pq_topk_stored(
        emb, store, nprobe=4, k=3, n_queries=3, n_candidates=16, **kw,
    ), motions[motion]


@pytest.mark.parametrize("kind,motion,point", [
    ("signature", "fold", "pointer"),
    ("signature", "delete_fold", "pointer"),
    ("signature", "redelivery", "pointer"),
    ("signature", "redelivery", "execute"),
    ("codes", "fold", "pointer"),
    ("codes", "delete_fold", "pointer"),
    ("codes", "redelivery", "pointer"),
    ("codes", "redelivery", "execute"),
    ("codes", "retrain", "pointer"),
    ("codes", "retrain", "sidecar"),
])
def test_interrupted_reader_sees_one_snapshot(spark, tmp_path, monkeypatch,
                                              kind, motion, point):
    """A lockless reader interrupted by a committing motion reads the
    store as it was before the motion or as it is after it, and its
    frames execute. The motion runs while the reader opens the pointer
    (``pointer``), after the reader built its lazy frame (``execute``),
    or right after the reader loaded the trained sidecar (``sidecar``)."""
    if kind == "signature":
        spec, store, reader, run = _signature_store(spark, tmp_path, motion)
    else:
        spec, store, reader, run = _codes_store(
            spark, tmp_path, motion, monkeypatch)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pre = rows(reader())
    fired = []

    def motion_once():
        if not fired:
            fired.append(motion)
            run()

    if point == "execute":
        frame = reader()
        motion_once()
        got = rows(frame)
    elif point == "pointer":
        real_open = builtins.open

        def hooked_open(file, mode="r", *args, **kwargs):
            f = real_open(file, mode, *args, **kwargs)
            if os.path.basename(str(file)) == spec.pointer and "r" in mode:
                motion_once()
            return f

        monkeypatch.setattr(builtins, "open", hooked_open)
        try:
            got = rows(reader())
        finally:
            monkeypatch.setattr(builtins, "open", real_open)
    else:
        real_load = np.load

        def hooked_load(*args, **kwargs):
            out = real_load(*args, **kwargs)
            motion_once()
            return out

        monkeypatch.setattr(np, "load", hooked_load)
        try:
            got = rows(reader())
        finally:
            monkeypatch.setattr(np, "load", real_load)
    assert fired
    post = rows(reader())
    assert got in (pre, post), (got, pre, post)


@pytest.mark.parametrize("kind", ["signature", "codes"])
def test_read_view_lists_no_directory(spark, tmp_path, monkeypatch, kind):
    """One pointer parse is the whole view: with ``os.listdir`` raising,
    a store with a live append layer and a live delete layer resolves,
    and its frames execute."""
    if kind == "signature":
        from pycaim_spark.operators.dedup import minhash_signature_store_delete

        spec, store, _reader, _run = _signature_store(spark, tmp_path, "fold")
        minhash_signature_store_delete(
            spark, store, spark.createDataFrame([(2,)], "doc_id long"), "d1")
        sub, rows = "sets", 3
    else:
        from pycaim_spark.operators.similarity import ivf_pq_index_delete

        spec, store, _reader, _run = _codes_store(
            spark, tmp_path, "fold", monkeypatch)
        ivf_pq_index_delete(
            spark, store, spark.createDataFrame([(5,)], "vec_id long"), "d1")
        sub, rows = "codes", 63

    def no_listdir(*args, **kwargs):
        raise AssertionError("the read view listed a directory")

    monkeypatch.setattr(os, "listdir", no_listdir)
    view = commit.read_view(spec, store)
    frame, dels = view.frame(spark, sub), view.deleted_ids(spark)
    assert frame.count() == rows
    assert dels.count() == 1


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
