"""A store dir holding an entry of a pre-pointer on-disk format is
refused by the store's write path with one error, `LegacyFormatError`,
whose message names the dir and says to delete it and rebuild. The
refusal never modifies the dir."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from pycaim_spark.operators.commit import LegacyFormatError


def _tree(root: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        out += [os.path.relpath(os.path.join(d, n), root) for n in dirs + files]
    return sorted(out)


def _refused(root: str, call) -> None:
    before = _tree(root)
    with pytest.raises(LegacyFormatError) as err:
        call()
    assert root in str(err.value)
    assert "delete it and rebuild" in str(err.value)
    assert _tree(root) == before


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_signature_store_refuses_legacy_entries(spark, tmp_path):
    from pycaim_spark.operators.dedup import (
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
    )

    base = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta")])
    day1 = _docs(spark, [(2, "a fresh slice with its very own words")])
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)

    # Beside a committed pointer: a journal-era manifest.
    with open(os.path.join(store, "folded_keys.json"), "w") as f:
        json.dump(["day0"], f)
    _refused(store, lambda: minhash_signature_store_append(
        spark, store, day1, "day1"))
    os.remove(os.path.join(store, "folded_keys.json"))

    # No pointer: the half-migrated unversioned base.
    os.remove(os.path.join(store, "current.json"))
    os.rename(os.path.join(store, "sets_v0"), os.path.join(store, "sets"))
    _refused(store, lambda: minhash_signature_store_compact(spark, store))
    _refused(store, lambda: minhash_signature_store_build(base, store))


def test_codes_store_refuses_legacy_entries(spark, tmp_path):
    from pycaim_spark.operators.similarity import (
        ivf_pq_index_append,
        ivf_pq_index_build,
    )

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v])
         for i, v in enumerate(rng.normal(size=(40, 8)))],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "ann")
    ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=8,
                       sample_size=40)
    with open(os.path.join(store, "append_keys.json"), "w") as f:
        json.dump(["day0"], f)
    _refused(store, lambda: ivf_pq_index_append(emb, store, "day1"))


def test_histogram_store_refuses_legacy_entries(spark, tmp_path):
    from pycaim_spark.operators.caim.estimator import caim_incremental_fit

    frame = spark.createDataFrame(
        [(float(i % 7), str(i % 2)) for i in range(40)], "x double, y string"
    )
    store = str(tmp_path / "hist_store")
    caim_incremental_fit(spark, store, frame, frame, ["x"], "y")
    os.makedirs(os.path.join(store, "hist"))
    _refused(store, lambda: caim_incremental_fit(
        spark, store, None, frame, ["x"], "y"))


def test_layout_slug_refuses_legacy_entries(spark, tmp_path, sf_dir):
    from pycaim_spark.queries.advanced import _cold_build, _slug_motion

    slug_dir = str(tmp_path / "bucketed_tpch" / "0123abcd")
    os.makedirs(os.path.join(slug_dir, "orders_c_old-424242"))

    def motion():
        with _slug_motion(spark, slug_dir):
            pass

    _refused(slug_dir, motion)
    os.rmdir(os.path.join(slug_dir, "orders_c_old-424242"))
    with open(os.path.join(slug_dir, "upsertstreamst_orders.json"), "w") as f:
        json.dump({"applied": []}, f)
    _refused(slug_dir, lambda: _cold_build(
        spark, slug_dir, "fp", "orders", 8, sf_dir,
        built=lambda: False, build=lambda: None,
    ))
