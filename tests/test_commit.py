"""On-disk format of the commit protocols, pinned step by step.

The signature store, the IVF-PQ codes and the bucketed layout commit
through pointer documents, write-aside layer swaps, tombstones and
grace GC. These tests run each store through its motions with a long
grace period and, after every step, compare the sorted relative file
tree and every pointer document (``ts`` stripped) against a literal.
A refactor of the commit code must leave both unchanged.

Parquet part-file names carry a random id, so they are folded to
``part-*``; the write-aside swap's ``.old-<ms>`` suffix is folded to
``.old-*``.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np

_PART = re.compile(r"^(\.?)part-[^/]*?(\.parquet(\.crc)?)$")
_OLD = re.compile(r"\.old-\d+")


def _tree(root: str) -> list[str]:
    out = set()
    for dirpath, dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        for name in files + [d + "/" for d in dirs if not os.listdir(
            os.path.join(dirpath, d)
        )]:
            name = _PART.sub(r"\1part-*\2", name)
            path = name if rel == "." else f"{rel}/{name}"
            out.add(_OLD.sub(".old-*", path))
    return sorted(out)


def _docs(root: str) -> dict:
    """Every JSON document under ``root`` (pointers, tombstones, commit
    records), keyed by folded relative path, with ``ts`` removed."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".json"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                doc = json.load(f)
            if isinstance(doc, dict):
                assert isinstance(doc.pop("ts", 0.0), float)
            rel = _OLD.sub(".old-*", os.path.relpath(path, root))
            out[rel] = doc
    return out


def _docs_text(spark, text):
    return spark.createDataFrame(text, "doc_id long, text string")


def test_signature_store_format(spark, tmp_path, monkeypatch):
    from pycaim_spark.operators.dedup import (
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
        minhash_signature_store_delete,
    )

    monkeypatch.setenv("PYCAIM_STORE_GC_GRACE", "3600")
    store = str(tmp_path / "store")
    base = _docs_text(spark, [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight"),
    ])
    day1 = _docs_text(spark, [(10, "red orange yellow green blue indigo")])

    minhash_signature_store_build(base, store)
    assert _tree(store) == [
        "buckets_v0/._SUCCESS.crc", "buckets_v0/.part-*.parquet.crc",
        "buckets_v0/_SUCCESS", "buckets_v0/part-*.parquet",
        "current.json",
        "sets_v0/._SUCCESS.crc", "sets_v0/.part-*.parquet.crc",
        "sets_v0/_SUCCESS", "sets_v0/part-*.parquet",
        "store.lock",
    ]
    assert _docs(store) == {"current.json": {"version": 0, "folded": []}}

    minhash_signature_store_append(spark, store, day1, "day1")
    layer = [
        "append/day1/bands/._SUCCESS.crc",
        "append/day1/bands/.part-*.parquet.crc",
        "append/day1/bands/_SUCCESS", "append/day1/bands/part-*.parquet",
        "append/day1/sets/._SUCCESS.crc",
        "append/day1/sets/.part-*.parquet.crc",
        "append/day1/sets/_SUCCESS", "append/day1/sets/part-*.parquet",
    ]
    assert [p for p in _tree(store) if p.startswith("append/")] == layer

    # Redelivery: the write-aside swap moves the old layer to
    # ``day1.old-<ms>`` with a tombstone and renames the fresh one in.
    minhash_signature_store_append(spark, store, day1, "day1")
    old = [p.replace("day1/", "day1.old-*/") for p in layer]
    assert [p for p in _tree(store) if p.startswith("append/")] == sorted(
        layer + old + ["append/day1.old-*/superseded.json"]
    )
    assert _docs(store) == {
        "current.json": {"version": 0, "folded": []},
        "append/day1.old-*/superseded.json": {},
    }

    minhash_signature_store_delete(
        spark, store, spark.createDataFrame([(2,)], "doc_id long"), "del1"
    )
    dl = [
        "deletes/del1/ids/._SUCCESS.crc",
        "deletes/del1/ids/.part-*.parquet.crc",
        "deletes/del1/ids/_SUCCESS", "deletes/del1/ids/part-*.parquet",
    ]
    assert [p for p in _tree(store) if p.startswith("deletes/")] == dl

    minhash_signature_store_compact(spark, store)
    v1 = [
        p.replace("_v0/", "_v1/")
        for p in _tree(store) if p.startswith(("sets_v0/", "buckets_v0/"))
        and not p.endswith("_superseded.json")
    ]
    assert _tree(store) == sorted(
        layer + ["append/day1/superseded.json"]
        + old + ["append/day1.old-*/superseded.json"]
        + dl + ["deletes/del1/superseded.json"]
        + [
            "buckets_v0/._SUCCESS.crc", "buckets_v0/.part-*.parquet.crc",
            "buckets_v0/_SUCCESS", "buckets_v0/_superseded.json",
            "buckets_v0/part-*.parquet",
            "current.json",
            "sets_v0/._SUCCESS.crc", "sets_v0/.part-*.parquet.crc",
            "sets_v0/_SUCCESS", "sets_v0/_superseded.json",
            "sets_v0/part-*.parquet",
            "store.lock",
        ]
        + v1
    )
    assert _docs(store) == {
        "current.json": {
            "version": 1, "folded": ["day1"], "del_folded": ["del1"],
        },
        "append/day1/superseded.json": {},
        "append/day1.old-*/superseded.json": {},
        "deletes/del1/superseded.json": {},
        "sets_v0/_superseded.json": {},
        "buckets_v0/_superseded.json": {},
    }


def _emb(spark, ids, seed):
    rng = np.random.default_rng(seed)
    rows = [(int(i), [float(x) for x in v])
            for i, v in zip(ids, rng.normal(size=(len(ids), 8)))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_codes_store_format(spark, tmp_path, monkeypatch):
    from pycaim_spark.operators.similarity import (
        ivf_pq_codes_vacuum,
        ivf_pq_index_append,
        ivf_pq_index_build,
        ivf_pq_index_delete,
    )

    monkeypatch.setenv("PYCAIM_STORE_GC_GRACE", "3600")
    store = str(tmp_path / "ann")
    ivf_pq_index_build(_emb(spark, range(40), 3), store, n_cells=4, m=4,
                       k_centroids=8, sample_size=40)
    v0 = [
        "codes_v0/._SUCCESS.crc", "codes_v0/.part-*.parquet.crc",
        "codes_v0/_SUCCESS", "codes_v0/part-*.parquet",
    ]
    assert _tree(store) == sorted(
        v0 + ["codes_current.json", "index.npz", "store.lock"]
    )
    assert _docs(store) == {"codes_current.json": {"version": 0}}

    ivf_pq_index_append(_emb(spark, range(100, 105), 4), store, "day1")
    app = [
        "codes_append/day1/codes/._SUCCESS.crc",
        "codes_append/day1/codes/.part-*.parquet.crc",
        "codes_append/day1/codes/_SUCCESS",
        "codes_append/day1/codes/part-*.parquet",
    ]
    ivf_pq_index_append(_emb(spark, range(100, 105), 4), store, "day1")
    app_old = [p.replace("day1/", "day1.old-*/") for p in app] + [
        "codes_append/day1.old-*/superseded.json"
    ]
    assert _docs(store) == {
        "codes_current.json": {"version": 0},
        "codes_append/day1.old-*/superseded.json": {},
    }

    ivf_pq_index_delete(
        spark, store, spark.createDataFrame([(3,)], "vec_id long"), "del1"
    )
    dl = [
        "codes_deletes/del1/ids/._SUCCESS.crc",
        "codes_deletes/del1/ids/.part-*.parquet.crc",
        "codes_deletes/del1/ids/_SUCCESS",
        "codes_deletes/del1/ids/part-*.parquet",
    ]
    assert _tree(store) == sorted(
        v0 + app + app_old + dl
        + ["codes_current.json", "index.npz", "store.lock"]
    )

    ivf_pq_codes_vacuum(spark, store)
    v1 = [p.replace("_v0/", "_v1/") for p in v0]
    assert _tree(store) == sorted(
        v0 + ["codes_v0/_superseded.json"] + v1
        + app + ["codes_append/day1/superseded.json"] + app_old
        + dl + ["codes_deletes/del1/superseded.json"]
        + ["codes_current.json", "index.npz", "store.lock"]
    )
    assert _docs(store) == {
        "codes_current.json": {
            "version": 1, "del_folded": ["del1"], "app_folded": ["day1"],
        },
        "codes_v0/_superseded.json": {},
        "codes_append/day1/superseded.json": {},
        "codes_append/day1.old-*/superseded.json": {},
        "codes_deletes/del1/superseded.json": {},
    }
    with open(os.path.join(store, "codes_current.json")) as f:
        assert list(json.load(f)) == ["version", "del_folded", "app_folded"]


def test_layout_publish_format(spark, tmp_path, monkeypatch):
    from pycaim_spark.operators.layout import (
        gc_layout_versions,
        publish_layout_version,
        publish_slug_commit,
        slug_write_lock,
        tombstone_layout_dir,
    )

    monkeypatch.setenv("PYCAIM_LAYOUT_GC_GRACE", "3600")
    root = str(tmp_path / "layouts")
    slug_dir = os.path.join(root, "slug1")
    plain = os.path.join(slug_dir, "orders")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "o_orderkey long, o_custkey long"
    ).coalesce(1).write.parquet(plain)
    with slug_write_lock(slug_dir):
        gc_layout_versions(slug_dir)
        vdir, ptr = publish_layout_version(
            slug_dir, "orders", src_dir=plain, extra={"batch": None},
            stats_cols=("o_custkey",),
        )
        files = [
            "._SUCCESS.crc", ".part-*.parquet.crc", "_SUCCESS",
            "part-*.parquet",
        ]
        assert _tree(root) == sorted(
            [".lock_slug1"]
            + [f"slug1/orders/{f}" for f in files]
            + [f"slug1/orders_v1/{f}" for f in files]
            + ["slug1/orders_current.json", "slug1/orders_v1/_commit.json"]
        )
        (part,) = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
        assert _docs(root) == {
            "slug1/orders_current.json": {
                "version": 1, "dir": "orders_v1", "batch": None,
                "files": {part: {"o_custkey": [10, 20]}},
                "stats_cols": ["o_custkey"],
            },
            "slug1/orders_v1/_commit.json": {
                "version": 1, "kind": "publish", "key": None,
            },
        }
        with open(os.path.join(slug_dir, "orders_current.json")) as f:
            assert list(json.load(f)) == [
                "version", "dir", "batch", "ts", "files", "stats_cols",
            ]
        tombstone_layout_dir(plain)
        publish_slug_commit(slug_dir, {"orders": 1})
        gc_layout_versions(slug_dir)
    assert "slug1/orders/_superseded.json" in _tree(root)
    docs = _docs(root)
    assert docs["slug1/orders/_superseded.json"] == {}
    assert docs["slug1/slug_commit.json"] == {
        "commit": 1, "rels": {"orders": 1},
    }
