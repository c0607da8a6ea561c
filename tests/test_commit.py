"""On-disk format of the commit protocols, pinned step by step.

The signature store, the IVF-PQ codes and the bucketed layout commit
through pointer documents, immutable sequence-numbered layer dirs,
tombstones and grace GC. These tests run each store through its motions
with a long grace period and, after every step, compare the sorted
relative file tree and every pointer document (``ts`` stripped) against
a literal. A refactor of the commit code must leave both unchanged.

Parquet part-file names carry a random id, so they are folded to
``part-*``.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np

_PART = re.compile(r"^(\.?)part-[^/]*?(\.parquet(\.crc)?)$")


def _tree(root: str) -> list[str]:
    out = set()
    for dirpath, dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        for name in files + [d + "/" for d in dirs if not os.listdir(
            os.path.join(dirpath, d)
        )]:
            name = _PART.sub(r"\1part-*\2", name)
            path = name if rel == "." else f"{rel}/{name}"
            out.add(path)
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
            out[os.path.relpath(path, root)] = doc
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
    empty = {"app_layers": {}, "del_layers": {}, "folded": [],
             "del_folded": []}
    assert _docs(store) == {"current.json": {"version": 0, "seq": 0, **empty}}

    def layer(d):
        return [
            f"{d}/bands/._SUCCESS.crc", f"{d}/bands/.part-*.parquet.crc",
            f"{d}/bands/_SUCCESS", f"{d}/bands/part-*.parquet",
            f"{d}/sets/._SUCCESS.crc", f"{d}/sets/.part-*.parquet.crc",
            f"{d}/sets/_SUCCESS", f"{d}/sets/part-*.parquet",
        ]

    minhash_signature_store_append(spark, store, day1, "day1")
    assert [p for p in _tree(store) if p.startswith("app/")] == layer(
        "app/day1.1")
    assert _docs(store) == {"current.json": {
        "version": 0, "seq": 1, **empty, "app_layers": {"day1": 1},
    }}

    # Redelivery: a fresh dir under the next sequence number, named by
    # the pointer flip; the displaced dir is tombstoned, never renamed.
    minhash_signature_store_append(spark, store, day1, "day1")
    assert [p for p in _tree(store) if p.startswith("app/")] == sorted(
        layer("app/day1.1") + ["app/day1.1/superseded.json"]
        + layer("app/day1.2")
    )
    assert _docs(store) == {
        "current.json": {
            "version": 0, "seq": 2, **empty, "app_layers": {"day1": 2},
        },
        "app/day1.1/superseded.json": {},
    }

    minhash_signature_store_delete(
        spark, store, spark.createDataFrame([(2,)], "doc_id long"), "del1"
    )
    dl = [
        "del/del1.3/ids/._SUCCESS.crc",
        "del/del1.3/ids/.part-*.parquet.crc",
        "del/del1.3/ids/_SUCCESS", "del/del1.3/ids/part-*.parquet",
    ]
    assert [p for p in _tree(store) if p.startswith("del/")] == dl
    assert _docs(store)["current.json"] == {
        "version": 0, "seq": 3, "app_layers": {"day1": 2},
        "del_layers": {"del1": 3}, "folded": [], "del_folded": [],
    }

    minhash_signature_store_compact(spark, store)
    v1 = [
        p.replace("_v0/", "_v1/")
        for p in _tree(store) if p.startswith(("sets_v0/", "buckets_v0/"))
        and not p.endswith("_superseded.json")
    ]
    assert _tree(store) == sorted(
        layer("app/day1.1") + ["app/day1.1/superseded.json"]
        + layer("app/day1.2") + ["app/day1.2/superseded.json"]
        + dl + ["del/del1.3/superseded.json"]
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
            "version": 1, "seq": 3, "app_layers": {}, "del_layers": {},
            "folded": ["day1"], "del_folded": ["del1"],
        },
        "app/day1.1/superseded.json": {},
        "app/day1.2/superseded.json": {},
        "del/del1.3/superseded.json": {},
        "sets_v0/_superseded.json": {},
        "buckets_v0/_superseded.json": {},
    }
    with open(os.path.join(store, "current.json")) as f:
        assert list(json.load(f)) == [
            "version", "seq", "app_layers", "del_layers", "folded",
            "del_folded",
        ]


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
        "codes_v0/_SUCCESS", "codes_v0/_index.npz", "codes_v0/part-*.parquet",
    ]
    assert _tree(store) == sorted(v0 + ["codes_current.json", "store.lock"])
    empty = {"app_layers": {}, "del_layers": {}, "app_folded": [],
             "del_folded": []}
    assert _docs(store) == {
        "codes_current.json": {"version": 0, "seq": 0, **empty},
    }

    def app(d):
        return [
            f"codes_app/{d}/codes/._SUCCESS.crc",
            f"codes_app/{d}/codes/.part-*.parquet.crc",
            f"codes_app/{d}/codes/_SUCCESS",
            f"codes_app/{d}/codes/part-*.parquet",
        ]

    ivf_pq_index_append(_emb(spark, range(100, 105), 4), store, "day1")
    ivf_pq_index_append(_emb(spark, range(100, 105), 4), store, "day1")
    assert _docs(store) == {
        "codes_current.json": {
            "version": 0, "seq": 2, **empty, "app_layers": {"day1": 2},
        },
        "codes_app/day1.1/superseded.json": {},
    }

    ivf_pq_index_delete(
        spark, store, spark.createDataFrame([(3,)], "vec_id long"), "del1"
    )
    dl = [
        "codes_del/del1.3/ids/._SUCCESS.crc",
        "codes_del/del1.3/ids/.part-*.parquet.crc",
        "codes_del/del1.3/ids/_SUCCESS",
        "codes_del/del1.3/ids/part-*.parquet",
    ]
    assert _tree(store) == sorted(
        v0 + app("day1.1") + ["codes_app/day1.1/superseded.json"]
        + app("day1.2") + dl + ["codes_current.json", "store.lock"]
    )

    ivf_pq_codes_vacuum(spark, store)
    v1 = [p.replace("_v0/", "_v1/") for p in v0]
    assert _tree(store) == sorted(
        v0 + ["codes_v0/_superseded.json"] + v1
        + app("day1.1") + ["codes_app/day1.1/superseded.json"]
        + app("day1.2") + ["codes_app/day1.2/superseded.json"]
        + dl + ["codes_del/del1.3/superseded.json"]
        + ["codes_current.json", "store.lock"]
    )
    assert _docs(store) == {
        "codes_current.json": {
            "version": 1, "seq": 3, "app_layers": {}, "del_layers": {},
            "app_folded": ["day1"], "del_folded": ["del1"],
        },
        "codes_v0/_superseded.json": {},
        "codes_app/day1.1/superseded.json": {},
        "codes_app/day1.2/superseded.json": {},
        "codes_del/del1.3/superseded.json": {},
    }
    with open(os.path.join(store, "codes_current.json")) as f:
        assert list(json.load(f)) == [
            "version", "seq", "app_layers", "del_layers", "app_folded",
            "del_folded",
        ]
    # The vacuumed version carries its predecessor's sidecar, linked.
    assert os.path.samefile(os.path.join(store, "codes_v0", "_index.npz"),
                            os.path.join(store, "codes_v1", "_index.npz"))


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
