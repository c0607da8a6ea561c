"""On-disk output of every bucketed-layout builder, pinned.

Each layout builder in ``queries/advanced.py`` runs once over a private
copy of the sf0.001 corpus with a long GC grace. For every slug dir it
wrote, the test records the sorted relative file tree, every JSON
document in it (``*_current.json``, ``slug_commit.json``,
``_commit.json``, ``source.json``, tombstones, feed specs), the catalog
tables named after the slug, and the row count of each frame a builder
returned, then compares the whole record against
``tests/golden/layout_format.json``. A refactor of the builders must
leave the record unchanged.

Normalised, because they differ run to run: the random id inside
Spark part-file names (``-<uuid>`` → ``-*``), ``ts`` fields, the
corpus path, source fingerprints (``fp``), and the part-file names used
as keys of a pointer's ``files`` manifest. Slugs are content hashes of
the corpus path, so each slug is named by its ``source.json`` identity
(``table:buckets``) instead of its hash.

To regenerate the golden file after a deliberate format change, call
``_record(spark, corpus)`` on a fresh corpus copy and dump it with
``json.dump(..., indent=1, sort_keys=True)``.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import shutil

GOLDEN = pathlib.Path(__file__).resolve().parent / "golden" / (
    "layout_format.json"
)

_UUID = re.compile(
    r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)


def _norm_name(name: str) -> str:
    return _UUID.sub("-*", name)


def _norm_doc(doc, corpus: str):
    if isinstance(doc, dict):
        out = {}
        for k, v in doc.items():
            if k == "ts":
                assert isinstance(v, float)
                continue
            if k == "fp":
                out[k] = "<fp>"
            elif k == "sf_dir":
                assert v == corpus
                out[k] = "<corpus>"
            elif k == "files" and isinstance(v, dict):
                out[k] = sorted(
                    [_norm_name(fn), _norm_doc(s, corpus)]
                    for fn, s in v.items()
                )
            else:
                out[k] = _norm_doc(v, corpus)
        return out
    if isinstance(doc, list):
        return [_norm_doc(v, corpus) for v in doc]
    return doc


def _tree(slug_dir: str) -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(slug_dir):
        rel = os.path.relpath(dirpath, slug_dir)
        for name in files + [d + "/" for d in dirs if not os.listdir(
            os.path.join(dirpath, d)
        )]:
            name = _norm_name(name)
            out.append(name if rel == "." else f"{rel}/{name}")
    return sorted(out)


def _docs(slug_dir: str, corpus: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(slug_dir):
        for name in files:
            if not name.endswith(".json"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                doc = json.load(f)
            out[_norm_name(os.path.relpath(path, slug_dir))] = _norm_doc(
                doc, corpus
            )
    return out


def _corpus_slugs(corpus: str) -> dict[str, str]:
    """{``table:buckets`` identity: slug} for every slug built from
    ``corpus``."""
    from pycaim_spark.queries.relational import _SCRATCH

    root = os.path.join(_SCRATCH, "bucketed_tpch")
    out = {}
    for slug in sorted(os.listdir(root)):
        marker = os.path.join(root, slug, "source.json")
        if not os.path.exists(marker):
            continue
        with open(marker) as f:
            meta = json.load(f)
        if meta.get("sf_dir") == corpus:
            ident = f"{meta['table']}:{meta['buckets']}"
            assert ident not in out
            out[ident] = slug
    return out


def _run_builders(spark, corpus: str) -> dict:
    """Run every builder once; return {call: row counts / outputs}."""
    from pycaim_spark.queries import advanced as adv

    out = {}
    li, o = adv._bucketed_orderkey_layout(spark, corpus)
    out["bucketed"] = [li.count(), o.count()]
    li, o = adv._incremental_orderkey_layout(spark, corpus, compacted=True)
    out["incremental_compacted"] = [li.count(), o.count()]
    li, ou = adv._upserted_orderkey_layout(spark, corpus)
    out["upsert_clone"] = [li.count(), ou.count()]
    li, ou = adv._upserted_orderkey_layout(spark, corpus, inplace=True)
    out["upsert_inplace"] = [li.count(), ou.count()]
    st = adv._upsert_stream_inplace(
        spark, corpus,
        batches=[
            ("b1", adv._UPSERT_UPD, adv._UPSERT_DEL, adv._UPSERT_INS),
            ("b2", "1 = 0", adv._UPSERT_B2_DEL, None),
        ],
        suffix="tt", retain=True,
    )
    out["stream_retained"] = [st.count()]
    out["feed_and_sink"] = [adv._stream_cdc_feed_and_sink(
        spark, corpus
    ).count()]
    out["split_full"] = [adv._split_orderkey_layout(
        spark, corpus, full_split=True, suffix="co"
    ).count()]
    out["coalesce"] = [adv._coalesce_orderkey_layout(
        spark, corpus, suffix="co"
    ).count()]
    slug_dir, ddl = adv._date_clustered_orders_layout(spark, corpus)
    out["date"] = [os.path.basename(slug_dir) in _corpus_slugs(corpus)
                   .values(), ddl]
    slug_dir, ddl = adv._zorder_orders_layout(spark, corpus)
    out["zorder"] = [os.path.basename(slug_dir) in _corpus_slugs(corpus)
                     .values(), ddl]
    dirs = adv._multirel_delete_commit(spark, corpus)
    out["multirel"] = {
        rel: [os.path.basename(d), spark.read.parquet(d).count()]
        for rel, d in sorted(dirs.items())
    }
    return out


def _record(spark, corpus: str) -> dict:
    from pycaim_spark.queries.relational import _SCRATCH

    frames = _run_builders(spark, corpus)
    root = os.path.join(_SCRATCH, "bucketed_tpch")
    tables = [
        r.tableName for r in spark.sql("SHOW TABLES").collect()
        if not r.isTemporary
    ]
    slugs = {}
    for ident, slug in _corpus_slugs(corpus).items():
        slug_dir = os.path.join(root, slug)
        slugs[ident] = {
            "tree": _tree(slug_dir),
            "docs": _docs(slug_dir, corpus),
            "tables": sorted(
                t[: -len(slug)] + "<slug>"
                for t in tables if t.endswith(f"_{slug}")
            ),
        }
    return {"frames": frames, "slugs": slugs}


def _cleanup(spark, corpus: str) -> None:
    from pycaim_spark.operators.layout import remove_slug_lock_file
    from pycaim_spark.queries import advanced as adv
    from pycaim_spark.queries.relational import _SCRATCH

    root = os.path.join(_SCRATCH, "bucketed_tpch")
    for slug in _corpus_slugs(corpus).values():
        for r in spark.sql(f"SHOW TABLES LIKE '*_{slug}'").collect():
            if r.tableName.endswith(f"_{slug}") and not r.isTemporary:
                spark.sql(f"DROP TABLE IF EXISTS {r.tableName}")
                adv._ATTACHED.pop(r.tableName, None)
        shutil.rmtree(os.path.join(root, slug), ignore_errors=True)
        remove_slug_lock_file(os.path.join(root, slug))


def test_layout_builders_output_is_pinned(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("PYCAIM_LAYOUT_GC_GRACE", "3600")
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    for t in ("lineitem", "orders"):
        shutil.copy(os.path.join(sf_dir, f"{t}.parquet"),
                    os.path.join(corpus, f"{t}.parquet"))
    try:
        got = _record(spark, corpus)
    finally:
        _cleanup(spark, corpus)
    with open(GOLDEN) as f:
        want = json.load(f)
    assert got["frames"] == want["frames"]
    assert sorted(got["slugs"]) == sorted(want["slugs"])
    for ident in want["slugs"]:
        for part in ("tree", "docs", "tables"):
            assert got["slugs"][ident][part] == want["slugs"][ident][part], (
                ident, part,
            )
