"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of its arguments (``seed`` feeds NumPy
``default_rng``) and writes parquet with fixed writer options, so the
same arguments give byte-identical files. The program under test only
ever sees the paths.

- :func:`tpch_replica` — a ×N replica of the repository's TPC-H fixture
  (all ten tables, so every registry view resolves), made by the
  repository's own scaler; it does not depend on the seed.
- :func:`caim_frame` — ``(f0..fF-1, label)`` with per-feature distinct
  counts from 10^2 to 5·10^4 and a fixed class count.
- :func:`llm_corpus` — base documents + one parquet per ingest day with
  planted near-duplicates, matching clustered 64-d embeddings, a JSON
  manifest with the planted pairs, the delete schedule, and the NumPy
  exact cosine top-5 of the query vectors after every day.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Vocabulary of the repository's ``documents`` fixture.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

LANGS = ["de", "en", "es", "fr", "zh"]

EMB_DIM = 64

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_table(table: pa.Table, path: str, row_group_size: int = 65536) -> None:
    """Deterministic parquet write: fixed codec, no pandas metadata."""
    table = table.replace_schema_metadata(None)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size)


def _words(rng, n_docs: int, lo: int = 10, hi: int = 100) -> list[list[str]]:
    lens = rng.integers(lo, hi + 1, n_docs)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append([VOCAB[i] for i in idx[pos:pos + k]])
        pos += k
    return out


def _docs_table(ids, words, rng) -> pa.Table:
    text = [" ".join(w) for w in words]
    n = len(text)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def _emb_table(ids, vecs, labels) -> pa.Table:
    flat = pa.array(np.asarray(vecs, dtype=np.float32).reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, EMB_DIM).cast(
            pa.list_(pa.float32())),
        "label": pa.array(np.asarray(labels, dtype=np.int32)),
    })


def _scaler():
    """The repository's fixture scaler, ``tools/make_scaled_sf.py``."""
    path = os.path.join(ROOT, "tools", "make_scaled_sf.py")
    spec = importlib.util.spec_from_file_location("make_scaled_sf", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def tpch_replica(out: str, factor: int, base: str) -> dict[str, int]:
    """``factor``× replica of the TPC-H fixture ``base`` in ``out``, made
    by ``make_scaled_sf.scale_dir`` (key offsets per replica, the
    fixture's own values and physical types); returns rows per table."""
    with contextlib.redirect_stdout(sys.stderr):
        _scaler().scale_dir(base, out, factor)
    return {name[:-len(".parquet")]: pq.ParquetFile(os.path.join(out, name)).metadata.num_rows
            for name in sorted(os.listdir(out)) if name.endswith(".parquet")}


#: Distinct values per CAIM feature: 10^2 .. 5·10^4 (all below the
#: estimator's default maxCandidates, so the fit is exact).
CAIM_DISTINCT = (100, 1_000, 5_000, 20_000, 50_000)
CAIM_CLASSES = 4


def caim_frame(out: str, seed: int, rows: int) -> dict:
    """``(f0..f4 double, label int)`` parquet; returns a summary dict.

    Each class shifts each feature's mean, so CAIM finds informative cuts;
    feature j is quantised onto ``CAIM_DISTINCT[j]`` grid points, which
    fixes its distinct count (and so the greedy's work) independent of
    the seed."""
    rng = np.random.default_rng([seed, 2])
    label = rng.integers(0, CAIM_CLASSES, rows).astype(np.int32)
    cols = {}
    for j, m in enumerate(CAIM_DISTINCT):
        shift = rng.uniform(0.5, 1.5) * (label - (CAIM_CLASSES - 1) / 2.0)
        z = rng.standard_normal(rows) + shift
        grid = np.clip(np.floor((z + 5.0) / 10.0 * m), 0, m - 1)
        cols[f"f{j}"] = pa.array(grid / m * 10.0 - 5.0)
    cols["label"] = pa.array(label)
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    write_table(pa.table(cols), out)
    return {"rows": rows, "features": [f"f{j}" for j in range(len(CAIM_DISTINCT))]}


def _mutate(rng, words: list[str], rate: float = 0.1) -> list[str]:
    """Near-duplicate: replace ~rate of the words (at least one)."""
    w = list(words)
    k = max(1, int(round(rate * len(w))))
    for pos in rng.choice(len(w), size=k, replace=False):
        w[pos] = VOCAB[(VOCAB.index(w[pos]) + int(rng.integers(1, len(VOCAB))))
                       % len(VOCAB)]
    return w


def _clustered(rng, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectors around random centres with per-vector jitter of relative
    norm U(1, 3): cos to the centre ≈ 0.3–0.7, which overlaps the
    similarity between neighbouring clusters, so an index that probes too
    few cells loses recall."""
    labels = rng.integers(0, len(centers), n)
    s = rng.uniform(1.0, 3.0, (n, 1))
    noise = rng.standard_normal((n, EMB_DIM)) * s / np.sqrt(EMB_DIM)
    v = centers[labels] + noise
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32), labels


def exact_topk(corpus_ids: np.ndarray, corpus: np.ndarray,
               query_ids: np.ndarray, k: int = 5) -> dict[int, list[int]]:
    """Exact cosine top-k (self excluded; ties by lower id) per query id."""
    order = np.argsort(corpus_ids, kind="stable")
    ids, x = corpus_ids[order], corpus[order].astype(np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    pos = np.searchsorted(ids, query_ids)
    sims = x[pos] @ x.T
    sims[np.arange(len(pos)), pos] = -np.inf
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return {int(q): [int(i) for i in ids[t]] for q, t in zip(query_ids, top)}


def llm_corpus(out: str, seed: int, base_docs: int, day_docs: int, days: int,
               dup_frac: float = 0.2, n_queries: int = 10,
               delete_day: int = 2, delete_frac: float = 0.02) -> dict:
    """Base corpus + ``days`` ingest slices (day 0 is the warm-up day).

    Writes ``base_docs.parquet``, ``base_emb.parquet``,
    ``day_XXX_docs.parquet``, ``day_XXX_emb.parquet``, ``deletes.parquet``
    and ``manifest.json`` under ``out``; returns the manifest.

    A planted near-duplicate copies a live earlier document with ~10% of
    its words replaced: 70% copy a base document, 30% a fresh
    (non-planted) document of the previous day, which sits in an
    un-compacted append layer when the day is probed. Sources are never
    deleted or queried. The delete batch (``delete_frac`` of the base)
    removes documents and their vectors at the start of ``delete_day``,
    before that day's probe; a quarter of that day's copies are made from
    deleted documents instead (``tombstoned``), so their truth is "new"
    and matching one means the probe read a deleted signature. ``topk``
    holds the exact top-5 over the live vectors after each day's append."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    centers = rng.standard_normal((64, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    base_ids = np.arange(base_docs, dtype=np.int64)
    base_words = _words(rng, base_docs)
    write_table(_docs_table(base_ids, base_words, rng),
                os.path.join(out, "base_docs.parquet"))
    base_vecs, base_lab = _clustered(rng, centers, base_docs)
    write_table(_emb_table(base_ids, base_vecs, base_lab),
                os.path.join(out, "base_emb.parquet"))

    candidates = base_ids[n_queries:]
    n_del = int(round(delete_frac * base_docs))
    deleted = np.sort(rng.choice(candidates, size=n_del, replace=False))
    write_table(pa.table({"doc_id": pa.array(deleted)}),
                os.path.join(out, "deletes.parquet"))
    sources = np.setdiff1d(candidates, deleted)

    words_by_id = dict(zip(base_ids.tolist(), base_words))
    live_ids = [base_ids]
    live_vecs = [base_vecs]
    planted: dict[str, int] = {}
    tombstoned: dict[str, int] = {}
    topk: list[dict[str, list[int]]] = []
    prev_fresh: list[int] = []
    next_id = base_docs
    query_ids = np.arange(n_queries, dtype=np.int64)
    for day in range(days):
        ids = np.arange(next_id, next_id + day_docs, dtype=np.int64)
        next_id += day_docs
        n_dup = int(round(dup_frac * day_docs))
        dup_pos = set(rng.choice(day_docs, size=n_dup, replace=False).tolist())
        fresh_words = _words(rng, day_docs)
        words, fresh = [], []
        for i, doc_id in enumerate(ids.tolist()):
            if i in dup_pos:
                if day == delete_day and rng.random() < 0.25:
                    src = int(deleted[rng.integers(0, len(deleted))])
                    tombstoned[str(doc_id)] = src
                elif prev_fresh and rng.random() < 0.3:
                    src = int(prev_fresh[rng.integers(0, len(prev_fresh))])
                    planted[str(doc_id)] = src
                else:
                    src = int(sources[rng.integers(0, len(sources))])
                    planted[str(doc_id)] = src
                words.append(_mutate(rng, words_by_id[src]))
            else:
                words.append(fresh_words[i])
                fresh.append(doc_id)
        words_by_id.update(zip(ids.tolist(), words))
        prev_fresh = fresh
        write_table(_docs_table(ids, words, rng),
                    os.path.join(out, f"day_{day:03d}_docs.parquet"))
        vecs, lab = _clustered(rng, centers, day_docs)
        write_table(_emb_table(ids, vecs, lab),
                    os.path.join(out, f"day_{day:03d}_emb.parquet"))
        live_ids.append(ids)
        live_vecs.append(vecs)
        all_ids = np.concatenate(live_ids)
        all_vecs = np.concatenate(live_vecs)
        if day >= delete_day:
            keep = ~np.isin(all_ids, deleted)
            all_ids, all_vecs = all_ids[keep], all_vecs[keep]
        topk.append({str(q): v for q, v in
                     exact_topk(all_ids, all_vecs, query_ids).items()})
    manifest = {
        "seed": seed, "base_docs": base_docs, "day_docs": day_docs,
        "days": days, "n_queries": n_queries, "delete_day": delete_day,
        "deleted": deleted.tolist(), "planted": planted,
        "tombstoned": tombstoned, "topk": topk,
    }
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest
