"""Embedding-similarity primitives (SURVEY.md §2.C).

Column-expression helpers build JVM-side higher-order functions — the dot
product is a ``zip_with`` + left-fold ``aggregate`` in index order, which
both Spark and the DuckDB oracle (``list_reduce``) evaluate identically in
IEEE double, so exact-cosine queries hash-match without tolerance.

Scale design: norms are precomputed per vector (one projection) before any
pair join; the brute-force path crossJoins a small query set against the
corpus (broadcast the queries); the approximate paths bucket the corpus so
the pair space never materializes.

The persisted IVF-PQ store (``ivf_pq_index_*``, ``ivf_pq_codes_vacuum``)
commits through the shared protocol in ``operators/commit.py``:
``codes_v{N}`` (with its ``_index.npz`` sidecar inside) behind
``codes_current.json``, immutable ``codes_app/<key>.<seq>`` and
``codes_del/<key>.<seq>`` layers named by that pointer, two-phase grace
GC.
"""

from __future__ import annotations

import os
import sys as _sys

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pycaim_spark.operators import commit

try:
    from pyspark import cloudpickle as _cloudpickle
except ImportError:  # pragma: no cover
    import cloudpickle as _cloudpickle


def dot_expr(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as a left fold in index order (bit-stable across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


# SQL twins of the expressions above, for oracle construction.
DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)
NORM_SQL = "sqrt(" + DOT_SQL.format(a="{a}", b="{a}") + ")"


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH bucketing."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def bucketed_cosine_neighbors(
    emb: DataFrame,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    min_cos: float = 0.3,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Approximate near-neighbor pairs via banded sign-LSH: ``n_tables``
    independent ``n_planes``-bit signatures; a pair is a candidate if it
    collides in ANY table (OR-of-bands — the same recall construction as
    MinHash banding). Exact cosine is then evaluated only on candidates.

    Collision probability per table is (1 - θ/π)^n_planes, so recall at
    cos=0.3 with 4×16 is ≈ 1-(1-0.6^4)^16 ≈ 0.89 while the evaluated pair
    space stays a small fraction of all-pairs. Returns (vec_a, vec_b, cos)
    with vec_a < vec_b, bit-identical cosine to the exact operator.

    Dense-clique safeguard: a bucket wider than ``max_bucket_width`` (env
    ``PYCAIM_LSH_MAX_BUCKET``, default 256; 0 disables) degrades to STAR
    candidates against its min-id member — ≤ m−1 pairs instead of m²/2,
    so replica-dense corpora bound the pair list instead of exhausting the
    JVM; connectivity survives for downstream clustering. The guard is
    INPUT-side: bucket widths are counted JVM-side (a window over the
    bucket key) *before* the grouped map, and wide buckets are star-paired
    as a JVM projection, so no pandas group ever materializes more than
    ``max_bucket_width`` embeddings in one Arrow batch — a width-W replica
    clique costs O(W) shuffled rows, never a W×dim single-task matrix.
    The gemm raises if a wider group ever reaches it (fail fast beats a
    silent executor OOM at 100 TB).
    """
    import os

    import numpy as np
    import pandas as pd

    if max_bucket_width is None:
        max_bucket_width = int(os.environ.get("PYCAIM_LSH_MAX_BUCKET", "256"))

    # All-table signatures in ONE Arrow-batched matrix multiply per batch:
    # (batch × dim) @ (dim × n_tables·n_planes) then sign-pack per table.
    # ~64 HOF fold expressions per row would evaluate interpretively; the
    # BLAS path is two orders of magnitude cheaper and equally
    # deterministic on fixed inputs.
    planes_all = np.vstack(
        [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )  # (n_tables*n_planes, dim)

    def _signatures(col):
        mat = np.stack(col.to_numpy())  # (batch, dim) float32
        bits = (mat.astype(np.float64) @ planes_all.T) >= 0  # (batch, T*P)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        sigs = bits.reshape(len(mat), n_tables, n_planes) @ weights
        return pd.Series(list(sigs.astype(np.int64)))

    # asNondeterministic: guide-§4.4 single-evaluation pin. posexplode of
    # the signature column makes Catalyst infer a `size(sigs) > 0 AND
    # isnotnull(sigs)` filter and push it below the projection, which
    # DUPLICATES the ArrowEvalPython node — every row paid the BLAS
    # signature pass twice per branch (4× per query with the star branch;
    # plans/r18/sim_lsh_bucketed_before.txt operators 3/6/18/21). The
    # function is pure on fixed inputs; the flag only forbids Catalyst
    # from reordering/duplicating it, so results are unchanged. This pin
    # and the keep-alives below beat both the r17 form and the pin alone
    # (ISOLATE_r18.json `sim_lsh_unify_paired_series`,
    # `sim_lsh_unify_sf10_series`).
    signatures = F.pandas_udf(_signatures, "array<long>").asNondeterministic()

    sig = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        norm_expr(F.col("embedding")).alias("_norm"),
        signatures(F.col("embedding")).alias("sigs"),
    )
    # (table_id, signature) is the bucket key; posexplode keeps tables
    # independent. Candidate generation runs INSIDE each bucket as one
    # BLAS gemm (applyInPandas): a bucket of m members scores its m²/2
    # pairs in a single matrix multiply and emits only near-threshold ids
    # — the full candidate pair space (the overwhelming majority of which
    # scores below threshold) is never materialized as rows or shuffled.
    # At 100 TB each bucket is one task; oversized buckets are the skew
    # knob (cap bucket size or add planes).
    buckets = sig.select(
        "vec_id", "embedding", "_norm",
        F.posexplode("sigs").alias("table_id", "bucket"),
    )

    # The gemm prefilter keeps a 1e-6 safety margin below min_cos: BLAS
    # summation order differs from the index-order fold by ~1e-14, and
    # HALF_UP rounding at 6 dp can lift a raw cosine by at most 5e-7, so
    # no pair whose EXACT rounded cosine passes the threshold is lost.
    margin = 1.0e-6

    def _bucket_pairs(pdf):
        if max_bucket_width and len(pdf) > max_bucket_width:
            # The JVM-side width filter routes wide buckets to the star
            # path BEFORE this grouped map; reaching here means the
            # input-side guard is broken — fail fast, don't OOM a task.
            raise RuntimeError(
                f"sign-LSH bucket of width {len(pdf)} reached the gemm "
                f"(cap {max_bucket_width}); input-side guard breached"
            )
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        nrm = pdf["_norm"].to_numpy()
        cos = (mat @ mat.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= min_cos - margin
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b)}
        ).astype("int64")

    if max_bucket_width:
        # INPUT-side clique guard: bucket widths must be known BEFORE the
        # grouped map so no pandas group ever materializes more than the
        # cap. ONE exchange + ONE sort total: a window over the bucket key
        # tags every exploded row with its width and bucket-min, and the
        # grouped map reuses both the partitioning and the sort order the
        # window established; the narrow/star split is a filter, no
        # joins, and the signature UDF runs once, below the exchange.
        # Wide buckets star-pair against the bucket min id as a JVM
        # projection, so a width-W replica clique costs O(W) shuffled rows
        # and no W×dim Arrow batch ever reaches a task; the exact-scoring
        # join below applies the same min_cos filter to star pairs the
        # gemm prefilter would have. This shape beat nopart, single and
        # dual (ISOLATE_r8.json: 1.61 vs 1.89 / 2.53 / 2.44 s at sf0.1)
        # and won every canary-clean sf10 round, but tails worse under
        # memory pressure (ISOLATE_r18.json
        # `sim_guard_shape_window_vs_nopart_sf10_series`,
        # `sim_guard_shape_window_vs_single_sf10_series`).
        from pyspark.sql import Window

        w = Window.partitionBy("table_id", "bucket")
        tagged = buckets.select(
            "*",
            F.count(F.lit(1)).over(w).alias("_w"),
            F.min("vec_id").over(w).alias("_min_id"),
        )
        # Canonical-subtree keep-alive (row-level no-op: sizes are ≥ 0
        # for non-null arrays and _norm is a sqrt): without a reference
        # to embedding/_norm ABOVE the window, column pruning skinnies
        # the star branch's copy of the bucket exchange to (vec_id,
        # table_id, bucket) while the gemm branch carries the vectors —
        # the canonicalized subtrees then differ and ReuseExchange cannot
        # dedup them, so the scan + signature UDF + explode + shuffle all
        # ran TWICE (plans/r18/sim_lsh_bucketed_before.txt operators 1-9
        # vs 16-24). These predicates sit above the window (they are not
        # partition-key filters, so they cannot be pushed below it) and
        # force the same wide exchange on both branches.
        star_cond = (
            (F.col("_w") > max_bucket_width)
            & (F.col("vec_id") != F.col("_min_id"))
            & (F.size("embedding") >= 0)
            & (F.col("_norm") >= 0)
        )
        star = tagged.filter(star_cond).select(
            F.col("_min_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
        )
        narrow = tagged.filter(F.col("_w") <= max_bucket_width).drop(
            "_w", "_min_id"
        )
        candidates = (
            narrow.groupBy("table_id", "bucket")
            .applyInPandas(_bucket_pairs, "vec_a long, vec_b long")
            .unionAll(star)
            .dropDuplicates(["vec_a", "vec_b"])
        )
    else:
        candidates = (
            buckets.groupBy("table_id", "bucket")
            .applyInPandas(_bucket_pairs, "vec_a long, vec_b long")
            .dropDuplicates(["vec_a", "vec_b"])
        )
    # Final score: the SAME index-order fold + HALF_UP round as the exact
    # all-pairs operator, so surviving pairs carry bit-identical cosines.
    # Runs only on the few candidates that pass the prefilter. Built from
    # ``emb`` directly (not ``sig``): the verify side never needs the
    # signature column, and deriving it from the projection that carries
    # the now-non-deterministic UDF would leave Catalyst unable to prune
    # the UDF out of the broadcast subtree.
    vecs = emb.select(
        "vec_id", "embedding", norm_expr(F.col("embedding")).alias("_norm")
    )
    joined = (
        candidates.join(vecs.alias("va"), candidates.vec_a == F.col("va.vec_id"))
        .join(vecs.alias("vb"), candidates.vec_b == F.col("vb.vec_id"))
    )
    cos = F.round(
        dot_expr(F.col("va.embedding"), F.col("vb.embedding"))
        / (F.col("va._norm") * F.col("vb._norm")),
        6,
    )
    return joined.select("vec_a", "vec_b", cos.alias("cos")).filter(
        F.col("cos") >= min_cos
    )


def _spherical_kmeans(
    sample: np.ndarray, n_cells: int, iters: int, seed: int
) -> np.ndarray:
    """Seeded spherical k-means over a driver-side sample — the IVF coarse
    quantizer. Deterministic: seeded uniform init, fixed iteration count,
    empty cells keep their previous centroid.

    Uniform seeding is the MEASURED winner for recall at fixed nprobe
    (VERDICT r11 #6 tried k-means++ and more Lloyd iterations;
    SCALING_r12.json `ivf_init_grid`): k-means++ spreads seeds toward
    outliers, fragmenting the dense regions where the true neighbors
    live across more cells than nprobe covers — sf0.1 recall@5 dropped
    0.72→0.60 (sim_ivf) and 0.80→0.74 (sim_ivf_pq registry settings);
    iters 10→25 moved nothing. Good k-means objective ≠ good
    fixed-nprobe recall."""
    rng = np.random.default_rng(seed)
    x = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    centroids = x[rng.choice(len(x), size=n_cells, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ centroids.T, axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / np.linalg.norm(m)
    return centroids


def ivf_topk_neighbors(
    emb: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    n_queries: int = 10,
    sample_size: int = 1024,
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine neighbors — the
    FAISS-style scale path next to sign-LSH bucketing:

    1. Train ``n_cells`` coarse centroids by spherical k-means on a
       driver-side sample (standard IVF practice — FAISS trains on a
       sample too; at 100 TB swap the deterministic head sample for
       ``df.sample(fraction)``).
    2. Assign every corpus vector to its nearest centroid — one
       Arrow-batched matrix multiply, no shuffle (centroids travel in the
       UDF closure; ~n_cells·dim·8 bytes).
    3. Each query probes its ``nprobe`` nearest cells; the candidate join
       is an equi-join on cell id, so the scored pair space is
       ``nprobe/n_cells`` of brute force and partitions cleanly by cell.

    Returns (query_id, neighbor_id, cos, rn) — same shape as
    ``sim_cosine_exact`` so recall is directly measurable.
    """
    import pandas as pd
    from pyspark.sql import Window

    sample = np.stack(
        emb.orderBy("vec_id")
        .limit(sample_size)
        .select("embedding")
        .toPandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    centroids = _spherical_kmeans(sample, n_cells, iters, seed)

    def _nearest_cell(col):
        mat = np.stack(col.to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series(np.argmax(mat @ centroids.T, axis=1).astype(np.int32))

    def _probe_cells(col):
        mat = np.stack(col.to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        order = np.argsort(-(mat @ centroids.T), axis=1)[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    nearest_cell = F.pandas_udf(_nearest_cell, "int")
    probe_cells = F.pandas_udf(_probe_cells, "array<int>")

    v = emb.select(
        "vec_id", "embedding", norm_expr(F.col("embedding")).alias("_norm")
    )
    # Cell-partitioned corpus: the IVF storage layout a cluster would use.
    # Also the local parallelism fix — an embedding table is few BYTES but
    # heavy per ROW (the scoring fold is per-element), so byte-sized input
    # splits under-parallelize it: at sf10 the embeddings file fits one
    # 128 MiB split, serializing assign+probe on one task. Isolate A/B at
    # sf10: 4.66 s unpartitioned → 2.83 s cell-partitioned
    # (ISOLATE_r8.json ivf_*_sf10).
    corpus = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("_norm").alias("c_norm"),
        nearest_cell("embedding").alias("cell"),
    ).repartition(
        emb.sparkSession.sparkContext.defaultParallelism, F.col("cell")
    )
    queries = (
        v.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("_norm").alias("q_norm"),
            F.explode(probe_cells("embedding")).alias("cell"),
        )
    )
    cos = F.round(
        dot_expr(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


def _pq_train(
    x: np.ndarray, m: int, k_centroids: int, iters: int, seed: int
) -> np.ndarray:
    """Seeded per-subspace L2 k-means codebooks (m, k_centroids, dim/m) —
    shared by flat PQ (raw vectors) and IVF-PQ (cell residuals)."""
    dim = x.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m
    rng = np.random.RandomState(seed)
    codebooks = np.empty((m, k_centroids, sub))
    for i in range(m):
        xi = x[:, i * sub : (i + 1) * sub]
        cent = xi[rng.choice(len(xi), k_centroids, replace=False)]
        for _ in range(iters):
            d2 = ((xi[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(k_centroids):
                mask = assign == c
                if mask.any():
                    cent[c] = xi[mask].mean(0)
        codebooks[i] = cent
    return codebooks


def _exact_rerank(
    emb: DataFrame, cand: DataFrame, q_rows, k: int
) -> DataFrame:
    """Re-rank (query_id, neighbor_id) candidates with the EXACT JVM-side
    cosine (same index-order fold + rounding as sim_cosine_exact), so every
    returned cos is exact and recall is the only approximation. Shared tail
    of the PQ and IVF-PQ operators."""
    from pyspark.sql import Window

    queries_df = F.broadcast(
        emb.sparkSession.createDataFrame(
            [(int(r.vec_id), list(map(float, r.embedding))) for r in q_rows],
            "query_id int, q_emb array<double>",
        ).select(
            "query_id", "q_emb", norm_expr(F.col("q_emb")).alias("q_norm")
        )
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        norm_expr(F.col("embedding")).alias("c_norm"),
    )
    cos = F.round(
        dot_expr(F.col("q_emb"), F.col("c_emb"))
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(queries_df, "query_id")
        .join(v, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


def pq_topk_neighbors(
    emb: DataFrame,
    m: int = 8,
    k_centroids: int = 16,
    k: int = 5,
    n_queries: int = 10,
    n_candidates: int = 256,
    sample_size: int = 1024,
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Product-quantization (PQ) approximate top-k cosine neighbors — the
    memory-compression scale path next to IVF and sign-LSH: each vector is
    stored as ``m`` one-byte codes (64 float32 → 8 bytes here, 32×), and
    queries scan CODES, not vectors, via asymmetric distance (ADC).

    1. Train ``m`` per-subspace codebooks (``k_centroids`` L2 k-means
       centroids over each dim/m-wide slice) on a driver-side sample —
       standard PQ practice (FAISS trains codebooks on a sample too).
    2. Encode the corpus: nearest centroid per subspace → ``codes``
       (array<int>, the compressed representation) plus the
       reconstruction norm ``Σ_m |centroid|²`` (exact because subspaces
       are orthogonal) — one Arrow-batched pass, no shuffle.
    3. ADC scoring FROM CODES ONLY: per query, a ``m × k_centroids``
       look-up table of subspace dot products travels in the UDF closure;
       a corpus row's approximate cosine is ``Σ lut[i][code_i]`` over its
       codes divided by (query norm · reconstruction norm). No join — the
       scorer emits one score per query via posexplode.
    4. The top ``n_candidates`` per query by ADC are re-ranked with the
       EXACT JVM-side cosine (broadcast equi-join on query id), so every
       returned cos is exact and recall is the only approximation — same
       output shape as ``sim_cosine_exact`` / ``ivf_topk_neighbors``.

    At 100 TB the codes table is ~1/30 the bytes of the vectors, scans
    stay Arrow-batched and shuffle-free, and the only joins are the tiny
    candidate re-rank — combine with the IVF cell layout for the full
    IVF-PQ design.

    ``n_candidates`` defaults to 256 (raised from 32 in r11): on the
    near-isotropic fixture embeddings — the adversarial case for ADC
    ranking — recall@5 at sf0.1 went 0.40 → 0.82 (PQ) and 0.30 → 0.70
    (IVF-PQ) while wall time at sf10 was flat-to-better, because the
    exact re-rank is per-query bounded (256 vectors/query) regardless
    of corpus size (SCALING_r11.json ``ann_candidates_retune``).
    """
    import pandas as pd
    from pyspark.sql import Window

    sample = np.stack(
        emb.orderBy("vec_id")
        .limit(sample_size)
        .select("embedding")
        .toPandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    dim = sample.shape[1]
    sub = dim // m
    codebooks = _pq_train(sample, m, k_centroids, iters, seed)
    cent_sqnorm = (codebooks**2).sum(-1)  # (m, K)

    q_rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    q_mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in q_rows])
    q_norms = np.linalg.norm(q_mat, axis=1)
    # luts[q][i][c] = dot(query_q subspace i, codebook[i][c])
    luts = np.einsum(
        "qis,ics->qic", q_mat.reshape(len(q_rows), m, sub), codebooks
    )

    def _encode(col):
        mat = np.stack(col.to_numpy()).astype(np.float64)
        parts = mat.reshape(len(mat), m, sub)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for i in range(m):
            d2 = ((parts[:, i, None, :] - codebooks[None, i]) ** 2).sum(-1)
            codes[:, i] = d2.argmin(1)
        recon = np.sqrt(cent_sqnorm[np.arange(m), codes].sum(1))
        return pd.DataFrame({"codes": list(codes), "recon_norm": recon})

    encode = F.pandas_udf(_encode, "codes array<int>, recon_norm double")

    def _adc_scores(codes, recon):
        c = np.stack(codes.to_numpy())  # (rows, m)
        # Σ_i lut[q][i][c_i]: gather per subspace, sum — codes only.
        dots = luts[:, np.arange(m), c].sum(-1)  # (q, rows)
        approx = dots / (q_norms[:, None] * recon.to_numpy()[None, :])
        return pd.Series(list(approx.T))

    adc = F.pandas_udf(_adc_scores, "array<double>")

    # The ADC array is positional (row i of q_rows); map position back to
    # the ACTUAL query vec_id so the self-match filter and the re-rank join
    # (both keyed by vec_id) stay correct even if some vec_id < n_queries
    # is absent from the table (position and id would silently diverge).
    query_id_at = F.array(*[F.lit(int(r.vec_id)) for r in q_rows])

    coded = emb.select("vec_id", encode("embedding").alias("_pq")).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_pq.codes").alias("codes"),
        F.col("_pq.recon_norm").alias("recon_norm"),
    )
    scored = (
        coded.select(
            "neighbor_id",
            F.posexplode(adc("codes", "recon_norm")).alias("_qpos", "approx"),
        )
        .select(
            "neighbor_id",
            "approx",
            F.element_at(query_id_at, F.col("_qpos") + 1).alias("query_id"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("_r", F.row_number().over(wa))
        .filter(F.col("_r") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(emb, cand, q_rows, k)


def ivf_pq_topk_neighbors(
    emb: DataFrame,
    n_cells: int = 32,
    nprobe: int = 12,
    m: int = 8,
    k_centroids: int = 32,
    k: int = 5,
    n_queries: int = 10,
    n_candidates: int = 512,
    sample_size: int = 1024,
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ approximate top-k cosine neighbors — the composition the two
    parents promise (VERDICT r8 #3): IVF's cell layout prunes WHICH rows a
    query scans (``nprobe/n_cells`` of the corpus), PQ's codes shrink WHAT
    a scan reads (dim float32 → m bytes) — together the standard
    billion-vector index design (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011; FAISS ``IVFx,PQy``).

    1. Train the coarse quantizer (spherical k-means cells) AND the PQ
       codebooks on one driver-side sample; codebooks quantize cell
       RESIDUALS (x − centroid), the classic trick — residuals are small
       so the same 8 bytes carry far less quantization error than raw-PQ.
    2. Encode the corpus in one Arrow pass: cell id + residual codes +
       exact reconstruction norm |centroid + decoded residual|; lay the
       codes out cell-partitioned (the IVF storage layout — and the local
       parallelism fix measured on sim_ivf, ISOLATE_r8.json ivf_*).
    3. A query scores ONLY rows in its ``nprobe`` nearest cells (tiny
       broadcast probe frame joined on cell id), from codes alone:
       dot(q, x) ≈ dot(q, centroid_cell) + Σ lut[i][code_i], both terms
       from closure-resident tables — no vector column is read.
    4. Exact JVM re-rank of the top ``n_candidates`` per query (shared
       ``_exact_rerank`` tail) — returned cosines are bit-exact.

    ``k_centroids`` defaults to 32 (raised from 16 in r11): at nprobe=12
    of 32 cells the cell-coverage cap on the near-isotropic fixture
    corpus is recall 0.80, and the 4-bit codebooks' ADC error was what
    kept IVF-PQ at 0.70 below its own cap — 5-bit codebooks close the
    gap exactly to 0.80 at unchanged scan and re-rank volume
    (SCALING_r11.json ``ivfpq_kc_retune``). Codes stay ≤ 1 byte per
    subquantizer, so the 8-byte-codes storage contract is unchanged.

    ``n_candidates`` defaults to 512 (raised from 256 in r13, matching
    sim_pq's r12 retune): on the perturbed scale corpora the wider ADC
    shortlist lifts recall@5 0.80→0.86 at sf1 and 0.90→0.96 at sf10 with
    no wall regression observed (single-run grid, so the recall lift is
    the supported claim, not a quantified wall bound — ADVICE r13);
    structurally the shortlist only widens the exact re-rank
    (n_candidates×|Q| rows), not the code scan. nc=1024 buys sf1 0.92
    but at +36% wall on the same grid; declined (SCALING_r13.json
    ``ivfpq_nc_grid``).
    n_candidates is a QUERY-time knob: stored indexes' codes are
    unchanged, so persisted stores stay valid across this retune.
    """
    sample = np.stack(
        emb.orderBy("vec_id")
        .limit(sample_size)
        .select("embedding")
        .toPandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    centroids = _spherical_kmeans(sample, n_cells, iters, seed)
    s_normed = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    s_cells = np.argmax(s_normed @ centroids.T, axis=1)
    codebooks = _pq_train(sample - centroids[s_cells], m, k_centroids, iters, seed)

    coded = _ivf_pq_encode(emb, centroids, codebooks)
    return _ivf_pq_query(
        emb, coded, centroids, codebooks, nprobe, k, n_queries, n_candidates
    )


def _ivf_pq_encode(
    emb: DataFrame, centroids: np.ndarray, codebooks: np.ndarray
) -> DataFrame:
    """Corpus → (neighbor_id, cell, codes, recon_norm): one Arrow pass,
    cell-partitioned output (the IVF storage layout)."""
    import pandas as pd

    m, _, sub = codebooks.shape

    def _encode(col):
        mat = np.stack(col.to_numpy()).astype(np.float64)
        mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cells = np.argmax(mn @ centroids.T, axis=1)
        resid = (mat - centroids[cells]).reshape(len(mat), m, sub)
        codes = np.empty((len(mat), m), dtype=np.int32)
        recon = centroids[cells].copy()
        for i in range(m):
            d2 = ((resid[:, i, None, :] - codebooks[None, i]) ** 2).sum(-1)
            codes[:, i] = d2.argmin(1)
            recon[:, i * sub : (i + 1) * sub] += codebooks[i][codes[:, i]]
        return pd.DataFrame(
            {
                "cell": cells.astype(np.int32),
                "codes": list(codes),
                "recon_norm": np.linalg.norm(recon, axis=1),
            }
        )

    encode = F.pandas_udf(_encode, "cell int, codes array<int>, recon_norm double")
    return (
        emb.select("vec_id", encode("embedding").alias("_e"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("_e.cell").alias("cell"),
            F.col("_e.codes").alias("codes"),
            F.col("_e.recon_norm").alias("recon_norm"),
        )
        .repartition(
            emb.sparkSession.sparkContext.defaultParallelism, F.col("cell")
        )
    )


def _ivf_pq_query(
    emb: DataFrame,
    coded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int,
    k: int,
    n_queries: int,
    n_candidates: int,
) -> DataFrame:
    """Query side of IVF-PQ: probe frame → ADC over codes in probed cells
    → exact re-rank. Shared by the inline and stored-index operators."""
    import pandas as pd

    m, _, sub = codebooks.shape
    q_rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    q_mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in q_rows])
    q_norms = np.linalg.norm(q_mat, axis=1)
    qn = q_mat / q_norms[:, None]
    q_cells = np.argsort(-(qn @ centroids.T), axis=1)[:, :nprobe]
    qc_dots = q_mat @ centroids.T  # (n_q, n_cells): the dot(q, centroid) term
    luts = np.einsum(
        "qis,ics->qic", q_mat.reshape(len(q_rows), m, sub), codebooks
    )

    def _adc(qpos, cell, codes, recon):
        qp = qpos.to_numpy()
        c = np.stack(codes.to_numpy())
        dots = qc_dots[qp, cell.to_numpy()] + luts[
            qp[:, None], np.arange(m)[None, :], c
        ].sum(1)
        return pd.Series(dots / (q_norms[qp] * recon.to_numpy()))

    adc = F.pandas_udf(_adc, "double")

    # Tiny probe frame: (query position, ACTUAL query vec_id, probed cell);
    # real ids ride along so no positional/id divergence is possible.
    probes = F.broadcast(
        emb.sparkSession.createDataFrame(
            [
                (pos, int(r.vec_id), int(cell))
                for pos, r in enumerate(q_rows)
                for cell in q_cells[pos]
            ],
            "qpos int, query_id int, cell int",
        )
    )
    from pyspark.sql import Window

    scored = (
        coded.join(probes, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            adc("qpos", "cell", "codes", "recon_norm").alias("approx"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("_r", F.row_number().over(wa))
        .filter(F.col("_r") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(emb, cand, q_rows, k)


# Order of the persisted hyperparameter vector in the sidecar's "params".
_INDEX_PARAM_KEYS = (
    "n_cells", "m", "k_centroids", "sample_size", "iters", "seed",
    "algo_version",
)

#: Training-algorithm version persisted with every index. Bump when the
#: TRAINING code changes in a result-affecting way, so a persisted index
#: built by older code is detected instead of silently served (r12: the
#: k-means++ seeding change made every pre-r12 store's centroids stale —
#: caught only because a test compared stored vs inline). A version-only
#: mismatch triggers a deterministic retrain with the same
#: hyperparameters; a genuine hyperparameter mismatch still raises.
#: v2 = k-means++ coarse-centroid seeding (VERDICT r11 #6); v3 = back to
#: uniform seeding after the measured recall decline (SCALING_r12.json
#: `ivf_init_grid`) — distinct from the unversioned v1 stores so that any
#: store built by the short-lived v2 code retrains.
_INDEX_ALGO_VERSION = 3


#: Top-level entries of the retired codes formats (the unversioned
#: ``codes`` dir, its swap dirs, the migration's link-assembly strays,
#: the in-base append manifest, and the listed layer roots and
#: top-level sidecar of the format whose pointer named no layers).
#: This code reads none of them.
_LEGACY = (
    "codes", "codes_next", "codes_old*", "*.assembling", "append_keys.json",
    "codes_append", "codes_deletes", "index.npz",
)

#: The trained centroids, codebooks and build params of a codes
#: version, inside ``codes_v{N}`` (Spark's scan skips ``_``-files), so
#: one pointer parse resolves the arrays and the codes together.
_SIDECAR = "_index.npz"

#: The IVF-PQ coded corpus on disk (``operators/commit.py`` LSM store):
#: ``codes_v{N}`` behind ``codes_current.json`` (``{"version": N, "seq":
#: S, "app_layers": {key: seq}, "del_layers": {key: seq}, "app_folded":
#: [...], "del_folded": [...]}``), and the layers it names,
#: ``codes_app/<key>.<seq>/codes`` and ``codes_del/<key>.<seq>/ids``.
CODES_STORE = commit.LsmStore(
    pointer="codes_current.json",
    base=("codes",),
    append=commit.Layers("codes_app", "app_folded"),
    delete=commit.Layers("codes_del", "del_folded"),
    legacy=_LEGACY,
)


def _sidecar(view: commit.LsmView) -> dict[str, np.ndarray]:
    """Every array of ``view``'s codes-version sidecar, read eagerly."""
    with np.load(os.path.join(view.base["codes"], _SIDECAR)) as idx:
        return dict(idx)


def index_arrays(view: commit.LsmView) -> tuple[np.ndarray, np.ndarray]:
    """The trained (centroids, codebooks) of ``view``'s codes version."""
    idx = _sidecar(view)
    return idx["centroids"], idx["codebooks"]


def ivf_pq_index_build(
    emb: DataFrame,
    store_dir: str,
    n_cells: int = 32,
    m: int = 8,
    k_centroids: int = 32,
    sample_size: int = 1024,
    iters: int = 10,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """Build (or reuse) a PERSISTED IVF-PQ index at ``store_dir``: the
    coded corpus as parquet plus an ``_index.npz`` sidecar inside the
    same version dir holding the trained centroids/codebooks. Idempotent
    — if the pointer names a version the build is skipped entirely,
    which is the deployment shape: at 100 TB
    the index is built once (or incrementally per ingest slice) and every
    query run reads 8-byte codes instead of re-encoding the corpus.
    Training is seeded, so a rebuild reproduces the same index bit-(and
    code-)identically. The build hyperparameters are persisted alongside
    the arrays and re-validated on reuse: a call with different
    n_cells/m/k_centroids/sample_size/iters/seed than the stored build
    raises instead of silently serving the stale index (ADVICE r9); a
    sidecar with no persisted params at all is likewise refused (ADVICE
    r10). Write paths serialize on the store's flock (double-checked
    reuse after acquiring it); a retrain writes the re-coded corpus as a
    NEW VERSION ``codes_v{N+1}`` committed by a flip of the
    ``codes_current.json`` pointer (``operators/commit.py``). Returns
    (centroids, codebooks)."""
    return _index_view(
        emb, store_dir, n_cells, m, k_centroids, sample_size, iters, seed
    )[1:]


def _index_view(emb, store_dir, n_cells, m, k_centroids, sample_size,
                iters, seed):
    """`ivf_pq_index_build` that also returns the view its arrays came
    from: (view, centroids, codebooks), all from ONE pointer parse."""
    params = {
        "n_cells": n_cells,
        "m": m,
        "k_centroids": k_centroids,
        "sample_size": sample_size,
        "iters": iters,
        "seed": seed,
        "algo_version": _INDEX_ALGO_VERSION,
    }

    def _try_reuse(view):
        """Validate ``view``'s sidecar against the requested params:
        arrays on a match, None when a (re)build is needed, ValueError on
        params-less or hyperparameter-mismatched stores. Read-only, so
        the common serve path stays lock-free (np reads the whole npz
        eagerly, and a committed version dir is never rewritten)."""
        if view.version is None:
            return None
        idx = _sidecar(view)
        if "params" not in idx:
            # ADVICE r10: a params-less sidecar is indistinguishable
            # from a stale index — refuse rather than silently serve.
            raise ValueError(
                f"IVF-PQ index at {store_dir} has no persisted build "
                "hyperparameters, so the requested parameters cannot "
                "be validated against it; delete the store and rebuild"
            )
        stored = dict(zip(_INDEX_PARAM_KEYS, idx["params"].tolist()))
        if stored == params:
            return view, idx["centroids"], idx["codebooks"]
        diff = {
            key: (stored.get(key, "absent"), params[key])
            for key in _INDEX_PARAM_KEYS
            if key != "algo_version" and stored.get(key) != params[key]
        }
        if diff:
            raise ValueError(
                f"IVF-PQ index at {store_dir} was built with different "
                f"hyperparameters (stored vs requested): {diff}; "
                "delete the store or match the stored build"
            )
        # Only algo_version differs: the training CODE changed, the
        # request didn't — fall through to a deterministic retrain
        # with the same hyperparameters, replacing the stale index.
        return None

    got = _try_reuse(commit.read_view(CODES_STORE, store_dir, missing_ok=True))
    if got is not None:
        return got
    with commit.store_lock(store_dir):
        # Double-checked: a concurrent build may have completed while we
        # waited on the lock — seeded training is deterministic, so
        # re-validating and serving its result is exact, not approximate.
        got = _try_reuse(
            commit.read_view(CODES_STORE, store_dir, missing_ok=True)
        )
        if got is not None:
            return got
        # Reconcile crash strays and grace-collect tombstoned versions.
        commit.recover(CODES_STORE, store_dir)
        sample = np.stack(
            emb.orderBy("vec_id")
            .limit(sample_size)
            .select("embedding")
            .toPandas()["embedding"]
            .to_numpy()
        ).astype(np.float64)
        centroids = _spherical_kmeans(sample, n_cells, iters, seed)
        s_normed = sample / np.linalg.norm(sample, axis=1, keepdims=True)
        s_cells = np.argmax(s_normed @ centroids.T, axis=1)
        codebooks = _pq_train(
            sample - centroids[s_cells], m, k_centroids, iters, seed
        )
        # A (re)build resets the store to exactly the passed corpus: its
        # one pointer flip names no layer and empty manifests, so BOTH
        # layer families are retired (a surviving append layer would
        # re-enter reads and its manifest key would no-op a
        # re-delivered slice the rebuild just discarded — the r12 bug
        # class; a surviving DELETE layer would silently filter, and the
        # next vacuum physically remove, vectors the retrain corpus
        # intentionally contains — deletion intents target the OLD
        # membership and do not survive a retrain: purge the source
        # corpus instead, per ivf_pq_index_delete's scope note).
        view = commit.read_view(CODES_STORE, store_dir, missing_ok=True)
        new = view._replace(
            version=0 if view.version is None else view.version + 1,
            app_layers={}, del_layers={}, folded=[], del_folded=[],
        )
        codes = new.base["codes"]
        # The sidecar goes in first and the parquet write appends beside
        # it, so the version's _SUCCESS marks both complete.
        os.makedirs(codes)
        commit.write_atomic(
            os.path.join(codes, _SIDECAR),
            lambda f: np.savez(
                f,
                centroids=centroids,
                codebooks=codebooks,
                params=np.array([params[key] for key in _INDEX_PARAM_KEYS]),
            ),
            mode="wb",
        )
        _ivf_pq_encode(emb, centroids, codebooks).write.mode(
            "append"
        ).parquet(codes)
        commit.flip(view, new)
    return new, centroids, codebooks


def ivf_pq_index_append(
    new_emb: DataFrame,
    store_dir: str,
    ingest_key: str,
) -> None:
    """Append new vectors to a PERSISTED IVF-PQ index WITHOUT retraining:
    encode them with the STORED centroids/codebooks — the standard
    production practice (the codebooks model the corpus distribution, not
    its membership; periodic retraining is a separate offline job). r18:
    the slice commits as an APPEND LAYER ``codes_app/<key>.<seq>/codes``
    (`commit.put_layer`: a fresh dir named by a pointer flip — the key
    is the idempotence unit), read by the store's read view
    (`commit.read_view`) alongside
    the base and folded into the next codes version by
    `ivf_pq_codes_vacuum`, which records the key in the pointer's
    ``app_folded`` manifest, so a redelivered slice is never indexed
    twice. Runs under the store write lock. The ANN half of the daily
    ingest loop — new documents become searchable as soon as their
    slice is appended, no index rebuild."""

    def write(fresh):
        # put_layer holds the writer lock: this view is the one it flips.
        centroids, codebooks = index_arrays(
            commit.read_view(CODES_STORE, store_dir)
        )
        _ivf_pq_encode(new_emb, centroids, codebooks).write.mode(
            "overwrite"
        ).parquet(os.path.join(fresh, "codes"))

    commit.put_layer(
        CODES_STORE, store_dir, "append", ingest_key, write
    )


def ivf_pq_index_delete(
    spark,
    store_dir: str,
    vec_ids: DataFrame,
    delete_key: str,
    id_col: str = "vec_id",
) -> None:
    """DELETE vectors from a persisted IVF-PQ index (r18) — the ANN
    twin of `operators/dedup.minhash_signature_store_delete`: after
    this commit the vectors are never returned as neighbors. The ids
    land as a keyed delete layer (`commit.put_layer`); probes apply them
    logically (anti-join the codes scan), `ivf_pq_codes_vacuum` applies
    them physically and records the key in the pointer's
    ``del_folded`` manifest so a replayed delete is a no-op. Note the
    scope: this guards the STORE — a later RETRAIN re-encodes whatever
    corpus it is given, so purge the source corpus too (the layout's
    CDC delete) before retraining."""
    commit.put_layer(
        CODES_STORE, store_dir, "delete", delete_key,
        lambda fresh: (
            vec_ids.select(F.col(id_col).cast("long").alias("neighbor_id"))
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(fresh, "ids"))
        ),
    )


def ivf_pq_codes_vacuum(spark, store_dir: str) -> None:
    """The codes COMPACTION (r18): publish ``codes_v{N+1}`` = (base ∪
    live append layers) minus every live delete layer's ids, flip the
    pointer with BOTH applied manifests folded inside (``app_folded``
    append keys, ``del_folded`` delete keys — replay of either is a
    no-op), then tombstone the displaced version and the applied
    layers (two-phase grace GC, collected by `commit.recover` on later
    write passes). The new version hard-links the trained sidecar first
    and its parquet write appends beside it, as a retrain's does."""
    with commit.store_lock(store_dir):
        commit.recover(CODES_STORE, store_dir)
        view = commit.fold_view(CODES_STORE, store_dir)
        if view is None:
            return
        cur = view.frame(spark, "codes")
        if view.deletes:
            cur = cur.join(
                F.broadcast(view.deleted_ids(spark)), "neighbor_id",
                "left_anti",
            )
        new = commit.base_dirs(CODES_STORE, store_dir, view.version + 1)
        os.makedirs(new["codes"])
        commit.link_files(view.base["codes"], new["codes"],
                          skip=lambda fn: fn != _SIDECAR)
        cur.write.mode("append").parquet(new["codes"])
        commit.fold_commit(view)


def ivf_pq_topk_stored(
    emb: DataFrame,
    store_dir: str,
    n_cells: int = 32,
    nprobe: int = 12,
    m: int = 8,
    k_centroids: int = 32,
    k: int = 5,
    n_queries: int = 10,
    n_candidates: int = 512,
    sample_size: int = 1024,
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ top-k over a PERSISTED index (``ivf_pq_index_build``) — the
    deployment shape of the composition. The inline ``ivf_pq_topk_
    neighbors`` re-encodes the corpus every run, so its wall time is
    BUILD-dominated and sits at ≈ flat-PQ cost (ISOLATE_r9.json ann_sf10:
    ivf_pq 4.92 vs pq 4.99 vs ivf 2.70 at sf10); here the steady-state
    query touches only the probed cells' 8-byte codes plus the exact
    re-rank — the stage the IVF×PQ composition actually accelerates.
    Same seeded training → identical results to the inline operator
    (asserted in tests/test_llm_ops.py)."""
    # ONE pointer parse gives the arrays and the codes: base version ∪
    # live append layers, with pending deletions applied logically
    # until a vacuum folds them — a deleted vector filtered from the
    # codes scan can never be a candidate, whatever version is served.
    view, centroids, codebooks = _index_view(
        emb, store_dir, n_cells, m, k_centroids, sample_size, iters, seed
    )
    coded = view.frame(emb.sparkSession, "codes")
    dels = view.deleted_ids(emb.sparkSession)
    if dels is not None:
        coded = coded.join(F.broadcast(dels), "neighbor_id", "left_anti")
    return _ivf_pq_query(
        emb, coded, centroids, codebooks, nprobe, k, n_queries, n_candidates
    )


# Ship by value: Spark workers cannot import pycaim_spark (driver-only
# sys.path); nested UDF closures resolve module globals through this.
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
