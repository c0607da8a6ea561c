"""LLM-pipeline dedup + similarity-search queries (SURVEY.md §2.C).

Exact variants are oracle-checked; seeded/approximate variants (MinHash,
SimHash, LSH) are rows-only with recall/property tests in
tests/test_llm_ops.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from pycaim_spark.catalog import load_table
from pycaim_spark.operators.similarity import (
    DOT_SQL,
    NORM_SQL,
    dot_expr,
    norm_expr,
)
from pycaim_spark.registry import register


def _lsm_store_dir(prefix: str, sf_dir: str, table: str,
                   suffix: str = "") -> str:
    """The scratch dir of an LSM store a query keeps as a cache: keyed by
    the fixture, the row count of its source ``table`` (footer metadata,
    no scan) and `commit.LSM_FORMAT`, so an on-disk format change gives
    the query a fresh store instead of the refusal of the old one."""
    import os

    from pycaim_spark.catalog import parquet_row_count
    from pycaim_spark.operators.commit import LSM_FORMAT
    from pycaim_spark.streaming.runner import _SCRATCH

    return os.path.join(
        _SCRATCH,
        f"{prefix}_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{parquet_row_count(sf_dir, table)}{suffix}_lsm{LSM_FORMAT}",
    )


# --------------------------------------------------------------------------
# Exact / normalized dedup
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    tags=("llm", "dedup", "flagship"),
    oracle="""
    SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact text dedup keeping the smallest doc_id (SURVEY §2.C).

    groupBy-min, NOT dropDuplicates: the keeper must be deterministic.
    At scale this is one hash shuffle on the text (or a text-hash column
    to keep shuffle keys small).
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


@register(
    "dedup_norm",
    tags=("llm", "dedup"),
    oracle=r"""
    SELECT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY norm_hash
    """,
)
def dedup_norm(spark, sf_dir):
    """Normalized dedup: lower/trim/whitespace-squeeze → sha256 → group.

    SURVEY §2.C dedup_norm. Hashing the normalized text keeps shuffle keys
    at 32 bytes regardless of document size — the 100 TB shape.
    """
    d = load_table(spark, sf_dir, "documents")
    norm_hash = F.sha2(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 256
    )
    return d.groupBy(norm_hash.alias("norm_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


@register(
    "dedup_ngram_jaccard",
    tags=("llm", "dedup"),
    oracle="""
    WITH grams AS (
        SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS g) t
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM grams a JOIN grams b ON a.bg = b.bg AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    )
    SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.03
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-bigram Jaccard similarity pairs via an inverted index.

    SURVEY §2.C (n-gram Jaccard near-dup). The inverted-index join only
    materializes pairs sharing ≥1 shingle — never the full pair space —
    which is the scalable exact formulation (common-shingle skew is the
    knob: drop ultra-frequent shingles at 100 TB).
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(words) - 2),
        lambda i: F.concat_ws(" ", F.element_at(words, i + 1), F.element_at(words, i + 2)),
    )
    # Examined for the r18 exchange-reuse sweep and left alone: unlike
    # the minhash band path, the three consumers of this distinct subtree
    # (sizes + both self-join sides) ALREADY canonicalize identically —
    # the static plan shows ONE corpus scan and three ReusedExchange
    # nodes (plans/r18/dedup_ngram_jaccard_before.txt), so there is no
    # duplicated corpus pass to remove.
    grams = (
        d.select("doc_id", F.explode(bigrams).alias("bg")).distinct()
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("doc_id").alias("id_a"), "bg")
    b = grams.select(F.col("doc_id").alias("id_b"), "bg")
    inter = (
        a.join(b, "bg")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= 0.03)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


_CLUSTERS_ORACLE = """
    WITH RECURSIVE grams AS (
        SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS g) t
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM grams a JOIN grams b ON a.bg = b.bg AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.2
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), labels AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS comp
        FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           COALESCE(l.comp, d.doc_id) AS cluster_id,
           CAST(COALESCE(l.comp, d.doc_id) = d.doc_id AS INTEGER) AS is_canonical
    FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
"""


@register(
    "dedup_clusters",
    tags=("llm", "dedup", "graph"),
    oracle=_CLUSTERS_ORACLE,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup clustering: bigram-Jaccard pairs (≥ 0.2) → distributed
    connected components → (doc_id, cluster_id, is_canonical) over ALL
    documents (singletons are their own cluster). The canonical-per-cluster
    flag is the keep/drop decision of a dedup pipeline.

    Spark side is iterative min-label propagation (operators/graph.py);
    the oracle computes the same components exactly via a recursive-CTE
    transitive closure — an iterative distributed algorithm with a
    bit-exact SQL twin."""
    from pycaim_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.2)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        d.join(comp, d.doc_id == comp.node, "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).cast("int").alias("is_canonical"),
        )
    )


@register(
    "dedup_embedding",
    tags=("llm", "dedup"),
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding,
               {NORM_SQL.format(a='embedding')} AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({DOT_SQL.format(a='a.embedding', b='b.embedding')}
                 / (a.nrm * b.nrm), 6) AS cos
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round({DOT_SQL.format(a='a.embedding', b='b.embedding')}
                / (a.nrm * b.nrm), 6) >= 0.3
    """,
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact, all-pairs ≥ 0.3).

    SURVEY §2.C embedding near-dup. Norms precomputed per vector; the dot
    product is an index-ordered fold so both engines produce identical
    doubles. The all-pairs form is the small-corpus baseline; the
    sign-LSH bucketed variant (sim_lsh_bucketed) is the scale path.

    Scale guard: the O(n²) pair space is intentional only at oracle/fixture
    scale. Above ``PYCAIM_ALLPAIRS_MAX_ROWS`` (default 200k → ≤20G pairs)
    the query refuses to run instead of silently melting a cluster.
    """
    import os

    from pycaim_spark.catalog import parquet_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    max_rows = int(os.environ.get("PYCAIM_ALLPAIRS_MAX_ROWS", "200000"))
    # Footer-metadata count: keeps the query builder a lazy plan
    # constructor (no eager Spark job on registration/explain paths) and
    # the guard itself never scans the corpus it protects against.
    n = parquet_row_count(sf_dir, "embeddings")
    if n > max_rows:
        raise ValueError(
            f"dedup_embedding is an exact all-pairs baseline: {n} rows would "
            f"generate ~{n * (n - 1) // 2:,} candidate pairs (cap {max_rows}). "
            "At corpus scale use dedup_minhash / sim_lsh_bucketed for "
            "candidates and dedup_clusters_star for transitive clusters, or "
            "raise PYCAIM_ALLPAIRS_MAX_ROWS explicitly."
        )
    v = emb.select("vec_id", "embedding", norm_expr(F.col("embedding")).alias("nrm"))
    a = v.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("norm_a"),
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("norm_b"),
    )
    cos = F.round(
        dot_expr(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")),
        6,
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )


@register(
    "dedup_minhash",
    tags=("llm", "dedup"),
    rows_only_reason="MinHashLSH banding is seeded and implementation-"
    "specific; tests/test_llm_ops.py asserts recall vs exact bigram Jaccard "
    "on planted near-duplicates",
)
def dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup candidates (SURVEY §2.C dedup_minhash)."""
    from pycaim_spark.operators.dedup import minhash_candidate_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(d)


@register(
    "dedup_minhash_clusters",
    tags=("llm", "dedup", "graph"),
    rows_only_reason="MinHash banding is seeded and star-edge clustering is "
    "an approximation by design; tests/test_llm_ops.py asserts planted-"
    "clique equality with pairs+CC and that clusters refine the pair-graph "
    "clusters",
)
def dedup_minhash_clusters(spark, sf_dir):
    """MinHash near-dup CLUSTER assignments — the scale output contract for
    the minhash family (VERDICT r8 #1): per band bucket, star edges only
    (linear in band rows, never the Σ w²/2 pair list SCALING.md measured as
    sf10's dominant cost), exact-Jaccard verified, clustered by alternating-
    star connected components. (doc_id, cluster_id, is_canonical) over all
    documents; dedup_minhash stays the pair-level operator at fixture scale.
    """
    from pycaim_spark.operators.dedup import minhash_clusters

    d = load_table(spark, sf_dir, "documents")
    return minhash_clusters(d)


@register(
    "dedup_minhash_stats",
    tags=("llm", "dedup"),
    rows_only_reason="wide-bucket widths depend on Spark's xxhash64 "
    "minhash bucketing (no DuckDB twin); tests/test_llm_ops.py asserts "
    "the planted-clique counts exactly",
)
def dedup_minhash_stats(spark, sf_dir):
    """Surfaced skip metric for the MinHash clique guard (VERDICT r6 #6):
    one always-present row summarizing the buckets that degraded to star
    pairing — ``wide_bucket_count`` (bands whose bucket exceeded the cap),
    ``max_width`` (largest degraded bucket), ``degraded_rows``
    (Σ widths — band rows whose pair-level recall was sacrificed). All
    zeros on a healthy corpus; a monitoring query at 100 TB, where silent
    recall degradation is the failure mode the guard trades OOM for.
    """
    from pycaim_spark.operators.dedup import minhash_candidate_pairs

    d = load_table(spark, sf_dir, "documents")
    _, wide = minhash_candidate_pairs(d, return_wide_buckets=True)
    return wide.agg(
        F.count(F.lit(1)).alias("wide_bucket_count"),
        F.coalesce(F.max("width"), F.lit(0)).alias("max_width"),
        F.coalesce(F.sum("width"), F.lit(0)).alias("degraded_rows"),
    )


@register(
    "dedup_simhash",
    tags=("llm", "dedup"),
    rows_only_reason="SimHash signatures are hash-function-specific; "
    "tests/test_llm_ops.py asserts determinism and Hamming properties on "
    "planted near-duplicates",
)
def dedup_simhash(spark, sf_dir):
    """SimHash Hamming-distance candidate pairs (task-prompt extra)."""
    from pycaim_spark.operators.dedup import simhash_candidate_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(d, max_hamming=7, n_bands=8)


# --------------------------------------------------------------------------
# Cross-snapshot incremental dedup (VERDICT r8 #2)
# --------------------------------------------------------------------------

# The daily-ingest split used by both incremental queries and their tests:
# doc_id % 10 == 0 is the NEW slice (delta), the rest the EXISTING corpus.
_DELTA_PRED = "doc_id % 10 = 0"


@register(
    "dedup_incremental_exact",
    tags=("llm", "dedup", "incremental"),
    oracle=rf"""
    WITH sig AS (
        SELECT doc_id,
               sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                   AS norm_hash
        FROM documents
    )
    SELECT s.norm_hash AS norm_hash,
           MIN(s.doc_id) AS keep_id,
           COUNT(*) AS n_delta_copies
    FROM sig s
    WHERE s.doc_id % 10 = 0
      AND NOT EXISTS (
          SELECT 1 FROM sig b
          WHERE b.doc_id % 10 <> 0 AND b.norm_hash = s.norm_hash
      )
    GROUP BY s.norm_hash
    """,
)
def dedup_incremental_exact(spark, sf_dir):
    """Incremental exact dedup: documents arriving in today's slice
    (``doc_id % 10 = 0``) survive only if their normalized-text hash is
    absent from the existing corpus — new ∖ old, plus dedup WITHIN the
    slice (min-id keeper + copy count). The production daily-ingest
    pattern: the existing corpus contributes only its 32-byte signature
    set (at 100 TB a persisted, bucketed signature store — the delta
    anti-joins against it without re-shuffling the corpus), and the
    DuckDB oracle over the unsplit table proves new∖old exactness.
    """
    d = load_table(spark, sf_dir, "documents")
    norm_hash = F.sha2(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 256
    )
    sig = d.select("doc_id", norm_hash.alias("norm_hash"))
    delta = sig.filter(F.col("doc_id") % 10 == 0)
    base_sigs = sig.filter(F.col("doc_id") % 10 != 0).select("norm_hash")
    return (
        delta.join(base_sigs, "norm_hash", "left_anti")
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_delta_copies"),
        )
    )


@register(
    "dedup_incremental_minhash",
    tags=("llm", "dedup", "incremental"),
    rows_only_reason="MinHash banding is seeded; tests/test_llm_ops.py "
    "asserts the verdicts equal a full-corpus pair run restricted to "
    "base×delta on planted near-dups, and that the plan never shuffles "
    "the base corpus (no sort-merge join)",
)
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dup dedup: today's slice probes the existing
    corpus's minhash band signature store — broadcast delta bands, the
    base store streams map-side, collision-count-ranked candidates are
    exact-Jaccard verified (operators/dedup.py incremental_minhash_dedup).
    One row per delta doc: (doc_id, dup_of, best_dist, is_new)."""
    from pycaim_spark.operators.dedup import incremental_minhash_dedup

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    return incremental_minhash_dedup(base, delta)


@register(
    "dedup_incremental_clusters",
    tags=("llm", "dedup", "incremental", "graph", "sink"),
    rows_only_reason="MinHash banding is seeded, cluster maintenance is "
    "iterative, and the base assignment/signature stores are side-effect "
    "builds; tests/test_llm_ops.py asserts planted-corpus equality with "
    "full re-clustering, including the two-cluster-merge remap case",
)
def dedup_incremental_clusters(spark, sf_dir):
    """Incremental cluster maintenance: fold today's slice (doc_id % 10
    = 0) into the existing corpus's near-dup cluster assignments with
    DELTA-sized work (operators/dedup.py incremental_cluster_assignments)
    — delta docs get cluster ids consistent with full re-clustering, and
    `base_remap` rows carry the label rewrites (cluster merges) a
    pipeline applies to its stored assignment table. The daily companion
    to dedup_minhash_clusters, in the production shape: the base corpus's
    cluster assignments AND minhash signature store are persisted once
    (idempotent builds keyed by corpus) so the steady-state run touches
    only the stores and the slice — never base text, never a base
    re-clustering."""
    import os

    from pycaim_spark.catalog import parquet_row_count
    from pycaim_spark.operators import commit
    from pycaim_spark.operators.dedup import (
        SIGNATURE_STORE,
        incremental_cluster_assignments,
        minhash_clusters,
        minhash_signature_store_build,
    )
    from pycaim_spark.streaming.runner import _SCRATCH

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{parquet_row_count(sf_dir, 'documents')}"
    )
    sig_store = _lsm_store_dir("sigstore", sf_dir, "documents")
    minhash_signature_store_build(base, sig_store)
    assign_store = os.path.join(_SCRATCH, f"clusterstore_{key}")
    if not os.path.exists(os.path.join(assign_store, "_SUCCESS")):
        minhash_clusters(base).select("doc_id", "cluster_id").write.mode(
            "overwrite"
        ).parquet(assign_store)
    view = commit.read_view(SIGNATURE_STORE, sig_store)
    return incremental_cluster_assignments(
        base,
        delta,
        spark.read.parquet(assign_store),
        b_sets=spark.read.parquet(view.base["sets"]),
        store_buckets=spark.read.parquet(view.base["buckets"]),
    )


@register(
    "dedup_incremental_stored",
    tags=("llm", "dedup", "incremental", "sink"),
    rows_only_reason="probes a persisted side-effect signature store "
    "(built on first call); tests/test_llm_ops.py asserts verdict "
    "identity with dedup_incremental_minhash and that the probe plan "
    "reads only the store",
)
def dedup_incremental_stored(spark, sf_dir):
    """Incremental near-dup dedup against a PERSISTED minhash signature
    store — the steady-state daily-ingest query: the corpus is shingled
    ONCE into sets/ + bucket-aggregated buckets/ parquet (idempotent
    build, keyed by corpus name and row count) and each delta run
    streams the store map-side
    against broadcast delta bands, never reading base text. Verdicts are
    identical to dedup_incremental_minhash; what changes is what the run
    touches — the production split of index build from daily probe."""
    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_build,
    )

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    store = _lsm_store_dir("sigstore", sf_dir, "documents")
    minhash_signature_store_build(base, store)
    return incremental_minhash_dedup_stored(spark, store, delta)


@register(
    "dedup_incremental_append",
    tags=("llm", "dedup", "incremental", "sink"),
    rows_only_reason="exercises side-effect store appends + LSM "
    "compaction; tests/test_llm_ops.py asserts the layered probe equals "
    "a fresh inline rebuild over base ∪ accepted slice (the min-id "
    "bucket cap is merge-stable) and that compaction + replayed appends "
    "are no-ops",
)
def dedup_incremental_append(spark, sf_dir):
    """The COMPLETE daily dedup loop, two ingest days deep: build the
    base store once, probe day-1's slice (doc_id % 10 = 0), APPEND the
    surviving docs' signatures as an LSM layer
    (operators/dedup.py minhash_signature_store_append — idempotent per
    ingest key via the folded-keys manifest), probe day-2's slice
    (doc_id % 10 = 1) against base + layer WITHOUT waiting for
    compaction, then compact layers into the bucket-aggregated base.
    Day-2 verdicts — the returned frame — flag near-dups of day-1-only
    docs, which a store that never learned day 1 would miss; they are
    checkpointed before compaction swaps the layer dirs away."""
    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
    )

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 >= 2)
    s1 = d.filter(F.col("doc_id") % 10 == 0)
    s2 = d.filter(F.col("doc_id") % 10 == 1)
    store = _lsm_store_dir("appendstore", sf_dir, "documents")
    minhash_signature_store_build(base, store)
    v1 = incremental_minhash_dedup_stored(spark, store, s1)
    accepted = s1.join(
        v1.filter(F.col("is_new") == 1).select("doc_id"), "doc_id"
    )
    minhash_signature_store_append(spark, store, accepted, "day1")
    v2 = incremental_minhash_dedup_stored(spark, store, s2).localCheckpoint(
        eager=True
    )
    minhash_signature_store_compact(spark, store)
    return v2


@register(
    "dedup_store_delete",
    tags=("llm", "dedup", "incremental", "sink"),
    rows_only_reason="minhash verdicts are LSH-approximate and probe a "
    "persisted side-effect store mutated by a delete batch; "
    "tests/test_llm_ops.py test_store_delete_lifecycle pins the "
    "semantics (a doc identical to a deleted doc is novel, the "
    "physical fold equals a fresh build without the deleted docs, "
    "replayed delete keys no-op, layers retire on tombstone+grace)",
)
def dedup_store_delete(spark, sf_dir):
    """Dedup probe against a signature store AFTER A DELETION BATCH
    (r18) — the right-to-be-forgotten motion a production corpus needs:
    a deterministic slice of the base corpus (``doc_id % 9 = 2``) is
    deleted from the persisted store
    (`operators/dedup.minhash_signature_store_delete` — an LSM delete
    layer, applied logically by probe-time anti-join of the sets side,
    physically by the next compaction which drops the ids from sets
    and bucket arrays and records the key in the pointer's
    ``del_folded`` manifest), then the daily delta (``doc_id % 10 =
    0``) probes the folded store. Verdicts that previously matched a
    deleted base doc flip to novel; every motion is idempotent so
    re-runs serve the committed state (build skipped by pointer,
    delete no-op'd by manifest, compaction no-op with nothing
    pending)."""
    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_build,
        minhash_signature_store_compact,
        minhash_signature_store_delete,
    )

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 >= 2)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    store = _lsm_store_dir("delstore", sf_dir, "documents")
    minhash_signature_store_build(base, store)
    minhash_signature_store_delete(
        spark, store,
        base.filter(F.col("doc_id") % 9 == 2).select("doc_id"),
        "del-batch-1",
    )
    minhash_signature_store_compact(spark, store)
    return incremental_minhash_dedup_stored(spark, store, delta)


@register(
    "dedup_stream_ingest",
    tags=("llm", "dedup", "incremental", "streaming", "sink"),
    rows_only_reason="Structured Streaming foreachBatch over side-effect "
    "stores; tests/test_llm_ops.py asserts per-batch verdicts equal the "
    "sequential (non-streaming) store loop and that cross-batch learning "
    "flags a batch-1 near-dup of a batch-0-only doc",
)
def dedup_stream_ingest(spark, sf_dir):
    """The signature-store ingestion loop AS A STREAM — how the daily
    dedup actually deploys: document slices arrive as files, each
    micro-batch probes the store (base + every earlier batch's layer)
    inside ``foreachBatch``, writes its verdicts to a per-batch dir
    (idempotent on replay), and appends its accepted docs' signatures so
    the NEXT batch dedups against this one. Two slices (doc_id % 10 =
    0, then 1) are staged with ordered mtimes and consumed one file per
    trigger under availableNow; batch 1's verdicts therefore flag
    near-dups of batch-0-only documents — state no pure per-batch job
    could carry. Returns all verdicts (doc_id, dup_of, best_dist,
    is_new, batch_id) re-read from the sink."""
    import os

    from pycaim_spark.operators.dedup import stream_ingest_dedup
    from pycaim_spark.streaming.runner import _SCRATCH

    d = load_table(spark, sf_dir, "documents")
    return stream_ingest_dedup(
        spark,
        d.filter(F.col("doc_id") % 10 >= 2),
        [
            d.filter(F.col("doc_id") % 10 == 0),
            d.filter(F.col("doc_id") % 10 == 1),
        ],
        os.path.join(_SCRATCH, "stream_ingest"),
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@register(
    "sim_cosine_exact",
    tags=("llm", "similarity", "flagship"),
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding,
               {NORM_SQL.format(a='embedding')} AS nrm
        FROM embeddings
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({DOT_SQL.format(a='q.embedding', b='c.embedding')}
                     / (q.nrm * c.nrm), 6) AS cos
        FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def sim_cosine_exact(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for 10 query vectors.

    SURVEY §2.C sim_cosine_exact. The query side is broadcast (tiny), so
    the corpus streams once with no shuffle; ranking ties broken by
    neighbor id after 6-dp rounding for determinism.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "embedding", norm_expr(F.col("embedding")).alias("nrm"))
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    cos = F.round(
        dot_expr(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


@register(
    "sim_lsh_approx",
    tags=("llm", "similarity"),
    rows_only_reason="BucketedRandomProjectionLSH is seeded/approximate; "
    "tests/test_llm_ops.py asserts recall ≥ 0.8 vs exact euclidean top-k",
)
def sim_lsh_approx(spark, sf_dir):
    """Approx NN via Spark ML BucketedRandomProjectionLSH (SURVEY §2.C)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    # Embeddings are unit-norm: all-pairs distance is ~√2; near-dups
    # (cos ≥ 0.28) sit below √(2-2·0.28) ≈ 1.2. bucketLength ≈ w/2 of the
    # target distance keeps per-table collision ~1/3 → 8 tables ≈ 0.96
    # recall.
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=8, seed=42,
    ).fit(vecs)
    joined = lsh.approxSimilarityJoin(vecs, vecs, 1.2, distCol="dist")
    return (
        joined.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round("dist", 6).alias("dist"),
        )
    )


@register(
    "sim_ivf",
    tags=("llm", "similarity"),
    rows_only_reason="IVF probes nprobe/n_cells of the corpus (recall < 1 "
    "by design); tests/test_llm_ops.py asserts recall vs sim_cosine_exact "
    "top-5 and that every returned cosine is exact",
)
def sim_ivf(spark, sf_dir):
    """IVF approximate top-5 cosine neighbors for 10 query vectors —
    coarse-quantize the corpus into 32 k-means cells, probe the 12 nearest
    cells per query (SURVEY §2.C sim_lsh_approx scale path, FAISS-style
    alternative to LSH).

    The fixture embeddings are near-isotropic (no cluster structure — the
    adversarial case for IVF), so recall ≈ scanned fraction (~0.8 at 37%
    probed); on real clustered embeddings the same settings give far
    higher recall at far lower scan fractions."""
    from pycaim_spark.operators.similarity import ivf_topk_neighbors

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_neighbors(
        emb, n_cells=32, nprobe=12, k=5, n_queries=10, seed=42
    )


@register(
    "sim_lsh_bucketed",
    tags=("llm", "similarity"),
    rows_only_reason="sign-LSH bucketing is an approximation (recall < 1); "
    "tests/test_llm_ops.py asserts every returned pair is exact-verified "
    "and recall vs dedup_embedding is reported",
)
def sim_lsh_bucketed(spark, sf_dir):
    """Banded sign-LSH (random hyperplane) bucketed cosine pairs — the
    100 TB alternative to all-pairs: candidates only where any of the
    4-bit signature tables collide, exact cosine inside (SURVEY §2.C
    sim_lsh_approx scale path).

    ``n_tables`` is 20, raised from 16 in r14 (VERDICT r13 #4 — recall
    margin at scale was within 3% of the 0.8 contract floor). OR-of-T
    banding at the cos=0.3 threshold collides per table with
    p = (1-θ/π)^4 ≈ 0.13, so recall ≈ 1-(1-p)^T; measured on the perturbed scale corpora the retune lifts
    query-touching pair recall 0.88/0.83/0.82 → 0.94/0.88/0.88 at
    sf0.1/sf1/sf10, with no wall regression observed at sf0.1/sf1 and
    ~+11% at sf10 on the single shared-process grid (advisory, not a
    bound). T=24 bought 0.97/0.93/0.92 but ~2× the sf10 wall (the
    candidate volume grows superlinearly once buckets saturate) —
    declined (SCALING_r14.json `lsh_tables_grid`; ISOLATE_r15.json
    `lsh_tables_paired_sf10`)."""
    from pycaim_spark.operators.similarity import bucketed_cosine_neighbors

    emb = load_table(spark, sf_dir, "embeddings")
    return bucketed_cosine_neighbors(
        emb, n_planes=4, n_tables=20, dim=64, seed=42, min_cos=0.3
    )


@register(
    "dedup_clusters_star",
    tags=("llm", "dedup", "graph"),
    oracle=_CLUSTERS_ORACLE,
)
def dedup_clusters_star(spark, sf_dir):
    """Near-dup clustering via alternating large-star/small-star connected
    components (operators/graph.py) — same contract and oracle as
    dedup_clusters, different distributed algorithm: O(log² n) rounds
    independent of component diameter, so million-document duplicate
    CHAINS (the case where min-label propagation needs O(diameter) rounds)
    converge in a few dozen small shuffles. The hash gate proves both
    algorithms produce identical clusters."""
    from pycaim_spark.operators.graph import connected_components_star

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.2)
    comp = connected_components_star(pairs, src="id_a", dst="id_b")
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        d.join(comp, d.doc_id == comp.node, "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).cast("int").alias("is_canonical"),
        )
    )


@register(
    "graph_pagerank",
    tags=("llm", "dedup", "graph"),
    rows_only_reason="iterative float power iteration has no practical SQL "
    "twin (recursive CTE over float aggregation); ranks are asserted "
    "against a NumPy power-iteration twin and analytic star-graph values "
    "in tests/test_llm_ops.py",
)
def graph_pagerank(spark, sf_dir):
    """PageRank centrality of the near-duplicate graph (same bigram-Jaccard
    ≥ 0.2 edges as dedup_clusters): high-rank nodes are the boilerplate
    HUBS — documents similar to many others — which is exactly the triage
    order a cleanup pipeline wants (inspect/remove the template a thousand
    pages were stamped from before its instances). Iterative DataFrame
    power iteration (operators/graph.py pagerank); rank rounded to 9dp for
    cross-run display stability.
    """
    from pycaim_spark.operators.graph import pagerank

    pairs = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.2)
    pr = pagerank(pairs, src="id_a", dst="id_b")
    return pr.select(
        F.col("node").alias("doc_id"), F.round("rank", 9).alias("rank")
    ).orderBy(F.col("rank").desc(), "doc_id")


@register(
    "sim_pq",
    tags=("llm", "similarity"),
    rows_only_reason="PQ quantization is an approximation (recall < 1 by "
    "design); tests/test_llm_ops.py asserts recall vs sim_cosine_exact "
    "top-5 and that every returned cosine is exact (ADC candidates are "
    "exact-re-ranked)",
)
def sim_pq(spark, sf_dir):
    """Product-quantization approximate top-5 cosine neighbors for 10
    query vectors — the memory-compression ANN path (64 floats → 8 bytes
    per vector, queries scan codes not vectors via asymmetric distance;
    operators/similarity.py pq_topk_neighbors). Third ANN design point
    beside sign-LSH (bucketing) and IVF (partition pruning); at 100 TB
    the three compose (IVF-PQ with LSH dedup upstream).

    r12 retune on the perturbed (non-replica) scale corpora:
    k_centroids 16→32 and n_candidates 256→512 lift recall@5 from
    0.82/0.78/0.92 to 1.0/0.9/1.0 at sf0.1/sf1/sf10 (SCALING_r12.json
    `pq_retune_grid`) at unchanged scan cost — ADC reads every code
    either way; the finer codebooks double only the per-query LUT
    (m×k_centroids floats) and the wider shortlist doubles only the
    exact re-rank breadth (n_candidates×|Q| rows, trivial at any
    scale)."""
    from pycaim_spark.operators.similarity import pq_topk_neighbors

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk_neighbors(
        emb, m=8, k_centroids=32, n_candidates=512, k=5, n_queries=10
    )


@register(
    "sim_ivf_pq",
    tags=("llm", "similarity"),
    rows_only_reason="IVF-PQ is doubly approximate (cell pruning × residual "
    "quantization); tests/test_llm_ops.py asserts recall vs sim_cosine_exact "
    "top-5 and bit-exact re-ranked cosines",
)
def sim_ivf_pq(spark, sf_dir):
    """IVF-PQ approximate top-5 cosine neighbors — the composed
    billion-vector index design (operators/similarity.py
    ivf_pq_topk_neighbors): IVF cells prune WHICH rows a query scans,
    residual-PQ codes shrink WHAT the scan reads, exact JVM re-rank on
    top. Completes the three-way ANN family (bucketing / partition
    pruning / compression) into the single design a 100 TB embedding
    store would actually deploy."""
    from pycaim_spark.operators.similarity import ivf_pq_topk_neighbors

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk_neighbors(
        emb, n_cells=32, nprobe=12, m=8, k_centroids=32, k=5, n_queries=10
    )


@register(
    "sim_ivf_pq_stored",
    tags=("llm", "similarity", "sink"),
    rows_only_reason="IVF-PQ over a persisted index is doubly approximate "
    "and builds a side-effect index store on first call; "
    "tests/test_llm_ops.py asserts result identity with the inline "
    "sim_ivf_pq (same seeded training)",
)
def sim_ivf_pq_stored(spark, sf_dir):
    """IVF-PQ top-5 over a PERSISTED index — the deployment shape: the
    index (cell-partitioned 8-byte codes parquet + centroids/codebooks
    sidecar) is built once per corpus and reused; steady-state queries
    read codes only. The inline sim_ivf_pq re-encodes the corpus per run
    and is therefore build-dominated (ISOLATE_r9.json ann_sf10); this
    variant isolates the query-side cost the IVF×PQ composition exists to
    minimize. Identical seeded training → identical results to
    sim_ivf_pq."""
    from pycaim_spark.operators.similarity import ivf_pq_topk_stored

    emb = load_table(spark, sf_dir, "embeddings")
    # Store keyed by corpus name, row count (footer metadata, no scan) AND
    # the build hyperparameters: a regenerated corpus OR a retuned build
    # cannot silently reuse a stale index — and a default-param bump gets
    # a fresh store instead of tripping the sidecar mismatch guard on an
    # index built under the old defaults.
    store = _lsm_store_dir("ivfpq", sf_dir, "embeddings", "_c32m8k32")
    return ivf_pq_topk_stored(
        emb, store, n_cells=32, nprobe=12, m=8, k_centroids=32, k=5,
        n_queries=10,
    )


@register(
    "sim_ivf_pq_deleted",
    tags=("llm", "similarity", "sink"),
    rows_only_reason="IVF-PQ is doubly approximate and this mutates a "
    "persisted side-effect index with a delete batch + vacuum; "
    "tests/test_llm_ops.py test_ivf_pq_delete_and_vacuum pins the "
    "semantics (deleted vectors never returned, vacuumed verdicts "
    "equal the filtered probe, replayed delete keys no-op, two-phase "
    "layer retirement)",
)
def sim_ivf_pq_deleted(spark, sf_dir):
    """IVF-PQ top-k AFTER A VECTOR DELETION BATCH (r18) — the ANN twin
    of `dedup_store_delete`: a deterministic slice of the corpus
    (``vec_id % 11 = 3``) is deleted from a persisted index
    (`operators/similarity.ivf_pq_index_delete` — keyed delete layer,
    probe-time anti-join) and physically vacuumed
    (`ivf_pq_codes_vacuum` — codes version bump, del_folded manifest),
    then the standard query runs: no deleted vector ever appears as a
    neighbor, and re-runs serve the committed state idempotently
    (build skipped by pointer, delete no-op'd by manifest, vacuum
    no-op with nothing pending). At 100 TB this is the
    right-to-be-forgotten path for embedding indexes: O(batch) now,
    one codes rewrite at vacuum, retrain unaffected."""
    from pycaim_spark.operators.similarity import (
        ivf_pq_codes_vacuum,
        ivf_pq_index_delete,
        ivf_pq_topk_stored,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = _lsm_store_dir("ivfpqdel", sf_dir, "embeddings", "_c32m8k32")
    # Build (idempotent) BEFORE deleting so the delete layer targets a
    # committed index.
    ivf_pq_topk_stored(
        emb, store, n_cells=32, nprobe=12, m=8, k_centroids=32, k=5,
        n_queries=2,
    ).collect()
    ivf_pq_index_delete(
        spark, store,
        emb.filter(F.col("vec_id") % 11 == 3).select("vec_id"),
        "del-batch-1",
    )
    ivf_pq_codes_vacuum(spark, store)
    return ivf_pq_topk_stored(
        emb, store, n_cells=32, nprobe=12, m=8, k_centroids=32, k=5,
        n_queries=10,
    )


@register(
    "sim_ann_index_append",
    tags=("llm", "similarity", "incremental", "sink"),
    rows_only_reason="appends to a side-effect index store with stored "
    "(not retrained) codebooks; tests/test_llm_ops.py asserts planted "
    "exact-twin vectors become top-1 retrievable only after append, "
    "re-rank cosines stay exact, and a replayed append key is a no-op",
)
def sim_ann_index_append(spark, sf_dir):
    """The ANN half of the daily ingest loop: build the IVF-PQ index on
    the base corpus (vec_id % 10 != 5), APPEND the new slice's vectors
    encoded with the STORED codebooks (operators/similarity.py
    ivf_pq_index_append — no retrain, replay-safe per ingest key), and
    query the appended index. Returned top-5 lists can now surface
    appended vectors; exact re-rank keeps every returned cosine exact.
    The store is rebuilt per run (cheap at fixture scale) so repeated
    runs are deterministic."""
    import shutil

    from pycaim_spark.operators import commit
    from pycaim_spark.operators.similarity import (
        CODES_STORE,
        _ivf_pq_query,
        index_arrays,
        ivf_pq_index_append,
        ivf_pq_index_build,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 5)
    delta = emb.filter(F.col("vec_id") % 10 == 5)
    store = _lsm_store_dir("annappend", sf_dir, "embeddings")
    shutil.rmtree(store, ignore_errors=True)
    ivf_pq_index_build(base, store, n_cells=32, m=8, k_centroids=32)
    ivf_pq_index_append(delta, store, "day1")
    view = commit.read_view(CODES_STORE, store)
    centroids, codebooks = index_arrays(view)
    return _ivf_pq_query(
        emb, view.frame(spark, "codes"), centroids, codebooks, nprobe=12,
        k=5, n_queries=10,
        n_candidates=256,
    )
