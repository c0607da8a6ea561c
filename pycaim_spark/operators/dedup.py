"""Near-duplicate detection operators (SURVEY.md §2.C; LLM-pipeline core).

- MinHash+LSH: shingle → MinHashLSH banding via Spark ML (JVM-side, seeded)
  — the standard web-scale near-dup pipeline (shuffle is bucket-join sized,
  never all-pairs).
- SimHash: 64-bit sign-summed token hashes computed entirely JVM-side
  (explode → ``xxhash64`` → 64 per-bit SUM aggregates — deterministic
  across processes, unlike Python's salted ``hash``); candidate pairs by
  Hamming distance with JVM-side xor/bit_count.

The persisted signature store (``minhash_signature_store_*``) commits
through the shared protocol in ``operators/commit.py``: versioned
``sets_v{N}``/``buckets_v{N}`` behind ``current.json``, immutable
``app/<key>.<seq>`` and ``del/<key>.<seq>`` layers named by that
pointer, two-phase grace GC.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from pycaim_spark.operators import commit

try:
    from pyspark import cloudpickle as _cloudpickle
except ImportError:  # pragma: no cover
    import cloudpickle as _cloudpickle

import sys as _sys


def _banded_pairs_with_guard(
    bands: DataFrame,
    keys: list[str],
    max_bucket_width: int,
    with_sig: bool = False,
    pair_filter=None,
) -> tuple[DataFrame, DataFrame]:
    """Bucket self-join with the dense-clique STAR guard.

    Input ``bands`` has columns ``keys… , id`` (+ ``sig`` when
    ``with_sig``). Returns ``(pairs, wide_buckets)`` where ``pairs`` is
    (id_a, id_b[, sig_a, sig_b]) — all-pairs inside buckets of width ≤
    ``max_bucket_width``, star pairs against the bucket min id beyond it —
    and ``wide_buckets`` is (keys…, width) for the degraded buckets.

    One window over the bucket key tags every band row with bucket width
    and bucket-min; the narrow/star split is a filter and pairs come from
    a self-join. Window partition buffers SPILL
    (ExternalAppendOnlyUnsafeRowArray), so per-task state is bounded no
    matter the clique width. No other shape (grouped, grouped-unbounded,
    join, anti, nopart) beat it decisively (ISOLATE_r8.json;
    ISOLATE_r9.json ``dedup_shape_bounded_paired_series``: minhash ties,
    simhash prefers window), so the bounded-state shape is the one kept.
    Under memory pressure it tails worse than the groupBy shapes
    (ISOLATE_r18.json
    ``sim_guard_shape_window_vs_nopart_sf10_series``,
    ``sim_guard_shape_window_vs_single_sf10_series``).

    Guard-off control: 1.75 minhash (ISOLATE_r8.json dedup_guard_off) —
    the residual guard cost is the window vs plain self-join delta, paid
    for bounding per-task memory at W ≤ cap; on simhash the guard is a
    net WIN (guard-off 4.84, star pairing prunes the homogeneous
    fixture's wide buckets).
    """
    cap = max_bucket_width
    min_expr = F.min(F.struct("id", "sig")) if with_sig else F.min("id")
    w = Window.partitionBy(*keys)
    tagged = bands.select(
        "*",
        F.count(F.lit(1)).over(w).alias("_w"),
        min_expr.over(w).alias("_min"),
    )
    # Row-level no-op (the bucket min is an aggregate over the row's own
    # non-null bucket, so it can never be null) that keeps `_min`
    # referenced in the NARROW branch: without it, column pruning drops
    # `_min` from the narrow window, and for the with_sig callers the
    # star window's min(struct(id, sig)) pre-projects a `_w0` struct
    # column BELOW the exchange that the narrow side then lacks — the two
    # band exchanges canonicalize differently and the whole
    # signature+explode subtree executes twice (dedup_simhash before:
    # Exchange (16) vs (36), plans/r18; ISOLATE_r18.json
    # `dedup_minhash_unify_*`). With the reference, both windows compute
    # [count, min] over one shared exchange.
    narrow = tagged.filter(
        (F.col("_w") <= cap) & F.col("_min").isNotNull()
    ).drop("_w", "_min")
    narrow_cols = [
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
    ] + (
        [F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b")]
        if with_sig else []
    )
    pairs = (
        narrow.alias("a")
        .join(narrow.alias("b"), keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(*narrow_cols)
    )
    # _min is the bucket minimum, so id_a < id_b by construction.
    wide_rows = tagged.filter(F.col("_w") > cap)
    min_id = F.col("_min.id") if with_sig else F.col("_min")
    star_cols = [min_id.alias("id_a"), F.col("id").alias("id_b")] + (
        [F.col("_min.sig").alias("sig_a"), F.col("sig").alias("sig_b")]
        if with_sig else []
    )
    star = wide_rows.filter(F.col("id") != min_id).select(*star_cols)
    wide_buckets = wide_rows.groupBy(*keys).agg(F.max("_w").alias("width"))
    if pair_filter is not None:
        # Row-local predicate (e.g. the Hamming cut) applied BEFORE the
        # dedup shuffle: candidates that fail it never leave their map
        # task, so the dropDuplicates exchange carries only survivors.
        pairs = pairs.filter(pair_filter)
        star = star.filter(pair_filter)
    id_cols = ["id_a", "id_b"]
    return pairs.unionAll(star).dropDuplicates(id_cols), wide_buckets


def _shingle_sets(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    repartition: bool = True,
) -> DataFrame:
    """(id, hs) — distinct xxhash64'd word-``shingle_n``-gram set per doc.

    Each stage materializes through its own projection: an outer column
    referenced INSIDE a HOF lambda is re-evaluated per array element by
    Catalyst (no CSE across lambda scopes) — inlining the regex split
    into the shingle lambda would cost ~shingle_n regex splits per
    shingle per row; the layered form evaluates each once per row.
    trim first: split(r"\\s+") keeps an empty leading token for
    whitespace-prefixed docs (trailing empties are already dropped).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n_sh = F.size(F.col("_toks")) - (shingle_n - 1)
    shingle_at = lambda i: F.concat_ws(  # noqa: E731 — 1-based token index
        " ", *[F.element_at(F.col("_toks"), i + j) for j in range(shingle_n)]
    )
    shingles = F.when(
        n_sh > 0, F.transform(F.sequence(F.lit(1), n_sh), shingle_at)
    ).otherwise(F.array().cast("array<string>"))
    # Shingle-set emptiness == "fewer than shingle_n tokens": filter on the
    # raw text BEFORE the projections. A filter on the derived array would
    # be pushed below the projects and re-inline the whole (uncached)
    # shingle expression into the predicate, evaluating it twice per row.
    #
    # The explicit IsNotNull(id) is a row-level no-op (fixture ids are
    # never null) whose job is EXCHANGE REUSE: the Jaccard-verify joins
    # key on id, so Catalyst pushes an inferred isnotnull(id) into THEIR
    # copy of this subtree — without the same filter here, the band-side
    # and verify-side repartition exchanges canonicalize differently and
    # ReuseExchange cannot dedup them, so the CPU-bound shingle stage ran
    # TWICE per query (plans/r18/dedup_minhash_before.txt operators 1-6
    # vs 33-38: two full scan→tokenize→shingle→hash chains).
    base = (
        docs.filter((F.size(toks) >= shingle_n) & F.col(id_col).isNotNull())
        .select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .select("id", shingles.alias("_sh"))
        .select(
            "id",
            F.array_distinct(
                F.transform(F.col("_sh"), lambda s: F.xxhash64(s))
            ).alias("hs"),
        )
    )
    if repartition:
        # Four plan branches consume the shingle sets (both band-join
        # sides, both Jaccard re-join sides). The repartition inserts an
        # exchange whose output ReuseExchange dedups, so shingling runs
        # ONCE instead of four times. Removing it measured NEUTRAL at
        # sf0.1 (ISOLATE_r8.json base_repartition_off 2.62 s vs
        # dedup_shape_window 2.62 s — the quadruplicated scan hits the
        # local page cache); it stays because at 100 TB the trade is one
        # skinny-row shuffle against 4× recomputation of the CPU-bound
        # shingle/minhash stage over remote storage. The partition count
        # MUST be explicit: the exchange moves few bytes but feeds a
        # CPU-bound stage, and AQE's coalescePartitions sizes by shuffled
        # bytes — without an explicit N it collapses this exchange to ~1
        # partition and serializes the stage.
        base = base.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, F.col("id")
        )
    return base


def _band_rows(base: DataFrame, num_hashes: int, seed: int) -> DataFrame:
    """(id, table_id, mh) band rows: per-table minhash = ``array_min`` of
    ``xxhash64(shingle, table, seed)`` — ``num_hashes`` independent hash
    functions, one pass over the shingle array each."""

    def _table_hash(t):
        # Factory, not a default arg: PySpark infers HOF lambda arity from
        # the signature, so the closure must stay single-parameter.
        return lambda h: F.xxhash64(h, F.lit(t), F.lit(seed))

    minhashes = F.array(
        *[
            F.array_min(F.transform(F.col("hs"), _table_hash(t)))
            for t in range(num_hashes)
        ]
    )
    rows = base.select("id", F.posexplode(minhashes).alias("table_id", "mh"))
    # Row-level no-op (hs is non-empty by _shingle_sets' length filter, so
    # array_min never yields null) that exists for EXCHANGE REUSE: the
    # narrow bucket self-join infers isnotnull(mh) from its join key and
    # the star branch does not, so the two (table_id, mh) exchanges over
    # these band rows canonicalized differently and the explode+shuffle
    # ran twice (plans/r18/dedup_minhash_before.txt operators 7-9 vs
    # 23-24).
    return rows.filter(F.col("mh").isNotNull())


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    # Word trigrams: the fixture vocabulary is tiny (~31 words), so bigram
    # shingles collide pathologically (≤961 distinct shingles → giant
    # min-hash buckets → near-quadratic join). Trigrams restore shingle
    # diversity.
    shingle_n: int = 3,
    # 8 one-row bands (OR-amplification): a pair with Jaccard J is a
    # candidate with prob 1-(1-J)^8 — ≥0.96 at J≥0.33, matching the
    # ≤0.8-distance target.
    num_hashes: int = 8,
    max_jaccard_dist: float = 0.8,
    seed: int = 42,
    max_bucket_width: int | None = None,
    return_wide_buckets: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (id_a < id_b, jaccard_dist).

    Pure-DataFrame pipeline — every step is a codegen'd JVM expression,
    no ML-pipeline sparse vectors and no per-pair UDF distance:

    1. lowercase → whitespace tokens → word ``shingle_n``-grams →
       ``xxhash64`` each shingle → distinct 64-bit shingle set per doc.
    2. per-table minhash = ``array_min`` of ``xxhash64(shingle, table,
       seed)`` — ``num_hashes`` independent hash functions, evaluated as
       one pass over the shingle array each.
    3. candidates = equi-self-join on (table, minhash) — at 100 TB the
       shuffle moves only (id, long) rows and touches only colliding
       buckets, never all-pairs.
    4. exact Jaccard on the hashed shingle sets (``array_intersect``,
       JVM-side) filters candidates to ``jaccard_dist ≤ max_jaccard_dist``.

    Dense-clique safeguard: a K-deep duplicate clique collides into one
    bucket in EVERY band and would emit K²/2 candidates per band — a real
    boilerplate corpus (and the ×100-replica scale fixture) OOMs on the
    pair list alone. Buckets wider than ``max_bucket_width`` (default env
    ``PYCAIM_LSH_MAX_BUCKET``, 256; 0 disables) therefore degrade to STAR
    pairing — every member pairs with the bucket's min id only — bounding
    a width-W bucket at W−1 candidates while preserving clique
    connectivity, so connected-components clustering (dedup_clusters_star,
    split_leakage_safe_neardup) still merges the full clique. Pair-level
    recall inside wide buckets is intentionally sacrificed; exact-duplicate
    cliques should be collapsed by a dedup_exact pre-pass first. With
    ``return_wide_buckets=True`` returns ``(pairs, wide_buckets)`` where
    ``wide_buckets`` is the (table_id, mh, width) frame of degraded
    buckets — the counted skip metric.
    """
    if max_bucket_width is None:
        max_bucket_width = int(os.environ.get("PYCAIM_LSH_MAX_BUCKET", "256"))
    base = _shingle_sets(
        docs, text_col, id_col, shingle_n, repartition=True
    )
    bands = _band_rows(base, num_hashes, seed)
    wide_buckets = None
    if max_bucket_width:
        pairs, wide_buckets = _banded_pairs_with_guard(
            bands, ["table_id", "mh"], max_bucket_width
        )
    else:
        pairs = (
            bands.alias("a")
            .join(bands.alias("b"), ["table_id", "mh"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    sets = base.select("id", "hs")
    inter = F.size(F.array_intersect(F.col("sa.hs"), F.col("sb.hs")))
    union = F.size(F.col("sa.hs")) + F.size(F.col("sb.hs")) - inter
    jd = F.lit(1.0) - inter.cast("double") / union.cast("double")
    result = (
        pairs.join(sets.alias("sa"), pairs.id_a == F.col("sa.id"))
        .join(sets.alias("sb"), pairs.id_b == F.col("sb.id"))
        .select("id_a", "id_b", F.round(jd, 6).alias("jaccard_dist"))
        .filter(F.col("jaccard_dist") <= max_jaccard_dist)
    )
    if return_wide_buckets:
        if wide_buckets is None:
            spark = docs.sparkSession
            wide_buckets = spark.createDataFrame(
                [], "table_id int, mh long, width long"
            )
        return result, wide_buckets
    return result


def minhash_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    max_jaccard_dist: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Per-document near-dup CLUSTER assignments from MinHash banding —
    the scale OUTPUT CONTRACT (VERDICT r8 #1): ``(doc_id, cluster_id,
    is_canonical)`` over all documents, never a materialized pair list.

    SCALING.md measured ``dedup_minhash`` at sf10 to be output-bound:
    85.6 s dominated by materializing ~Σ w²/2 candidate PAIRS whose only
    consumer is connected-components. When clusters are the product, pair-
    level output is waste: per band bucket, STAR edges (member ↔ bucket-min)
    preserve exactly the connectivity CC needs at w−1 edges per width-w
    bucket instead of w²/2 — the same degradation the clique guard applies
    beyond its cap, here applied to EVERY bucket because no consumer wants
    the pairs. Candidate volume drops from quadratic-in-bucket-width to
    linear in band rows (≤ num_hashes · n docs), which is what survives a
    boilerplate-dense 100 TB corpus.

    Semantics: star edges are verified with the SAME exact-Jaccard filter
    as the pair operator before clustering, so every merge is a true
    near-dup link; clusters are unions of verified links. Because each
    star edge is itself a pair ``minhash_candidate_pairs`` would emit,
    the clusters REFINE the pair-graph clusters (each cluster sits inside
    exactly one pair-graph cluster — asserted in tests/test_llm_ops.py,
    with planted-clique equality). Recall beyond that relies on OR-
    amplification: a doc gets one star edge per band, so num_hashes
    independent chances to connect.

    Output: every input document labeled; ``cluster_id`` = min doc_id
    reachable, singletons label themselves, ``is_canonical`` marks the
    keeper a dedup pipeline retains.
    """
    from pycaim_spark.operators.graph import connected_components_star

    # max_bucket_width=1 routes EVERY bucket (width ≥ 2) down the star
    # path of the window guard — reusing its plan rather than a bespoke
    # one; the window tag streams regardless of how many buckets are wide.
    pairs = minhash_candidate_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        max_jaccard_dist=max_jaccard_dist,
        seed=seed,
        max_bucket_width=1,
    )
    comp = connected_components_star(pairs, src="id_a", dst="id_b")
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return (
        docs.join(comp, docs[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            cluster.alias("cluster_id"),
            (cluster == F.col(id_col)).cast("int").alias("is_canonical"),
        )
    )


def incremental_minhash_dedup(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    max_jaccard_dist: float = 0.8,
    seed: int = 42,
    max_candidates_per_doc: int = 64,
) -> DataFrame:
    """Cross-snapshot incremental dedup: probe a NEW slice (``delta_docs``)
    against an EXISTING corpus's minhash signature store (``base_docs``) —
    the pattern a production pretraining pipeline runs daily, where the
    corpus never re-shuffles (VERDICT r8 #2).

    Returns one row per delta document: ``(doc_id, dup_of, best_dist,
    is_new)`` — ``dup_of`` = smallest base doc verified as a near-dup
    (exact Jaccard ≤ ``max_jaccard_dist``), NULL when the doc is new.

    Plan shape (the point of the operator): the base corpus is SCANNED but
    never SHUFFLED —

    1. delta band rows (small, the daily slice) are BROADCAST; the base
       band store streams map-side through a broadcast hash join to find
       colliding candidates — one hit row per (delta doc, band) carrying
       the bucket's member ARRAY, never a row per collision (a dense
       corpus makes per-collision rows |delta|×bands×bucket_width; see
       ``_incremental_matches``). At 100 TB the bucket store is a
       persisted parquet table keyed by (table_id, mh)
       (``minhash_signature_store_build``); here it is derived inline
       from ``base_docs`` with identical hash functions — the one
       exchange of 8-per-doc band rows that builds the buckets is the
       inline stand-in for the store build, and base TEXT still never
       shuffles.
    2. Each delta doc ranks its candidates IN-ROW: flatten the ≤ bands
       bucket arrays, count occurrences (= number of colliding bands ≈
       highest Jaccard — the standard LSH collision-count ranking), keep
       the ``max_candidates_per_doc`` strongest. The only shuffle is
       bands-per-doc rows — delta-sized — and the per-bucket slice bounds
       probe cost against boilerplate buckets the same way the clique
       guard bounds pair emission.
    3. Verification re-reads base shingle sets map-side (broadcast of the
       capped candidate list) and exact-Jaccards only the capped pairs.

    tests/test_llm_ops.py asserts the plan contains no sort-merge join and
    the verdicts match a full-corpus pair run restricted to base×delta.
    """
    b_sets = _shingle_sets(
        base_docs, text_col, id_col, shingle_n, repartition=False
    )
    store_buckets = _band_buckets(_band_rows(b_sets, num_hashes, seed))
    return _incremental_probe(
        b_sets, store_buckets, delta_docs, text_col, id_col, shingle_n,
        num_hashes, max_jaccard_dist, seed, max_candidates_per_doc,
    )


#: Per-bucket member cap at signature-store build time — the probe-side
#: density guard, mirroring ``max_bucket_width`` in the self-join dedup.
#: A boilerplate shingle whose band bucket holds millions of docs would
#: otherwise make every probe of that bucket emit millions of candidates;
#: the store keeps the ``BUCKET_STORE_CAP`` smallest doc ids (plus the
#: true ``width`` for observability) and probes degrade deterministically
#: on wider buckets, exactly like the clique guard's star degradation.
BUCKET_STORE_CAP = 1024


def _band_buckets(store_bands: DataFrame, bucket_cap: int = BUCKET_STORE_CAP) -> DataFrame:
    """Aggregate (id, table_id, mh) band rows into per-bucket member
    arrays ``(table_id, mh, width, ids)`` — ids ascending, capped at
    ``bucket_cap`` (width records the UNCAPPED bucket size). The window
    pre-truncates wide buckets row-wise BEFORE collect_list, so no
    aggregation buffer ever holds more than ``bucket_cap`` ids (the
    ADVICE-r8 memory rule); the groupBy reuses the window's hash
    partitioning, so the whole build is ONE exchange of 8-per-doc band
    rows."""
    from pyspark.sql import Window

    bucket = Window.partitionBy("table_id", "mh")
    return (
        store_bands.withColumn("_r", F.row_number().over(bucket.orderBy("id")))
        .withColumn("width", F.count(F.lit(1)).over(bucket))
        .filter(F.col("_r") <= bucket_cap)
        .groupBy("table_id", "mh")
        .agg(
            F.sort_array(F.collect_list("id")).alias("ids"),
            F.max("width").alias("width"),
        )
    )


def _with_top_candidates(df: DataFrame, cands_col: str, cap: int) -> DataFrame:
    """Add ``top_cands``: the top-``cap`` elements of array column
    ``cands_col`` by (occurrence count desc, value asc) — the LSH
    collision-count ranking, computed per row with no shuffle.

    Arrow-batched numpy on purpose — this is one of the rare spots where
    the built-ins genuinely can't express the semantics efficiently.
    Three JVM-side shapes were built and measured on the sf10 probe
    (ISOLATE_r9.json ``incremental_probe_shape``): a row-per-collision
    groupBy+window ranks exactly but materializes |delta|×bands×width
    rows (155 M rows, 73 s); an aggregate-HOF run-length encoder stays
    in-row but grows its accumulator via concat — a copy per element,
    O(n²) (14.7 s); an index-based HOF chain is O(n log n) on paper but
    Catalyst's project collapse inlines the sorted array into the lambda
    bodies and re-evaluates it per element (minutes). numpy's
    unique+argsort over the ≤ bands × cap array is exact, and the input
    frame is one bounded row per delta doc — batch count is
    |delta| / 10k, not corpus-sized."""

    @F.pandas_udf("array<bigint>")
    def _top(cands: pd.Series) -> pd.Series:
        def one(arr):
            ids, cnt = np.unique(np.asarray(arr, dtype=np.int64),
                                 return_counts=True)
            # lexsort: last key is primary → (-cnt, then ids asc for ties)
            order = np.lexsort((ids, -cnt))[:cap]
            return ids[order]
        return cands.map(one)

    return df.withColumn("top_cands", _top(F.col(cands_col)))


def _check_probe_cap(max_candidates_per_doc: int) -> None:
    """The layered-probe merge (``_incremental_matches`` extra_buckets)
    is only equivalent to a compacted-store probe when the probe cap
    fits inside the store cap: a wider probe would see ids the stored
    per-bucket prefix already dropped, so its verdicts silently diverge
    from the post-compaction ones (ADVICE r11). Fail loud."""
    if max_candidates_per_doc > BUCKET_STORE_CAP:
        raise ValueError(
            f"max_candidates_per_doc={max_candidates_per_doc} exceeds "
            f"BUCKET_STORE_CAP={BUCKET_STORE_CAP}: probe verdicts would "
            "diverge between layered and compacted store states"
        )


def _incremental_matches(
    b_sets: DataFrame,
    store_buckets: DataFrame,
    delta_docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    max_jaccard_dist: float,
    seed: int,
    max_candidates_per_doc: int,
    extra_buckets: DataFrame | None = None,
    deleted_ids: list[int] | None = None,
) -> DataFrame:
    """ALL verified capped (delta_id, base_id, jd) matches of the delta
    probe, over ANY signature store representation — inline-derived frames
    (incremental_minhash_dedup) or parquet read back from a persisted
    store (incremental_minhash_dedup_stored). ``b_sets`` is (id, hs);
    ``store_buckets`` is ``_band_buckets``'s (table_id, mh, width, ids).

    The probe never materializes per-collision rows: a dense corpus
    (every doc ~100 near-dups) would turn a row-per-collision plan into
    |delta| × bands × bucket_width rows — measured at 155 M rows / 73 s
    for the 50 k-doc sf10 delta, ISOLATE_r9.json ``incremental_probe_shape``
    — while the bucket-array form carries the same information in
    |delta| × bands rows and ranks candidates with in-row array ops."""
    _check_probe_cap(max_candidates_per_doc)
    d_sets = _shingle_sets(
        delta_docs, text_col, id_col, shingle_n, repartition=False
    )
    delta_bands = _band_rows(d_sets, num_hashes, seed).select(
        F.col("id").alias("delta_id"), "table_id", "mh"
    )

    # ONE literal for the whole id list: a JSON string Catalyst
    # constant-folds to an array, where an array of per-id literals
    # costs a py4j round trip per id.
    deleted = (
        F.from_json(F.lit(json.dumps([int(i) for i in deleted_ids])),
                    "array<bigint>")
        if deleted_ids else None
    )

    def _cands(ids_col):
        """The per-bucket candidate prefix: DELETED ids are removed
        BEFORE the cap is applied (r18 self-review #4) — a deleted id
        ranking inside the min-id prefix would otherwise displace a
        genuine near-duplicate out of the capped candidate list and
        flip its verdict to novel until compaction physically frees
        the slot (the sets-side anti-join alone only guarantees a
        deleted id never VERIFIES; it cannot give its slot back).
        array_except preserves the first array's (ascending) order, so
        the slice stays the deterministic min-id prefix. ``deleted_ids``
        is driver-bounded by the callers (deletes since the last
        compaction, literal-array threshold enforced there)."""
        col = F.col(ids_col)
        if deleted is not None:
            col = F.array_except(col, deleted)
        return F.slice(col, 1, max_candidates_per_doc).alias("ids")
    # (1) broadcast the delta probe: the base store streams through a BHJ,
    # one hit row per (delta doc, band) with the bucket's member array
    # sliced to the probe cap (ids are stored ascending, so the slice is
    # the deterministic min-id prefix).
    hits = store_buckets.join(
        F.broadcast(delta_bands), ["table_id", "mh"]
    ).select("delta_id", "table_id", "mh", _cands("ids"))
    if extra_buckets is not None:
        # Un-compacted append-layer buckets probe the SAME broadcast and
        # merge per HIT, not per store row: base and layer bucket rows for
        # one (band, delta doc) concat → sort → re-slice, which equals the
        # compacted store's merged min-id prefix (merge-stable cap, the
        # _merge_bucket_layers argument; requires probe cap ≤ store cap,
        # true by construction: 64 ≤ BUCKET_STORE_CAP). The base bucket
        # index therefore NEVER shuffles on a layered probe — the r11 fix
        # for the full-outer SortMergeJoin the per-batch stream plan
        # assert exposed; the merge shuffle is delta-hit-sized.
        hits = (
            hits.unionByName(
                extra_buckets.join(
                    F.broadcast(delta_bands), ["table_id", "mh"]
                ).select("delta_id", "table_id", "mh", _cands("ids"))
            )
            .groupBy("delta_id", "table_id", "mh")
            .agg(
                F.slice(
                    F.sort_array(F.flatten(F.collect_list("ids"))),
                    1,
                    max_candidates_per_doc,
                ).alias("ids")
            )
        )
    hits = hits.select("delta_id", "ids")
    # (2) collision-count ranking + per-delta-doc cap, all in-row: a doc's
    # ≤ bands arrays flatten to one bounded array; occurrences of a base
    # id across it = number of colliding bands (each band contributes one
    # bucket), the standard LSH ranking. The only shuffle is bands-per-doc
    # rows — delta-sized, never collision-sized.
    ranked = _with_top_candidates(
        hits.groupBy("delta_id").agg(
            F.flatten(F.collect_list("ids")).alias("cands")
        ),
        "cands",
        max_candidates_per_doc,
    ).select("delta_id", F.explode("top_cands").alias("base_id"))
    # (3) exact-Jaccard verify, base side map-side again (broadcast the
    # capped candidates, ≤ cap × |delta| rows). At a 100 TB deployment
    # with a multi-million-doc daily slice the candidate list outgrows a
    # broadcast; the scale path is an id-bucketed sets/ store so this
    # join shuffles ONLY the candidate side into the store's bucketing —
    # base sets still never shuffle. The hint is right at bench scales.
    matched = (
        b_sets.select(F.col("id").alias("base_id"), F.col("hs").alias("b_hs"))
        .join(F.broadcast(ranked), "base_id")
        .join(
            F.broadcast(
                d_sets.select(
                    F.col("id").alias("delta_id"), F.col("hs").alias("d_hs")
                )
            ),
            "delta_id",
        )
    )
    inter = F.size(F.array_intersect(F.col("b_hs"), F.col("d_hs")))
    union = F.size(F.col("b_hs")) + F.size(F.col("d_hs")) - inter
    jd = F.round(
        F.lit(1.0) - inter.cast("double") / union.cast("double"), 6
    )
    return matched.select("delta_id", "base_id", jd.alias("jd")).filter(
        F.col("jd") <= max_jaccard_dist
    )


def _incremental_probe(
    b_sets: DataFrame,
    store_buckets: DataFrame,
    delta_docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    max_jaccard_dist: float,
    seed: int,
    max_candidates_per_doc: int,
    extra_buckets: DataFrame | None = None,
    deleted_ids: list[int] | None = None,
) -> DataFrame:
    """Per-delta-doc verdict frame (doc_id, dup_of, best_dist, is_new)
    over the verified matches of ``_incremental_matches``."""
    verified = (
        _incremental_matches(
            b_sets, store_buckets, delta_docs, text_col, id_col, shingle_n,
            num_hashes, max_jaccard_dist, seed, max_candidates_per_doc,
            extra_buckets=extra_buckets, deleted_ids=deleted_ids,
        )
        .groupBy("delta_id")
        .agg(
            F.min("base_id").alias("dup_of"),
            F.min("jd").alias("best_dist"),
        )
    )
    return (
        delta_docs.select(F.col(id_col))
        # verified is ≤ |delta| rows; broadcast it so the final left join
        # stays map-side (the static planner can't estimate a post-agg
        # frame and would otherwise fall back to a sort-merge join).
        .join(F.broadcast(verified), F.col(id_col) == verified.delta_id, "left")
        .select(
            F.col(id_col),
            "dup_of",
            "best_dist",
            F.col("dup_of").isNull().cast("int").alias("is_new"),
        )
    )


def incremental_cluster_assignments(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    base_assignments: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    max_jaccard_dist: float = 0.8,
    seed: int = 42,
    max_candidates_per_doc: int = 64,
    b_sets: DataFrame | None = None,
    store_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental CLUSTER maintenance: fold a new ingest slice into an
    EXISTING corpus's near-dup cluster assignments without re-clustering
    the corpus — the daily companion to ``minhash_clusters`` the way
    ``incremental_minhash_dedup`` is to ``dedup_minhash``. Pass
    ``b_sets``/``store_buckets`` (e.g. read back from
    ``minhash_signature_store_build``'s parquet) to skip re-shingling the
    base corpus — the steady-state daily shape.

    ``base_assignments`` is (doc_id, cluster_id) for the existing corpus
    (from ``minhash_clusters`` or a stored assignment table; cluster ids
    are min-member doc ids). The computation is DELTA-sized throughout:

    1. Verified delta→base matches (the incremental probe — base store
       streams map-side, candidates capped per delta doc).
    2. Each matched base doc is replaced by its CLUSTER id (one map-side
       join of the delta-sized match list against the assignment table),
       so base-side connectivity is inherited through the cluster reps
       instead of re-walking base-base edges.
    3. Delta-internal near-dup pairs (full minhash banding over the slice
       alone — identical hash functions, so the pair set equals the
       full-corpus run's delta×delta pairs).
    4. Connected components over this delta-sized graph (delta ids ∪
       touched cluster-rep ids); labels are min ids, which REPRODUCES the
       full re-clustering labels: a cluster rep IS its cluster's min
       member, so min over {reps, delta ids} in a component equals min
       over the merged member set.

    Output: one row per delta doc ``(doc_id, cluster_id, kind='delta')``
    — singletons label themselves — plus one row per TOUCHED base cluster
    whose label changed ``(old_rep_id, new_cluster_id, kind='base_remap')``:
    the remap a pipeline applies to the stored assignment table (base
    labels are not rewritten here; a delta doc bridging two base clusters
    yields remap rows merging them, exactly what full re-clustering would
    do). Planted-corpus equality with full re-clustering is asserted in
    tests/test_llm_ops.py.
    """
    from pycaim_spark.operators.graph import connected_components_star

    if b_sets is None:
        b_sets = _shingle_sets(
            base_docs, text_col, id_col, shingle_n, repartition=False
        )
    if store_buckets is None:
        store_buckets = _band_buckets(_band_rows(b_sets, num_hashes, seed))
    matches = _incremental_matches(
        b_sets, store_buckets, delta_docs, text_col, id_col, shingle_n,
        num_hashes, max_jaccard_dist, seed, max_candidates_per_doc,
    )
    assign = base_assignments.select(
        F.col(id_col).alias("base_id"), F.col("cluster_id").alias("_bc")
    )
    # matches is delta-sized → broadcast; the assignment table streams.
    # anchored is consumed twice (the CC edge set AND touched_reps below);
    # without the eager checkpoint each consumer re-runs the whole probe —
    # measured as ~2× the query's sf10 wall (ISOLATE_r9.json
    # incremental_clusters_anchor_ckpt).
    anchored = (
        assign.join(F.broadcast(matches), "base_id")
        .select(F.col("delta_id").alias("src"), F.col("_bc").alias("dst"))
        .localCheckpoint(eager=True)
    )
    dd = minhash_candidate_pairs(
        delta_docs,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        max_jaccard_dist=max_jaccard_dist,
        seed=seed,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components_star(anchored.unionByName(dd), "src", "dst")
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    delta_rows = (
        delta_docs.join(comp, delta_docs[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            cluster.alias("cluster_id"),
            F.lit("delta").alias("kind"),
        )
    )
    touched_reps = anchored.select(F.col("dst").alias("node")).distinct()
    remap_rows = (
        comp.join(touched_reps, "node")
        .filter(F.col("component") != F.col("node"))
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("cluster_id"),
            F.lit("base_remap").alias("kind"),
        )
    )
    return delta_rows.unionByName(remap_rows)


#: Top-level entries of the retired store formats (the unversioned
#: base, its journal-era swap dirs and manifests, the link-assembly
#: strays of the one-time migration, and the listed layer roots of the
#: format whose pointer named no layers). This code reads none of them.
_LEGACY = (
    "sets", "buckets", "*_next", "*_old", "*.assembling",
    "compact_journal.json", "folded_keys.json", "append", "deletes",
)

#: The signature store on disk (``operators/commit.py`` LSM store):
#: ``sets_v{N}``/``buckets_v{N}`` behind ``current.json`` (``{"version":
#: N, "seq": S, "app_layers": {key: seq}, "del_layers": {key: seq},
#: "folded": [...], "del_folded": [...]}``), and the layers it names,
#: ``app/<key>.<seq>/{sets,bands}`` and ``del/<key>.<seq>/ids``.
SIGNATURE_STORE = commit.LsmStore(
    pointer="current.json",
    base=("sets", "buckets"),
    append=commit.Layers("app", "folded"),
    delete=commit.Layers("del", "del_folded"),
    legacy=_LEGACY,
)


def minhash_signature_store_build(
    base_docs: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    seed: int = 42,
) -> None:
    """Build (or reuse) a PERSISTED minhash signature store for an
    existing corpus: ``sets_v{N}/`` (id, hs — the hashed shingle sets,
    for exact-Jaccard verification) and ``buckets_v{N}/`` (table_id, mh,
    width, ids — the LSH band index pre-aggregated into per-bucket
    member arrays by ``_band_buckets``, so a probe joins one row per
    bucket and never expands per-collision rows), committed behind the
    ``current.json`` snapshot pointer (r16). Idempotent: if the pointed-
    to version's parquet dirs carry a _SUCCESS marker the build is
    skipped — the deployment shape,
    where the corpus's text is shingled ONCE and every daily delta
    probes the store without touching base text again. After each ingest
    the accepted delta's signatures are appended as band-row deltas and
    folded into the bucket arrays at the periodic compaction (at 100 TB:
    partition the store by ingest date — the LSM pattern).
    """
    with commit.store_lock(store_dir):
        commit.recover(SIGNATURE_STORE, store_dir)
        view = commit.read_view(SIGNATURE_STORE, store_dir, missing_ok=True)
        if view.version is not None and all(
            os.path.exists(os.path.join(d, "_SUCCESS"))
            for d in view.base.values()
        ):
            return
        # Fresh build (or a corrupted current version — rebuild beside
        # it): write the base under the NEXT version and commit by
        # pointer flip, both manifests reset to the passed corpus's
        # truth; live layers stay live.
        new = view._replace(
            version=0 if view.version is None else view.version + 1,
            folded=[], del_folded=[],
        )
        dirs = new.base
        b_sets = _shingle_sets(
            base_docs, text_col, id_col, shingle_n, repartition=False
        )
        b_sets.write.mode("overwrite").parquet(dirs["sets"])
        spark = base_docs.sparkSession
        (
            _band_buckets(
                _band_rows(commit.read_store(spark, dirs["sets"]), num_hashes,
                           seed)
            )
            .write.mode("overwrite")
            .parquet(dirs["buckets"])
        )
        commit.flip(view, new)


def incremental_minhash_dedup_stored(
    spark,
    store_dir: str,
    delta_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    max_jaccard_dist: float = 0.8,
    seed: int = 42,
    max_candidates_per_doc: int = 64,
) -> DataFrame:
    """Incremental near-dup dedup against a PERSISTED signature store
    (``minhash_signature_store_build``) — the steady-state daily-ingest
    query: the base corpus's TEXT is never read, only its stored band
    index and shingle sets stream map-side against the broadcast delta.
    Same probe, same verdicts as ``incremental_minhash_dedup`` (asserted
    in tests/test_llm_ops.py); what changes is what the run touches.

    The probe reads the store's one read view (`commit.read_view`):
    the pointed base plus every un-compacted append layer, so a slice
    ingested this morning dedups against a slice appended an hour ago
    without waiting for compaction. Layer band rows are
    bucket-aggregated on the fly and probed ALONGSIDE the base buckets —
    both sides stream through broadcast hash joins against the delta
    and merge per hit (``_incremental_matches`` ``extra_buckets``;
    merge-stable cap), so the base bucket index never shuffles here (a
    pre-join ``_merge_bucket_layers`` full-outer would reshuffle the
    whole base index per probe; that merge runs only inside compaction).
    Verdicts equal a probe of the compacted store, asserted in
    tests/test_llm_ops.py. Read-only: the one pointer parse names the
    base and every live layer, so a motion committing mid-read is seen
    wholly or not at all, and nothing is healed in place (ADVICE r10)."""
    _check_probe_cap(max_candidates_per_doc)
    view = commit.read_view(SIGNATURE_STORE, store_dir)
    b_sets = view.frame(spark, "sets")
    store_buckets = commit.read_store(spark, view.base["buckets"])
    pending = view.pending(spark, "bands")
    # Pending deletions (r18) apply logically, in two layers, to base
    # AND layer signatures: the sets-side anti-join guarantees a deleted
    # id never VERIFIES as a match, and the pre-cap candidate filter
    # (deleted_ids) keeps a deleted id from occupying a capped candidate
    # slot that would displace a genuine near-duplicate until
    # compaction. Broadcast/literal-bounded by deletes since the last
    # compaction.
    dels = view.deleted_ids(spark)
    if dels is not None:
        b_sets = b_sets.join(F.broadcast(dels), "id", "left_anti")
    return _incremental_probe(
        b_sets, store_buckets, delta_docs, text_col, id_col, shingle_n,
        num_hashes, max_jaccard_dist, seed, max_candidates_per_doc,
        extra_buckets=None if pending is None else _band_buckets(pending),
        deleted_ids=commit.local_layer_ids(
            view.deletes, _DELETE_CANDIDATE_FILTER_MAX
        ),
    )


# Kept only for perfbench/workloads.py (tests/test_perfbench_imports.py).
incremental_minhash_dedup_layered = incremental_minhash_dedup_stored


def _store_layer_dirs(store_dir: str) -> list[str]:
    # Kept only for perfbench/workloads.py (tests/test_perfbench_imports.py).
    return commit.read_view(SIGNATURE_STORE, store_dir).appends


def _store_delete_dirs(store_dir: str) -> list[str]:
    # Kept only for perfbench/workloads.py (tests/test_perfbench_imports.py).
    return commit.read_view(SIGNATURE_STORE, store_dir).deletes


#: Above this many pending deleted ids (the delete layers' footer row
#: counts, so the decision runs no Spark job) the probes skip the exact
#: pre-cap candidate filter (a literal array that large would bloat
#: the plan) and fall back to the sets-side anti-join alone — deleted
#: ids then cost candidate slots until compaction. Compaction restores
#: exactness at any size.
_DELETE_CANDIDATE_FILTER_MAX = 4096


def minhash_signature_store_delete(
    spark,
    store_dir: str,
    doc_ids: DataFrame,
    delete_key: str,
    id_col: str = "doc_id",
) -> None:
    """DELETE documents from a persisted signature store (r18) — the
    right-to-be-forgotten motion a production corpus needs: after this
    commit, deleted docs are never again returned as dedup targets, and
    a new document identical to a deleted one is NOVEL.

    LSM shape, mirroring the append path: the ids land as a DELETE
    LAYER ``del/<key>.<seq>/ids`` (`commit.put_layer`: a fresh dir per
    write, named by a pointer flip; a redelivered key gets a new dir
    and its old one is tombstoned, never renamed or overwritten, so a
    lockless reader that resolved it keeps reading it — ADVICE r15).
    Probes apply live delete layers LOGICALLY in two
    interlocking layers: the sets-side anti-join guarantees a deleted
    id never VERIFIES as a match, and the pre-cap candidate filter
    (`_incremental_matches` ``deleted_ids``) removes deleted ids from
    the stored bucket arrays BEFORE the per-doc candidate cap, so a
    deleted id cannot displace a genuine near-duplicate out of the
    capped prefix. Past `_DELETE_CANDIDATE_FILTER_MAX` pending ids the
    second layer falls back to slot-loss-until-compaction (documented
    approximation; verification correctness is never affected — run
    the compaction). The next compaction
    applies deletions PHYSICALLY — sets rows dropped, bucket member
    arrays filtered — retires the layers (two-phase tombstone+grace),
    and records the key in the pointer's ``del_folded`` manifest so a
    replayed delete is a no-op, the same batch-key discipline as every
    other sink in the repo. Idempotent before compaction too: the
    layer is keyed, and deletion is monotone.

    Deleting an id that was never in the store is a harmless no-op
    row. Cost: O(delete batch) now, O(store) at the next compaction
    (the physical pass — at 100 TB the same rewrite a table-format
    purge pays)."""
    commit.put_layer(
        SIGNATURE_STORE, store_dir, "delete", delete_key,
        lambda fresh: (
            doc_ids.select(F.col(id_col).cast("long").alias("id"))
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(fresh, "ids"))
        ),
    )


def minhash_signature_store_append(
    spark,
    store_dir: str,
    accepted_docs: DataFrame,
    ingest_key: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    seed: int = 42,
) -> None:
    """Append an ACCEPTED ingest slice's signatures to a persisted store
    as a new LAYER ``app/<ingest_key>.<seq>/{sets,bands}`` — the write
    half of the daily loop: probe the slice, keep the survivors, append
    them so TOMORROW's slice dedups against today's. Idempotent per
    ``ingest_key``: a re-delivery writes a fresh dir and the pointer
    flip replaces the key's entry (`commit.put_layer` — never in place,
    ADVICE r15: a stale lockless reader may have resolved the old
    layer's part files, which stay until grace), and a key the
    compactor has already folded into the base (the pointer's
    ``folded`` manifest) is skipped entirely — replaying a processed
    day is a no-op, the same batch-id discipline as the streaming upsert
    sink (streaming/runner.py). Layers hold RAW band rows (the LSM log);
    ``minhash_signature_store_compact`` folds them into the
    bucket-aggregated base."""

    def write(fresh):
        a_sets = _shingle_sets(
            accepted_docs, text_col, id_col, shingle_n, repartition=False
        )
        a_sets.write.mode("overwrite").parquet(os.path.join(fresh, "sets"))
        (
            _band_rows(
                commit.read_store(spark, os.path.join(fresh, "sets")),
                num_hashes, seed,
            )
            .write.mode("overwrite")
            .parquet(os.path.join(fresh, "bands"))
        )

    commit.put_layer(
        SIGNATURE_STORE, store_dir, "append", ingest_key, write
    )


def _merge_bucket_layers(
    base_buckets: DataFrame, pending_bands: DataFrame,
    bucket_cap: int = BUCKET_STORE_CAP,
) -> DataFrame:
    """Fold raw pending band rows into bucket-aggregated base buckets.

    The min-id-prefix cap is MERGE-STABLE: the cap smallest ids of
    (cap-smallest-of-base ∪ new) equal the cap smallest of
    (all-base ∪ new), because the base prefix already contains every
    base id that could make the merged prefix. So compaction produces
    byte-identical buckets to a from-scratch rebuild over the union
    corpus — asserted in tests/test_llm_ops.py. Widths add exactly."""
    pend = _band_buckets(pending_bands, bucket_cap)
    b = base_buckets.select(
        "table_id", "mh",
        F.col("ids").alias("_bi"), F.col("width").alias("_bw"),
    )
    p = pend.select(
        "table_id", "mh",
        F.col("ids").alias("_pi"), F.col("width").alias("_pw"),
    )
    empty = F.array().cast("array<bigint>")
    return b.join(p, ["table_id", "mh"], "full_outer").select(
        "table_id",
        "mh",
        F.slice(
            F.sort_array(
                F.concat(
                    F.coalesce(F.col("_bi"), empty),
                    F.coalesce(F.col("_pi"), empty),
                )
            ),
            1,
            bucket_cap,
        ).alias("ids"),
        (
            F.coalesce(F.col("_bw"), F.lit(0)) + F.coalesce(F.col("_pw"), F.lit(0))
        ).alias("width"),
    )


def _compact_frames(spark, view: commit.LsmView):
    """The (sets, buckets) frames of the base version a compaction of
    ``view`` writes: base ∪ append layers, minus the delete layers."""
    merged_sets = view.frame(spark, "sets")
    pending = view.pending(spark, "bands")
    merged_buckets = commit.read_store(spark, view.base["buckets"])
    if pending is not None:
        merged_buckets = _merge_bucket_layers(merged_buckets, pending)
    if view.deletes:
        # PHYSICAL deletion fold (r18): drop deleted docs from the
        # sets side and filter them out of every bucket's member
        # array (explode → anti-mark → re-aggregate under the same
        # merge-stable min-id-prefix cap; width decremented by the
        # members actually removed — beyond-cap width remains the
        # conservative collision count it always was). A bucket
        # whose members are all deleted vanishes. After this pass
        # the store is byte-equivalent to one built without the
        # deleted docs, except where a deleted id had evicted
        # another past BUCKET_STORE_CAP (cap 1024 — a documented,
        # fixture-unreachable approximation).
        dels = view.deleted_ids(spark)
        merged_sets = merged_sets.join(
            F.broadcast(dels), "id", "left_anti"
        )
        mark = dels.select(F.col("id").alias("_did")).withColumn(
            "_del", F.lit(1)
        )
        merged_buckets = (
            merged_buckets.select(
                "table_id", "mh", "width",
                F.explode("ids").alias("_did"),
            )
            .join(F.broadcast(mark), "_did", "left")
            .groupBy("table_id", "mh")
            .agg(
                F.slice(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_del").isNull(),
                                F.col("_did"),
                            )
                        )
                    ),
                    1,
                    BUCKET_STORE_CAP,
                ).alias("ids"),
                (
                    F.first("width")
                    - F.coalesce(F.sum("_del"), F.lit(0))
                ).cast("long").alias("width"),
            )
            .filter(F.size("ids") > 0)
        )
    return merged_sets, merged_buckets


def minhash_signature_store_compact(spark, store_dir: str) -> None:
    """Fold every live append layer into a NEW base version and commit
    it with one atomic pointer flip — the LSM compaction, re-based on
    the r16 snapshot-pointer layout (VERDICT r15 #3). The merged base is
    written to ``sets_v{N+1}``/``buckets_v{N+1}`` beside the live
    version; `commit.fold_commit` then rewrites ``current.json``
    atomically with the new version AND both updated manifests in one
    document (so no reader can pair the new base with a stale skip set),
    and TOMBSTONES the folded layers and the old version dirs in place;
    they are collected after ``$PYCAIM_STORE_GC_GRACE`` seconds — a
    lockless reader that resolved version N keeps every one of its files
    for the whole grace period (r15 reproduced the crash this prevents:
    an immediate ``rmtree`` of the append layers gave a concurrent
    probe PATH_NOT_FOUND mid-scan). A process crash anywhere is
    reconciled by `commit.recover`: the pointer flip IS the commit, so
    pre-flip crashes leave uncommitted ``*_v{N+1}`` strays (deleted,
    re-derived next time) and post-flip crashes leave missing tombstones
    (re-laid idempotently). Scope (ADVICE r10): the pointer is fsynced,
    the parquet part files are the filesystem's durability contract, not
    this function's. Concurrency: runs under the store's exclusive write
    lock, so a second concurrent compaction blocks and then no-ops (no
    layers left to fold)."""
    with commit.store_lock(store_dir):
        commit.recover(SIGNATURE_STORE, store_dir)
        view = commit.fold_view(SIGNATURE_STORE, store_dir)
        if view is None:
            return
        merged_sets, merged_buckets = _compact_frames(spark, view)
        new = commit.base_dirs(SIGNATURE_STORE, store_dir, view.version + 1)
        merged_sets.write.mode("overwrite").parquet(new["sets"])
        merged_buckets.write.mode("overwrite").parquet(new["buckets"])
        commit.fold_commit(view)
        commit.collect(SIGNATURE_STORE, store_dir)
        # Housekeeping on the compaction cadence (VERDICT r11 #5): trim
        # the manifest to the newest $PYCAIM_STORE_GC_KEEP folded keys
        # (default 128 — generous vs. any sane upstream redelivery
        # horizon; 0 disables). Still under this compaction's write lock.
        keep = int(os.environ.get("PYCAIM_STORE_GC_KEEP", "128"))
        if keep > 0:
            _manifest_gc_locked(store_dir, keep)


def minhash_store_manifest_gc(store_dir: str, keep_last: int = 32) -> int:
    """Trim the folded-keys manifest to its ``keep_last`` most recently
    FOLDED ingest keys and return how many were dropped. Recency is fold
    order (the order the compactor appended them — the pointer's layer
    append order, `commit.fold_commit`), never lexicographic key order:
    arbitrary keys don't sort chronologically ('day10' < 'day2'), and
    dropping the wrong end would shrink the replay-idempotency window
    for the keys most likely to be redelivered (ADVICE r11).
    The manifest's only job is replay idempotency (a re-delivered,
    already-folded ingest key no-ops in ``minhash_signature_store_append``),
    so GC trades manifest size for replay window: a key older than the
    retained window would re-append on replay and re-introduce its rows
    as duplicates — run GC with ``keep_last`` ≥ the upstream redelivery
    horizon (e.g. a few times the ingest pipeline's max retry age). At
    one key per daily ingest the un-GC'd manifest grows ~4 KB/decade, so
    this is housekeeping, not a scale requirement. Runs automatically at
    the end of every compaction with ``$PYCAIM_STORE_GC_KEEP`` (default
    128, generous vs. any sane redelivery horizon); this standalone entry
    point exists for explicit housekeeping with a tighter window. The
    applied-deletion manifest is never trimmed."""
    with commit.store_lock(store_dir):
        commit.recover(SIGNATURE_STORE, store_dir)
        return _manifest_gc_locked(store_dir, keep_last)


def _manifest_gc_locked(store_dir: str, keep_last: int) -> int:
    """GC body, caller holds the write lock (compaction tail-calls this
    inside its own lock — flock on the same fd is not reentrant). The
    trim rewrites the pointer through `commit.write_pointer` with only
    the folded list replaced: every other field is carried over."""
    view = commit.read_view(SIGNATURE_STORE, store_dir, missing_ok=True)
    if len(view.folded) <= keep_last:
        return 0
    kept = view.folded[-keep_last:] if keep_last > 0 else []
    commit.write_pointer(view._replace(folded=kept))
    return len(view.folded) - len(kept)


def stream_ingest_dedup(
    spark,
    base_docs: DataFrame,
    slices: list[DataFrame],
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    plan_sink: list | None = None,
) -> DataFrame:
    """The signature-store ingestion loop AS A STREAM: stage each slice
    as a file with ordered mtimes, consume one file per trigger under
    availableNow, and inside ``foreachBatch`` probe the store (base +
    every earlier batch's append layer), write verdicts to a per-batch
    dir (idempotent on replay), and append the batch's accepted docs'
    signatures so the NEXT batch dedups against this one — cross-batch
    state no pure per-batch job carries. Returns all verdicts
    ``(doc_id, dup_of, best_dist, is_new, batch_id)`` re-read from the
    sink. foreachBatch runs driver-side, so the store helpers close over
    the live SparkSession safely. ``plan_sink``, when given, collects
    each micro-batch probe's formatted plan so tests can assert the
    per-batch shape (base side broadcast-probed, never shuffle-joined —
    the same steady-state contract as the stored probe)."""
    import shutil

    shutil.rmtree(work_dir, ignore_errors=True)
    store = os.path.join(work_dir, "store")
    minhash_signature_store_build(
        base_docs, store, text_col=text_col, id_col=id_col
    )

    src = os.path.join(work_dir, "incoming")
    for i, sl in enumerate(slices):
        sub = os.path.join(src, f"slice{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(sub)
        # FileStreamSource orders by modification time: pin mtimes so
        # slices become micro-batches in list order.
        t0 = 1_000_000_000 + i * 1_000_000
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                os.utime(os.path.join(sub, f), (t0, t0))

    verdicts_dir = os.path.join(work_dir, "verdicts")

    def _probe_and_append(batch_df, batch_id):
        v = incremental_minhash_dedup_stored(
            spark, store, batch_df, text_col=text_col, id_col=id_col
        )
        if plan_sink is not None:
            plan_sink.append(
                v._sc._jvm.PythonSQLUtils.explainString(
                    v._jdf.queryExecution(), "formatted"
                )
            )
        v.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(os.path.join(verdicts_dir, f"batch{batch_id}"))
        accepted = batch_df.join(
            v.filter(F.col("is_new") == 1).select(id_col), id_col
        )
        minhash_signature_store_append(
            spark, store, accepted, f"batch{batch_id}",
            text_col=text_col, id_col=id_col,
        )

    stream = (
        spark.readStream.schema(slices[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "slice*"))
    )
    q = (
        stream.writeStream.foreachBatch(_probe_and_append)
        .option("checkpointLocation", os.path.join(work_dir, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.option("basePath", verdicts_dir).parquet(
        os.path.join(verdicts_dir, "batch*")
    )


def with_simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Add a ``simhash`` long column, computed entirely JVM-side.

    64-bit SimHash: hash each whitespace token (``xxhash64`` — seeded,
    process-independent), sign-sum each bit position over the document's
    tokens, set bit b iff its sum is positive. Expressed as explode →
    hash → 64 per-bit SUM aggregates → bit reassembly: every stage is
    whole-stage-codegen'd, the shuffle is one doc-keyed exchange of
    (id, 64 longs) partial aggregates, and no Python runs at all. (The
    previous implementation md5-hashed every token inside a Python loop
    in an Arrow UDF; identical band/Hamming semantics — the token hash is
    equally arbitrary. Full-query local timing at sf0.1 is within noise
    of the UDF form — candidate-pair volume dominates there, see
    ISOLATE_r8.json — but the hot path no longer serializes text through
    Arrow or runs per-token Python, which is the cost that grows with
    corpus size at 100 TB.)

    Tokenless documents get signature 0, matching the sign-sum identity.
    """
    tok = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
        .select("_id", F.xxhash64("_tok").alias("_h"))
    )
    bit_sums = tok.groupBy("_id").agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("_h"), b).bitwiseAND(F.lit(1))
                * 2 - 1
            ).alias(f"_b{b}")
            for b in range(64)
        ]
    )
    sig = None
    for b in range(64):
        term = F.when(
            F.col(f"_b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    sigs = bit_sums.select("_id", sig.alias("simhash"))
    return (
        docs.join(sigs, docs[id_col] == sigs["_id"], "left")
        .drop("_id")
        .withColumn("simhash", F.coalesce("simhash", F.lit(0).cast("long")))
    )


def simhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    n_bands: int = 8,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs by SimHash Hamming distance, band-blocked.

    The 64-bit signature splits into ``n_bands`` chunks; candidates are
    pairs that agree EXACTLY on at least one band (equi-join per band —
    shuffle-based, never an all-pairs nested loop). By pigeonhole, a pair
    with hamming ≤ n_bands−1 must agree on some band, so recall is exact
    for ``max_hamming < n_bands`` (the defaults: ≤7 with 8 bands);
    beyond that it degrades gracefully like MinHash banding. The hamming
    check itself is JVM-side xor + bit_count.

    Dense-clique safeguard (same as ``minhash_candidate_pairs``): buckets
    wider than ``max_bucket_width`` (env ``PYCAIM_LSH_MAX_BUCKET``,
    default 256; 0 disables) emit star pairs against the bucket's min-id
    member instead of all-pairs — W−1 candidates instead of W²/2,
    connectivity preserved for downstream clustering.
    """
    if max_bucket_width is None:
        max_bucket_width = int(os.environ.get("PYCAIM_LSH_MAX_BUCKET", "256"))
    width = 64 // n_bands
    sigs = with_simhash(docs, text_col, id_col).select(
        F.col(id_col).alias("id"), F.col("simhash").alias("sig")
    )
    bands = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    if max_bucket_width:
        # Same measured guard shapes as minhash_candidate_pairs (evidence:
        # ISOLATE_r8.json); sig rides along through the min-struct, and
        # the Hamming cut runs as the helper's pair_filter — BEFORE the
        # dedup shuffle, so failed candidates never leave their map task.
        pairs, _ = _banded_pairs_with_guard(
            bands, ["band_id", "band_val"], max_bucket_width, with_sig=True,
            pair_filter=ham <= max_hamming,
        )
    else:
        a = bands.select(
            "band_id", "band_val",
            F.col("id").alias("id_a"), F.col("sig").alias("sig_a"),
        )
        b = bands.select(
            "band_id", "band_val",
            F.col("id").alias("id_b"), F.col("sig").alias("sig_b"),
        )
        pairs = (
            a.join(b, ["band_id", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(ham <= max_hamming)
            .select("id_a", "id_b", "sig_a", "sig_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    return pairs.select("id_a", "id_b", ham.alias("hamming"))


# Ship these functions by value: Spark workers cannot import pycaim_spark
# (the driver harness adds it to sys.path only in the driver process).
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
