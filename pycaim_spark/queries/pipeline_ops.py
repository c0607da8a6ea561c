"""Training-data-pipeline operators beyond SURVEY §2.C's first wave:
document chunking, context-window packing, stratified sampling, PII
redaction, embedding normalization/quantization (task north star: the
operations a large-scale training-data pipeline needs at 100 TB).

All five are oracle-checked: each is a deterministic, per-row or
windowed transformation both engines can express exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from pycaim_spark.catalog import fresh_cache, load_table
from pycaim_spark.registry import register


def _shard_exchange(base, *keys):
    """One explicit hash exchange on ``keys``, shared by the two-level
    prefix-scan consumers (the per-shard offsets aggregate AND the
    within-shard window) of the sharded-scan operators below.

    Without it each consumer plans its own subtree over the corpus scan —
    the offsets side as scan → partial agg → tiny exchange, the window
    side as scan → full-row exchange — and the corpus is SCANNED TWICE
    per query (guide §2.4: two operations keyed the same way can share
    one exchange). With it, both hang off a single
    RepartitionByExpression(keys): the window's required distribution is
    satisfied directly and the aggregate runs shuffle-free above the same
    exchange, which ReuseExchange dedups (plans/r18/*_{before,after}.txt).
    The trade is explicit: the offsets side now re-reads corpus-sized
    shuffle output instead of shuffling shard-count-sized partial sums —
    but the window side already shuffles the full rows, so total shuffle
    WRITE bytes are unchanged and a full extra pass over (at 100 TB,
    remote) storage is gone.

    The no-op IsNotNull filters exist for canonical-subtree identity: the
    offsets join infers them on the window side (join keys) but cannot
    push them below the offsets window (``shard`` is an order key there),
    so without the explicit copy the two exchange subtrees canonicalize
    differently and ReuseExchange silently splits — the r18
    dedup_minhash/sim_lsh lesson (commit 3553fb4). Keys are never null by
    construction (fixture langs/epochs, shard = doc_id DIV k). Decision:
    ISOLATE_r18.json `*_scan_unify_*` series; plans/r18.
    """
    cond = F.col(keys[0]).isNotNull()
    for k in keys[1:]:
        cond = cond & F.col(k).isNotNull()
    return base.filter(cond).repartition(*keys)


def _offsets_keepalive(agg_df, keep_cols):
    """Column-pruning keep-alive for the offsets aggregate's copy of the
    shared exchange (companion to `_shard_exchange`): the offsets side
    only needs the shard keys + one aggregate, so ColumnPruning would trim
    both the aggregate list and the exchange's input projection, and the
    skinnied copy no longer canonicalizes with the window side's — the
    exchange splits back into two corpus passes. The `min(col)` aggregates
    (added by the caller) keep the pruned-off columns in the aggregate's
    required input, and this filter (`min` over a non-empty group is never
    null — a row-level no-op) keeps those aggregates referenced so the
    optimizer cannot remove them. Same mechanism as the `_min IS NOT
    NULL` keep-alive in operators/dedup.py `_banded_pairs_with_guard`
    (commit 3553fb4)."""
    cond = F.col(keep_cols[0]).isNotNull()
    for k in keep_cols[1:]:
        cond = cond & F.col(k).isNotNull()
    return agg_df.filter(cond)


def _word_ngrams(words, n):
    """Word n-gram array, guarded for short documents.

    Spark's ``sequence(0, stop)`` DESCENDS when ``stop`` is negative, and
    ``element_at`` then throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT — so a
    document with fewer than ``n`` words must yield an EMPTY array, which
    also matches ``generate_series``'s empty result in the DuckDB oracles.
    """
    seq = F.when(
        F.size(words) >= n, F.sequence(F.lit(0), F.size(words) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        seq,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + j + 1) for j in range(n)]
        ),
    )


@register(
    "text_chunk",
    tags=("llm", "text", "pipeline"),
    oracle="""
    SELECT doc_id,
           CAST(c AS INT) AS chunk_id,
           array_to_string(ws[(c * 6 + 1):(c * 6 + 8)], ' ') AS chunk_text,
           CAST(len(ws[(c * 6 + 1):(c * 6 + 8)]) AS INT) AS n_tokens
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         LATERAL (SELECT unnest(generate_series(0,
                      CAST(ceil((len(ws) - 2) / 6.0) AS BIGINT) - 1)) AS c) t
    """,
)
def text_chunk(spark, sf_dir):
    """Overlapping document chunking: windows of 8 tokens with stride 6
    (2-token overlap) — the standard pre-tokenization split for long
    documents entering a context-bounded trainer.

    Pure JVM expressions: token array built ONCE per row in its own
    projection (outer columns referenced inside HOF lambdas are
    re-evaluated per element otherwise), then slice+explode. Scales
    embarrassingly: no shuffle, chunk count ∝ document length.
    Chunk count = ceil((n_tokens - overlap) / stride), so every token is
    covered and the final partial chunk is kept.
    """
    size, stride = 8, 6
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    n_chunks = F.ceil(
        (F.size("ws") - F.lit(size - stride)) / F.lit(float(stride))
    ).cast("int")
    # Guard: Spark's sequence(0, -1) DESCENDS (it would fabricate chunks
    # for sub-stride docs); emit an empty array instead so explode drops
    # the row, matching generate_series semantics in the oracle.
    chunk_ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunked = toks.select(
        "doc_id",
        F.explode(chunk_ids).alias("chunk_id"),
        F.col("ws"),
    )
    piece = F.slice(F.col("ws"), F.col("chunk_id") * stride + 1, size)
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


@register(
    "text_pack",
    tags=("llm", "text", "pipeline"),
    oracle="""
    SELECT bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc
    FROM (
        SELECT doc_id, n_tok,
               lang || '#' || CAST(CAST(FLOOR(
                   (SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tok) / 512.0) AS BIGINT) AS VARCHAR) AS bin_id
        FROM (SELECT doc_id, lang,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents)
    ) b
    GROUP BY bin_id
    """,
)
def text_pack(spark, sf_dir):
    """Context-window packing: assign documents (grouped per language,
    ordered by doc_id) to 512-token training bins by running token count.

    The bin id is floor(tokens_before_this_doc / budget) — "soft" packing:
    a document whose tokens straddle a boundary stays in the earlier bin,
    so bins can overflow by at most one document (exact greedy packing is
    inherently sequential; this windowed form is deterministic and what
    large-scale packers actually run). The running token sum is a sharded
    two-level prefix scan, not a per-language window (which would push a
    whole language through one task): local cumulative sums within
    order-preserving doc_id-range shards, plus shard token offsets from a
    tiny per-(lang, shard) sum aggregate.
    """
    budget = 512
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    base = _shard_exchange(
        d.select(
            "doc_id", "lang", n_tok.alias("n_tok"),
            F.expr("doc_id DIV 4096").alias("shard"),
        ),
        "lang", "shard",
    )
    shard_sums = _offsets_keepalive(
        base.groupBy("lang", "shard").agg(
            F.sum("n_tok").alias("s"), F.min("doc_id").alias("_keep")
        ),
        ["_keep"],
    )
    w_off = (
        Window.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = shard_sums.select(
        "lang", "shard",
        F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("tok_offset"),
    )
    w_local = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("tok_offset") + F.sum("n_tok").over(w_local)
    binned = base.join(F.broadcast(offsets), ["lang", "shard"]).select(
        "doc_id",
        "n_tok",
        F.concat(
            F.col("lang"),
            F.lit("#"),
            F.floor((cum - F.col("n_tok")) / float(budget))
            .cast("bigint")
            .cast("string"),
        ).alias("bin_id"),
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "sample_stratified",
    tags=("llm", "pipeline"),
    oracle="""
    SELECT lang, doc_id, n_chars
    FROM (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM documents
    )
    WHERE rn <= CAST(ceil(n_lang * CASE lang WHEN 'en' THEN 0.5
                                             WHEN 'zh' THEN 0.2
                                             ELSE 0.1 END) AS BIGINT)
    """,
)
def sample_stratified(spark, sf_dir):
    """Stratified sampling with per-stratum rates (en 50%, zh 20%, rest
    10%) — the language-rebalancing step of a pretraining mix.

    Exact and deterministic: rank within stratum (here by doc_id; at
    100 TB use a salted hash ordering for an unbiased draw), keep the
    first ceil(rate·|stratum|). The rank is NOT a per-stratum window (one
    task per language at scale): doc_id ranges shard each stratum (DIV
    4096, order-preserving and data-independent), ranks are local to
    (lang, shard) and globalized by shard start offsets from a tiny count
    aggregate — the same two-level scan as shuffle_epoch; recurse the
    offset level if strata outgrow it.
    """
    rates = {"en": 0.5, "zh": 0.2}
    default_rate = 0.1
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", rates["en"]).when(
        F.col("lang") == "zh", rates["zh"]
    ).otherwise(default_rate)
    # r18 measured DECISION: like shuffle_epoch, this query does NOT take
    # the `_shard_exchange` scan-share text_pack/text_ngram_lm use. Its
    # corpus pass is three narrow columns (lang, doc_id, n_chars — pure
    # columnar, no tokenize/CPU work), so the duplicated offsets-side pass
    # is nearly free while the shared exchange forces the offsets+totals
    # aggregates to re-read the full shuffled corpus rows instead of
    # shuffling tiny map-side-aggregated counts: the unified form LOST its
    # sf10 paired series 0/4, median 1.35 vs 1.11 s (ISOLATE_r18.json
    # `sample_stratified_scan_unify_sf10_series`). The scan-share only
    # pays when the duplicated pass re-does corpus-sized CPU work (see
    # OPTIMIZATION_r18.md §4).
    base = d.select(
        "lang", "doc_id", "n_chars", F.expr("doc_id DIV 4096").alias("shard")
    )
    counts = base.groupBy("lang", "shard").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "lang", "shard",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset"),
    )
    # Stratum totals fold from the tiny (lang, shard) counts — a re-agg
    # over shard-count-sized rows — instead of a THIRD pass over the
    # corpus (guide §2.4: don't recompute what a cheaper consumer already
    # aggregated).
    n_lang = counts.groupBy("lang").agg(F.sum("cnt").alias("n_lang"))
    w_local = Window.partitionBy("lang", "shard").orderBy("doc_id")
    return (
        base.join(F.broadcast(offsets), ["lang", "shard"])
        .join(F.broadcast(n_lang), "lang")
        .select(
            "lang", "doc_id", "n_chars", "n_lang",
            (F.col("offset") + F.row_number().over(w_local)).alias("rn"),
        )
        .filter(F.col("rn") <= F.ceil(F.col("n_lang") * rate).cast("bigint"))
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "text_pii_redact",
    tags=("llm", "text", "pipeline"),
    oracle=r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(synth,
               '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(synth, '[a-z0-9._]+@[a-z0-9.]+'))
                AS INT) AS n_emails,
           CAST(len(regexp_extract_all(synth, '\b[0-9]{3}-[0-9]{4}\b'))
                AS INT) AS n_phones
    FROM (
        SELECT doc_id,
               'contact user' || CAST(doc_id AS VARCHAR) || '@' || lang ||
               '.example or 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ||
               ' re: ' || text AS synth
        FROM documents
    )
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII redaction: regex-scrub emails and phone-shaped tokens, keeping
    match counts for audit — the scrubbing pass of a compliance pipeline.

    The fixture corpus carries no PII, so each row first synthesizes a
    deterministic contact header from its own keys (both engines build the
    identical string); the redaction expressions then run on real
    documents + planted PII. The regexes stay in the Java∩RE2 common
    dialect so Spark and DuckDB match identically. Pure projection — no
    shuffle, linear scan at any scale.
    """
    email_re = r"[a-z0-9._]+@[a-z0-9.]+"
    phone_re = r"\b[0-9]{3}-[0-9]{4}\b"
    d = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("lang"),
        F.lit(".example or 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" re: "),
        F.col("text"),
    )
    with_synth = d.select("doc_id", synth.alias("synth"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("synth"), email_re, "<EMAIL>"),
        phone_re,
        "<PHONE>",
    )
    return with_synth.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(F.col("synth"), F.lit(email_re), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("synth"), F.lit(phone_re), F.lit(0)))
        .alias("n_phones"),
    )


@register(
    "emb_quantize",
    tags=("llm", "similarity", "pipeline"),
    oracle="""
    SELECT vec_id,
           CASE WHEN mx > 0 THEN list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / mx * 127.0, 0) AS INT))
           ELSE list_transform(embedding, x -> 0) END AS q8,
           round(mx, 6) AS scale_val
    FROM (
        SELECT vec_id, embedding,
               list_reduce(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b)) AS mx
        FROM embeddings
    )
    """,
)
def emb_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization: per-vector max-abs scale,
    q = round(x / scale · 127) — 4× storage reduction before ANN indexing
    (the dequantized dot error is bounded by scale/127 per dim).

    Max-abs is an order-independent fold (greatest is associative and
    commutative), so both engines compute identical scales; the division
    and HALF_UP rounding are then per-element deterministic. Pure
    projection, no shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    mx = F.aggregate(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda a, b: F.greatest(a, b),
    )
    staged = emb.select("vec_id", "embedding", mx.alias("mx"))
    # All-zero embedding → mx = 0: x/mx would raise under ANSI Spark while
    # DuckDB yields NaN — both sides define the quantized zero vector as 0s.
    q8 = F.when(
        F.col("mx") > 0,
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") / F.col("mx") * 127.0, 0).cast("int"),
        ),
    ).otherwise(F.transform(F.col("embedding"), lambda x: F.lit(0)))
    return staged.select(
        "vec_id", q8.alias("q8"), F.round(F.col("mx"), 6).alias("scale_val")
    )


@register(
    "text_repetition",
    tags=("llm", "text", "pipeline"),
    oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), bg AS (
        SELECT doc_id, w[g] || ' ' || w[g+1] AS b
        FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS g) t
    ), top_bg AS (
        SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS n_bg
        FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b)
        GROUP BY doc_id
    )
    SELECT ws.doc_id,
           round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
               AS dup_word_frac,
           round(CAST(top_cnt AS DOUBLE) / n_bg, 6) AS top_bigram_frac,
           CAST(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) <= 0.5
                AND CAST(top_cnt AS DOUBLE) / n_bg <= 0.18
                AS INTEGER) AS keep
    FROM ws JOIN top_bg ON top_bg.doc_id = ws.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition quality filters: fraction of duplicated
    words and the most-frequent-bigram mass per document; ``keep`` applies
    the published thresholds (Rae et al. 2021 use per-ngram caps — 0.18
    for the top bigram — plus duplicate-line fractions; words stand in for
    lines on the single-line fixture).

    Scale shape: the word stats are per-row array expressions (no
    shuffle); the bigram mode is one explode + two-level groupBy with
    map-side partial aggregation — linear in corpus tokens.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    dup_frac = F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(words)).cast("double") / F.size(words),
        6,
    )
    bigrams = _word_ngrams(words, 2)
    top_frac = F.round(F.col("top_cnt").cast("double") / F.col("n_bg"), 6)
    # Deliberately the r17 TWO-scan shape (per-row stats pass + bigram
    # explode pass, joined on doc_id — the join broadcasts the per-doc
    # aggregate). The r18 single-pass candidate (dup_word_frac carried
    # through the bigram aggregates as a min(); 1 scan, no join) lost its
    # settled sf10 paired series 0/2 from both slot orders with clean
    # canaries at 1.4-1.8x margins (ISOLATE_r18.json
    # `text_repetition_scan_unify_sf10_series`; the first attempt, whose
    # stats projection the analyzer had collapsed ABOVE the Generate so
    # split+array_distinct ran once per exploded bigram, lost 0/2 too —
    # `..._collapsed_form`). Mechanism matches the scan-unify family
    # split (OPTIMIZATION_r18.md change #4): the duplicated pass here is
    # per-DOC work (one split + array_distinct per document), while the
    # carried double widens every row of the corpus-TOKEN-sized
    # exploded-bigram aggregate pipeline — the tax outweighs the save.
    per_bg = (
        d.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"), F.sum("c").alias("n_bg"))
    )
    stats = d.select("doc_id", dup_frac.alias("dup_word_frac"))
    return (
        stats.join(per_bg, "doc_id")
        .select(
            "doc_id",
            "dup_word_frac",
            top_frac.alias("top_bigram_frac"),
            ((F.col("dup_word_frac") <= 0.5) & (top_frac <= 0.18))
            .cast("int")
            .alias("keep"),
        )
    )


@register(
    "text_decontaminate",
    tags=("llm", "text", "pipeline"),
    oracle="""
    WITH ws AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ), tg AS (
        SELECT DISTINCT doc_id, source,
               w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS t
        FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS g) x
    ), hits AS (
        SELECT c.doc_id, COUNT(DISTINCT c.t) AS n_shared
        FROM tg c JOIN (SELECT DISTINCT t FROM tg WHERE source = 'src0') b
             ON c.t = b.t
        WHERE c.source <> 'src0'
        GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_trigrams,
           CAST(COALESCE(h.n_shared, 0) >= 3 AS INTEGER) AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.source <> 'src0'
    """,
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing ≥3 distinct
    word-trigrams with the held-out set (here: ``source = 'src0'`` stands
    in for the eval benchmark) — the standard n-gram-overlap test-set
    leakage check run before training.

    Scale shape: the benchmark trigram set is tiny relative to the corpus
    (that is the real-world shape), so Spark broadcasts it and the check
    is a map-side semi-join over corpus trigrams — no corpus shuffle
    before the per-doc count; linear in corpus tokens.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    trigrams = _word_ngrams(words, 3)
    tg = d.select(
        "doc_id", "source", F.explode(F.array_distinct(trigrams)).alias("t")
    )
    bench = F.broadcast(
        tg.filter(F.col("source") == "src0").select("t").distinct()
    )
    # count, not count_distinct: (doc_id, t) is already unique — corpus
    # trigrams explode from array_distinct and the broadcast bench side is
    # .distinct(), so the equi-join yields at most one row per pair. The
    # distinct aggregate would plan the two-phase expand (2 Exchanges) for
    # a dedup that cannot remove anything (guide §2.4: distinct on data
    # that is already unique); COUNT(DISTINCT t) in the oracle is the
    # same value for the same reason.
    hits = (
        tg.filter(F.col("source") != "src0")
        .join(bench, "t")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    corpus = d.filter(F.col("source") != "src0").select("doc_id")
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint")
    return corpus.join(hits, "doc_id", "left").select(
        "doc_id",
        n_shared.alias("n_shared_trigrams"),
        (n_shared >= 3).cast("int").alias("contaminated"),
    )


@register(
    "split_leakage_safe",
    tags=("llm", "pipeline"),
    oracle="""
    WITH groups AS (
        SELECT doc_id,
               MIN(doc_id) OVER (
                   PARTITION BY md5(trim(regexp_replace(lower(text),
                                                        '\\s+', ' ', 'g')))
               ) AS group_id
        FROM documents
    )
    SELECT doc_id, group_id,
           CASE WHEN (group_id % 2147483648 * 2654435761) % 4294967296 % 10 < 8
                THEN 'train' ELSE 'eval' END AS split
    FROM groups
    """,
)
def split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/eval split: exact-duplicate groups (normalized
    text hash) are assigned to a split AS A UNIT via a deterministic
    multiplicative hash of the group id — duplicates can never straddle
    the boundary and leak eval content into training. Swap the grouping
    key for dedup_clusters_star components to extend the guarantee to
    NEAR-duplicates; the assignment rule is unchanged.

    Scale shape: one window (or groupBy-join) over the 32-byte normalized
    hash, then a pure projection; the split decision never moves data.
    """
    d = load_table(spark, sf_dir, "documents")
    norm_hash = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    w = Window.partitionBy(norm_hash)
    group_id = F.min("doc_id").over(w)
    # Knuth multiplicative hash, engine-portable where xxhash64/hash()
    # builtins differ between Spark and DuckDB. The id is pre-reduced
    # mod 2^31 so the product stays < 2^63 for ANY 64-bit id — ANSI
    # Spark makes bigint overflow a runtime error, not a wrap.
    bucket = (group_id % F.lit(2147483648) * F.lit(2654435761)) % F.lit(4294967296) % 10
    return d.select(
        "doc_id",
        group_id.alias("group_id"),
        F.when(bucket < 8, F.lit("train")).otherwise(F.lit("eval")).alias("split"),
    )


@register(
    "shuffle_epoch",
    tags=("llm", "pipeline"),
    oracle="""
    SELECT e.epoch, doc_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY e.epoch
               ORDER BY (doc_id % 2147483648 * 2654435761 + e.epoch * 40503)
                        % 4294967296, doc_id
           ) AS BIGINT) AS position
    FROM documents, (SELECT unnest([0, 1]) AS epoch) e
    """,
)
def shuffle_epoch(spark, sf_dir):
    """Deterministic per-epoch corpus shuffle: a seeded multiplicative hash
    of (doc_id, epoch) defines a reproducible random order per training
    epoch — rerunning the pipeline (or recovering a failed job) yields the
    SAME example order, which no ``rand()``-based shuffle guarantees.

    Scale shape: a naive ``row_number() OVER (PARTITION BY epoch)`` funnels
    the whole corpus through one task per epoch. Instead the hash range
    [0, 2^32) is cut into 64 ordered SHARDS: positions are enumerated per
    (epoch, shard) — max task ≈ corpus/64, grow the constant with the
    cluster — and made global by adding each shard's start offset, which
    comes from a tiny (epochs × shards)-row count aggregate broadcast back.
    Two narrow shuffles; no single-task sort anywhere.
    """
    n_shards = 64
    d = load_table(spark, sf_dir, "documents")
    epochs = d.select(
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
    )
    order = (
        F.col("doc_id") % 2147483648 * 2654435761 + F.col("epoch") * 40503
    ) % 4294967296
    shard = (order / F.lit(float(4294967296 // n_shards))).cast("int")
    # r18 measured DECISION: this query deliberately does NOT take the
    # `_shard_exchange` scan-share the rest of the trio uses. Its corpus
    # pass is a single narrow int64 column (doc_id — columnar scan,
    # no text), so the duplicated offsets-side pass is nearly free while
    # the shared exchange makes the offsets aggregate re-read the full
    # exploded 2×corpus shuffle output instead of shuffling tiny
    # map-side-aggregated counts: the unified form LOST its sf10 paired
    # series 0/4, median 1.07 vs 0.83 s (ISOLATE_r18.json
    # `shuffle_epoch_scan_unify_sf10_series`). The scan-share only pays
    # when the duplicated pass re-does corpus-sized CPU work (tokenize/
    # shingle — see text_pack/text_ngram_lm and OPTIMIZATION_r18.md §4).
    base = epochs.select(
        "doc_id", "epoch", order.alias("ord"), shard.alias("shard")
    )
    # Shard start offsets: counts per (epoch, shard) is a tiny aggregate;
    # the running sum over shards-in-order runs on epochs×shards rows.
    w_off = (
        Window.partitionBy("epoch")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy("epoch", "shard")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "epoch", "shard",
            F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset"),
        )
    )
    w_local = Window.partitionBy("epoch", "shard").orderBy("ord", "doc_id")
    return (
        base.join(F.broadcast(offsets), ["epoch", "shard"])
        .select(
            "epoch",
            "doc_id",
            (F.col("offset") + F.row_number().over(w_local))
            .cast("bigint")
            .alias("position"),
        )
    )


#: The 4-stage pipeline oracle, shared by pipeline_pretrain and the
#: multimodal-extended pipeline_pretrain_mm below.
_PRETRAIN_ORACLE = """
    WITH norm AS (
        SELECT doc_id, text, source,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
        FROM documents
    ), kept AS (
        SELECT doc_id, text, source, keep_id
        FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS keep_id FROM norm)
        WHERE doc_id = keep_id
    ), quality AS (
        SELECT doc_id, text, source, keep_id,
               len(string_split(text, ' ')) AS n_tokens
        FROM kept
        WHERE len(string_split(text, ' ')) >= 8
          AND 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')) <= 0.5
    ), bench_tg AS (
        SELECT DISTINCT w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS t
        FROM (SELECT string_split(text, ' ') AS w FROM documents
              WHERE source = 'src0'),
             LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS g) x
    ), contaminated AS (
        SELECT doc_id FROM (
            SELECT q.doc_id, COUNT(DISTINCT c.t) AS n_shared
            FROM (SELECT DISTINCT doc_id,
                         w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS t
                  FROM (SELECT doc_id, string_split(text, ' ') AS w
                        FROM quality WHERE source <> 'src0'),
                       LATERAL (SELECT unnest(generate_series(1, len(w) - 2))
                                AS g) x) c
            JOIN bench_tg b ON c.t = b.t
            JOIN quality q ON q.doc_id = c.doc_id
            GROUP BY q.doc_id
        ) WHERE n_shared >= 3
    )
    SELECT doc_id,
           CASE WHEN (keep_id % 2147483648 * 2654435761) % 4294967296 % 10 < 8
                THEN 'train' ELSE 'eval' END AS split,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM quality
    WHERE source <> 'src0'
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


@register(
    "pipeline_pretrain",
    tags=("llm", "pipeline", "flagship"),
    oracle=_PRETRAIN_ORACLE,
)
def pipeline_pretrain(spark, sf_dir):
    """End-to-end pre-training data pipeline in ONE composed plan — what a
    user actually runs before tokenization:

    1. exact dedup (normalized-hash canonical keeper),
    2. quality filter (min length + Gopher duplicate-word cap),
    3. benchmark decontamination (drop docs sharing ≥3 trigrams with the
       held-out ``src0`` set, and the held-out set itself),
    4. leakage-safe train/eval split (duplicate groups move as a unit).

    Every step is the registered standalone operator's logic inlined into
    one DataFrame chain; the oracle is the same four stages as SQL CTEs.
    Scale shape: the shuffles are narrow (normalized-hash window, trigram
    semi-join aggregation, anti-join on doc_id — hash/long keys only), and
    the post-quality frame is persisted before the decontamination fan-out
    (the static plan otherwise re-scans the corpus per consuming branch —
    measured 29%/17% at sf0.1/sf1, ISOLATE_r8.json pipeline_persist_*).
    """
    d = load_table(spark, sf_dir, "documents")
    norm_hash = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    w = Window.partitionBy(norm_hash)
    kept = (
        d.select("doc_id", "text", "source",
                 F.min("doc_id").over(w).alias("keep_id"))
        .filter(F.col("doc_id") == F.col("keep_id"))
    )
    words = F.split(F.col("text"), " ")
    dup_frac = (
        F.lit(1.0)
        - F.size(F.array_distinct(words)).cast("double") / F.size(words)
    )
    quality = kept.filter(
        (F.size(words) >= 8) & (dup_frac <= 0.5)
    ).withColumn("n_tokens", F.size(words).cast("bigint"))

    # The static plan re-scans the corpus per consuming branch (Catalyst
    # has no automatic CTE materialization), so persist the post-quality
    # frame before the decontamination fan-out. Isolate A/B
    # (ISOLATE_r8.json pipeline_persist_*): 1.71 → 1.21 s at sf0.1,
    # 3.59 → 2.97 s at sf1. MEMORY_AND_DISK spills at 100 TB scale.
    # fresh_cache drops the previous call's entry first, so every call
    # recomputes from parquet instead of reading an earlier call's cache.
    quality = fresh_cache("pipeline_pretrain.quality", quality)

    trigrams = _word_ngrams(words, 3)
    bench = F.broadcast(
        d.filter(F.col("source") == "src0")
        .select(F.explode(F.array_distinct(trigrams)).alias("t"))
        .distinct()
    )
    corpus = quality.filter(F.col("source") != "src0")
    # count, not count_distinct: (doc_id, t) is unique after the
    # array_distinct explode and the bench side is .distinct(), so the
    # join yields ≤1 row per pair and the distinct aggregate's two-phase
    # expand (an extra Exchange) dedups nothing (guide §2.4; same change
    # as text_decontaminate — oracle value identical).
    contaminated = (
        corpus.select("doc_id", F.explode(F.array_distinct(trigrams)).alias("t"))
        .join(bench, "t")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
    )
    bucket = (F.col("keep_id") % F.lit(2147483648) * F.lit(2654435761)) % F.lit(4294967296) % 10
    return (
        corpus.join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.when(bucket < 8, F.lit("train")).otherwise(F.lit("eval"))
            .alias("split"),
            "n_tokens",
        )
    )


@register(
    "pipeline_pretrain_mm",
    tags=("llm", "pipeline", "multimodal"),
    oracle=f"""
    WITH pipe AS ({_PRETRAIN_ORACLE})
    SELECT doc_id, split, n_tokens,
           CASE doc_id % 3 WHEN 0 THEN 'png'
                WHEN 1 THEN 'wav' ELSE 'jpeg' END AS fmt,
           CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 64
                WHEN 1 THEN -1 ELSE 32 + doc_id % 96 END AS width
    FROM pipe
    WHERE doc_id % 97 <> 0
    """,
)
def pipeline_pretrain_mm(spark, sf_dir):
    """The multimodal branch of the pre-training pipeline (VERDICT carried
    item): the 4-stage text pipeline joined with a media decode/validity
    stage over the documents' binary payloads.

    Stage 5 packs a real PNG/JPEG/WAV payload per document (1 in 97
    deterministically truncated — the corrupt-blob stand-in), decodes it
    with the pure-binary parser via Arrow ``mapInPandas``, DROPS payloads
    that fail to parse, and carries typed modality metadata (fmt, width)
    into the training manifest.

    Scale shape: the decode branch is a linear mapInPandas over the corpus
    (constant memory per task — batches stream); the validity join is an
    equi-join on doc_id against the already-filtered pipeline output, so
    the join input is the SMALL post-filter side, not the raw corpus. The
    oracle recomputes decode results arithmetically from doc_id — a wrong
    byte anywhere in pack or parse hash-mismatches.
    """
    from pycaim_spark.operators.multimodal import (
        decode_media_df,
        pack_media_payload,
    )

    base = pipeline_pretrain(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    meta = (
        decode_media_df(pack_media_payload(d, corrupt_every=97))
        .filter(F.col("valid"))
        .select("doc_id", "fmt", "width")
    )
    return base.join(meta, "doc_id").select(
        "doc_id", "split", "n_tokens", "fmt", "width"
    )


@register(
    "split_leakage_safe_neardup",
    tags=("llm", "pipeline"),
    rows_only_reason="near-dup clusters come from seeded MinHash banding "
    "(implementation-specific, no SQL twin); the no-straddle property — no "
    "candidate near-dup pair crosses the train/eval boundary — is asserted "
    "in tests/test_llm_ops.py",
)
def split_leakage_safe_neardup(spark, sf_dir):
    """Leakage-safe split extended to NEAR-duplicates: MinHash-LSH
    candidate pairs → large-star/small-star connected components → the
    whole component is assigned to train or eval as a unit by the same
    multiplicative hash as split_leakage_safe. A paraphrased or
    near-copied eval document can no longer leak into training.

    Scale shape: minhash banding + star CC are the measured scale paths
    (SCALING.md §LLM); the assignment itself is a pure projection.
    """
    from pycaim_spark.operators.dedup import minhash_candidate_pairs
    from pycaim_spark.operators.graph import connected_components_star

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(d)
    comp = connected_components_star(pairs, src="id_a", dst="id_b")
    group_id = F.coalesce(F.col("component"), F.col("doc_id"))
    bucket = (group_id % F.lit(2147483648) * F.lit(2654435761)) % F.lit(4294967296) % 10
    return (
        d.join(comp, d.doc_id == comp.node, "left")
        .select(
            "doc_id",
            group_id.alias("group_id"),
            F.when(bucket < 8, F.lit("train")).otherwise(F.lit("eval"))
            .alias("split"),
        )
    )
