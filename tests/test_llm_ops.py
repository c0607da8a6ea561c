"""Property/recall tests for the approximate LLM-pipeline operators
(SURVEY.md §5.2): MinHash vs exact Jaccard, LSH recall vs exact neighbors,
SimHash determinism, multimodal decode plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pycaim_spark.operators import commit
from pycaim_spark.operators.dedup import SIGNATURE_STORE
from pycaim_spark.operators.similarity import CODES_STORE
from pycaim_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _planted_near_dups(spark):
    """Corpus with known near-duplicates: pairs (0,1) and (2,3) share most
    words; everything else is disjoint."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base + " extra"),                       # ~0.9 word overlap
        (2, "one two three four five six seven"),
        (3, "one two three four five six newword"),  # ~0.75 overlap
        (4, "totally different words here nothing shared at all"),
        (5, "unrelated content again completely disjoint tokens"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_near_dups(spark):
    from pycaim_spark.operators.dedup import minhash_candidate_pairs

    docs = _planted_near_dups(spark)
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, max_jaccard_dist=0.9).collect()
    }
    assert (0, 1) in pairs and (2, 3) in pairs
    assert (4, 5) not in pairs  # disjoint docs must not collide


def test_simhash_deterministic_and_discriminative(spark):
    from pycaim_spark.operators.dedup import simhash_candidate_pairs, with_simhash

    docs = _planted_near_dups(spark)
    sigs1 = {r.doc_id: r.simhash for r in with_simhash(docs).collect()}
    sigs2 = {r.doc_id: r.simhash for r in with_simhash(docs).collect()}
    assert sigs1 == sigs2  # process-independent (md5-based, not hash())
    # 32 bands of 2 bits: pigeonhole-exact candidate recall up to
    # hamming 31, so the ≤20 filter below is exact.
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_candidate_pairs(
            docs, max_hamming=20, n_bands=32
        ).collect()
    }
    assert (0, 1) in pairs
    identical = with_simhash(
        spark.createDataFrame([(0, "same text"), (1, "same text")],
                              "doc_id long, text string")
    ).collect()
    assert identical[0].simhash == identical[1].simhash


def test_brp_lsh_recall_vs_exact_euclidean(spark, sf_dir):
    """sim_lsh_approx must recover ≥80% of exact euclidean pairs < 12.0."""
    from pycaim_spark.registry import REGISTRY
    from pycaim_spark.catalog import load_table
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    mat = np.stack(emb["embedding"].to_numpy())
    ids = emb["vec_id"].to_numpy()
    d2 = ((mat[:, None, :] - mat[None, :, :]) ** 2).sum(-1) ** 0.5
    exact = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if d2[i, j] < 1.2
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["sim_lsh_approx"].fn(spark, sf_dir).collect()
    }
    assert got <= exact or not exact  # no false positives beyond threshold
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.8, f"recall {recall:.2f} over {len(exact)} pairs"


def test_sign_lsh_pairs_are_exact_verified_subset(spark, sf_dir):
    """Every sign-LSH pair must appear in the exact all-pairs result."""
    from pycaim_spark.registry import REGISTRY

    exact = {
        (r.vec_a, r.vec_b): r.cos
        for r in REGISTRY["dedup_embedding"].fn(spark, sf_dir).collect()
    }
    approx = {
        (r.vec_a, r.vec_b): r.cos
        for r in REGISTRY["sim_lsh_bucketed"].fn(spark, sf_dir).collect()
    }
    for pair, cos in approx.items():
        assert pair in exact and exact[pair] == cos
    if exact:
        recall = len(approx) / len(exact)
        # banded 16×4-bit sign-LSH at cos≥0.3: theoretical recall ≈ 0.89
        assert recall >= 0.5, f"sign-LSH recall collapsed: {recall:.3f}"


def test_mm_decode_plumbing_parses_planted_headers(spark, sf_dir):
    from pycaim_spark.registry import REGISTRY

    rows = REGISTRY["mm_decode_plumbing"].fn(spark, sf_dir).collect()
    assert rows and all(r.valid for r in rows)
    for r in rows:
        assert r.kind == 1 and r.channels == 3
        assert r.width == (r.doc_id % 512) + 16
        assert r.height == (r.doc_id % 256) + 16
        assert r.payload_bytes > 8


def test_mm_decode_rejects_garbage(spark):
    from pycaim_spark.operators.multimodal import decode_metadata

    bad = spark.createDataFrame(
        [(1, bytearray(b"NOTMAGIC123"), "image/fake"), (2, None, "image/fake")],
        "doc_id long, payload binary, mime string",
    )
    rows = decode_metadata(bad).collect()
    assert all(not r.valid and r.kind == -1 for r in rows)


def test_ivf_recall_vs_exact(spark, sf_dir):
    """sim_ivf rows-only gate: recall vs sim_cosine_exact top-5. Fixture
    embeddings are near-isotropic (IVF's adversarial case), so the bound
    tracks the probed fraction (12/32 cells → recall ≈ 0.8)."""
    exact = {(r.query_id, r.neighbor_id)
             for r in REGISTRY["sim_cosine_exact"].fn(spark, sf_dir).collect()}
    rows = REGISTRY["sim_ivf"].fn(spark, sf_dir).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(rows) == 50  # 10 queries × top-5, rn dense per query
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall collapsed: {recall:.2f}"


def test_pq_recall_and_exact_rerank(spark, sf_dir):
    """sim_pq rows-only gate: ADC-over-codes candidates re-ranked exactly.
    Near-isotropic fixture embeddings are PQ's adversarial case (large
    quantization error), so the bound is loose; every returned cosine must
    equal the exact operator's value bit-for-bit (same fold, same
    rounding)."""
    exact = {(r.query_id, r.neighbor_id): r.cos
             for r in REGISTRY["sim_cosine_exact"].fn(spark, sf_dir).collect()}
    rows = REGISTRY["sim_pq"].fn(spark, sf_dir).collect()
    assert len(rows) == 50  # 10 queries × top-5, rn dense per query
    approx = {(r.query_id, r.neighbor_id): r.cos for r in rows}
    for pair, cos in approx.items():
        if pair in exact:
            assert exact[pair] == cos  # exact re-rank: bit-identical
    recall = len(exact.keys() & approx.keys()) / len(exact)
    assert recall >= 0.4, f"PQ recall collapsed: {recall:.2f}"


def test_pq_query_ids_survive_missing_low_vec_id(spark):
    """ADVICE r8: the ADC score array is positional; positions must map
    back to ACTUAL query vec_ids. With vec_id 1 absent from the table,
    query ids {0, 2} must come back — not the positional {0, 1}."""
    import numpy as np

    from pycaim_spark.operators.similarity import pq_topk_neighbors

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)])
        for i in range(40)
        if i != 1  # a missing low vec_id used to shift every query id
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = pq_topk_neighbors(
        emb, m=4, k_centroids=8, k=3, n_queries=3, sample_size=39
    ).collect()
    assert {r.query_id for r in got} == {0, 2}
    assert all(r.neighbor_id != r.query_id for r in got)


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation handles a 5-node chain (diameter > 1 forces
    multi-round convergence) plus a separate 2-clique."""
    from pycaim_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 10)],
        "src long, dst long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_star_cc_matches_propagation_and_handles_high_diameter(spark):
    """Large-star/small-star must (a) agree with propagation on a mixed
    graph and (b) converge on a 60-node chain whose diameter exceeds
    propagation's max_iter=20 default (which must raise, not silently
    mislabel)."""
    import pytest

    from pycaim_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    mixed = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 10), (20, 21)],
        "src long, dst long",
    )
    prop = {r.node: r.component for r in connected_components(mixed).collect()}
    star = {r.node: r.component for r in connected_components_star(mixed).collect()}
    assert star == prop

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=20)
    got = {r.node: r.component for r in connected_components_star(chain).collect()}
    assert got == {i: 0 for i in range(61)}


def test_dedup_embedding_guard_raises_at_scale(spark, sf_dir, monkeypatch):
    """The all-pairs baseline must refuse to run above the configured row
    cap, pointing the user at the bucketed scale paths."""
    from pycaim_spark.registry import REGISTRY

    monkeypatch.setenv("PYCAIM_ALLPAIRS_MAX_ROWS", "3")
    with pytest.raises(ValueError, match="dedup_minhash"):
        REGISTRY["dedup_embedding"].fn(spark, sf_dir)
    monkeypatch.delenv("PYCAIM_ALLPAIRS_MAX_ROWS")
    assert REGISTRY["dedup_embedding"].fn(spark, sf_dir).count() > 0


def test_real_png_wav_roundtrip_and_corruption():
    """make_png/make_wav emit genuinely valid containers; decode_media
    parses them back field-exact, verifies the IHDR CRC, and rejects
    corrupted or truncated payloads."""
    import zlib

    from pycaim_spark.operators.multimodal import decode_media, make_png, make_wav

    png = make_png(33, 21, seed=5)
    meta = decode_media(png)
    assert meta == {
        "fmt": "png", "width": 33, "height": 21, "bit_depth": 8,
        "channels": -1, "sample_rate": -1, "n_samples": -1,
    }
    # the IDAT really is a decompressible image: h scanlines of 1+w bytes
    idat = png[png.index(b"IDAT") + 4:png.index(b"IEND") - 8]
    assert len(zlib.decompress(idat)) == 21 * (33 + 1)

    wav = make_wav(11000, 2, 77)
    assert decode_media(wav) == {
        "fmt": "wav", "width": -1, "height": -1, "bit_depth": 16,
        "channels": 2, "sample_rate": 11000, "n_samples": 77,
    }

    # flip one IHDR byte → CRC mismatch → rejected
    corrupted = bytearray(png)
    corrupted[16] ^= 0xFF
    assert decode_media(bytes(corrupted)) is None
    assert decode_media(wav[:20]) is None          # truncated RIFF
    assert decode_media(b"\x89PNGnope") is None    # bad signature
    assert decode_media(None) is None

    # corrupted/oversized IHDR length field: the CRC slice would be short —
    # must return None, not raise struct.error (ADVICE r3)
    oversized = bytearray(png)
    oversized[8:12] = (0x7FFFFFFF).to_bytes(4, "big")
    assert decode_media(bytes(oversized)) is None


def test_real_jpeg_roundtrip_and_corruption():
    """make_jpeg emits a self-consistent baseline marker stream (SOF0 and
    SOS agree on the component count); decode_media's T.81 marker walk
    parses it field-exact and rejects truncated/corrupt streams instead
    of raising (VERDICT r7 item 7)."""
    import struct

    from pycaim_spark.operators.multimodal import decode_media, make_jpeg

    jpg = make_jpeg(129, 65, channels=3)
    assert decode_media(jpg) == {
        "fmt": "jpeg", "width": 129, "height": 65, "bit_depth": 8,
        "channels": 3, "sample_rate": -1, "n_samples": -1,
    }
    gray = make_jpeg(40, 30, channels=1)
    assert decode_media(gray)["channels"] == 1
    # corruption handling must hold on the 1-channel stream too
    # (VERDICT r8 #7): truncated mid-SOF and Nf/segment-length mismatch
    g_sof = gray.index(b"\xff\xc0")
    assert decode_media(gray[: g_sof + 3]) is None
    g_bad = bytearray(gray)
    g_bad[g_sof + 9] = 3  # claims 3 components, list holds 1
    assert decode_media(bytes(g_bad)) is None

    # SOS declares the same component count as SOF0 (ADVICE r7): Ns is the
    # first payload byte of the FFDA segment.
    sos_at = jpg.index(b"\xff\xda")
    assert jpg[sos_at + 4] == 3

    # fill-byte padding before a marker is legal and must be skipped
    sof_at = jpg.index(b"\xff\xc0")
    padded = jpg[:sof_at] + b"\xff" + jpg[sof_at:]
    assert decode_media(padded)["width"] == 129

    # truncated mid-segment → None, never struct.error
    assert decode_media(jpg[: sof_at + 3]) is None
    # garbage byte where a marker must be → None
    broken = bytearray(jpg)
    broken[sof_at] = 0x00
    assert decode_media(bytes(broken)) is None
    # scan data before any SOF (strip the SOF0 segment) → undecodable
    seglen = struct.unpack(">H", jpg[sof_at + 2 : sof_at + 4])[0]
    no_sof = jpg[:sof_at] + jpg[sof_at + 2 + seglen :]
    assert decode_media(no_sof) is None
    # Nf inconsistent with the segment length → None
    bad_nf = bytearray(jpg)
    bad_nf[sof_at + 9] = 4  # claims 4 components, list holds 3
    assert decode_media(bytes(bad_nf)) is None


def test_resize_png_and_video_container():
    """resize_png really resamples (dims, scanline layout, pass-through,
    corruption → None); the MV01 container round-trips real PNG frames
    and rejects truncation."""
    import zlib

    from pycaim_spark.operators.multimodal import (
        decode_media,
        iter_video_frames,
        make_png,
        make_video,
        resize_png,
    )

    png = make_png(60, 20, seed=3)
    resized = resize_png(png, 24)
    meta = decode_media(resized)
    assert (meta["width"], meta["height"]) == (24, 8)  # aspect-fit floor
    idat = resized[resized.index(b"IDAT") + 4 : resized.index(b"IEND") - 8]
    assert len(zlib.decompress(idat)) == 8 * (24 + 1)  # filter-0 scanlines
    small = make_png(10, 12, seed=1)
    assert resize_png(small, 24) == small              # within box: identity
    assert resize_png(png[:20], 24) is None            # truncated → None
    tall = decode_media(resize_png(make_png(20, 60, seed=2), 24))
    assert (tall["width"], tall["height"]) == (8, 24)

    video = make_video([make_png(8, 6, seed=0), make_png(9, 7, seed=1)])
    frames = list(iter_video_frames(video))
    assert len(frames) == 2
    assert decode_media(frames[1])["width"] == 9
    assert list(iter_video_frames(video[:10])) == []   # truncated container
    assert list(iter_video_frames(b"XXXX")) == []


def test_minhash_wide_bucket_star_degradation(spark):
    """VERDICT r3 #2: a dense duplicate clique must degrade to bounded
    star pairs (clique stays connected, pair list stays O(W)) instead of
    emitting W²/2 candidates per band."""
    from pycaim_spark.operators.dedup import minhash_candidate_pairs
    from pycaim_spark.operators.graph import connected_components_star

    clique = "the same boilerplate sentence repeated across mirrors forever"
    rows = [(i, clique) for i in range(1000)] + [
        (2000, "outside control document with completely unrelated tokens"),
        (2001, "outside control document with completely unrelated words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs, wide = minhash_candidate_pairs(
        docs, max_bucket_width=64, return_wide_buckets=True
    )
    pair_rows = pairs.collect()
    # star mode: clique contributes exactly W-1 pairs (all anchored at the
    # min id), not W*(W-1)/2 = 499,500
    clique_pairs = [r for r in pair_rows if r.id_a < 2000 and r.id_b < 2000]
    assert len(clique_pairs) == 999
    assert all(r.id_a == 0 for r in clique_pairs)
    # the skip metric reports the degraded buckets with their true width
    wide_rows = wide.collect()
    assert wide_rows and all(r.width == 1000 for r in wide_rows)
    # connectivity is preserved: CC merges the full clique
    comp = connected_components_star(pairs, src="id_a", dst="id_b")
    clique_comps = {
        r.component for r in comp.collect() if r.node < 2000
    }
    assert len(clique_comps) == 1
    # the near-dup control pair outside the clique is still found all-pairs
    assert any(r.id_a == 2000 and r.id_b == 2001 for r in pair_rows)


def test_guard_shapes_equivalent(spark):
    """The shipped window guard (operators/dedup.py; the other shapes were
    retired on ISOLATE_r8.json / ISOLATE_r9.json evidence) on a corpus
    mixing a wide clique with a narrow near-dup pair: the control pair is
    found all-pairs, the clique's buckets are reported wide, and the
    simhash path shares the guard and still emits pairs."""
    from pycaim_spark.operators.dedup import (
        minhash_candidate_pairs,
        simhash_candidate_pairs,
    )

    clique = "the same boilerplate sentence repeated across mirrors forever"
    rows = [(i, clique) for i in range(300)] + [
        (900, "outside control document with completely unrelated tokens"),
        (901, "outside control document with completely unrelated words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs, wide = minhash_candidate_pairs(
        docs, max_bucket_width=64, return_wide_buckets=True
    )
    assert (900, 901) in {(r.id_a, r.id_b) for r in pairs.collect()}
    assert wide.collect(), "the 300-deep clique must degrade to star"
    sim_pairs = simhash_candidate_pairs(docs, max_bucket_width=64)
    assert sim_pairs.collect()


def test_sim_guard_shapes_equivalent(spark):
    """The shipped sign-LSH window guard (operators/similarity.py; the
    nopart/single/dual shapes were retired on ISOLATE_r8.json /
    ISOLATE_r18.json evidence): a planted wide replica clique, routed to
    star pairing by the cap, still yields pairs."""
    import numpy as np

    from pycaim_spark.operators.similarity import bucketed_cosine_neighbors

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    rows = [(i, (base + rng.standard_normal(64) * 0.01).tolist())
            for i in range(80)]  # wide replica clique (cap below is 16)
    rows += [(200 + i, rng.standard_normal(64).tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = bucketed_cosine_neighbors(
        emb, n_planes=4, n_tables=8, dim=64, min_cos=0.3,
        max_bucket_width=16,
    )
    assert pairs.collect(), "planted clique must produce pairs"


def test_dedup_minhash_stats_counts_planted_clique(spark, tmp_path):
    """The surfaced skip metric: a planted 400-deep duplicate clique
    collides into one bucket per band (8 bands) at the default cap 256,
    so the stats row must report exactly 8 degraded buckets of width 400;
    a clean corpus reports the all-zeros row (still non-empty)."""
    clique = "the same boilerplate sentence repeated across mirrors forever"
    rows = [(i, clique, "en", "src", 61) for i in range(400)] + [
        (900, "one unrelated control document with different tokens", "en",
         "src", 52),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    row = REGISTRY["dedup_minhash_stats"].fn(spark, sf).collect()[0]
    assert row.wide_bucket_count == 8
    assert row.max_width == 400
    assert row.degraded_rows == 8 * 400

    clean = [(i, f"document number {i} with its own distinct words {i * 7}",
              "en", "src", 40) for i in range(50)]
    df2 = spark.createDataFrame(
        clean, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf2 = str(tmp_path / "clean")
    df2.write.parquet(f"{sf2}/documents.parquet")
    row2 = REGISTRY["dedup_minhash_stats"].fn(spark, sf2).collect()[0]
    assert (row2.wide_bucket_count, row2.max_width, row2.degraded_rows) == (0, 0, 0)


def test_sign_lsh_wide_bucket_star_degradation(spark):
    """Same safeguard for the sign-LSH bucketed cosine op: an identical-
    vector clique emits ≤ W−1 star pairs per bucket, not W²/2."""
    import numpy as np

    from pycaim_spark.operators.similarity import bucketed_cosine_neighbors

    rng = np.random.default_rng(7)
    v = rng.standard_normal(8).tolist()
    rows = [(i, [float(x) for x in v]) for i in range(500)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = bucketed_cosine_neighbors(
        emb, dim=8, max_bucket_width=64
    ).collect()
    assert len(pairs) == 499  # star: every member pairs with vec 0 only
    assert all(r.vec_a == 0 and abs(r.cos - 1.0) < 1e-9 for r in pairs)


def test_sign_lsh_wide_bucket_never_reaches_gemm(spark):
    """INPUT-side guard (VERDICT r6 #2): a wide bucket's embeddings must
    never materialize as one pandas group. The grouped map raises
    RuntimeError on any group wider than the cap, so this query
    *completing* proves the width-300 clique was star-paired JVM-side
    before the Arrow boundary — while narrow buckets still take the gemm
    path (the planted near-dup pair outside the clique is found)."""
    import numpy as np

    from pycaim_spark.operators.similarity import bucketed_cosine_neighbors

    rng = np.random.default_rng(11)
    v = rng.standard_normal(8)
    u = rng.standard_normal(8)
    # keep the control pair dissimilar to the clique so clique↔control
    # star pairs (if buckets collide) fall below min_cos and drop out
    u -= v * (u @ v) / (v @ v)
    rows = [(i, [float(x) for x in v]) for i in range(300)]
    rows += [(1000, [float(x) for x in u]), (1001, [float(x) for x in u])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = bucketed_cosine_neighbors(
        emb, dim=8, max_bucket_width=64
    ).collect()  # raises if any pandas group exceeds the cap
    clique = [(r.vec_a, r.vec_b) for r in pairs if r.vec_b < 1000]
    assert len(clique) == 299 and all(a == 0 for a, _ in clique)
    assert any(r.vec_a == 1000 and r.vec_b == 1001 for r in pairs)


def test_ngram_ops_survive_short_docs(spark, tmp_path):
    """ADVICE r3: documents with fewer than n words must not crash the
    n-gram ops — Spark's sequence(0, negative) DESCENDS and element_at
    then throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT. The guarded builds
    emit empty n-gram arrays, matching generate_series in the oracles."""
    rows = [
        (0, "", "en", "src0", 0),                       # empty held-out doc
        (1, "one", "en", "src1", 3),
        (2, "one two", "en", "src1", 7),
        (3, "a b c d e f g h i j", "en", "src1", 19),
        (4, "a b c d e f g h i j", "en", "src1", 19),   # exact dup of 3
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")

    rep = {r.doc_id: r for r in REGISTRY["text_repetition"].fn(spark, sf).collect()}
    # 0/1-word docs have no bigrams -> dropped by the inner join (oracle-equal)
    assert 0 not in rep and 1 not in rep
    assert rep[2].top_bigram_frac == 1.0

    dec = {
        r.doc_id: r.n_shared_trigrams
        for r in REGISTRY["text_decontaminate"].fn(spark, sf).collect()
    }
    # short corpus docs survive with zero shared trigrams, not a crash
    assert dec[1] == 0 and dec[2] == 0

    out = REGISTRY["pipeline_pretrain"].fn(spark, sf).collect()
    # the empty src0 doc exercises the bench-trigram side of the guard;
    # docs 3/4 dedup to one kept doc that gets a split
    assert {r.doc_id for r in out} == {3}
    assert all(r.split in ("train", "eval") for r in out)


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank rows-only gate: ranks after 8 fixed iterations equal a
    NumPy power iteration with identical damping/rounds (tolerance covers
    summation-order ulps only), mass sums to 1, and the planted hub of a
    star graph ranks strictly highest."""
    import numpy as np

    from pycaim_spark.operators.graph import pagerank

    # star: hub 0 — leaves 1..5, plus a detached pair (6, 7)
    edge_list = [(0, i) for i in range(1, 6)] + [(6, 7)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(edges, n_iter=8).collect()}

    n, d = 8, 0.85
    adj = np.zeros((n, n))
    for a, b in edge_list:
        adj[a, b] = adj[b, a] = 1.0
    deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        r = (1 - d) / n + d * (adj @ (r / deg))
    for node in range(n):
        assert abs(got[node] - r[node]) < 1e-9, node
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[0] > max(v for k, v in got.items() if k != 0)


def test_dup_spans_flags_exactly_the_shared_boilerplate(spark, tmp_path):
    """text_dup_spans: a 5-token span counts as duplicated iff it occurs in
    ≥2 DISTINCT documents. Docs 0/1 share an 8-token boilerplate run (4
    fully-contained 5-grams, position-independent); doc 2 is unique."""
    rows = [
        (0, "b1 b2 b3 b4 b5 b6 b7 b8 ua ub uc", "en", "s", 31),
        (1, "va vb b1 b2 b3 b4 b5 b6 b7 b8", "en", "s", 29),
        (2, "c1 c2 c3 c4 c5 c6", "en", "s", 17),
        (3, "d1 d2 d3", "en", "s", 8),  # < 5 tokens: no spans, dropped
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in REGISTRY["text_dup_spans"].fn(spark, sf).collect()}
    assert set(out) == {0, 1, 2}
    assert (out[0].n_spans, out[0].n_dup_spans) == (7, 4)
    assert (out[1].n_spans, out[1].n_dup_spans) == (6, 4)
    assert (out[2].n_spans, out[2].n_dup_spans) == (2, 0)
    assert out[1].dup_ratio == round(4 / 6, 6)


def test_ngram_lm_scores_boilerplate_above_varied_context(spark, tmp_path):
    """text_ngram_lm: under the corpus bigram MLE, a document whose bigrams
    dominate their contexts scores near ln(1)=0 while a document spreading
    one context over many continuations scores ln(1/k) per bigram."""
    rows = [
        # doc 0 repeats "the cat" -> P(cat|the) = 3/6, "cat the" = 2/2
        (0, "the cat the cat the cat", "en", "s", 23),
        # doc 1: "the" continues 3 distinct ways, each P(w|the) = 1/6
        (1, "the dog x the pig y the hen", "en", "s", 27),
        (2, "solo", "en", "s", 4),  # < 2 tokens: no bigrams, dropped
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in REGISTRY["text_ngram_lm"].fn(spark, sf).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_bigrams == 5 and out[1].n_bigrams == 7
    assert out[0].avg_logp > out[1].avg_logp


def test_mm_decode_spark_parses_real_payloads(spark, sf_dir):
    from pycaim_spark.operators.multimodal import media_params_for_doc
    from pycaim_spark.registry import REGISTRY

    rows = REGISTRY["mm_decode"].fn(spark, sf_dir).collect()
    assert rows and all(r.valid for r in rows)
    assert {r.fmt for r in rows} == {"png", "wav", "jpeg"}
    for r in rows[:60]:
        p = media_params_for_doc(r.doc_id)
        if p["kind"] == "png":
            assert (r.fmt, r.width, r.height, r.bit_depth) == (
                "png", p["width"], p["height"], 8)
        elif p["kind"] == "wav":
            assert (r.fmt, r.channels, r.sample_rate, r.n_samples) == (
                "wav", p["channels"], p["sample_rate"], p["n_samples"])
        else:
            assert (r.fmt, r.width, r.height, r.bit_depth, r.channels) == (
                "jpeg", p["width"], p["height"], 8, p["channels"])


def test_neardup_split_never_straddles(spark, sf_dir):
    """Every MinHash candidate near-dup pair must land in ONE split —
    the leakage guarantee split_leakage_safe_neardup exists for."""
    from pycaim_spark.catalog import load_table
    from pycaim_spark.operators.dedup import minhash_candidate_pairs
    from pycaim_spark.registry import REGISTRY

    split = REGISTRY["split_leakage_safe_neardup"].fn(spark, sf_dir)
    assignment = {r.doc_id: r.split for r in split.collect()}
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs).collect()
    assert pairs, "fixture must contain near-dup candidates"
    for p in pairs:
        assert assignment[p.id_a] == assignment[p.id_b], (p.id_a, p.id_b)
    assert {"train", "eval"} >= set(assignment.values())


def test_decontaminate_benchmark_set_is_broadcast(spark, sf_dir):
    """The benchmark trigram set must reach the corpus via a broadcast
    join — a shuffled corpus here would be the silent 100 TB regression."""
    from pycaim_spark.registry import REGISTRY

    for name in ("text_decontaminate", "pipeline_pretrain"):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan, f"{name}: benchmark set not broadcast"


# --- round 9: cluster output contract, incremental dedup, IVF-PQ ----------


def test_minhash_clusters_planted_cliques_match_pairs_cc(spark):
    """dedup_minhash_clusters' star-edge construction must produce the
    SAME clusters as pairs+CC on planted near-dup groups, label every
    document, and mark exactly one canonical per cluster."""
    from pycaim_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_clusters,
    )
    from pycaim_spark.operators.graph import connected_components_star

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    rows = (
        [(i, base + f" tail{i % 2}") for i in range(6)]       # clique A
        + [(10 + i, other + f" x{i % 3}") for i in range(4)]  # clique B
        + [(90, "totally unrelated words in this control document here"),
           (91, "another disjoint singleton with its own private tokens")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in minhash_clusters(docs).collect()}
    assert set(got) == {r[0] for r in rows}  # every doc labeled

    pairs = minhash_candidate_pairs(docs)
    comp = {r.node: r.component
            for r in connected_components_star(pairs, "id_a", "id_b").collect()}
    expected = {i: comp.get(i, i) for i, _ in rows}
    assert {d: c for d, (c, _) in got.items()} == expected
    # exactly one canonical per cluster, and it is the min id
    for d, (c, canon) in got.items():
        assert canon == (1 if d == c else 0)


def test_minhash_clusters_refine_pair_clusters(spark, sf_dir):
    """On the real fixture, every star-edge cluster must sit INSIDE one
    pairs+CC cluster (star edges are a subset of the verified pairs)."""
    from pycaim_spark.catalog import load_table
    from pycaim_spark.operators.dedup import minhash_candidate_pairs
    from pycaim_spark.operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    star = {r.doc_id: r.cluster_id
            for r in REGISTRY["dedup_minhash_clusters"].fn(spark, sf_dir).collect()}
    pairs = minhash_candidate_pairs(docs)
    comp = {r.node: r.component
            for r in connected_components_star(pairs, "id_a", "id_b").collect()}
    full = {d: comp.get(d, d) for d in star}
    # refinement: docs sharing a star cluster share the full cluster
    rep = {}
    for d, c in star.items():
        if c in rep:
            assert full[d] == full[rep[c]], (d, c)
        else:
            rep[c] = d
    # and the star construction actually merged something on this fixture
    assert any(d != c for d, c in star.items())


def test_top_candidates_ranking_matches_reference(spark):
    """_with_top_candidates must rank by (occurrence count desc, id asc)
    and cap — checked against a plain-Python reference on arrays that
    exercise ties, singletons, and cap truncation."""
    from collections import Counter

    from pycaim_spark.operators.dedup import _with_top_candidates

    rows = [
        (1, [5, 3, 5, 3, 5, 9]),            # counts 5:3, 3:2, 9:1
        (2, [7, 7, 2, 2, 4, 4]),            # all tied → id asc
        (3, [11]),                          # singleton
        (4, [1, 2, 3, 4, 5, 6, 1, 2, 3]),   # cap truncates the tail
    ]
    df = spark.createDataFrame(rows, "delta_id long, cands array<bigint>")
    got = {
        r.delta_id: list(r.top_cands)
        for r in _with_top_candidates(df, "cands", 3).collect()
    }
    for did, arr in rows:
        c = Counter(arr)
        expect = [i for i, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))][:3]
        assert got[did] == expect, (did, got[did], expect)


def test_bucket_store_caps_wide_buckets_deterministically(spark):
    """_band_buckets must record the TRUE bucket width but keep only the
    cap smallest member ids (the probe-side density guard), and a probe
    against the capped store must still verify matches into the kept
    members — degradation is deterministic, never an error."""
    import pyspark.sql.functions as F

    from pycaim_spark.operators.dedup import _band_buckets

    rows = [(i, 0, 42) for i in range(10, 20)] + [(7, 1, 99)]
    bands = spark.createDataFrame(rows, "id long, table_id int, mh long")
    got = {(r.table_id, r.mh): (r.width, list(r.ids))
           for r in _band_buckets(bands, bucket_cap=4).collect()}
    assert got[(0, 42)] == (10, [10, 11, 12, 13])  # true width, min-id prefix
    assert got[(1, 99)] == (1, [7])


def test_incremental_minhash_matches_full_run_and_never_shuffles_base(spark):
    """dedup_incremental_minhash verdicts must equal a full-corpus pair
    run restricted to base×delta, and the physical plan must stream the
    base store map-side (broadcast joins only — no sort-merge join, which
    would mean a base-sized shuffle)."""
    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_candidate_pairs,
    )

    base_txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    base_rows = [(i, base_txt + f" v{i % 3}") for i in range(1, 8)] + [
        (8, other), (9, "unique base content nothing matches this text here"),
    ]
    delta_rows = [
        (100, base_txt + " v1"),     # near-dup of base clique
        (101, other + " extra"),     # near-dup of base doc 8
        (102, "completely fresh delta document with novel words only"),
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")

    got = incremental_minhash_dedup(base, delta)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan, "base corpus is being shuffle-joined"
    assert plan.count("BroadcastHashJoin") >= 2

    verdicts = {r.doc_id: (r.dup_of, r.is_new) for r in got.collect()}
    assert set(verdicts) == {100, 101, 102}

    # twin: full-corpus pairs (guard off = exact bucket join), restricted
    # to cross base×delta pairs, min base match per delta doc
    full = minhash_candidate_pairs(base.unionByName(delta), max_bucket_width=0)
    cross = {}
    for r in full.collect():
        lo, hi = sorted((r.id_a, r.id_b))
        if lo < 100 <= hi:
            cross.setdefault(hi, set()).add(lo)
    for d in (100, 101, 102):
        expected_dup = min(cross[d]) if d in cross else None
        assert verdicts[d] == (expected_dup, 0 if expected_dup is not None else 1), d
    assert verdicts[102] == (None, 1)  # the fresh doc survives as new


def test_ivf_pq_recall_and_exact_rerank(spark, sf_dir):
    """sim_ivf_pq rows-only gate: doubly-approximate candidates (cell
    pruning × residual quantization) re-ranked exactly — every returned
    cosine must match the exact operator bit-for-bit; recall is bounded
    below on the adversarial near-isotropic fixture."""
    exact = {(r.query_id, r.neighbor_id): r.cos
             for r in REGISTRY["sim_cosine_exact"].fn(spark, sf_dir).collect()}
    rows = REGISTRY["sim_ivf_pq"].fn(spark, sf_dir).collect()
    assert len(rows) == 50  # 10 queries × top-5, rn dense per query
    approx = {(r.query_id, r.neighbor_id): r.cos for r in rows}
    for pair, cos in approx.items():
        if pair in exact:
            assert exact[pair] == cos  # exact re-rank: bit-identical
    recall = len(exact.keys() & approx.keys()) / len(exact)
    assert recall >= 0.4, f"IVF-PQ recall collapsed: {recall:.2f}"


def test_ivf_pq_stored_matches_inline(spark, sf_dir):
    """The persisted-index variant must return EXACTLY the inline
    operator's rows (same seeded training → same codes → same ADC
    candidates → same exact re-rank), and the second call must reuse the
    store (idempotent build)."""
    import os

    from pycaim_spark.streaming.runner import _SCRATCH

    inline = {(r.query_id, r.neighbor_id, r.cos, r.rn)
              for r in REGISTRY["sim_ivf_pq"].fn(spark, sf_dir).collect()}
    stored = {(r.query_id, r.neighbor_id, r.cos, r.rn)
              for r in REGISTRY["sim_ivf_pq_stored"].fn(spark, sf_dir).collect()}
    assert stored == inline
    # the store exists and a re-run reuses it byte-identically
    stores = [d for d in os.listdir(_SCRATCH) if d.startswith("ivfpq_")]
    assert stores
    again = {(r.query_id, r.neighbor_id, r.cos, r.rn)
             for r in REGISTRY["sim_ivf_pq_stored"].fn(spark, sf_dir).collect()}
    assert again == inline


def test_incremental_stored_matches_inline_and_reads_only_store(spark, sf_dir):
    """The persisted-signature-store variant must return EXACTLY the
    inline operator's verdicts (same hash functions through the store
    round-trip), and its probe plan must scan the store parquet — not
    the documents table — with no sort-merge join on the base side."""
    inline = {(r.doc_id, r.dup_of, r.is_new)
              for r in REGISTRY["dedup_incremental_minhash"].fn(spark, sf_dir).collect()}
    df = REGISTRY["dedup_incremental_stored"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan
    assert "sigstore_" in plan          # base side comes from the store...
    stored = {(r.doc_id, r.dup_of, r.is_new) for r in df.collect()}
    assert stored == inline
    # ...and a second run reuses the store (idempotent build)
    again = {(r.doc_id, r.dup_of, r.is_new)
             for r in REGISTRY["dedup_incremental_stored"].fn(spark, sf_dir).collect()}
    assert again == inline


def test_store_append_compact_equals_fresh_rebuild(spark, tmp_path):
    """The LSM loop: a layered probe (base + un-compacted append layer)
    must equal a fresh inline probe over base ∪ accepted slice (min-id
    bucket caps are merge-stable), compaction must not change verdicts,
    and replaying a folded ingest key must be a no-op."""
    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup,
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
    )

    ca = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = spark.createDataFrame(
        [(1, ca + " v0"), (2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    s1 = spark.createDataFrame(
        [(10, "brand new day one topic with its own vocabulary entirely"),
         (11, ca + " v1")],                      # dup of base 1 → rejected
        "doc_id long, text string",
    )
    s2 = spark.createDataFrame(
        [(20, "brand new day one topic with its own vocabulary right"),
         (21, "day two fresh material matching nothing else at all")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)
    v1 = incremental_minhash_dedup_stored(spark, store, s1)
    accepted = s1.join(
        v1.filter(v1.is_new == 1).select("doc_id"), "doc_id"
    )
    assert {r.doc_id for r in accepted.select("doc_id").collect()} == {10}
    minhash_signature_store_append(spark, store, accepted, "day1")

    layered = {(r.doc_id, r.dup_of, r.is_new)
               for r in incremental_minhash_dedup_stored(spark, store, s2).collect()}
    fresh = {(r.doc_id, r.dup_of, r.is_new)
             for r in incremental_minhash_dedup(base.unionByName(accepted), s2).collect()}
    assert layered == fresh
    # the loop's point: 20 dups against the DAY-1-ONLY doc 10
    assert (20, 10, 0) in layered and (21, None, 1) in layered

    (day1_layer,) = commit.read_view(SIGNATURE_STORE, store).appends
    minhash_signature_store_compact(spark, store)
    compacted = {(r.doc_id, r.dup_of, r.is_new)
                 for r in incremental_minhash_dedup_stored(spark, store, s2).collect()}
    assert compacted == layered
    # two-phase GC (r15): the folded layer is TOMBSTONED in place — its
    # files must survive the grace period for stale readers — and it is
    # no longer a live layer; replaying the folded key is still a no-op
    import os

    assert commit.read_view(SIGNATURE_STORE, store).appends == []
    assert os.path.exists(
        os.path.join(day1_layer, "superseded.json")
    )
    minhash_signature_store_append(spark, store, accepted, "day1")
    assert commit.read_view(SIGNATURE_STORE, store).appends == []


def test_store_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """Compaction crash safety, re-based on the r16 snapshot-pointer
    commit (VERDICT r15 #3; originally ADVICE r9 for the journal-era
    swap): the pointer flip IS the commit, so every crash is one of two
    reconciliations — (a) crash BEFORE the flip leaves uncommitted
    ``*_v{N+1}`` strays that the next write path deletes (the old base
    and all layers are intact, nothing was published); (b) crash AFTER
    the flip but before phase-1 GC leaves the new base live (probes read
    it immediately via the pointer) with missing tombstones that the
    next write path re-lays idempotently. In both interim states a
    READ-ONLY probe returns identical verdicts and mutates nothing."""
    import os

    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
    )

    ca = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = spark.createDataFrame(
        [(1, ca + " v0"), (2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    s1 = spark.createDataFrame(
        [(10, "brand new day one topic with its own vocabulary entirely")],
        "doc_id long, text string",
    )
    s2 = spark.createDataFrame(
        [(20, "brand new day one topic with its own vocabulary right"),
         (21, ca + " v2")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)
    assert commit.load_pointer(os.path.join(store, "current.json")) == {
        "version": 0, "seq": 0, "app_layers": {}, "del_layers": {},
        "folded": [], "del_folded": []}
    minhash_signature_store_append(spark, store, s1, "day1")
    expected = {(r.doc_id, r.dup_of, r.is_new)
                for r in incremental_minhash_dedup_stored(spark, store, s2).collect()}
    assert (20, 10, 0) in expected and (21, 1, 0) in expected

    # (a) crash BEFORE the pointer flip: a stray uncommitted v1 dir. The
    # probe IGNORES it (pointer still names v0; read-only, ADVICE r10);
    # the next write path deletes it.
    os.makedirs(commit.base_dirs(SIGNATURE_STORE, store, 1)["sets"])
    after_stray = {(r.doc_id, r.dup_of, r.is_new)
                   for r in incremental_minhash_dedup_stored(spark, store, s2).collect()}
    assert after_stray == expected
    assert os.path.exists(commit.base_dirs(SIGNATURE_STORE, store, 1)["sets"])
    minhash_signature_store_append(spark, store, s1, "day1")  # re-delivery
    assert not os.path.exists(
        commit.base_dirs(SIGNATURE_STORE, store, 1)["sets"])

    (day1_layer,) = commit.read_view(SIGNATURE_STORE, store).appends

    # (b) crash AFTER the flip, before phase-1 GC: the commit landed —
    # pointer at v1 with day1 folded — but no tombstone was laid on the
    # old version or the folded layer.
    def crashing_tombstone(path, data=False):
        # recovery lays no tombstone on this state; the first tombstone
        # is the fold commit's own, right after its pointer flip
        raise OSError("simulated crash post-commit")

    monkeypatch.setattr(commit, "tombstone", crashing_tombstone)
    import pytest as _pytest
    with _pytest.raises(OSError, match="simulated crash"):
        minhash_signature_store_compact(spark, store)
    monkeypatch.undo()
    ptr = commit.load_pointer(os.path.join(store, "current.json"))
    assert ptr["version"] == 1 and ptr["folded"] == ["day1"]
    assert not os.path.exists(
        os.path.join(day1_layer, "superseded.json")
    )
    assert not os.path.exists(
        os.path.join(commit.base_dirs(SIGNATURE_STORE, store, 0)["sets"],
                     "_superseded.json")
    )

    # A probe of the post-commit state reads the NEW base and skips the
    # folded-but-untombstoned layer via the pointer's folded list — no
    # double count — and leaves every artifact where it was.
    mid = {(r.doc_id, r.dup_of, r.is_new)
           for r in incremental_minhash_dedup_stored(spark, store, s2).collect()}
    assert mid == expected
    assert os.path.exists(commit.base_dirs(SIGNATURE_STORE, store, 0)["sets"])

    # The next WRITE-path operation reconciles: old version + folded
    # layer tombstoned (files intact for stale readers — two-phase GC),
    # and a second compact finds nothing to fold.
    minhash_signature_store_compact(spark, store)
    healed = {(r.doc_id, r.dup_of, r.is_new)
              for r in incremental_minhash_dedup_stored(spark, store, s2).collect()}
    assert healed == expected
    assert os.path.exists(
        os.path.join(day1_layer, "superseded.json")
    )
    assert os.path.exists(
        os.path.join(commit.base_dirs(SIGNATURE_STORE, store, 0)["sets"],
                     "_superseded.json")
    )
    # grace-protected
    assert os.path.exists(commit.base_dirs(SIGNATURE_STORE, store, 0)["sets"])
    assert commit.read_view(SIGNATURE_STORE, store).appends == []
    # the manifest survived the crash inside the pointer: replaying the
    # folded key is a no-op
    minhash_signature_store_append(spark, store, s1, "day1")
    assert commit.read_view(SIGNATURE_STORE, store).appends == []
    # no spurious recompact
    assert commit.load_pointer(
        os.path.join(store, "current.json"))["version"] == 1


def test_store_gc_fold_order_and_probe_cap(spark, tmp_path, monkeypatch):
    """ADVICE r11: (a) manifest GC recency is FOLD order, not
    lexicographic key order — with keys 'day2' (older) and 'day10'
    (newer), lexicographic sorting would GC 'day10' and shrink the
    replay window for the key most likely to be redelivered; (b) a probe
    cap wider than BUCKET_STORE_CAP must fail loudly (layered-probe
    verdicts would silently diverge from compacted-store verdicts);
    (c) compaction auto-GCs on its own cadence ($PYCAIM_STORE_GC_KEEP)."""
    import os

    from pycaim_spark.operators.dedup import (
        BUCKET_STORE_CAP,
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
        minhash_store_manifest_gc,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    s1 = spark.createDataFrame(
        [(10, "first fresh slice with its very own vocabulary entirely")],
        "doc_id long, text string",
    )
    s2 = spark.createDataFrame(
        [(20, "second slice also completely novel words throughout here")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)

    # (b) loud cap failure, before any store I/O
    with pytest.raises(ValueError, match="BUCKET_STORE_CAP"):
        incremental_minhash_dedup_stored(
            spark, store, s1, max_candidates_per_doc=BUCKET_STORE_CAP + 1
        )

    # (a) 'day2' appended BEFORE 'day10' (the pointer names live layers
    # in append order, so the fold order needs no fs timestamps)
    minhash_signature_store_append(spark, store, s1, "day2")
    minhash_signature_store_append(spark, store, s2, "day10")
    minhash_signature_store_compact(spark, store)
    assert commit.read_view(SIGNATURE_STORE, store).folded == ["day2", "day10"]
    assert minhash_store_manifest_gc(store, keep_last=1) == 1
    # fold-order recency keeps day10 (the newest fold), drops day2 —
    # lexicographic recency would have kept day2
    assert commit.read_view(SIGNATURE_STORE, store).folded == ["day10"]
    minhash_signature_store_append(spark, store, s2, "day10")  # no-op
    assert commit.read_view(SIGNATURE_STORE, store).appends == []
    minhash_signature_store_append(spark, store, s1, "day2")  # re-appends
    assert commit.read_view(SIGNATURE_STORE, store).appends == [
        os.path.join(store, "app", "day2.3")
    ]
    # ADVICE r15: the re-append writes a FRESH dir — the folded-in-grace
    # old layer stays where it was (tombstoned, files intact for any
    # stale reader), never overwritten or renamed, and the fresh live
    # layer carries no tombstone.
    old_dirs = [d for d in os.listdir(os.path.join(store, "app"))
                if d.startswith("day2.") and d != "day2.3"]
    assert len(old_dirs) == 1
    assert os.path.exists(os.path.join(
        store, "app", old_dirs[0], "bands", "_SUCCESS"))
    assert os.path.exists(os.path.join(
        store, "app", old_dirs[0], "superseded.json"))
    assert not os.path.exists(os.path.join(
        store, "app", "day2.3", "superseded.json"))

    # (c) compaction runs GC itself under its write lock
    monkeypatch.setenv("PYCAIM_STORE_GC_KEEP", "1")
    minhash_signature_store_compact(spark, store)
    assert commit.read_view(SIGNATURE_STORE, store).folded == ["day2"]


def test_store_two_phase_gc_protects_concurrent_readers(
    spark, tmp_path, monkeypatch
):
    """r15 (VERDICT r14 #1): compaction must never delete append layers
    out from under a lockless reader. Reproduces the exact crash shape
    caught live in r14 (pytest's stream-ingest probe resolved its store
    view, then verify_sweep's compaction ``rmtree``'d the layer, and the
    probe's ``spark.read.parquet(append/batch0/bands)`` failed with
    PATH_NOT_FOUND): a reader that enumerated layer paths BEFORE a full
    compaction must still be able to read them AFTER it, because the
    folded layer is tombstoned in place (phase 1) and only deleted by a
    later write pass once the tombstone outlives
    ``$PYCAIM_STORE_GC_GRACE`` (phase 2)."""
    import os

    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    s1 = spark.createDataFrame(
        [(10, "first fresh slice with its very own vocabulary entirely")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(30, "first fresh slice with its very own vocabulary entire")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)
    minhash_signature_store_append(spark, store, s1, "day1")

    # The concurrent reader: resolves its layer paths pre-compaction...
    reader_layers = commit.read_view(SIGNATURE_STORE, store).appends
    assert reader_layers == [os.path.join(store, "app", "day1.1")]

    # ...then the compactor runs to completion in between...
    minhash_signature_store_compact(spark, store)

    # ...and the reader's resolved paths must still be readable — with
    # the old immediate rmtree this raised PATH_NOT_FOUND right here.
    stale_bands = spark.read.parquet(
        os.path.join(reader_layers[0], "bands")
    )
    assert stale_bands.count() > 0
    assert os.path.exists(
        os.path.join(reader_layers[0], "bands", "_SUCCESS")
    )

    # A FRESH probe sees the compacted store only (no double count of the
    # tombstoned layer) and still finds the day-1 duplicate.
    verdicts = {(r.doc_id, r.dup_of, r.is_new)
                for r in incremental_minhash_dedup_stored(
                    spark, store, probe).collect()}
    assert (30, 10, 0) in verdicts

    # Default grace: a write pass must NOT collect the fresh tombstone.
    minhash_signature_store_append(spark, store, s1, "day1")  # no-op
    assert os.path.isdir(reader_layers[0])

    # Past grace: the next write pass collects the layer, and the empty
    # append/ parent goes with it.
    monkeypatch.setenv("PYCAIM_STORE_GC_GRACE", "0")
    import time as _time
    _time.sleep(0.05)
    minhash_signature_store_append(spark, store, s1, "day1")  # no-op
    assert not os.path.isdir(reader_layers[0])
    assert not os.path.isdir(os.path.join(store, "app"))
    # Verdicts are unchanged after collection — the layer's rows live in
    # the compacted base.
    after_gc = {(r.doc_id, r.dup_of, r.is_new)
                for r in incremental_minhash_dedup_stored(
                    spark, store, probe).collect()}
    assert after_gc == verdicts


def test_store_migration_crash_forward_completion(spark, tmp_path):
    """A build that crashed between its v0 writes and its pointer
    commit must neither strand the store (pointer-less v0 dirs no
    reader resolves) nor lose the only base. Recovery forward-completes:
    complete pointer-less v0 dirs get the pointer they were about to
    receive; an incomplete pointer-less v0 pair is a build stray and is
    deleted.
    Same contract for the IVF-PQ codes dir, where the pre-fix rule
    deleted every pointer-less codes_v* — data loss."""
    import os
    import shutil

    import numpy as np

    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    s1 = spark.createDataFrame(
        [(10, "first fresh slice with its very own vocabulary entirely")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(30, "first fresh slice with its very own vocabulary entire")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)
    expected = {(r.doc_id, r.dup_of, r.is_new)
                for r in incremental_minhash_dedup_stored(
                    spark, store, probe).collect()}

    # Crash state A: v0 written, pointer write never happened.
    os.remove(os.path.join(store, "current.json"))
    minhash_signature_store_append(spark, store, s1, "day1")  # write path
    assert commit.load_pointer(os.path.join(store, "current.json")) == {
        "version": 0, "seq": 1, "app_layers": {"day1": 1}, "del_layers": {},
        "folded": [], "del_folded": []}
    assert os.path.exists(os.path.join(
        commit.base_dirs(SIGNATURE_STORE, store, 0)["sets"], "_SUCCESS"))
    # Pre-append the probe doc was novel; after the healed store took
    # the day-1 layer it dups against doc 10 — both reads prove the
    # base survived the crash intact.
    assert expected == {(30, None, 1)}
    healed = {(r.doc_id, r.dup_of, r.is_new)
              for r in incremental_minhash_dedup_stored(
                  spark, store, probe).collect()}
    assert healed == {(30, 10, 0)}

    # Crash state B: incomplete pointer-less v0 pair = build stray.
    store_b = str(tmp_path / "store_b")
    os.makedirs(commit.base_dirs(SIGNATURE_STORE, store_b, 0)["sets"])
    os.makedirs(commit.base_dirs(SIGNATURE_STORE, store_b, 0)["buckets"])
    minhash_signature_store_build(base, store_b)
    ptr = commit.load_pointer(os.path.join(store_b, "current.json"))
    assert ptr is not None
    assert os.path.exists(os.path.join(
        commit.base_dirs(SIGNATURE_STORE, store_b, ptr["version"])["sets"],
        "_SUCCESS"))

    # IVF-PQ codes: same window — pointer removed after a completed
    # build must be forward-completed by the next write path, with the
    # coded corpus intact (the pre-fix recovery deleted it here).
    from pycaim_spark.operators.similarity import (
        ivf_pq_index_append,
        ivf_pq_index_build,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(rng.normal(size=(40, 8)))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ann = str(tmp_path / "ann")
    ivf_pq_index_build(emb, ann, n_cells=4, m=4, k_centroids=8,
                       sample_size=40)
    n0 = spark.read.parquet(
        commit.read_view(CODES_STORE, ann).base["codes"]).count()
    os.remove(os.path.join(ann, "codes_current.json"))
    extra = spark.createDataFrame(
        [(100 + i, [float(x) for x in v])
         for i, v in enumerate(rng.normal(size=(5, 8)))],
        "vec_id long, embedding array<float>",
    )
    ivf_pq_index_append(extra, ann, "day1")
    assert commit.read_view(CODES_STORE, ann).version == 0
    assert commit.read_view(CODES_STORE, ann).frame(
        spark, "codes").count() == n0 + 5

    shutil.rmtree(store_b, ignore_errors=True)


def test_store_base_swap_mid_scan_reader_survives(
    spark, tmp_path, monkeypatch
):
    """r16 (VERDICT r15 #3): the LAST lockless-reader window — a reader
    that resolved the base paths, then a compaction COMMITS before the
    reader materializes. Pre-r16 the commit renamed the current
    ``sets``/``buckets`` dirs, the resolved paths ceased to exist, and
    the scan died with FileNotFoundException (the docstring carried a
    re-plan remedy for exactly this). With the snapshot-pointer commit
    the resolved version dirs are immutable and tombstoned-in-place, so
    the stale reader's scan completes with pre-commit verdicts, a fresh
    reader sees the post-commit snapshot, and only a write pass past the
    grace period collects the old version."""
    import os

    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    s1 = spark.createDataFrame(
        [(10, "first fresh slice with its very own vocabulary entirely")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(30, "first fresh slice with its very own vocabulary entire")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)
    minhash_signature_store_append(spark, store, s1, "day1")

    # The stale reader: resolve the view and BUILD the lazy plan now...
    view = commit.read_view(SIGNATURE_STORE, store)
    sets_v0, buckets_v0 = view.base["sets"], view.base["buckets"]
    skip = set(view.folded)
    assert sets_v0.endswith("sets_v0") and skip == set()
    stale_df = incremental_minhash_dedup_stored(spark, store, probe)

    # ...the compactor commits version 1 in between...
    minhash_signature_store_compact(spark, store)
    assert commit.read_view(SIGNATURE_STORE, store).base["sets"].endswith(
        "sets_v1")

    # ...and the stale reader's materialization SUCCEEDS against the
    # tombstoned-but-intact v0 paths — this exact line was the
    # documented FileNotFoundException window before the pointer commit.
    stale = {(r.doc_id, r.dup_of, r.is_new) for r in stale_df.collect()}
    assert (30, 10, 0) in stale
    fresh = {(r.doc_id, r.dup_of, r.is_new)
             for r in incremental_minhash_dedup_stored(
                 spark, store, probe).collect()}
    assert fresh == stale
    assert os.path.exists(os.path.join(sets_v0, "_superseded.json"))

    # Grace expiry: a later write pass collects v0; the fresh snapshot
    # is untouched.
    monkeypatch.setenv("PYCAIM_STORE_GC_GRACE", "0")
    import time as _time
    _time.sleep(0.05)
    minhash_signature_store_append(spark, store, s1, "day1")  # no-op write
    assert not os.path.exists(sets_v0)
    assert not os.path.exists(buckets_v0)
    assert os.path.exists(
        os.path.join(commit.base_dirs(SIGNATURE_STORE, store, 1)["sets"],
                     "_SUCCESS")
    )
    assert fresh == {(r.doc_id, r.dup_of, r.is_new)
                     for r in incremental_minhash_dedup_stored(
                         spark, store, probe).collect()}


def test_ivf_pq_index_append_concurrent_keys_both_survive(spark, tmp_path):
    """r15: the append manifest is a read-modify-write, so two
    unserialized appenders of DIFFERENT keys would each persist a list
    missing the other's key — a later redelivery of the lost key would
    then double-index its rows. The store write lock serializes them;
    both keys must land in the manifest and both slices in the codes
    table, and replaying either key afterward must be a no-op."""
    import json
    import os
    import threading

    import numpy as np

    from pycaim_spark.operators.similarity import (
        ivf_pq_index_append,
        ivf_pq_index_build,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(rng.normal(size=(40, 8)))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    store = str(tmp_path / "ann")
    ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=8,
                       sample_size=40)
    base_n = spark.read.parquet(
        commit.read_view(CODES_STORE, store).base["codes"]).count()

    slices = {
        key: spark.createDataFrame(
            [(100 + 10 * j + i, [float(x) for x in v])
             for i, v in enumerate(rng.normal(size=(5, 8)))],
            "vec_id long, embedding array<float>",
        )
        for j, key in enumerate(("day1", "day2"))
    }
    errs = []

    def _append(key):
        try:
            ivf_pq_index_append(slices[key], store, key)
        except Exception as exc:  # surfaced after join
            errs.append((key, exc))

    threads = [threading.Thread(target=_append, args=(k,)) for k in slices]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert sorted(
        commit.read_view(CODES_STORE, store).app_layers
    ) == ["day1", "day2"], "both slices land as committed layers"
    n = commit.read_view(CODES_STORE, store).frame(spark, "codes").count()
    assert n == base_n + 10
    # replay of an unfolded key replaces its layer with a fresh one: no
    # double indexing.
    for key in slices:
        ivf_pq_index_append(slices[key], store, key)
    assert commit.read_view(CODES_STORE, store).frame(
        spark, "codes").count() == n
    # vacuum folds the layers into the next codes version and the
    # pointer manifest; replay then no-ops without touching disk.
    from pycaim_spark.operators.similarity import ivf_pq_codes_vacuum

    ivf_pq_codes_vacuum(spark, store)
    assert sorted(
        commit.read_view(CODES_STORE, store).folded) == ["day1", "day2"]
    assert spark.read.parquet(
        commit.read_view(CODES_STORE, store).base["codes"]).count() == n
    for key in slices:
        ivf_pq_index_append(slices[key], store, key)
    assert commit.read_view(CODES_STORE, store).appends == []
    assert commit.read_view(CODES_STORE, store).frame(
        spark, "codes").count() == n


def test_ivf_pq_index_refuses_paramless_sidecar(spark, tmp_path):
    """ADVICE r10: a sidecar with no persisted 'params' entry cannot
    be validated against the requested hyperparameters — it must be
    refused, not silently served."""
    import os

    import numpy as np
    import pytest as _pytest

    from pycaim_spark.operators.similarity import ivf_pq_index_build

    rng = np.random.default_rng(13)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(40, 8)))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    store = str(tmp_path / "ann")
    ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=8, sample_size=40)
    npz = os.path.join(
        commit.read_view(CODES_STORE, store).base["codes"], "_index.npz")
    with np.load(npz) as idx:
        stripped = {k: idx[k] for k in idx.files if k != "params"}
    np.savez(npz, **stripped)
    with _pytest.raises(ValueError, match="no persisted build"):
        ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=8,
                           sample_size=40)


def test_ivf_pq_index_rejects_mismatched_hyperparams(spark, tmp_path):
    """ADVICE r9: a stored IVF-PQ index must refuse to serve a query
    built with different hyperparameters instead of silently reusing the
    stale arrays."""
    import numpy as np
    import pytest as _pytest

    from pycaim_spark.operators.similarity import ivf_pq_index_build

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(40, 8)))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    store = str(tmp_path / "ann")
    c1, b1 = ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=8,
                                sample_size=40)
    # same params: served from the store, bit-identical
    c2, b2 = ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=8,
                                sample_size=40)
    assert (c1 == c2).all() and (b1 == b2).all()
    with _pytest.raises(ValueError, match="different hyperparameters"):
        ivf_pq_index_build(emb, store, n_cells=8, m=4, k_centroids=8,
                           sample_size=40)
    with _pytest.raises(ValueError, match="k_centroids"):
        ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=16,
                           sample_size=40)


def test_ann_index_append_makes_new_vectors_retrievable(spark, tmp_path):
    """Appending a slice (encoded with STORED codebooks, no retrain) must
    make its vectors retrievable: planted exact twins of the query
    vectors become top-1 with cos == 1.0 only after the append; returned
    cosines stay exact (re-rank property); replaying the ingest key must
    not grow the codes table."""
    import numpy as np

    from pycaim_spark.operators.similarity import (
        _ivf_pq_query,
        ivf_pq_index_append,
        ivf_pq_index_build,
    )

    rng = np.random.default_rng(7)
    dim, nq = 16, 3
    base_vecs = rng.normal(size=(60, dim))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base_vecs)]
    emb_base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # delta: EXACT copies of the query vectors (ids 1000+q) — after the
    # float32 round-trip each twin has cosine exactly 1.0 with its query
    twin_rows = [(1000 + q, rows[q][1]) for q in range(nq)]
    emb_delta = spark.createDataFrame(
        twin_rows, "vec_id long, embedding array<float>"
    )
    emb_all = emb_base.unionByName(emb_delta)
    store = str(tmp_path / "ann")

    centroids, codebooks = ivf_pq_index_build(
        emb_base, store, n_cells=4, m=4, k_centroids=8, sample_size=60
    )
    coded = lambda: commit.read_view(  # noqa: E731 — r18 layer-aware view
        CODES_STORE, store).frame(spark, "codes")

    def probe():
        return {
            (r.query_id, r.rn): (r.neighbor_id, r.cos)
            for r in _ivf_pq_query(
                emb_all, coded(), centroids, codebooks, nprobe=4, k=3,
                n_queries=nq, n_candidates=16,
            ).collect()
        }

    before = probe()
    assert not any(n >= 1000 for (n, _) in before.values())

    ivf_pq_index_append(emb_delta, store, "day1")
    n_codes = coded().count()
    after = probe()
    for q in range(nq):
        # the twin is top-1 at cosine exactly 1.0 (self is excluded only
        # for identical ids; the twin has a different id)
        nid, cos = after[(q, 1)]
        assert nid == 1000 + q and cos == 1.0, (q, nid, cos)
    # replayed key: no-op
    ivf_pq_index_append(emb_delta, store, "day1")
    assert coded().count() == n_codes


def test_stream_ingest_matches_sequential_loop(spark, tmp_path):
    """The streaming ingestion loop must produce, per micro-batch, the
    verdicts of the sequential store loop on the same slices — and batch
    1 must flag a near-dup of a batch-0-ONLY doc (cross-batch state)."""
    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        stream_ingest_dedup,
    )

    ca = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = spark.createDataFrame(
        [(1, ca + " v0"), (2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    s0 = spark.createDataFrame(
        [(10, "day zero novel topic with its very own vocabulary set"),
         (11, ca + " v1")],                      # dup of base 1 → rejected
        "doc_id long, text string",
    )
    s1 = spark.createDataFrame(
        [(20, "day zero novel topic with its very own vocabulary kit"),
         # ^ near-dup of 10, which exists ONLY in batch 0's append layer
         (21, "batch one fresh material matching nothing else at all")],
        "doc_id long, text string",
    )
    plans = []
    got = {
        (r.batch_id, r.doc_id): (r.dup_of, r.is_new)
        for r in stream_ingest_dedup(
            spark, base, [s0, s1], str(tmp_path / "stream"), plan_sink=plans
        ).collect()
    }
    # per-batch steady-state contract (VERDICT r10 #7): every micro-batch
    # probe broadcast-probes the store — the base corpus is never
    # shuffle-joined inside the stream either
    assert len(plans) == 2
    for plan in plans:
        assert "SortMergeJoin" not in plan, "stream batch shuffle-joins base"
        assert plan.count("BroadcastHashJoin") >= 2

    # sequential twin over the same slices
    seq_store = str(tmp_path / "seq")
    minhash_signature_store_build(base, seq_store)
    expect = {}
    for i, sl in enumerate((s0, s1)):
        v = incremental_minhash_dedup_stored(spark, seq_store, sl)
        for r in v.collect():
            expect[(i, r.doc_id)] = (r.dup_of, r.is_new)
        accepted = sl.join(
            v.filter(v.is_new == 1).select("doc_id"), "doc_id"
        )
        minhash_signature_store_append(spark, seq_store, accepted, f"b{i}")
    assert got == expect
    # the cross-batch case the stream exists for:
    assert got[(1, 20)] == (10, 0)
    assert got[(0, 11)] == (1, 0) and got[(1, 21)] == (None, 1)


def test_incremental_clusters_match_full_reclustering(spark):
    """incremental_cluster_assignments must give every delta doc the SAME
    cluster id a full re-clustering over base+delta would, with
    delta-sized work; a delta doc bridging two base clusters must emit
    the base_remap rows that merge them."""
    from pycaim_spark.operators.dedup import (
        incremental_cluster_assignments,
        minhash_clusters,
    )

    ca = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    cb = "one two three four five six seven eight nine ten"
    base_rows = (
        [(i, ca + f" t{i % 2}") for i in (1, 2, 3)]       # base cluster A (rep 1)
        + [(i, cb + f" u{i % 2}") for i in (4, 5, 6)]     # base cluster B (rep 4)
        + [(7, "a lonely base document with entirely private vocabulary")]
    )
    delta_rows = [
        (10, ca + " t1"),                                  # joins cluster A
        (20, ca + " one two three four five six seven eight nine ten"),
        # ^ overlaps BOTH vocabularies: the bridge that merges A and B
        (30, "a brand new delta topic utterly related to nothing else"),
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    both = base.unionByName(delta)

    base_assign = minhash_clusters(base).select("doc_id", "cluster_id")
    got = incremental_cluster_assignments(base, delta, base_assign).collect()
    inc = {(r.doc_id, r.kind): r.cluster_id for r in got}
    full = {r.doc_id: r.cluster_id for r in minhash_clusters(both).collect()}

    # every delta doc labeled, consistent with full re-clustering
    for d, _ in delta_rows:
        assert inc[(d, "delta")] == full[d], d
    # base clusters whose full label changed appear as remap rows
    base_reps = {r.cluster_id for r in base_assign.collect()}
    expected_remaps = {
        rep: full[rep] for rep in base_reps if full[rep] != rep
    }
    got_remaps = {d: c for (d, k), c in inc.items() if k == "base_remap"}
    assert got_remaps == expected_remaps
    assert expected_remaps, "fixture must exercise the merge case"


def test_store_delete_lifecycle(spark, tmp_path):
    """r18 signature-store DELETION (the right-to-be-forgotten motion):
    logical phase — a probe never returns a deleted doc as dup target,
    and a doc identical to a deleted one is NOVEL while untouched docs
    still match; physical phase — compaction drops the ids from sets
    AND bucket member arrays, records the delete key in the pointer's
    del_folded manifest (replayed delete = no-op), and the folded
    store's probe verdicts equal a store built fresh on the corpus
    minus the deleted docs (the twin falsifier); delete layers retire
    on the two-phase tombstone+grace contract."""
    import os

    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_append,
        minhash_signature_store_build,
        minhash_signature_store_compact,
        minhash_signature_store_delete,
    )

    base = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten eleven"),
        ],
        "doc_id long, text string",
    )
    probe1 = spark.createDataFrame(
        [(30, "alpha beta gamma delta epsilon zeta eta theta iota kapp")],
        "doc_id long, text string",
    )
    probe2 = spark.createDataFrame(
        [(31, "one two three four five six seven eight nine ten twelve")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)

    def verdicts(p):
        return {
            (r.doc_id, r.dup_of, r.is_new)
            for r in incremental_minhash_dedup_stored(
                spark, store, p
            ).collect()
        }

    assert verdicts(probe1) == {(30, 1, 0)}
    assert verdicts(probe2) == {(31, 2, 0)}

    dels = spark.createDataFrame([(1,)], "doc_id long")
    minhash_signature_store_delete(spark, store, dels, "gdpr1")
    assert verdicts(probe1) == {(30, None, 1)}, \
        "a doc identical to a deleted doc must be NOVEL"
    assert verdicts(probe2) == {(31, 2, 0)}, "deletion is targeted"
    # Redelivered delete key pre-compaction: harmless no-op.
    minhash_signature_store_delete(spark, store, dels, "gdpr1")
    assert verdicts(probe1) == {(30, None, 1)}

    # Physical fold: sets and bucket arrays drop id 1; the delete key
    # lands in the pointer manifest; the layer is tombstoned.
    minhash_signature_store_compact(spark, store)
    ptr = commit.load_pointer(os.path.join(store, "current.json"))
    assert ptr["del_folded"] == ["gdpr1"]
    view = commit.read_view(SIGNATURE_STORE, store)
    sets_path, buckets_path = view.base["sets"], view.base["buckets"]
    assert spark.read.parquet(sets_path).filter("id = 1").count() == 0
    bk = spark.read.parquet(buckets_path)
    assert bk.filter(F.array_contains("ids", 1)).count() == 0
    assert commit.read_view(SIGNATURE_STORE, store).deletes == [], "applied layer is retired"
    assert verdicts(probe1) == {(30, None, 1)}
    assert verdicts(probe2) == {(31, 2, 0)}

    # Twin falsifier: a store built FRESH on corpus-minus-deleted has
    # identical sets ids and bucket membership.
    twin = str(tmp_path / "twin")
    minhash_signature_store_build(base.filter("doc_id <> 1"), twin)
    twin_view = commit.read_view(SIGNATURE_STORE, twin)
    t_sets, t_buckets = twin_view.base["sets"], twin_view.base["buckets"]
    assert (
        {r.id for r in spark.read.parquet(sets_path).select("id").collect()}
        == {r.id for r in spark.read.parquet(t_sets).select("id").collect()}
    )
    folded_b = {
        (r.table_id, r.mh, tuple(r.ids), r.width)
        for r in bk.collect()
    }
    twin_b = {
        (r.table_id, r.mh, tuple(r.ids), r.width)
        for r in spark.read.parquet(t_buckets).collect()
    }
    assert folded_b == twin_b, \
        "delete-folded buckets must equal a fresh build without the doc"

    # Replay AFTER the fold: manifest guard, no new layer dir appears.
    minhash_signature_store_delete(spark, store, dels, "gdpr1")
    assert commit.read_view(SIGNATURE_STORE, store).deletes == []

    # Append-then-delete composition: a doc appended as a layer and
    # then deleted must not match either (layer signatures are
    # anti-joined too); the next compaction folds both.
    day1 = spark.createDataFrame(
        [(10, "completely novel vocabulary for the appended slice here")],
        "doc_id long, text string",
    )
    probe10 = spark.createDataFrame(
        [(40, "completely novel vocabulary for the appended slice her")],
        "doc_id long, text string",
    )
    minhash_signature_store_append(spark, store, day1, "day1")
    assert verdicts(probe10) == {(40, 10, 0)}
    minhash_signature_store_delete(
        spark, store, spark.createDataFrame([(10,)], "doc_id long"),
        "gdpr2",
    )
    assert verdicts(probe10) == {(40, None, 1)}
    minhash_signature_store_compact(spark, store)
    assert commit.load_pointer(
        os.path.join(store, "current.json"))["del_folded"] == ["gdpr1", "gdpr2"]
    assert verdicts(probe10) == {(40, None, 1)}
    assert verdicts(probe2) == {(31, 2, 0)}

    # Two-phase retirement: the tombstoned delete layers collect past
    # grace on a later write pass, and deletes/ quiesces away.
    old_grace = os.environ.get("PYCAIM_STORE_GC_GRACE")
    os.environ["PYCAIM_STORE_GC_GRACE"] = "0"
    try:
        minhash_signature_store_compact(spark, store)  # no-op + GC
    finally:
        if old_grace is None:
            os.environ.pop("PYCAIM_STORE_GC_GRACE", None)
        else:
            os.environ["PYCAIM_STORE_GC_GRACE"] = old_grace
    assert not os.path.isdir(os.path.join(store, "deletes"))


def test_ivf_pq_delete_and_vacuum(spark, tmp_path):
    """r18 ANN deletion: after `ivf_pq_index_delete` a vector is never
    returned as a neighbor (logical phase — probe-time anti-join of the
    codes scan); `ivf_pq_codes_vacuum` applies it physically (codes
    version bumps, deleted rows gone, delete key in the pointer's
    del_folded manifest so a replayed delete no-ops) with verdicts
    identical to the filtered probe; the applied layer and displaced
    codes version retire on tombstone+grace."""
    import os

    import numpy as np

    from pycaim_spark.operators.similarity import (
        ivf_pq_codes_vacuum,
        ivf_pq_index_delete,
        ivf_pq_topk_stored,
    )

    rng = np.random.default_rng(23)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v])
         for i, v in enumerate(rng.normal(size=(60, 8)))],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "ann")

    def probe():
        return sorted(
            tuple(r) for r in ivf_pq_topk_stored(
                emb, store, n_cells=4, m=4, k_centroids=8,
                sample_size=60, n_queries=8, k=3,
            ).collect()
        )

    base = probe()
    returned = {r[1] for r in base}  # neighbor_id column position 2?
    # Robust to column order: find the neighbor ids via row asDict.
    rows = ivf_pq_topk_stored(
        emb, store, n_cells=4, m=4, k_centroids=8, sample_size=60,
        n_queries=8, k=3,
    ).collect()
    returned = {r.neighbor_id for r in rows}
    assert returned, "baseline probe must return neighbors"
    victims = sorted(returned)[:3]
    ivf_pq_index_delete(
        spark, store,
        spark.createDataFrame([(v,) for v in victims], "vec_id long"),
        "gdpr-ann-1",
    )
    filtered = ivf_pq_topk_stored(
        emb, store, n_cells=4, m=4, k_centroids=8, sample_size=60,
        n_queries=8, k=3,
    ).collect()
    assert not ({r.neighbor_id for r in filtered} & set(victims)), \
        "deleted vectors must never be returned as neighbors"

    v0 = commit.read_view(CODES_STORE, store).version
    ivf_pq_codes_vacuum(spark, store)
    assert commit.read_view(CODES_STORE, store).version == v0 + 1
    assert commit.read_view(CODES_STORE, store).del_folded == ["gdpr-ann-1"]
    codes = spark.read.parquet(
        commit.read_view(CODES_STORE, store).base["codes"])
    assert codes.filter(
        F.col("neighbor_id").isin([int(v) for v in victims])
    ).count() == 0
    assert commit.read_view(CODES_STORE, store).deletes == []
    after = ivf_pq_topk_stored(
        emb, store, n_cells=4, m=4, k_centroids=8, sample_size=60,
        n_queries=8, k=3,
    ).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, filtered)), \
        "the vacuumed store's verdicts equal the filtered probe's"
    # Replay after the fold: manifest guard, no new layer.
    ivf_pq_index_delete(
        spark, store,
        spark.createDataFrame([(v,) for v in victims], "vec_id long"),
        "gdpr-ann-1",
    )
    assert commit.read_view(CODES_STORE, store).deletes == []

    # Two-phase retirement at zero grace: old version + layers collect.
    old_grace = os.environ.get("PYCAIM_STORE_GC_GRACE")
    os.environ["PYCAIM_STORE_GC_GRACE"] = "0"
    try:
        ivf_pq_codes_vacuum(spark, store)  # no-op write pass runs GC
    finally:
        if old_grace is None:
            os.environ.pop("PYCAIM_STORE_GC_GRACE", None)
        else:
            os.environ["PYCAIM_STORE_GC_GRACE"] = old_grace
    assert not os.path.exists(os.path.join(store, f"codes_v{v0}"))
    assert not os.path.isdir(os.path.join(store, "codes_del"))


def test_delete_candidate_slot_not_displaced(spark, tmp_path):
    """r18 self-review #4: a deleted id that ranks inside the capped
    min-id candidate prefix must not displace a genuine near-duplicate
    out of the probe's candidate list — the pre-cap filter removes
    deleted ids from the stored bucket arrays BEFORE the cap, so with
    max_candidates_per_doc=1 and bucket members [deleted, real_dup]
    the probe still verifies the real duplicate (the sets-side
    anti-join alone would return novel here: the deleted id takes the
    only slot and then fails verification)."""
    from pycaim_spark.operators.dedup import (
        incremental_minhash_dedup_stored,
        minhash_signature_store_build,
        minhash_signature_store_delete,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base = spark.createDataFrame(
        [(1, text), (2, text),
         (9, "totally different filler vocabulary nothing shared here")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    minhash_signature_store_build(base, store)
    probe = spark.createDataFrame([(30, text)], "doc_id long, text string")

    minhash_signature_store_delete(
        spark, store, spark.createDataFrame([(1,)], "doc_id long"),
        "gdpr1",
    )
    got = {
        (r.doc_id, r.dup_of, r.is_new)
        for r in incremental_minhash_dedup_stored(
            spark, store, probe, max_candidates_per_doc=1
        ).collect()
    }
    assert got == {(30, 2, 0)}, got


def test_retrain_discards_pending_delete_layers(spark, tmp_path):
    """r18 self-review #1: deletion intents target the OLD index
    membership and must not survive a retrain — a pending (unvacuumed)
    delete layer left live would silently filter, and the next vacuum
    physically remove, vectors the retrain corpus intentionally
    contains. The rebuild tombstones BOTH layer families; after it,
    previously-deleted vectors are served again and the vacuum has
    nothing to apply."""
    import numpy as np

    from pycaim_spark.operators.similarity import (
        ivf_pq_codes_vacuum,
        ivf_pq_index_build,
        ivf_pq_index_delete,
        ivf_pq_topk_stored,
    )

    rng = np.random.default_rng(41)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v])
         for i, v in enumerate(rng.normal(size=(60, 8)))],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "ann")
    ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=8,
                       sample_size=60)
    rows = ivf_pq_topk_stored(
        emb, store, n_cells=4, m=4, k_centroids=8, sample_size=60,
        n_queries=8, k=3,
    ).collect()
    victims = sorted({r.neighbor_id for r in rows})[:3]
    ivf_pq_index_delete(
        spark, store,
        spark.createDataFrame([(v,) for v in victims], "vec_id long"),
        "stale-intent",
    )
    assert commit.read_view(CODES_STORE, store).deletes

    # RETRAIN: simulate the algo_version path (training code changed,
    # request unchanged) by doctoring the sidecar's stored version —
    # the only legitimate same-params retrain trigger. The corpus
    # still contains the 'deleted' vectors.
    import os

    npz_path = os.path.join(
        commit.read_view(CODES_STORE, store).base["codes"], "_index.npz")
    with np.load(npz_path) as idx:
        arrays = {k: idx[k] for k in idx.files}
    from pycaim_spark.operators.similarity import _INDEX_PARAM_KEYS

    vals = arrays["params"].tolist()
    vals[list(_INDEX_PARAM_KEYS).index("algo_version")] -= 1
    arrays["params"] = np.array(vals)
    with open(npz_path + ".tmp", "wb") as f:
        np.savez(f, **arrays)
    os.replace(npz_path + ".tmp", npz_path)
    ivf_pq_index_build(emb, store, n_cells=4, m=4, k_centroids=8,
                       sample_size=60)
    assert commit.read_view(CODES_STORE, store).deletes == [], \
        "a retrain must discard pending delete intents"
    n = commit.read_view(CODES_STORE, store).frame(spark, "codes").count()
    ivf_pq_codes_vacuum(spark, store)  # nothing pending: no-op
    assert commit.read_view(CODES_STORE, store).frame(
        spark, "codes").count() == n == 60, \
        "no vector of the retrain corpus may be filtered or removed"
    after = ivf_pq_topk_stored(
        emb, store, n_cells=4, m=4, k_centroids=8, sample_size=60,
        n_queries=8, k=3,
    ).collect()
    assert {r.neighbor_id for r in after} & set(victims), \
        "previously-deleted vectors are served again after the retrain"
