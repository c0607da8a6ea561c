"""Storage-layout plan assertions: partition pruning actually prunes and
bucketed joins actually avoid the shuffle — checked on the physical plan,
not just on results (SURVEY.md §7.9)."""

from __future__ import annotations

import pyspark.sql.functions as F

from pycaim_spark.catalog import load_table
from pycaim_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_sink_partitioned_prunes_partitions(spark, sf_dir):
    df = REGISTRY["sink_partitioned"].fn(spark, sf_dir)
    plan = _plan(df)
    # The status predicate must be a partition filter (directory pruning),
    # not a data filter evaluated per row.
    assert "PartitionFilters" in plan
    part_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "o_orderstatus" in part_line
    # Results equal the unpartitioned filter.
    direct = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .count()
    )
    assert df.count() == direct


def test_join_bucketed_has_no_exchange(spark, sf_dir):
    df = REGISTRY["join_bucketed"].fn(spark, sf_dir)
    # Simple-mode plan: formatted mode puts a node's name and its
    # Arguments on separate lines, which made the key-level substring
    # asserts below vacuously true (they never matched anything).
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # Co-located bucketed join: no shuffle may appear below the join.
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "l_orderkey" not in line, line
            assert "o_orderkey" not in line, line
    # And the result matches the plain-join twin.
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    twin = {
        (r.o_orderstatus, r.n_lines)
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .collect()
    }
    got = {(r.o_orderstatus, r.n_lines) for r in df.collect()}
    assert got == twin


def test_join_dpp_injects_runtime_partition_filter(spark, sf_dir):
    """join_dpp plan gate: the fact scan must carry a
    dynamicpruningexpression under PartitionFilters — runtime pruning from
    the dim side, not a static filter and not a full scan."""
    df = REGISTRY["join_dpp"].fn(spark, sf_dir)
    plan = _plan(df)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "dynamicpruning" in part_lines[0]
    [row] = df.collect()
    expected = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .count()
    )
    assert (row.label, row.n) == ("finished", expected)


def test_sink_compact_collapses_files_and_preserves_rows(spark, sf_dir):
    """sink_compact rows-only gate: the rewrite collapses the 64-shard
    fragmented copy to ceil(bytes / 128 MiB) files (one at fixture scale)
    and every row survives byte-identically."""
    import os

    from pycaim_spark.queries import relational

    df = REGISTRY["sink_compact"].fn(spark, sf_dir)

    def n_parquet(sub):
        # NOT _scratch(): that helper rmtree's the path it returns.
        path = os.path.join(relational._SCRATCH, sub)
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))

    assert n_parquet("compact_frag") == 64
    assert n_parquet("compact_out") == 1  # fixture ≪ 128 MiB
    got = sorted(
        (r.o_orderkey, r.o_custkey, r.o_totalprice) for r in df.collect()
    )
    src = load_table(spark, sf_dir, "orders")
    expected = sorted(
        (r.o_orderkey, r.o_custkey, r.o_totalprice) for r in src.collect()
    )
    assert got == expected


def test_sink_orc_round_trip_and_pushdown(spark, sf_dir):
    """sink_orc rows-only gate: ORC round-trip preserves rows exactly and
    the ORC scan pushes the filter down."""
    from pycaim_spark.catalog import load_table

    df = REGISTRY["sink_orc"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderpriority" in plan
    got = sorted((r.o_orderkey, r.o_totalprice) for r in df.collect())
    src = load_table(spark, sf_dir, "orders").filter(
        "o_orderpriority = '1-URGENT'")
    expected = sorted((r.o_orderkey, r.o_totalprice) for r in src.collect())
    assert got == expected


def _bits(rows):
    import struct

    out = []
    for r in rows:
        out.append(tuple(
            struct.pack(">d", v).hex() if isinstance(v, float) else v
            for v in r
        ))
    return sorted(out, key=str)


def test_tpch_bucketed_twins_match_shipped_forms(spark):
    """The bucketed-layout twins (q3/q10/q21, round 12 — q5/q18 landed
    earlier and are parity-gated) are ALTERNATE PHYSICAL FORMS of the
    shipped queries: same oracle SQL, so rows and float bits must match
    the shipped form exactly on every fixture. q21 is the strongest
    check — the bucketed body replaces the EXISTS/NOT-EXISTS pair with
    per-order countDistinct facts, and this asserts that rewrite is
    row-for-row equivalent, not just plausible."""
    for q in ("tpch_q3", "tpch_q10", "tpch_q21"):
        for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            shipped = _bits(REGISTRY[q].fn(spark, d).collect())
            bucketed = _bits(REGISTRY[f"{q}_bucketed"].fn(spark, d).collect())
            assert bucketed == shipped, (q, d)
            assert bucketed, (q, d)  # non-empty at both gate scales


def _plan_simple(df) -> str:
    """Simple-mode physical plan: unlike "formatted" (which splits a
    node's name and its Arguments onto separate detail lines), simple
    mode renders `Exchange hashpartitioning(keys...)` as ONE line, so
    key-level substring asserts actually bite."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_tpch_bucketed_plans_shuffle_nothing_on_orderkey(spark, sf_dir):
    """The point of the orderkey-bucketed layout is that NO plan ever
    exchanges on the order key again — assert it on the physical plan.
    q3 is the zero-shuffle showcase: its grouping set CONTAINS the bucket
    key, so even the aggregate runs bucket-locally and the whole plan's
    only movement is one broadcast + the TakeOrdered top-10. q21's
    stacked per-(order,supplier)→per-order aggregates must both stay
    bucket-local (the countDistinct spelling would re-cluster through
    Expand — the regression this test pins against)."""
    plans = {
        q: _plan_simple(REGISTRY[q].fn(spark, sf_dir))
        for q in ("tpch_q3_bucketed", "tpch_q10_bucketed",
                  "tpch_q21_bucketed")
    }
    for q, plan in plans.items():
        assert "SortMergeJoin" in plan, q
        for line in plan.splitlines():
            if "Exchange hashpartitioning" not in line:
                continue
            assert "l_orderkey" not in line, (q, line)
            assert "o_orderkey" not in line, (q, line)
            assert "q_orderkey" not in line, (q, line)
    # q3: no shuffle exchange AT ALL (the group keys contain the bucket
    # key; the top-10 is TakeOrderedAndProject, not a sort exchange).
    q3 = plans["tpch_q3_bucketed"]
    assert "Exchange hashpartitioning" not in q3
    assert "Exchange rangepartitioning" not in q3
    # q21: exactly one hash exchange (the per-s_name count) plus the
    # output sort — nothing fact-sized moves.
    q21_hash = [l for l in plans["tpch_q21_bucketed"].splitlines()
                if "Exchange hashpartitioning" in l]
    assert len(q21_hash) == 1 and "s_name" in q21_hash[0], q21_hash


def test_bucketed_layout_concurrent_build_regen_gc(
    spark, tmp_path, monkeypatch
):
    """Round 13 (VERDICT r12 #3 + ADVICE r12), GC semantics hardened
    round 14 (ADVICE r13) and re-keyed round 16 (fp-based supersede):
    the bucketed-layout builder is (a) race-safe — two concurrent cold
    builds, serialized by the layout-root flock with a double-checked
    ``_SUCCESS`` re-test, produce ONE valid layout that both callers can
    query; (b) bucket-count-keyed but SIBLING-preserving — a different
    ``buckets`` yields a distinct slug and a rebuild, and both variants
    stay live side by side (r16: the 512-bucket probe layout must not
    tombstone the 32-bucket fixture mid-curve); (c) fingerprint-keyed —
    in-place regeneration (same bytes, new mtime_ns) rebuilds, and the
    GC pass tombstones EVERY stale-fingerprint variant (catalog dropped,
    ``superseded.json`` written) while their files survive the grace
    period so in-flight readers don't crash mid-scan; a past-grace
    tombstone is deleted by the NEXT cold build's GC pass; (d)
    marker-less legacy/crashed-build dirs are age-collected, while fresh
    marker-less dirs (a build in progress) are kept; (e) the warm attach
    path is lock-free — it completes while another process holds the
    layout-root flock (ADVICE r13: the locked warm path parked every
    bench child behind any concurrent cold build); (f) re-attaching to a
    tombstoned slug resurrects it."""
    import json
    import os
    import shutil
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pycaim_spark.operators.commit import store_lock
    from pycaim_spark.queries.advanced import (
        _bucketed_orderkey_layout,
        _layout_fingerprint,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    # Fixed long grace; phase-2 deletion is exercised by AGING one
    # specific tombstone's recorded ts below (grace=0 instead cascades:
    # every pass collects every tombstone laid seconds earlier, including
    # the other table's — which forces rebuilds mid-test).
    monkeypatch.setenv("PYCAIM_LAYOUT_GC_GRACE", "3600")
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    for t in ("lineitem", "orders"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet",
                    os.path.join(corpus, f"{t}.parquet"))
    layout_root = os.path.join(_SCRATCH, "bucketed_tpch")

    def slugs_for(table: str, live_only: bool = True) -> list[str]:
        out = []
        for sib in sorted(os.listdir(layout_root)):
            marker = os.path.join(layout_root, sib, "source.json")
            if not os.path.exists(marker):
                continue
            with open(marker) as f:
                meta = json.load(f)
            if (meta["sf_dir"], meta["table"]) == (
                os.path.abspath(corpus), table,
            ) and not (
                live_only
                and os.path.exists(
                    os.path.join(layout_root, sib, "superseded.json"))
            ):
                out.append(sib)
        return out

    fake_aged = os.path.join(layout_root, "zz_aged_markerless")
    fake_fresh = os.path.join(layout_root, "zz_fresh_markerless")
    try:
        src_rows = load_table(spark, corpus, "lineitem").count()

        # (a) concurrent cold builds -> one valid layout, both usable.
        with ThreadPoolExecutor(2) as ex:
            futs = [ex.submit(_bucketed_orderkey_layout, spark, corpus)
                    for _ in range(2)]
            results = [f.result() for f in futs]
        assert results[0][0].count() == src_rows
        assert results[1][0].count() == src_rows
        assert len(slugs_for("lineitem")) == 1
        assert len(slugs_for("orders")) == 1
        slug32 = slugs_for("lineitem")[0]
        orders32 = slugs_for("orders")[0]

        # (b) bucket count is part of the key: buckets=8 is a new slug —
        # and a SIBLING, not a supersession (r16 fp-keyed GC): both
        # variants carry the same source fingerprint, so both stay live
        # and queryable side by side.
        lib8, _ = _bucketed_orderkey_layout(spark, corpus, buckets=8)
        assert lib8.count() == src_rows
        live = slugs_for("lineitem")
        assert slug32 in live and len(live) == 2
        slug8 = next(s for s in live if s != slug32)
        assert spark.catalog.tableExists(f"tpch_b_lineitem_{slug32}")
        assert not os.path.exists(
            os.path.join(layout_root, slug32, "superseded.json"))

        # (c) in-place regeneration: same bytes, new mtime_ns -> new
        # fingerprint (the r12 two-scalar fingerprint collided here),
        # rebuild; this pass's GC tombstones EVERY stale-fingerprint
        # lineitem variant — the 32-bucket slug AND its 8-bucket sibling
        # (catalog dropped, files kept for the grace period).
        fp_before = _layout_fingerprint(
            os.path.join(corpus, "lineitem.parquet"))
        shutil.copy(f"/root/testdata/sf0.001/lineitem.parquet",
                    os.path.join(corpus, "lineitem.parquet"))
        assert _layout_fingerprint(
            os.path.join(corpus, "lineitem.parquet")) != fp_before
        lib_new, _ = _bucketed_orderkey_layout(spark, corpus)
        assert lib_new.count() == src_rows
        assert len(slugs_for("lineitem")) == 1
        slug32b = slugs_for("lineitem")[0]
        assert slug32b not in (slug32, slug8)
        for stale in (slug32, slug8):
            assert os.path.exists(
                os.path.join(layout_root, stale, "superseded.json")), stale
            assert os.path.exists(os.path.join(layout_root, stale)), stale
            assert not spark.catalog.tableExists(f"tpch_b_lineitem_{stale}")

        # (d-setup) marker-less dirs: one aged (legacy/crashed build),
        # one fresh (a concurrent build in progress looks like this);
        # age slug32's tombstone past the grace so the NEXT cold build's
        # GC pass collects exactly it (slug8's tombstone stays fresh).
        os.makedirs(fake_aged)
        os.utime(fake_aged, (time.time() - 7200, time.time() - 7200))
        os.makedirs(fake_fresh)
        tomb32 = os.path.join(layout_root, slug32, "superseded.json")
        with open(tomb32, "w") as f:
            json.dump({"ts": time.time() - 7200}, f)
        shutil.copy(f"/root/testdata/sf0.001/lineitem.parquet",
                    os.path.join(corpus, "lineitem.parquet"))
        lib_new2, _ = _bucketed_orderkey_layout(spark, corpus)
        assert lib_new2.count() == src_rows
        # past-grace tombstone collected; fresh tombstone survives.
        assert not os.path.exists(os.path.join(layout_root, slug32))
        assert os.path.exists(os.path.join(layout_root, slug8))
        # (d) marker-less sweep: aged collected, fresh kept.
        assert not os.path.exists(fake_aged)
        assert os.path.exists(fake_fresh)

        # (f) resurrection: a tombstoned-but-uncollected LIVE slug (e.g.
        # a raced supersede) re-attaches through the locked path, which
        # clears the tombstone — orders' fingerprint never changed, so
        # its original slug must come back live.
        with open(os.path.join(layout_root, orders32, "superseded.json"),
                  "w") as f:
            json.dump({"ts": time.time()}, f)
        spark.sql(f"DROP TABLE IF EXISTS tpch_b_orders_{orders32}")
        _, ob = _bucketed_orderkey_layout(spark, corpus)
        assert ob.count() > 0
        assert orders32 in slugs_for("orders")
        assert not os.path.exists(
            os.path.join(layout_root, orders32, "superseded.json"))
        assert spark.catalog.tableExists(f"tpch_b_orders_{orders32}")

        # (e) warm attach is lock-free: with the layout-root flock held
        # by "another process", the already-attached layout still serves.
        with store_lock(layout_root):
            with ThreadPoolExecutor(1) as ex:
                fut = ex.submit(_bucketed_orderkey_layout, spark, corpus)
                lib_warm, _ = fut.result(timeout=60)
        assert lib_warm.count() == src_rows
    finally:
        # tmp_path is unique per run: drop this corpus's tables and slug
        # dirs (tombstoned included) so repeated pytest runs don't
        # accumulate dead layouts.
        for t in ("lineitem", "orders"):
            for sib in slugs_for(t, live_only=False):
                spark.sql(f"DROP TABLE IF EXISTS tpch_b_{t}_{sib}")
                shutil.rmtree(os.path.join(layout_root, sib),
                              ignore_errors=True)
        for fake in (fake_aged, fake_fresh):
            shutil.rmtree(fake, ignore_errors=True)


def test_incremental_layout_plan_states_and_files(spark, sf_dir):
    """The incremental layout lifecycle's three claims (round 14):

    (a) APPEND preserves co-location — the post-append Q3 plan still has
        zero Exchange on the order key — but forfeits the trusted
        per-bucket sort order (two files per bucket), so Spark
        re-inserts per-task SMJ sorts;
    (b) COMPACTION (one file per bucket, rewritten from the parquet
        files, not the bucketed scan) restores the sort-free merge:
        zero Sort nodes with the outputOrdering conf the layout sets;
    (c) both states return bit-identical Q3 results to the one-shot
        layout (the oracle gate checks them against DuckDB separately).
    File-count invariant: appended dir has exactly 2 files per bucket,
    compacted dir exactly 1."""
    import os
    import re

    from pycaim_spark.queries.advanced import _incremental_orderkey_layout
    from pycaim_spark.queries.relational import _SCRATCH

    ref = _bits(REGISTRY["tpch_q3_bucketed"].fn(spark, sf_dir).collect())
    append_df = REGISTRY["tpch_q3_layout_append"].fn(spark, sf_dir)
    compact_df = REGISTRY["tpch_q3_layout_compacted"].fn(spark, sf_dir)
    assert _bits(append_df.collect()) == ref and ref
    assert _bits(compact_df.collect()) == ref

    sorts = re.compile(r"Sort \[")
    for df, state in ((append_df, "append"), (compact_df, "compact")):
        plan = _plan_simple(df)
        assert "SortMergeJoin" in plan, state
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "l_orderkey" not in line, (state, line)
                assert "o_orderkey" not in line, (state, line)
        n_sorts = len(sorts.findall(plan))
        if state == "append":
            assert n_sorts >= 1, plan
        else:
            assert n_sorts == 0, plan

    # File-count invariant per state (lineitem table of this corpus).
    lib_a, _ = _incremental_orderkey_layout(spark, sf_dir)
    lib_c, _ = _incremental_orderkey_layout(spark, sf_dir, compacted=True)
    import hashlib

    from pycaim_spark.queries.advanced import _layout_fingerprint

    src = os.path.join(sf_dir, "lineitem.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:32:incr:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    n_app = len([f for f in os.listdir(os.path.join(slug_dir, "lineitem"))
                 if f.endswith(".parquet")])
    n_cmp = len([f for f in os.listdir(os.path.join(slug_dir, "lineitem_c"))
                 if f.endswith(".parquet")])
    # The real invariant is ≤2 files per bucket pre-compaction (base +
    # at most one delta file) and exactly 1 after; the delta only lands
    # a file in buckets its `orderkey % 7 == 0` rows hash into, so an
    # alternate corpus with a delta-empty bucket legitimately writes
    # fewer than 64 files (r14 ADVICE — don't pin the corpus accident).
    assert 32 < n_app <= 64, n_app
    assert n_cmp == 32, n_cmp
    # Idempotency: repeated calls attach (marker-guarded), never
    # double-insert the delta — row counts stay at the full corpus.
    full_rows = load_table(spark, sf_dir, "lineitem").count()
    assert lib_a.count() == full_rows
    assert lib_c.count() == full_rows
    lib_a2, _ = _incremental_orderkey_layout(spark, sf_dir)
    assert lib_a2.count() == full_rows


def test_upserted_layout_bucket_local_rewrite(spark, sf_dir):
    """The CDC upsert motion's claims under the r17 snapshot-pointer
    commit:

    (a) BUCKET-LOCAL: only the buckets the CDC keys hash into are
        rewritten. The published version hard-links the untouched
        buckets' files from the base (names preserved), so name
        identity between ``orders_c`` and the resolved ``orders_u``
        version dir is a per-bucket 'was this file rewritten?' bit.
    (b) The upserted table keeps ONE sorted file per bucket, so the Q3
        plan over it has zero Exchange on the order key AND zero SMJ
        sorts.
    (c) MERGE semantics: full rows = orders − deletes + inserts,
        updates replace in place; attach is idempotent.
    Value correctness vs the upsert-CTE DuckDB oracle is the registry
    gate's job (tpch_q3_layout_upserted)."""
    import hashlib
    import os
    import re

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.queries.advanced import (
        _layout_fingerprint,
        _upserted_orderkey_layout,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    upserted_df = REGISTRY["tpch_q3_layout_upserted"].fn(spark, sf_dir)
    assert upserted_df.count() > 0

    src = os.path.join(sf_dir, "orders.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:32:incr:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    ptr = load_layout_pointer(slug_dir, "orders_u")
    assert ptr is not None, "upsert must commit a snapshot pointer"
    touched = set(ptr["touched"])
    assert touched, "CDC batch must touch at least one bucket"
    udir, _ = resolve_layout_rel(slug_dir, "orders_u")
    assert udir.endswith(ptr["dir"])

    bucket_re = re.compile(r"_(\d{5})\.c\d{3}\.")

    def files_by_bucket(d):
        out = {}
        for fn in os.listdir(d):
            m = bucket_re.search(fn)
            if m and not fn.startswith("."):  # skip .crc sidecars
                out.setdefault(int(m.group(1)), []).append(fn)
        return out

    c_files = files_by_bucket(os.path.join(slug_dir, "orders_c"))
    u_files = files_by_bucket(udir)
    untouched = set(c_files) - touched
    # Precondition, not a pinned count (r14 ADVICE lesson): the fixture's
    # CDC keys cannot hash into all 32 buckets for the test to mean
    # anything, but the exact split is the corpus's business.
    assert untouched, "fixture CDC batch unexpectedly touched every bucket"
    for b in sorted(c_files):
        assert len(u_files.get(b, ())) == 1, (b, u_files.get(b))
        if b in touched:
            assert u_files[b] != c_files[b], f"bucket {b} not rewritten"
        else:
            assert u_files[b] == c_files[b], \
                f"untouched bucket {b} was rewritten"
            # ... and the untouched file is a hard link of the base's
            # (zero byte copy — same inode, the r17 clone-less clone).
            assert os.path.samefile(
                os.path.join(slug_dir, "orders_c", c_files[b][0]),
                os.path.join(udir, u_files[b][0]),
            )

    # (b) plan shape: co-located AND sort-free.
    plan = _plan_simple(upserted_df)
    assert "SortMergeJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "l_orderkey" not in line, line
            assert "o_orderkey" not in line, line
    assert not re.search(r"Sort \[", plan), plan

    # (c) MERGE row accounting (deletes −, inserts +, updates neutral)
    # + idempotent attach.
    lib, ou = _upserted_orderkey_layout(spark, sf_dir)
    full = load_table(spark, sf_dir, "orders")
    n_del = full.filter("o_orderkey % 503 = 0").count()
    n_ins = full.filter("o_orderkey % 113 = 0").count()
    assert n_ins > 0
    want = full.count() - n_del + n_ins
    assert ou.count() == want
    lib2, ou2 = _upserted_orderkey_layout(spark, sf_dir)
    assert ou2.count() == want


def _reset_private_ns_layout(spark, sf_dir, ns, buckets=32):
    """Wipe a private-namespace orders layout (slug dir + catalog
    entries) so a test's mutating motions always start from a pristine
    rebuild — scratch persists across pytest runs, and an in-place
    upsert's committed pointer would otherwise warm-path the PREVIOUS
    run's mutated table into this run's expectations."""
    import hashlib
    import os
    import shutil

    from pycaim_spark.queries.advanced import _layout_fingerprint
    from pycaim_spark.queries.relational import _SCRATCH

    src = os.path.join(sf_dir, "orders.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{buckets}:{ns}:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    for t in (f"tpch_ia_orders_{slug}", f"tpch_ic_orders_{slug}",
              f"tpch_rb_orders_{slug}"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(
        os.path.join(_SCRATCH, "bucketed_tpch", slug), ignore_errors=True
    )
    return slug


def test_upsert_insert_only_batch_is_bucket_local(spark, sf_dir):
    """An INSERT-only CDC batch (VERDICT r15 #1) must touch ONLY the
    buckets the new keys hash into: new keys route through the same
    pmod(hash) the resident keys did at write time, land in their
    buckets' single sorted file via the staged rewrite, and every other
    bucket's file is name-identical (a hard link) to the compacted
    state."""
    import hashlib
    import os
    import re

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.queries.advanced import (
        _UPSERT_INS_OFFSET,
        _layout_fingerprint,
        _upserted_orderkey_layout,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    ins_pred = "o_orderkey % 1009 = 0"
    _, ou = _upserted_orderkey_layout(
        spark, sf_dir, upd_pred="1 = 0", del_pred="1 = 0",
        ins_pred=ins_pred, suffix="insonly", with_lineitem=False,
    )
    full = load_table(spark, sf_dir, "orders")
    n_ins = full.filter(ins_pred).count()
    assert n_ins > 0
    assert ou.count() == full.count() + n_ins
    # The inserted clones are present under their offset keys.
    assert (
        ou.filter(F.col("o_orderkey") >= _UPSERT_INS_OFFSET).count()
        == n_ins
    )

    src = os.path.join(sf_dir, "orders.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:32:incr:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    touched = set(
        load_layout_pointer(slug_dir, "orders_uinsonly")["touched"]
    )
    # Touched == exactly the buckets the INSERT keys hash into.
    want = {
        r.b
        for r in full.filter(ins_pred)
        .select(
            F.pmod(
                F.hash(F.col("o_orderkey") + F.lit(_UPSERT_INS_OFFSET)),
                F.lit(32),
            ).alias("b")
        )
        .distinct()
        .collect()
    }
    assert touched == want
    assert set(range(32)) - touched, "fixture insert batch hit every bucket"

    bucket_re = re.compile(r"_(\d{5})\.c\d{3}\.")

    def files_by_bucket(d):
        out = {}
        for fn in os.listdir(d):
            m = bucket_re.search(fn)
            if m and not fn.startswith("."):
                out.setdefault(int(m.group(1)), []).append(fn)
        return out

    c_files = files_by_bucket(os.path.join(slug_dir, "orders_c"))
    udir, _ = resolve_layout_rel(slug_dir, "orders_uinsonly")
    u_files = files_by_bucket(udir)
    for b in sorted(c_files):
        assert len(u_files.get(b, ())) == 1, (b, u_files.get(b))
        if b in touched:
            assert u_files[b] != c_files[b], f"insert bucket {b} kept"
        else:
            assert u_files[b] == c_files[b], \
                f"untouched bucket {b} was rewritten by an insert batch"


def test_upsert_inplace_arm_rows_and_crash_publish_recovery(spark, sf_dir):
    """The IN-PLACE upsert arm under the snapshot-pointer commit: same
    MERGE semantics as the cloned arm with no copy anywhere, attach
    idempotent; and the crash model is now 'unpublished version dir' —
    a crash mid-publish leaves a ``orders_c_v*`` dir the pointer never
    referenced, which the next locked writer deletes before re-deriving
    (no rollback journal: old files were never moved). Also pins the
    STALE-BATCH path: a pointer committing a different batch triggers a
    pristine rebuild into a fresh version, and the displaced version is
    TOMBSTONED, not rmtree'd (VERDICT r16 #2)."""
    import hashlib
    import os

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.queries.advanced import (
        _incremental_orderkey_layout,
        _layout_fingerprint,
        _upserted_orderkey_layout,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    full = load_table(spark, sf_dir, "orders")
    n_del = full.filter("o_orderkey % 503 = 0").count()
    n_ins = full.filter("o_orderkey % 113 = 0").count()
    want = full.count() - n_del + n_ins

    lib, ou = _upserted_orderkey_layout(spark, sf_dir, inplace=True)
    assert ou.count() == want
    _, ou2 = _upserted_orderkey_layout(spark, sf_dir, inplace=True)
    assert ou2.count() == want

    # --- crash-publish arm, on its own namespace ("ipcrash"), RESET
    # first (scratch persists across runs). Build the pristine compacted
    # orders, then fabricate the on-disk state of a crash mid-publish:
    # a version dir full of junk that no pointer references.
    slug = _reset_private_ns_layout(spark, sf_dir, "ipcrash")
    spark.sql(f"DROP TABLE IF EXISTS tpch_iucrash_stage_orders_{slug}")
    _incremental_orderkey_layout(
        spark, sf_dir, compacted=True, ns="ipcrash", tables=("orders",)
    )
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    junk_v = os.path.join(slug_dir, "orders_c_v1")
    os.makedirs(junk_v)
    with open(os.path.join(junk_v, "partial.parquet"), "w") as f:
        f.write("not a parquet file")

    _, ouc = _upserted_orderkey_layout(
        spark, sf_dir, suffix="crash", inplace=True
    )
    assert ouc.count() == want
    # The unpublished junk dir was swept; the publish re-used v1.
    ptr = load_layout_pointer(slug_dir, "orders_c")
    assert ptr is not None and ptr["version"] == 1
    vdir, _ = resolve_layout_rel(slug_dir, "orders_c")
    assert not os.path.exists(os.path.join(vdir, "partial.parquet"))
    # The displaced plain orders_c is tombstoned, files intact (grace).
    plain = os.path.join(slug_dir, "orders_c")
    assert os.path.exists(os.path.join(plain, "_superseded.json"))
    assert os.path.exists(os.path.join(plain, "_SUCCESS"))

    # Value equality with the cloned arm: identical post-MERGE corpus.
    a = _bits(
        ou.orderBy("o_orderkey").select("o_orderkey", "o_totalprice",
                                        "o_orderdate").collect()
    )
    b = _bits(
        ouc.orderBy("o_orderkey").select("o_orderkey", "o_totalprice",
                                         "o_orderdate").collect()
    )
    assert a == b

    # --- STALE-BATCH path: a different batch spec on the mutated table
    # rebuilds pristine into a fresh version and re-merges; the mutated
    # version is tombstoned, never deleted under a possible reader.
    mutated_dir = vdir
    n_del2 = full.filter("o_orderkey % 211 = 0").count()
    _, ou3 = _upserted_orderkey_layout(
        spark, sf_dir, suffix="crash", inplace=True,
        upd_pred="1 = 0", del_pred="o_orderkey % 211 = 0", ins_pred=None,
    )
    assert ou3.count() == full.count() - n_del2
    assert os.path.exists(os.path.join(mutated_dir, "_superseded.json"))
    assert os.path.exists(os.path.join(mutated_dir, "_SUCCESS")), \
        "displaced version must survive its grace window"


def test_bucket_local_merge_delta_api(spark, sf_dir, tmp_path):
    """The delta-input MERGE core (operators/merge.py) on literal
    DataFrames — the production contract: touched buckets derived from
    the DELTA ALONE (no base scan, no predicates), upsert-replaces,
    upsert-inserts and deletes in one batch, staged files bucket-local,
    untouched files byte-name-identical after the caller's swap."""
    import os
    import shutil

    from pycaim_spark.operators.merge import (
        bucket_files,
        delta_touched_buckets,
        plan_bucket_local_merge,
    )

    full = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_b")
    name = "tpch_merge_api_base"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        full.repartition(8, F.col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", path)
        .saveAsTable(name)
    )
    before = bucket_files(path)

    # Literal delta: replace key 7 (totalprice 9999.99), insert key
    # 10_000_000, delete keys 11 and 12.
    repl = full.filter("o_orderkey = 7").withColumn(
        "o_totalprice", F.lit(9999.99)
    )
    ins = full.filter("o_orderkey = 7").withColumn(
        "o_orderkey", F.lit(10_000_000).cast("long")
    )
    upserts = repl.unionByName(ins)
    deletes = spark.createDataFrame(
        [(11,), (12,)], "o_orderkey long"
    )
    want_touched = delta_touched_buckets(
        upserts.select("o_orderkey").unionByName(deletes), "o_orderkey", 8
    )

    stage = str(tmp_path / "stage")
    plan = plan_bucket_local_merge(
        spark,
        path=path,
        schema=full.schema,
        key="o_orderkey",
        buckets=8,
        upserts=upserts,
        deletes=deletes,
        stage_path=stage,
        stage_table="tpch_merge_api_stage",
    )
    assert plan["touched"] == want_touched
    assert set(plan["staged"]) <= set(want_touched)

    # Caller's swap: remove touched buckets' old files, move staged in.
    for b in plan["touched"]:
        for f in plan["live"].get(b, []):
            os.remove(f)
        for f in plan["staged"].get(b, []):
            os.rename(f, os.path.join(path, os.path.basename(f)))
    spark.sql("DROP TABLE IF EXISTS tpch_merge_api_stage")
    shutil.rmtree(stage, ignore_errors=True)
    spark.catalog.refreshTable(name)

    got = spark.table(name)
    assert got.count() == full.count() - 2 + 1  # −deletes +insert
    assert got.filter("o_orderkey IN (11, 12)").count() == 0
    assert got.filter("o_orderkey = 10000000").count() == 1
    assert (
        got.filter("o_orderkey = 7").collect()[0].o_totalprice == 9999.99
    )
    after = bucket_files(path)
    for b, files in before.items():
        names_after = [os.path.basename(f) for f in after.get(b, [])]
        names_before = [os.path.basename(f) for f in files]
        if b in plan["touched"]:
            assert names_after != names_before, b
        else:
            assert names_after == names_before, b
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_layout_lifecycle_composition(spark, sf_dir):
    """Interleaved lifecycle on ONE table (VERDICT r15 #4), r17: every
    mutating motion commits through the snapshot pointer — in-place
    upsert → bucketed append → versioned compaction → second upsert,
    each step value-checked against an independently derived expectation
    over the raw corpus (full-table DataFrame algebra — a different code
    path from the bucket-local file surgery). Also pins the
    file/pointer-state transitions: one file per bucket after upsert,
    multi-file buckets after append, one per bucket again after the
    compaction PUBLISH (a fresh version dir; the appended version is
    tombstoned, not rewritten in place), batch recommitted by the second
    upsert's pointer flip."""
    import hashlib
    import os
    import re

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        publish_layout_version,
        resolve_layout_rel,
        rewrite_layout_pointer,
        tombstone_layout_dir,
    )
    from pycaim_spark.queries.advanced import (
        _UPSERT_DEL,
        _UPSERT_INS,
        _UPSERT_INS_OFFSET,
        _UPSERT_UPD,
        _attach_rel_table,
        _layout_fingerprint,
        _upserted_orderkey_layout,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    full = load_table(spark, sf_dir, "orders")
    key = "o_orderkey"

    # Reset the private namespace: every motion below mutates the table
    # in place, so a pristine rebuild per run is the precondition.
    slug = _reset_private_ns_layout(spark, sf_dir, "iplc")
    spark.sql(f"DROP TABLE IF EXISTS tpch_iulc_stage_orders_{slug}")
    spark.sql(f"DROP TABLE IF EXISTS tpch_iclc_cstage_orders_{slug}")

    def digest(df):
        from pycaim_spark.functions.exact import cents, fsum

        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            fsum(cents("o_totalprice"), 2, "s"),
            F.sum(F.hash(key, "o_orderdate", "o_custkey")
                  .cast("long")).alias("h"),
        ).collect()[0]
        return (r.n, r.s, r.h)

    # Step 1: in-place upsert (default CDC batch) on namespace "iplc".
    _, t = _upserted_orderkey_layout(
        spark, sf_dir, suffix="lc", inplace=True, with_lineitem=False
    )
    upd = full.filter(_UPSERT_UPD).withColumn(
        "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    )
    ins = full.filter(_UPSERT_INS).withColumn(
        key, F.col(key) + F.lit(_UPSERT_INS_OFFSET)
    )
    e1 = (
        full.filter(f"NOT (({_UPSERT_UPD}) OR ({_UPSERT_DEL}))")
        .unionByName(upd)
        .unionByName(ins)
    )
    assert digest(t) == digest(e1)

    src = os.path.join(sf_dir, "orders.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:32:iplc:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    tname = f"tpch_ic_orders_{slug}"
    tpath, ptr1 = resolve_layout_rel(slug_dir, "orders_c")
    assert ptr1 is not None and ptr1.get("batch") is not None
    bucket_re = re.compile(r"_(\d{5})\.c\d{3}\.")

    def files_per_bucket(d):
        out = {}
        for fn in os.listdir(d):
            m = bucket_re.search(fn)
            if m and not fn.startswith("."):
                out[int(m.group(1))] = out.get(int(m.group(1)), 0) + 1
        return out

    assert set(files_per_bucket(tpath).values()) == {1}

    # Step 2: bucketed APPEND of a delta into the CURRENT version (same
    # recipe as the incremental layout's append motion — appends only
    # ADD files, so they are reader-safe without a new version) —
    # multi-file buckets appear.
    delta = full.filter("o_orderkey % 307 = 0").withColumn(
        key, F.col(key) + F.lit(2 * _UPSERT_INS_OFFSET)
    )
    (
        delta.repartition(32, F.col(key))
        .write.mode("append")
        .bucketBy(32, key)
        .sortBy(key)
        .option("path", tpath)
        .saveAsTable(tname)
    )
    spark.catalog.refreshTable(tname)
    e2 = e1.unionByName(delta)
    assert digest(spark.table(tname)) == digest(e2)
    assert max(files_per_bucket(tpath).values()) > 1

    # Step 3: COMPACTION as a snapshot-pointer publish — the rewrite is
    # staged into a fresh dir, published as the next version (pure
    # rename, no in-place file surgery), and the appended version is
    # tombstoned for grace collection. One file per bucket again, rows
    # unchanged.
    cstage = os.path.join(slug_dir, "orders_c_compact_stage")
    cstage_name = f"tpch_iclc_cstage_orders_{slug}"
    spark.sql(f"DROP TABLE IF EXISTS {cstage_name}")
    (
        spark.read.parquet(tpath)
        .repartition(32, F.col(key))
        .write.mode("overwrite")
        .bucketBy(32, key)
        .sortBy(key)
        .option("path", cstage)
        .saveAsTable(cstage_name)
    )
    spark.sql(f"DROP TABLE IF EXISTS {cstage_name}")
    old_ptr = load_layout_pointer(slug_dir, "orders_c")
    vdir, ptr3 = publish_layout_version(
        slug_dir, "orders_c", src_dir=None, prebuilt_dir=cstage,
        extra={"batch": old_ptr.get("batch"), "ddl": old_ptr.get("ddl")},
    )
    tombstone_layout_dir(tpath)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in full.schema.fields
    )
    _attach_rel_table(spark, tname, vdir, ddl, key, 32)
    assert os.path.exists(os.path.join(tpath, "_superseded.json"))
    tpath = vdir
    assert digest(spark.table(tname)) == digest(e2)
    assert set(files_per_bucket(tpath).values()) == {1}

    # Step 4: SECOND CDC batch — delete original keys ≡0 (mod 307).
    # Clearing the pointer's committed batch first is load-bearing: it
    # models the next batch's arrival on the CURRENT table state (batch
    # None = a valid base to apply on); leaving the old batch spec would
    # instead trip the in-place staleness rebuild, which resets the
    # namespace to pristine (the right behavior for changed FIXTURE
    # predicates, not for a successive batch — successive batches via
    # cloning are gated by layout_upsert_second_batch).
    del2 = f"o_orderkey % 307 = 0 AND o_orderkey < {_UPSERT_INS_OFFSET}"
    ptr = load_layout_pointer(slug_dir, "orders_c")
    ptr["batch"] = None
    rewrite_layout_pointer(slug_dir, "orders_c", ptr)
    _, t4 = _upserted_orderkey_layout(
        spark, sf_dir, suffix="lc", inplace=True, with_lineitem=False,
        upd_pred="1 = 0", del_pred=del2, ins_pred=None,
    )
    e4 = e2.filter(f"NOT ({del2})")
    assert digest(e4) != digest(e2), "second batch must delete something"
    assert digest(t4) == digest(e4)
    tpath4, ptr4 = resolve_layout_rel(slug_dir, "orders_c")
    assert set(files_per_bucket(tpath4).values()) == {1}
    assert ptr4["version"] > ptr3["version"]
    assert ptr4["touched"], "second batch committed"


def test_upsert_stream_inplace_arrival_and_recovery(spark, sf_dir):
    """The in-place CDC stream (`_upsert_stream_inplace`), r17 pointer
    commit: (a) batches arrive INCREMENTALLY — a call with a longer
    batch list whose prefix is already applied merges only the new
    batches on the current state, each publishing the next version with
    the applied manifest inside the pointer; (b) an UNCOMMITTED batch
    crash leaves only an unpointed version dir, which the next locked
    writer sweeps (the table never left its last committed version — no
    rollback needed); (c) a COMMITTED batch crash (pointer flipped,
    stage cleanup interrupted) finishes cleanup without disturbing the
    batch."""
    import json
    import os
    import shutil

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.queries.advanced import (
        _UPSERT_B2_DEL,
        _UPSERT_DEL,
        _UPSERT_INS,
        _UPSERT_UPD,
        _upsert_stream_inplace,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    slug = _reset_private_ns_layout(spark, sf_dir, "ipsr")
    spark.sql(f"DROP TABLE IF EXISTS tpch_iusr_stream_stage_orders_{slug}")
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)

    b1 = ("b1", _UPSERT_UPD, _UPSERT_DEL, _UPSERT_INS)
    b2 = ("b2", "1 = 0", _UPSERT_B2_DEL, None)
    full = load_table(spark, sf_dir, "orders")
    n_del1 = full.filter(_UPSERT_DEL).count()
    n_ins1 = full.filter(_UPSERT_INS).count()
    n_del2 = full.filter(
        f"({_UPSERT_B2_DEL}) AND NOT ({_UPSERT_DEL})"
    ).count()
    want1 = full.count() - n_del1 + n_ins1
    want2 = want1 - n_del2

    # (a) incremental arrival.
    t1 = _upsert_stream_inplace(spark, sf_dir, [b1], suffix="sr")
    assert t1.count() == want1
    v1_dir, ptr1 = resolve_layout_rel(slug_dir, "orders_c")
    t2 = _upsert_stream_inplace(spark, sf_dir, [b1, b2], suffix="sr")
    assert t2.count() == want2
    ptr = load_layout_pointer(slug_dir, "orders_c")
    assert [a["key"] for a in ptr["applied"]] == ["b1", "b2"]
    assert ptr["version"] > ptr1["version"]
    # b1's displaced version is tombstoned with files intact (grace).
    assert os.path.exists(os.path.join(v1_dir, "_superseded.json"))
    assert os.path.exists(os.path.join(v1_dir, "_SUCCESS"))

    # (b) uncommitted batch crash: an unpointed version dir full of
    # junk. The NEXT WRITE PASS sweeps it (a pure warm-path read
    # legitimately leaves the junk alone — it is invisible to every
    # reader); the arrival of b3 (empty at this scale, so it commits a
    # pointer rewrite without publishing files) is that write pass. The
    # table still serves the post-b2 state.
    cur_dir, ptr = resolve_layout_rel(slug_dir, "orders_c")
    junk_v = os.path.join(slug_dir, f"orders_c_v{ptr['version'] + 1}")
    os.makedirs(junk_v)
    with open(os.path.join(junk_v, "partial.parquet"), "w") as f:
        f.write("torn write")
    b3 = ("b3", "1 = 0", "1 = 0", None)
    t3 = _upsert_stream_inplace(spark, sf_dir, [b1, b2, b3], suffix="sr")
    assert t3.count() == want2
    assert not os.path.exists(junk_v)
    assert resolve_layout_rel(slug_dir, "orders_c")[0] == cur_dir
    assert [
        a["key"]
        for a in load_layout_pointer(slug_dir, "orders_c")["applied"]
    ] == ["b1", "b2", "b3"]

    # (c) committed crash: stage table + stage dir leftovers after the
    # pointer flip. Stage state is unpublished by construction, so a
    # warm-path redelivery legitimately ignores it; the next WRITE pass
    # (b4, empty) finishes the cleanup without re-merging anything (the
    # applied manifest already records every batch).
    stray_stage = os.path.join(slug_dir, "orders_usr_stream_stage")
    os.makedirs(stray_stage, exist_ok=True)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS "
        f"tpch_iusr_stream_stage_orders_{slug} (x int) USING PARQUET "
        f"LOCATION '{os.path.join(stray_stage, 'tbl')}'"
    )
    b4 = ("b4", "1 = 0", "1 = 0", None)
    t4 = _upsert_stream_inplace(
        spark, sf_dir, [b1, b2, b3, b4], suffix="sr"
    )
    assert t4.count() == want2
    assert not os.path.exists(stray_stage)
    assert not spark.catalog.tableExists(
        f"tpch_iusr_stream_stage_orders_{slug}"
    )


def test_layout_reader_survives_upsert_and_divergent_rebuild(
    spark, sf_dir
):
    """The r17 commit's whole point (VERDICT r16 #1 'done' criterion): a
    LOCKLESS reader that resolved the current version before a
    concurrent upsert keeps scanning intact files after the pointer
    flips — and after a DIVERGENT-HISTORY pristine rebuild (VERDICT r16
    #2), which previously rmtree'd the live slug under the reader.
    Mirrors the store-side test_store_base_swap_mid_scan_reader_survives
    (test_llm_ops.py)."""
    import os

    from pycaim_spark.operators.layout import resolve_layout_rel
    from pycaim_spark.queries.advanced import (
        _UPSERT_DEL,
        _UPSERT_INS,
        _UPSERT_UPD,
        _upsert_stream_inplace,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    slug = _reset_private_ns_layout(spark, sf_dir, "iprd")
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    b1 = ("b1", _UPSERT_UPD, _UPSERT_DEL, _UPSERT_INS)
    t1 = _upsert_stream_inplace(spark, sf_dir, [b1], suffix="rd")
    want1 = t1.count()

    # The "other session's" reader: a plain parquet scan pinned to the
    # version dir the pointer resolves to right now (a real lockless
    # reader resolves once and scans files without any lock).
    v_dir, _ = resolve_layout_rel(slug_dir, "orders_c")
    reader = spark.read.parquet(v_dir)

    # Concurrent upsert: batch 2 publishes the next version and
    # tombstones the reader's.
    b2 = ("b2", "1 = 0", "o_orderkey % 307 = 0 AND o_orderkey < 1000000000",
          None)
    t2 = _upsert_stream_inplace(spark, sf_dir, [b1, b2], suffix="rd")
    assert t2.count() < want1
    assert os.path.exists(os.path.join(v_dir, "_superseded.json"))
    # The reader's files are intact through the grace window: the scan
    # completes and sees the OLD (pre-b2) row count.
    assert reader.count() == want1

    # Divergent history: a different batch list rebuilds pristine into a
    # fresh version. The reader's dir (now two generations back) and the
    # slug itself must still exist — tombstoned, never rmtree'd.
    v2_dir, _ = resolve_layout_rel(slug_dir, "orders_c")
    reader2 = spark.read.parquet(v2_dir)
    want2 = t2.count()
    bx = ("bx", "1 = 0", "o_orderkey % 5003 = 0", None)
    t3 = _upsert_stream_inplace(spark, sf_dir, [bx], suffix="rd")
    assert t3.count() > 0
    assert os.path.isdir(slug_dir), "divergence must not rmtree the slug"
    assert os.path.exists(os.path.join(v2_dir, "_superseded.json"))
    assert reader2.count() == want2
    assert reader.count() == want1


def test_bucket_map_drift_guard(spark, sf_dir, tmp_path):
    """`assert_bucket_map` (VERDICT r16 #6): a bucketed dir containing a
    parquet data file that does NOT match the bucket-id filename pattern
    (Spark part-file naming drift) must abort the merge loudly instead
    of quietly merging against an incomplete bucket map."""
    import os

    import pytest

    from pycaim_spark.operators.merge import (
        assert_bucket_map,
        bucket_files,
        plan_bucket_local_merge,
    )

    full = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_drift")
    name = "tpch_drift_guard_base"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        full.repartition(4, F.col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", path)
        .saveAsTable(name)
    )
    assert_bucket_map(path, bucket_files(path))  # healthy layout passes

    victim = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )[0]
    doctored = victim.replace("_0000", "-renamed-0000")
    os.rename(os.path.join(path, victim), os.path.join(path, doctored))
    with pytest.raises(AssertionError, match="naming"):
        plan_bucket_local_merge(
            spark,
            path=path,
            schema=full.schema,
            key="o_orderkey",
            buckets=4,
            deletes=spark.createDataFrame([(1,)], "o_orderkey long"),
            stage_path=str(tmp_path / "drift_stage"),
            stage_table="tpch_drift_guard_stage",
        )
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_upsert_schema_evolution_arm(spark, sf_dir):
    """The schema-evolution MERGE (VERDICT r16 #3) beyond the DuckDB
    gate: the evolved column exists on the attached table; UNTOUCHED
    buckets still hold old-schema files on disk (a pre-evolution reader
    of those files keeps working, no rewrite happened); touched buckets'
    staged files carry the new column; the evolved DDL survives a fresh
    re-attach (it travels in the snapshot pointer, not the session)."""
    import hashlib
    import os

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.operators.merge import bucket_files
    from pycaim_spark.queries import advanced as _adv
    from pycaim_spark.queries.advanced import _layout_fingerprint
    from pycaim_spark.queries.relational import _SCRATCH

    res = REGISTRY["layout_upsert_schema_evolve"].fn(spark, sf_dir)
    rows = res.collect()
    groups = {r.o_channel for r in rows}
    assert None in groups, "resident rows must null-fill the new column"
    assert len(groups) > 1, "evolved rows must carry non-null channels"

    src = os.path.join(sf_dir, "orders.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:32:incr:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    ptr = load_layout_pointer(slug_dir, "orders_uev")
    assert "o_channel" in ptr["ddl"], "evolved DDL must be committed"
    touched = set(ptr["touched"])
    vdir, _ = resolve_layout_rel(slug_dir, "orders_uev")
    files = bucket_files(vdir)
    untouched_b = sorted(set(files) - touched)
    assert untouched_b and touched

    # Pre-evolution reader: an untouched bucket's file is byte-identical
    # old-schema parquet — readable standalone WITHOUT the new column.
    old_file = files[untouched_b[0]][0]
    old_df = spark.read.parquet(old_file)
    assert "o_channel" not in old_df.columns
    assert old_df.count() > 0
    # Touched buckets' staged files DO carry the column.
    new_file = files[sorted(touched)[0]][0]
    assert "o_channel" in spark.read.parquet(new_file).columns

    # The evolved table null-fills old files per its schema, and the
    # non-null count equals updates + inserts.
    uname = f"tpch_iuev_orders_{slug}"
    tbl = spark.table(uname)
    assert "o_channel" in tbl.columns
    full = load_table(spark, sf_dir, "orders")
    n_upd = full.filter(
        "o_orderkey % 83 = 0 AND o_orderkey % 503 <> 0"
    ).count()
    n_ins = full.filter("o_orderkey % 113 = 0").count()
    assert (
        tbl.filter(F.col("o_channel").isNotNull()).count()
        == n_upd + n_ins
    )

    # Fresh re-attach (simulated new session): the DDL comes from the
    # pointer, so the column survives.
    _adv._ATTACHED.pop(uname, None)
    spark.sql(f"DROP TABLE IF EXISTS {uname}")
    res2 = REGISTRY["layout_upsert_schema_evolve"].fn(spark, sf_dir)
    assert "o_channel" in spark.table(uname).columns
    assert sorted(
        (r.o_channel, r.n_orders) for r in res2.collect()
        if r.o_channel is not None
    ) == sorted(
        (r.o_channel, r.n_orders) for r in rows if r.o_channel is not None
    )


def test_stream_cdc_sink_redelivery_and_twin(spark, sf_dir):
    """The foreachBatch CDC sink (VERDICT r16 #4): (a) redelivering an
    already-applied micro-batch is a NO-OP (the applied manifest, not
    the checkpoint, is the batch guard — model a lost checkpoint by
    wiping it and re-running the stream: every file redelivers, nothing
    double-applies, the pointer version is unchanged); (b) twin
    equality: the streaming sink's final table is row-identical to the
    batch-loop stream (`_upsert_stream_inplace`) on the same batches."""
    import hashlib
    import os
    import shutil

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.queries import advanced as _adv
    from pycaim_spark.queries.advanced import (
        _UPSERT_B2_DEL,
        _UPSERT_DEL,
        _UPSERT_INS,
        _UPSERT_UPD,
        _layout_fingerprint,
        _stream_cdc_feed_and_sink,
        _upsert_stream_inplace,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    ou = _stream_cdc_feed_and_sink(spark, sf_dir)
    got = _bits(
        ou.select("o_orderkey", "o_totalprice", "o_orderdate").collect()
    )
    src = os.path.join(sf_dir, "orders.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:32:ipcd:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    ptr = load_layout_pointer(slug_dir, "orders_c")
    assert [a["key"] for a in ptr["applied"]] == ["cdc-b1", "cdc-b2"]
    v_before = ptr["version"]
    dir_before = resolve_layout_rel(slug_dir, "orders_c")[0]

    # (a) lost checkpoint → full redelivery → manifest no-op. (A missing
    # checkpoint forces the stream pass — the warm path cannot claim the
    # cursor state from the pointer alone.)
    assert os.path.isdir(os.path.join(slug_dir, "cdc_ckpt"))
    shutil.rmtree(os.path.join(slug_dir, "cdc_ckpt"))
    _adv._ATTACHED.pop(f"tpch_ic_orders_{slug}", None)
    ou2 = _stream_cdc_feed_and_sink(spark, sf_dir)
    assert os.path.isdir(
        os.path.join(slug_dir, "cdc_ckpt")
    ), "the redelivery pass must re-create the checkpoint"
    ptr2 = load_layout_pointer(slug_dir, "orders_c")
    assert ptr2["version"] == v_before, "redelivery must not re-publish"
    assert resolve_layout_rel(slug_dir, "orders_c")[0] == dir_before
    assert _bits(
        ou2.select("o_orderkey", "o_totalprice", "o_orderdate").collect()
    ) == got

    # (b) twin equality vs the batch-loop stream on the same batches.
    twin = _upsert_stream_inplace(
        spark, sf_dir,
        batches=[
            ("b1", _UPSERT_UPD, _UPSERT_DEL, _UPSERT_INS),
            ("b2", "1 = 0", _UPSERT_B2_DEL, None),
        ],
    )
    assert got == _bits(
        twin.select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        ).collect()
    )


def test_upsert_refuses_mid_rebucket_base(spark, sf_dir):
    """A rel MID-RE-BUCKET mixes two bucket schemes; merging a CDC batch
    at the old count against it would read only half of a split parent's
    key range. The staleness guard must treat a pointer carrying a
    ``rebucket`` record as not-a-valid-merge-base and rebuild pristine
    (tombstoned, grace-kept) before applying the batch."""
    import hashlib
    import os

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
        rewrite_layout_pointer,
    )
    from pycaim_spark.queries.advanced import (
        _layout_fingerprint,
        _upserted_orderkey_layout,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    slug = _reset_private_ns_layout(spark, sf_dir, "iprb")
    full = load_table(spark, sf_dir, "orders")
    n_del = full.filter("o_orderkey % 401 = 0").count()
    _, ou = _upserted_orderkey_layout(
        spark, sf_dir, suffix="rb", inplace=True, with_lineitem=False,
        upd_pred="1 = 0", del_pred="o_orderkey % 401 = 0", ins_pred=None,
    )
    assert ou.count() == full.count() - n_del
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    mutated_dir, _ = resolve_layout_rel(slug_dir, "orders_c")

    # Fabricate a mid-migration state: batch cleared, rebucket pending.
    ptr = load_layout_pointer(slug_dir, "orders_c")
    ptr["batch"] = None
    ptr["rebucket"] = {"from": 32, "to": 64, "done": [0, 1]}
    rewrite_layout_pointer(slug_dir, "orders_c", ptr)

    _, ou2 = _upserted_orderkey_layout(
        spark, sf_dir, suffix="rb", inplace=True, with_lineitem=False,
        upd_pred="1 = 0", del_pred="o_orderkey % 401 = 0", ins_pred=None,
    )
    # Rebuilt pristine THEN re-applied the batch — same correct result,
    # not a merge on top of the fabricated mixed state; the displaced
    # version is tombstoned with files intact.
    assert ou2.count() == full.count() - n_del
    ptr2 = load_layout_pointer(slug_dir, "orders_c")
    assert not ptr2.get("rebucket")
    assert ptr2["version"] > ptr["version"]
    assert os.path.exists(os.path.join(mutated_dir, "_superseded.json"))


def test_layout_bucket_split_locality_and_plan(spark, sf_dir):
    """The incremental re-bucket (VERDICT r16 #5) beyond the DuckDB
    gates: (a) HALF-SPLIT locality — splitting parents 0..3 touches
    ONLY their files: unsplit parents 4..7 remain single hard links of
    the pristine base's files, children land only in the predicted id
    set {0..3, 8..11}, and the migration progress is committed in the
    pointer's rebucket record; (b) COMPLETE — one file per 16-bucket,
    and the re-attached CLUSTERED-BY-16 table aggregates on the bucket
    key with NO Exchange (bucket trust resumed at the finer count)."""
    import hashlib
    import os

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.operators.merge import bucket_files
    from pycaim_spark.queries.advanced import (
        _SPLIT_FROM,
        _layout_fingerprint,
        _split_orderkey_layout,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    full = load_table(spark, sf_dir, "orders")
    n_full = full.count()
    src = os.path.join(sf_dir, "orders.parquet")

    def slug_of(ns):
        return hashlib.md5(
            f"{os.path.abspath(sf_dir)}:{_SPLIT_FROM}:{ns}:"
            f"{_layout_fingerprint(src)}".encode()
        ).hexdigest()[:8]

    # Reset both namespaces: this test compares the migrated state
    # against the PRISTINE base dir, which on a long-lived scratch is a
    # displaced version that grace GC legitimately collects (it aged out
    # between runs) — a fresh rebuild makes every file-identity assert
    # well-defined.
    _reset_private_ns_layout(spark, sf_dir, "ipsph", buckets=_SPLIT_FROM)
    _reset_private_ns_layout(spark, sf_dir, "ipspf", buckets=_SPLIT_FROM)

    # (a) half split.
    ou = _split_orderkey_layout(spark, sf_dir, full_split=False,
                                suffix="sph")
    assert ou.count() == n_full, "a split is a pure physical rewrite"
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug_of("ipsph"))
    ptr = load_layout_pointer(slug_dir, "orders_c")
    half = list(range(_SPLIT_FROM // 2))
    assert ptr["rebucket"] == {
        "from": _SPLIT_FROM, "to": 2 * _SPLIT_FROM, "done": half,
    }
    vdir, _ = resolve_layout_rel(slug_dir, "orders_c")
    files = bucket_files(vdir)
    base_files = bucket_files(os.path.join(slug_dir, "orders_c"))
    for p in half:
        # split parents: their original file is gone from the live
        # version; children carry ids p and p + n_from (fresh staged
        # names, not the parent's).
        assert files.get(p)
        assert {os.path.basename(f) for f in files[p]} != {
            os.path.basename(f) for f in base_files[p]
        }
        assert files.get(p + _SPLIT_FROM)
    for p in range(_SPLIT_FROM // 2, _SPLIT_FROM):
        # unsplit parents: exactly the base's file, hard-linked.
        [f] = files[p]
        [bf] = base_files[p]
        assert os.path.basename(f) == os.path.basename(bf)
        assert os.path.samefile(f, bf)
        assert not files.get(p + _SPLIT_FROM)

    # (b) complete split in its own namespace (two passes chained).
    ou2 = _split_orderkey_layout(spark, sf_dir, full_split=True,
                                 suffix="spf")
    assert ou2.count() == n_full
    slug2_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug_of("ipspf"))
    ptr2 = load_layout_pointer(slug2_dir, "orders_c")
    assert ptr2["rebucket"]["done"] == list(range(_SPLIT_FROM))
    vdir2, _ = resolve_layout_rel(slug2_dir, "orders_c")
    files2 = bucket_files(vdir2)
    assert sorted(files2) == list(range(2 * _SPLIT_FROM))
    assert all(len(fs) == 1 for fs in files2.values())
    # Bucket trust at 16: the groupBy-on-bucket-key plan has no
    # Exchange below the aggregate.
    slug2 = slug_of("ipspf")
    agg = spark.table(f"tpch_rb_orders_{slug2}").groupBy(
        "o_orderkey"
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = _plan_simple(agg)
    assert "Exchange" not in plan, plan
    # Idempotent re-derive: same states served warm.
    assert _split_orderkey_layout(
        spark, sf_dir, full_split=True, suffix="spf"
    ).count() == n_full


def test_layout_time_travel_retention_and_unpin(spark, sf_dir):
    """Snapshot retention (r17 time travel): a RETAINED displaced
    version survives a zero-grace GC pass (the pin in the pointer's
    ``retained`` list overrides its tombstone) while an unpinned
    tombstoned dir is collected; UNPINNING it makes the same GC collect
    it, resolve raises a clear FileNotFoundError, and the time-travel
    query SELF-HEALS by replaying the stream pristine and re-pinning."""
    import hashlib
    import os

    from pycaim_spark.operators.layout import (
        gc_layout_versions,
        load_layout_pointer,
        resolve_layout_rel_version,
        rewrite_layout_pointer,
        tombstone_layout_dir,
    )
    from pycaim_spark.queries.advanced import _layout_fingerprint
    from pycaim_spark.queries.relational import _SCRATCH

    rows1 = sorted(
        map(tuple, REGISTRY["layout_time_travel"].fn(spark, sf_dir)
            .collect())
    )
    assert rows1
    src = os.path.join(sf_dir, "orders.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:32:iptt:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    ptr = load_layout_pointer(slug_dir, "orders_c")
    [v_b1] = [a["version"] for a in ptr["applied"] if a["key"] == "b1"]
    assert v_b1 in ptr["retained"]
    pinned = resolve_layout_rel_version(slug_dir, "orders_c", v_b1)
    assert os.path.exists(os.path.join(pinned, "_superseded.json")), \
        "the displaced snapshot is tombstoned AND pinned"

    # Zero-grace GC: the pinned snapshot survives; an unpinned
    # tombstoned version below the pointer is collected.
    assert 0 < ptr["version"] and 0 not in ptr["retained"]
    junk = os.path.join(slug_dir, "orders_c_v0")
    os.makedirs(junk, exist_ok=True)
    tombstone_layout_dir(junk)
    old_grace = os.environ.get("PYCAIM_LAYOUT_GC_GRACE")
    os.environ["PYCAIM_LAYOUT_GC_GRACE"] = "0"
    try:
        gc_layout_versions(slug_dir)
        assert os.path.isdir(pinned), "pinned snapshot must survive GC"
        assert not os.path.exists(junk)

        # Unpin -> the same GC collects it; resolve raises clearly.
        ptr = load_layout_pointer(slug_dir, "orders_c")
        ptr["retained"] = [v for v in ptr["retained"] if v != v_b1]
        rewrite_layout_pointer(slug_dir, "orders_c", ptr)
        gc_layout_versions(slug_dir)
        assert not os.path.isdir(pinned)
        import pytest

        with pytest.raises(FileNotFoundError, match="retained"):
            resolve_layout_rel_version(slug_dir, "orders_c", v_b1)
    finally:
        if old_grace is None:
            os.environ.pop("PYCAIM_LAYOUT_GC_GRACE", None)
        else:
            os.environ["PYCAIM_LAYOUT_GC_GRACE"] = old_grace

    # Self-heal: the query replays the stream pristine, re-pins, and
    # returns the identical as-of-b1 result.
    rows2 = sorted(
        map(tuple, REGISTRY["layout_time_travel"].fn(spark, sf_dir)
            .collect())
    )
    assert rows2 == rows1
    ptr = load_layout_pointer(slug_dir, "orders_c")
    [v_b1b] = [a["version"] for a in ptr["applied"] if a["key"] == "b1"]
    assert v_b1b in ptr["retained"]
    assert os.path.isdir(
        resolve_layout_rel_version(slug_dir, "orders_c", v_b1b)
    )

    # Pins survive OTHER motions on the same rel: a single-batch CDC
    # upsert on top of the streamed state must carry the retained list
    # forward in its own pointer (r17: every publish propagates pins).
    from pycaim_spark.queries.advanced import _upserted_orderkey_layout

    _upserted_orderkey_layout(
        spark, sf_dir, suffix="tt", inplace=True, with_lineitem=False,
        upd_pred="1 = 0", del_pred="o_orderkey % 601 = 0",
        ins_pred=None,
    )
    ptr = load_layout_pointer(slug_dir, "orders_c")
    assert v_b1b in (ptr.get("retained") or ()), \
        "a CDC publish must not unpin retained snapshots"
    assert os.path.isdir(
        resolve_layout_rel_version(slug_dir, "orders_c", v_b1b)
    )
    # Leave the namespace consistent for the registered query's next
    # run: the upsert committed a batch spec, which layout_time_travel's
    # stream treats as divergence and self-heals by replaying pristine.


def test_split_then_upsert_composed_state(spark, sf_dir):
    """The composed migrate-then-CDC lifecycle (layout_split_then_upsert)
    beyond its DuckDB gate: the post-merge pointer carries BOTH the
    batch spec and the completed rebucket record; the merge ran at the
    FINER count (touched buckets predicted mod 16, untouched 16-buckets
    carried as hard links of the post-split version); and the attached
    table keeps Exchange-free bucket trust at 16 across the CDC batch."""
    import hashlib
    import os

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.operators.merge import bucket_files
    from pycaim_spark.queries.advanced import (
        _SPLIT_FROM,
        _layout_fingerprint,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    slug = _reset_private_ns_layout(
        spark, sf_dir, "ipspu", buckets=_SPLIT_FROM
    )
    rows1 = sorted(
        map(tuple,
            REGISTRY["layout_split_then_upsert"].fn(spark, sf_dir)
            .collect())
    )
    assert rows1
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    ptr = load_layout_pointer(slug_dir, "orders_c")
    n_to = 2 * _SPLIT_FROM
    assert ptr["batch"] is not None, "CDC batch committed"
    assert ptr["rebucket"]["to"] == n_to and sorted(
        ptr["rebucket"]["done"]
    ) == list(range(_SPLIT_FROM)), "migration record carried forward"
    touched = set(ptr["touched"])
    assert touched and max(touched) >= _SPLIT_FROM, \
        "touched buckets predicted at the finer count"

    vdir, _ = resolve_layout_rel(slug_dir, "orders_c")
    files = bucket_files(vdir)
    assert sorted(files) == list(range(n_to))
    for b, fs in files.items():
        assert len(fs) == 1, (b, fs)
        nlink = os.stat(fs[0]).st_nlink
        if b in touched:
            assert nlink == 1, f"touched bucket {b} must be staged fresh"
        else:
            assert nlink > 1, \
                f"untouched bucket {b} must be a zero-copy link"

    # Bucket trust survives the CDC batch: agg on the key, no Exchange.
    agg = spark.table(f"tpch_ic_orders_{slug}").groupBy(
        "o_orderkey"
    ).agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" not in _plan_simple(agg)

    # Warm idempotence.
    rows2 = sorted(
        map(tuple,
            REGISTRY["layout_split_then_upsert"].fn(spark, sf_dir)
            .collect())
    )
    assert rows2 == rows1


def test_gc_orphan_stage_sweep_and_pointed_tombstone_resurrect(
    spark, sf_dir, tmp_path
):
    """Two gc_layout_versions refinements (r17): (a) orphaned stage /
    feed-tmp dirs (a crashed motion's scratch — unpublished by
    construction) are swept at the next locked pass; (b) a tombstoned
    version dir that the rel's pointer still REFERENCES is cleanup-crash
    debris — gc resurrects it (removes the tombstone) instead of
    collecting the live state, even at zero grace."""
    import json
    import os

    from pycaim_spark.operators.layout import (
        gc_layout_versions,
        load_layout_pointer,
        resolve_layout_rel,
        tombstone_layout_dir,
    )

    slug_dir = str(tmp_path / "slug")
    vdir = os.path.join(slug_dir, "orders_c_v1")
    os.makedirs(vdir)
    with open(os.path.join(vdir, "_SUCCESS"), "w"):
        pass
    with open(os.path.join(slug_dir, "orders_c_current.json"), "w") as f:
        json.dump({"version": 1, "dir": "orders_c_v1"}, f)

    for orphan in ("orders_ux_stage", "orders_c_rebuild_stage",
                   "cdc_feed_tmp_0"):
        os.makedirs(os.path.join(slug_dir, orphan))
    # (b) fabricate the interrupted-cleanup state: live dir tombstoned,
    # pointer still referencing it.
    tombstone_layout_dir(vdir)

    old = os.environ.get("PYCAIM_LAYOUT_GC_GRACE")
    os.environ["PYCAIM_LAYOUT_GC_GRACE"] = "0"
    try:
        gc_layout_versions(slug_dir)
    finally:
        if old is None:
            os.environ.pop("PYCAIM_LAYOUT_GC_GRACE", None)
        else:
            os.environ["PYCAIM_LAYOUT_GC_GRACE"] = old

    for orphan in ("orders_ux_stage", "orders_c_rebuild_stage",
                   "cdc_feed_tmp_0"):
        assert not os.path.exists(os.path.join(slug_dir, orphan)), orphan
    assert os.path.isdir(vdir), "pointed-at dir must survive"
    assert not os.path.exists(
        os.path.join(vdir, "_superseded.json")
    ), "the debris tombstone must be removed (resurrection)"
    assert resolve_layout_rel(slug_dir, "orders_c")[0] == vdir
    assert load_layout_pointer(slug_dir, "orders_c")["version"] == 1


def test_layout_rebucket_roundtrip_state(spark, sf_dir):
    """The re-bucket ROUND TRIP (split 8->16 then coalesce 16->8) beyond
    its DuckDB gate: the final pointer records the completed coalesce,
    the directory holds exactly one sorted file per ORIGINAL bucket, the
    files are freshly staged (a coalesce rewrites every output), row
    count is unchanged, and CLUSTERED-BY-8 trust is re-attached
    (Exchange-free aggregate on the key). Mid-coalesce output locality
    is asserted inside the motion itself (stray-output abort)."""
    import hashlib
    import os

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.operators.merge import bucket_files
    from pycaim_spark.queries.advanced import (
        _SPLIT_FROM,
        _layout_fingerprint,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    slug = _reset_private_ns_layout(
        spark, sf_dir, "ipco", buckets=_SPLIT_FROM
    )
    df = REGISTRY["tpch_q3_layout_rebucket_roundtrip"].fn(spark, sf_dir)
    assert df.count() > 0
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    ptr = load_layout_pointer(slug_dir, "orders_c")
    assert ptr["rebucket"] == {
        "from": 2 * _SPLIT_FROM, "to": _SPLIT_FROM,
        "done": list(range(_SPLIT_FROM)),
    }
    vdir, _ = resolve_layout_rel(slug_dir, "orders_c")
    files = bucket_files(vdir)
    assert sorted(files) == list(range(_SPLIT_FROM))
    assert all(len(fs) == 1 for fs in files.values())
    full = load_table(spark, sf_dir, "orders")
    assert spark.read.parquet(vdir).count() == full.count(), \
        "the round trip is a pure physical no-op"
    agg = spark.table(f"tpch_rb_orders_{slug}").groupBy(
        "o_orderkey"
    ).agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" not in _plan_simple(agg)
    # Warm idempotence: the committed round-trip state serves directly.
    assert REGISTRY["tpch_q3_layout_rebucket_roundtrip"].fn(
        spark, sf_dir
    ).count() == df.count()


def test_upsert_schema_evolution_inplace_arm(spark, sf_dir):
    """Schema evolution on the IN-PLACE arm (the registered gate covers
    the cloned arm; the mechanics are shared but the attach path
    differs): the evolved DDL commits into the orders_c pointer of the
    private namespace, and a FRESH session's builder re-attach
    (`_incremental_orderkey_layout`'s compacted branch, which reads the
    pointer's DDL) keeps the evolved column and its values."""
    import hashlib
    import os

    from pycaim_spark.queries import advanced as _adv
    from pycaim_spark.queries.advanced import (
        _UPSERT_EV_COL,
        _incremental_orderkey_layout,
        _layout_fingerprint,
        _upserted_orderkey_layout,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    slug = _reset_private_ns_layout(spark, sf_dir, "ipevt")
    full = load_table(spark, sf_dir, "orders")
    n_upd = full.filter(
        "o_orderkey % 83 = 0 AND o_orderkey % 503 <> 0"
    ).count()
    n_ins = full.filter("o_orderkey % 113 = 0").count()
    _, ou = _upserted_orderkey_layout(
        spark, sf_dir, suffix="evt", inplace=True, with_lineitem=False,
        add_col=_UPSERT_EV_COL,
    )
    assert "o_channel" in ou.columns
    assert (
        ou.filter("o_channel IS NOT NULL").count() == n_upd + n_ins
    )

    # Fresh "session": builder re-attach must carry the evolved DDL
    # from the pointer (pre-r17 it would have rebuilt from full.schema).
    _adv._ATTACHED.pop(f"tpch_ic_orders_{slug}", None)
    spark.sql(f"DROP TABLE IF EXISTS tpch_ic_orders_{slug}")
    _, oc = _incremental_orderkey_layout(
        spark, sf_dir, compacted=True, ns="ipevt", tables=("orders",)
    )
    assert "o_channel" in oc.columns
    assert (
        oc.filter("o_channel IS NOT NULL").count() == n_upd + n_ins
    )


def test_gc_crash_window_tombstones_displaced_deletes_partial(tmp_path):
    """ADVICE r17 #1: the unpointed sweep classifies by VERSION NUMBER.
    A crash between pointer flip and tombstone leaves the formerly-live
    dir unpointed+untombstoned BELOW the pointer — GC must tombstone it
    into the grace window (a lockless reader that resolved it while it
    was current may still be scanning), while an unpointed dir ABOVE
    the pointer (a crashed partial publish, never pointer-visible) is
    deleted immediately. Retention pins must survive the tombstoning:
    once the displaced dir is tombstoned, a pinned version stays on
    disk past zero grace until unpinned."""
    import json
    import os

    from pycaim_spark.operators.layout import gc_layout_versions

    slug_dir = str(tmp_path / "slug")
    for v in (1, 2, 3):
        d = os.path.join(slug_dir, f"orders_c_v{v}")
        os.makedirs(d)
        with open(os.path.join(d, "_SUCCESS"), "w"):
            pass
    with open(os.path.join(slug_dir, "orders_c_current.json"), "w") as f:
        json.dump({"version": 2, "dir": "orders_c_v2",
                   "retained": [1]}, f)

    old = os.environ.get("PYCAIM_LAYOUT_GC_GRACE")
    os.environ["PYCAIM_LAYOUT_GC_GRACE"] = "0"
    try:
        gc_layout_versions(slug_dir)
        v1 = os.path.join(slug_dir, "orders_c_v1")
        v2 = os.path.join(slug_dir, "orders_c_v2")
        v3 = os.path.join(slug_dir, "orders_c_v3")
        assert not os.path.exists(v3), \
            "above-pointer dir is a crashed partial publish: deleted"
        assert os.path.isdir(v2), "pointed (live) dir untouched"
        assert os.path.isdir(v1), \
            "below-pointer displaced dir must survive the sweep"
        assert os.path.exists(os.path.join(v1, "_superseded.json")), \
            "displaced dir enters the grace window via a tombstone"
        # Second pass at zero grace: the pin (retained=[1]) must hold.
        gc_layout_versions(slug_dir)
        assert os.path.isdir(v1), "retention pin overrides expiry"
        # Unpin: now the tombstone collects at zero grace.
        with open(
            os.path.join(slug_dir, "orders_c_current.json"), "w"
        ) as f:
            json.dump({"version": 2, "dir": "orders_c_v2"}, f)
        gc_layout_versions(slug_dir)
        assert not os.path.exists(v1), "unpinned tombstone collects"
    finally:
        if old is None:
            os.environ.pop("PYCAIM_LAYOUT_GC_GRACE", None)
        else:
            os.environ["PYCAIM_LAYOUT_GC_GRACE"] = old


def test_cdc_sink_multi_file_micro_batch_grouping(spark, sf_dir, tmp_path):
    """ADVICE r17 #2: a micro-batch carrying TWO feed files must apply
    as two sequential merges in spec order, not one merged pass. The
    discriminating key is updated by batch 1 and deleted by batch 2: a
    single-pass merge applies upserts AFTER deletes, so the key would
    survive; sequential application deletes it. Also asserts the
    manifest gains one ordered entry per batch and that redelivering
    the same micro-batch is a no-op."""
    import os

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.queries.advanced import _cdc_sink_apply_micro_batch

    full = load_table(spark, sf_dir, "orders")
    slug_dir = str(tmp_path / "slug")
    rel_path = os.path.join(slug_dir, "orders_c")
    name = "tpch_sink_group_base"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        full.repartition(8, F.col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", rel_path)
        .saveAsTable(name)
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    specs = [["b1", "u1", "d1", "i1"], ["b2", "u2", "d2", None]]
    k7 = full.filter("o_orderkey = 7")
    b1 = (
        k7.withColumn("o_totalprice", F.lit(1111.11))
        .withColumn("op", F.lit("U"))
        .unionByName(
            full.filter("o_orderkey = 11").withColumn("op", F.lit("D"))
        )
        .unionByName(
            k7.withColumn(
                "o_orderkey", F.lit(10_000_000).cast("long")
            ).withColumn("op", F.lit("I"))
        )
        .withColumn("batch_key", F.lit("b1"))
    )
    b2 = (
        full.filter("o_orderkey = 13")
        .withColumn("o_totalprice", F.lit(2222.22))
        .withColumn("op", F.lit("U"))
        .unionByName(k7.withColumn("op", F.lit("D")))
        .withColumn("batch_key", F.lit("b2"))
    )
    # b2 first in the union: grouping must order by SPEC, not arrival.
    bdf = b2.unionByName(b1)

    kw = dict(
        slug_dir=slug_dir, rel="orders_c",
        specs=specs, stage=os.path.join(slug_dir, "stage"),
        sname="tpch_sink_group_stage", buckets=8, key="o_orderkey",
        columns=full.columns, schema=full.schema,
        base_ddl="ignored-ddl",
    )
    _cdc_sink_apply_micro_batch(spark, bdf, **kw)

    ptr = load_layout_pointer(slug_dir, "orders_c")
    assert [a["key"] for a in ptr["applied"]] == ["b1", "b2"]
    assert [a["batch"] for a in ptr["applied"]] == specs
    cur_dir, _ = resolve_layout_rel(slug_dir, "orders_c")
    # r18: every production publish folds per-file stats into the
    # pointer manifest; the insert's offset key is visible in some
    # file's committed o_orderkey max.
    import glob

    names = {
        os.path.basename(f)
        for f in glob.glob(os.path.join(cur_dir, "*.parquet"))
        if not os.path.basename(f).startswith(".")
    }
    assert set(ptr["files"]) == names
    assert set(ptr["stats_cols"]) == {"o_orderkey", "o_orderdate"}
    assert max(
        s["o_orderkey"][1] for s in ptr["files"].values()
    ) >= 10_000_000
    got = spark.read.parquet(cur_dir)
    assert got.filter("o_orderkey = 7").count() == 0, \
        "update-then-delete across the two batches must delete the key"
    assert got.filter("o_orderkey = 11").count() == 0
    assert got.filter("o_orderkey = 10000000").count() == 1
    assert (
        got.filter("o_orderkey = 13").collect()[0].o_totalprice
        == 2222.22
    )
    assert got.count() == full.count() - 2 + 1
    # Redelivery of the SAME coalesced micro-batch: manifest guard
    # no-ops both keys; version unchanged.
    _cdc_sink_apply_micro_batch(spark, bdf, **kw)
    assert load_layout_pointer(slug_dir, "orders_c")["version"] \
        == ptr["version"]


def test_time_travel_heal_runs_under_flock_and_rechecks(tmp_path):
    """VERDICT r17 #2: the time-travel self-heal's pointer rewrite runs
    UNDER the layout flock with a re-check after acquiring. While a
    concurrent writer holds the flock, the heal must block; if that
    writer restores the missing snapshot before releasing, the heal
    must return the healed resolution WITHOUT touching the pointer —
    the lost-update interleaving (stale load overwriting a concurrent
    publish) is structurally impossible once the read-modify-write is
    inside the lock."""
    import json
    import os
    import threading
    import time

    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        slug_write_lock,
    )
    from pycaim_spark.queries.advanced import _heal_or_invalidate

    root = str(tmp_path)
    slug_dir = os.path.join(root, "slug")
    os.makedirs(slug_dir)
    committed = {"version": 2, "dir": "orders_c_v2", "batch": None,
                 "applied": [{"key": "b1", "version": 1}]}
    with open(os.path.join(slug_dir, "orders_c_current.json"), "w") as f:
        json.dump(committed, f)

    healed_dir = os.path.join(slug_dir, "orders_c_v1")

    def resolve():
        if not os.path.isdir(healed_dir):
            raise FileNotFoundError(healed_dir)
        return healed_dir

    def writer():
        with slug_write_lock(slug_dir):
            time.sleep(0.4)  # the heal must be blocked on the lock now
            os.makedirs(healed_dir)  # concurrent writer heals the rel

    t = threading.Thread(target=writer)
    t.start()
    time.sleep(0.1)  # let the writer take the lock first
    got = _heal_or_invalidate(slug_dir, "orders_c", resolve)
    t.join()
    assert got == healed_dir, "re-check under the lock sees the heal"
    assert load_layout_pointer(slug_dir, "orders_c") == committed, \
        "a healed rel's pointer is not rewritten (no lost update)"

    # And the invalidation path itself: no concurrent heal -> pointer
    # marked for replay, under the same lock.
    import shutil

    shutil.rmtree(healed_dir)
    got = _heal_or_invalidate(slug_dir, "orders_c", resolve)
    assert got is None
    assert load_layout_pointer(slug_dir, "orders_c")["batch"] \
        == ["retained-snapshot-missing"]


def test_layout_file_skipping_prunes_scan(spark, sf_dir):
    """Manifest-based file skipping (r18) at the FILE level — the claim
    the DuckDB gate can't see: the pruning reader's kept set is a
    STRICT subset of the version's files, every file is covered by the
    committed manifest, and the skipped files genuinely contain no
    qualifying rows (re-scanned here with the predicate — the converse
    of the oracle's completeness check). Also pins O(query) manifest
    use: pruning resolves from the pointer alone, no footer reads."""
    import os

    from pycaim_spark.operators.layout import prune_layout_files
    from pycaim_spark.queries.advanced import (
        _SKIP_HI,
        _SKIP_LO,
        _date_clustered_orders_layout,
    )

    slug_dir, ddl = _date_clustered_orders_layout(spark, sf_dir)
    kept, skipped, ptr = prune_layout_files(
        slug_dir, "orders_d", "o_orderdate", lo=_SKIP_LO, hi=_SKIP_HI
    )
    assert skipped, "a one-year predicate must skip files"
    assert kept, "and keep some"
    assert set(ptr["stats_cols"]) == {"o_orderdate", "o_orderkey"}
    names = {os.path.basename(f) for f in kept + skipped}
    assert names == set(ptr["files"]), \
        "the committed manifest covers exactly the version's data files"
    assert all(
        set(s) == {"o_orderdate", "o_orderkey"}
        for s in ptr["files"].values()
    )

    pred = (
        (F.col("o_orderdate")
         >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate")
           < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    assert (
        spark.read.schema(ddl).parquet(*skipped).filter(pred).count()
        == 0
    ), "skipped files must contain no qualifying rows"
    full = load_table(spark, sf_dir, "orders").filter(pred)
    got = spark.read.schema(ddl).parquet(*kept).filter(pred)
    assert got.count() == full.count(), \
        "kept files must contain every qualifying row"

    # An unbounded probe keeps everything (conservative fallback), and
    # a column with no committed stats keeps everything too.
    k2, s2, _ = prune_layout_files(slug_dir, "orders_d", "o_orderdate")
    assert not s2 and set(k2) == set(kept) | set(skipped)
    k3, s3, _ = prune_layout_files(
        slug_dir, "orders_d", "o_totalprice", lo=0.0, hi=1.0
    )
    assert not s3, "no stats for the column -> keep every file"


def test_concurrent_different_slug_cdc_streams(spark, sf_dir):
    """Per-slug write locks (r18, VERDICT r17 #3): CDC streams to
    DIFFERENT tables serialize per slug, not on the layout root. Two
    claims: (a) while one slug's write lock is HELD, a full two-batch
    in-place stream on a DIFFERENT slug runs to completion (under the
    pre-r18 root flock this would block until release); (b) two
    streams driven concurrently from two threads both commit their
    full history and match the expected post-CDC content derived from
    the raw corpus."""
    import os
    import threading

    from pycaim_spark.operators.layout import slug_write_lock
    from pycaim_spark.queries.advanced import (
        _UPSERT_B2_DEL,
        _UPSERT_DEL,
        _UPSERT_INS,
        _UPSERT_INS_OFFSET,
        _UPSERT_UPD,
        _upsert_stream_inplace,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    batches = [
        ("b1", _UPSERT_UPD, _UPSERT_DEL, _UPSERT_INS),
        ("b2", "1 = 0", _UPSERT_B2_DEL, None),
    ]
    slugs = {
        sfx: _reset_private_ns_layout(spark, sf_dir, f"ip{sfx}")
        for sfx in ("cca", "ccb")
    }
    results, errors = {}, []

    def run(sfx):
        try:
            df = _upsert_stream_inplace(
                spark, sf_dir, batches=[tuple(b) for b in batches],
                suffix=sfx,
            )
            results[sfx] = sorted(
                (r.o_orderkey, r.o_orderdate) for r in df.collect()
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append((sfx, repr(e)))

    # (a) hold slug cca's lock; slug ccb's stream must not block on it.
    cca_dir = os.path.join(_SCRATCH, "bucketed_tpch", slugs["cca"])
    with slug_write_lock(cca_dir):
        t = threading.Thread(target=run, args=("ccb",))
        t.start()
        t.join(timeout=300)
        assert not t.is_alive(), \
            "a held slug lock must not gate a different slug's motion"
    assert not errors, errors

    # (b) both streams concurrently (cca cold, ccb warm re-serve).
    ts = [threading.Thread(target=run, args=(s,)) for s in ("cca", "ccb")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors

    full = load_table(spark, sf_dir, "orders")
    upd = full.filter(_UPSERT_UPD).withColumn(
        "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    )
    ins = full.filter(_UPSERT_INS).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(_UPSERT_INS_OFFSET)
    )
    keep = full.filter(
        f"NOT (({_UPSERT_UPD}) OR ({_UPSERT_DEL}))"
    )
    expect = sorted(
        (r.o_orderkey, r.o_orderdate)
        for r in keep.unionByName(upd).unionByName(ins)
        .filter(f"NOT ({_UPSERT_B2_DEL})").collect()
    )
    assert results["cca"] == expect
    assert results["ccb"] == expect


def test_layout_history_and_asof_ts(spark, sf_dir):
    """r18 snapshot log + timestamp time travel: every publish writes
    a {version, ts, kind, key} record atomically with its version dir;
    `layout_history` lists the readable (current + retained) versions
    in order, and `resolve_layout_rel_asof_ts` maps any timestamp to
    the same dir version-number time travel serves. Expired/older-
    than-retention timestamps raise — bounded explicit history."""
    import hashlib
    import os

    import pytest as _pytest

    from pycaim_spark.operators.layout import (
        layout_history,
        resolve_layout_rel_asof_ts,
        resolve_layout_rel_version,
    )
    from pycaim_spark.queries.advanced import _layout_fingerprint
    from pycaim_spark.queries.relational import _SCRATCH

    rows = sorted(
        (r.ordinal, r.kind, r.batch_key)
        for r in REGISTRY["layout_history"].fn(spark, sf_dir).collect()
    )
    assert rows == [(1, "cdc", "b1"), (2, "cdc", "b2")]

    src = os.path.join(sf_dir, "orders.parquet")
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:32:iphi:"
        f"{_layout_fingerprint(src)}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    hist = layout_history(slug_dir, "orders_c")
    assert [h["key"] for h in hist] == ["b1", "b2"]
    assert hist[0]["version"] < hist[1]["version"]
    assert hist[0]["ts"] <= hist[1]["ts"]
    for rec in hist:
        assert resolve_layout_rel_asof_ts(
            slug_dir, "orders_c", rec["ts"]
        ) == resolve_layout_rel_version(
            slug_dir, "orders_c", rec["version"]
        )
    # A timestamp between the two commits resolves to the first.
    if hist[0]["ts"] < hist[1]["ts"]:
        mid = (hist[0]["ts"] + hist[1]["ts"]) / 2
        assert resolve_layout_rel_asof_ts(
            slug_dir, "orders_c", mid
        ) == resolve_layout_rel_version(
            slug_dir, "orders_c", hist[0]["version"]
        )
    with _pytest.raises(FileNotFoundError):
        resolve_layout_rel_asof_ts(
            slug_dir, "orders_c", hist[0]["ts"] - 1e6
        )


def test_multirel_commit_atomic_reader(spark, sf_dir):
    """r18 slug-level multi-rel commit: (a) the committed pair reads
    consistently and matches the two-sided referential delete; (b) a
    MID-COMMIT reader — one rel's pointer already flipped to a new
    version, slug commit not yet rewritten — still resolves the OLD
    consistent pair, and (c) the commit-named displaced version is
    GC-pinned (tombstoned by the crash sweep but never collected while
    the current slug commit names it), even at zero grace."""
    import hashlib
    import os
    import shutil

    from pycaim_spark.operators.layout import (
        gc_layout_versions,
        load_slug_commit,
        publish_layout_version,
        resolve_layout_rel,
        resolve_slug_commit,
        slug_write_lock,
    )
    from pycaim_spark.queries.advanced import (
        _MULTIREL_DEL,
        _layout_fingerprint,
        _multirel_delete_commit,
    )
    from pycaim_spark.queries.relational import _SCRATCH

    fps = ":".join(
        _layout_fingerprint(os.path.join(sf_dir, f"{t}.parquet"))
        for t in ("orders", "lineitem")
    )
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:8:mrc:{fps}".encode()
    ).hexdigest()[:8]
    slug_dir = os.path.join(_SCRATCH, "bucketed_tpch", slug)
    shutil.rmtree(slug_dir, ignore_errors=True)

    dirs = _multirel_delete_commit(spark, sf_dir)
    o_full = load_table(spark, sf_dir, "orders")
    li_full = load_table(spark, sf_dir, "lineitem")
    got_o = spark.read.parquet(dirs["orders_c"])
    got_l = spark.read.parquet(dirs["lineitem_c"])
    assert got_o.count() == o_full.filter(
        f"o_orderkey % {_MULTIREL_DEL} <> 0"
    ).count()
    assert got_l.count() == li_full.filter(
        f"l_orderkey % {_MULTIREL_DEL} <> 0"
    ).count()
    rec1 = load_slug_commit(slug_dir)
    assert set(rec1["rels"]) == {"orders_c", "lineitem_c"}

    # (b) simulate a crashed two-rel motion: flip orders_c to a new
    # version WITHOUT rewriting the slug commit.
    cur_dir, ptr = resolve_layout_rel(slug_dir, "orders_c")
    with slug_write_lock(slug_dir):
        publish_layout_version(
            slug_dir, "orders_c", src_dir=cur_dir,
            skip_names=set(), staged_files=[],
            extra={"batch": ["crashed-motion"]},
        )
    dirs2 = resolve_slug_commit(slug_dir)
    assert dirs2 == dirs, \
        "mid-commit readers must see the OLD consistent pair"

    # (c) zero-grace GC: the displaced-but-commit-named version is
    # tombstoned by the crash sweep yet never collected.
    old = os.environ.get("PYCAIM_LAYOUT_GC_GRACE")
    os.environ["PYCAIM_LAYOUT_GC_GRACE"] = "0"
    try:
        with slug_write_lock(slug_dir):
            gc_layout_versions(slug_dir)
            gc_layout_versions(slug_dir)
    finally:
        if old is None:
            os.environ.pop("PYCAIM_LAYOUT_GC_GRACE", None)
        else:
            os.environ["PYCAIM_LAYOUT_GC_GRACE"] = old
    assert os.path.isdir(dirs["orders_c"]), \
        "a slug-commit-named version is pinned against collection"
    assert resolve_slug_commit(slug_dir) == dirs
    assert spark.read.parquet(dirs["orders_c"]).count() == got_o.count()


def test_layout_zorder_two_dimensional_skipping(spark, sf_dir):
    """r18 Z-ORDER: the Morton-sorted layout's manifest prunes files on
    BOTH clustering columns — a customer-range predicate and a date
    window each skip files, their rectangle intersects to at most the
    smaller set, and excluded files genuinely contain no rectangle
    rows. The discriminating claim vs single-column clustering: the
    DATE-clustered rel prunes NOTHING on a customer predicate (its
    files all span the full custkey range)."""
    import math
    import os

    from pycaim_spark.operators.layout import prune_layout_files
    from pycaim_spark.queries.advanced import (
        _ZO_DATE_HI,
        _ZO_DATE_LO,
        _date_clustered_orders_layout,
        _zorder_orders_layout,
    )

    slug_dir, ddl = _zorder_orders_layout(spark, sf_dir)
    full = load_table(spark, sf_dir, "orders")
    mm = full.agg(
        F.min("o_custkey").alias("cmin"), F.max("o_custkey").alias("cmax")
    ).first()
    cbound = int(mm.cmin) + int(
        math.floor((int(mm.cmax) - int(mm.cmin)) / 4.0)
    )
    kept_c, skip_c, ptr = prune_layout_files(
        slug_dir, "orders_z", "o_custkey", lo=None, hi=cbound
    )
    kept_d, skip_d, _ = prune_layout_files(
        slug_dir, "orders_z", "o_orderdate",
        lo=_ZO_DATE_LO.replace(" ", "T"),
        hi=_ZO_DATE_HI.replace(" ", "T"),
    )
    assert skip_c, "customer-quarter predicate must skip z-order files"
    assert skip_d, "date-window predicate must skip z-order files"
    kept = sorted(set(kept_c) & set(kept_d))
    assert kept and len(kept) <= min(len(kept_c), len(kept_d))

    pred = (
        (F.col("o_custkey") <= F.lit(cbound))
        & (F.col("o_orderdate")
           >= F.lit(_ZO_DATE_LO).cast("timestamp_ntz"))
        & (F.col("o_orderdate")
           < F.lit(_ZO_DATE_HI).cast("timestamp_ntz"))
    )
    excluded = sorted(set(kept_c + skip_c) - set(kept))
    assert (
        spark.read.schema(ddl).parquet(*excluded).filter(pred).count()
        == 0
    ), "files outside the rectangle intersection hold no rectangle rows"
    assert (
        spark.read.schema(ddl).parquet(*kept).filter(pred).count()
        == full.filter(pred).count()
    ), "the intersection holds every rectangle row"

    # Single-column clustering cannot prune the other dimension: the
    # date-clustered rel keeps EVERY file under the custkey predicate.
    dc_slug, _dc_ddl = _date_clustered_orders_layout(spark, sf_dir)
    _k, dc_skip, _ = prune_layout_files(
        dc_slug, "orders_d", "o_custkey", lo=None, hi=cbound
    )
    assert dc_skip == [], \
        "date-clustered files span the custkey range: nothing prunes"
