"""Advanced relational surface: subqueries (Catalyst decorrelation),
TPC-H-shaped composite queries, exact distribution statistics, unpivot,
null semantics, distribution windows, and time-series resampling.

The subquery/composite queries go through ``spark.sql`` over registered
temp views — exercising the SQL entry point of the engine (SURVEY.md §3.1
applies identically; the SQL parser feeds the same Catalyst pipeline).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil

import pyspark.sql.functions as F

from pycaim_spark.catalog import (
    _layout_fingerprint,
    load_table,
    register_temp_views,
)
from pycaim_spark.functions.exact import cents, fsum
from pycaim_spark.operators import commit
from pycaim_spark.operators.layout import (
    gc_layout_versions,
    load_layout_pointer,
    publish_layout_version,
    rebucket_complete,
    resolve_layout_rel,
    rewrite_layout_pointer,
    slug_write_lock,
    tombstone_layout_dir,
)
from pycaim_spark.operators.merge import (
    bucket_files,
    delta_touched_buckets,
    plan_bucket_local_merge,
)
from pycaim_spark.registry import register
from pycaim_spark.session import configure_session


@register(
    "subq_scalar",
    tags=("subquery",),
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 3 * (SELECT MIN(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subq_scalar(spark, sf_dir):
    """Correlated scalar subquery — Catalyst decorrelates to an aggregate
    + join (SURVEY §4 subquery decorrelation). MIN keeps it float-exact."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 3 * (SELECT MIN(o2.o_totalprice)
                                  FROM orders o2
                                  WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "subq_in",
    tags=("subquery",),
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
      AND c_custkey NOT IN (SELECT user_id FROM events
                            WHERE event_type = 'error')
    """,
)
def subq_in(spark, sf_dir):
    """IN + NOT IN subqueries (rewritten to semi/anti joins by Catalyst).

    Null caveat: NOT IN over a nullable column would be three-valued; both
    key columns here are non-null fixtures, so semantics align.
    """
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')
          AND c_custkey NOT IN (SELECT user_id FROM events
                                WHERE event_type = 'error')
        """
    )


_Q3_SQL = """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(12,2)))
                AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


@register("tpch_q3", tags=("composite", "flagship"), oracle=_Q3_SQL)
def tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (SURVEY §5: mirrored TPC-H query shapes): shipping
    priority — 3-way join, filtered both sides, group-agg, top-10.

    Plan at scale: customer filter broadcast into orders, SMJ/SHJ to
    lineitem on the shuffled orderkey, partial agg before the final
    TakeOrdered. Ships the SQL-decimal form: the r11 fixed-point
    conversion was a wash at sf10 (ISOLATE_r11.json
    `tpch_fixedpoint_paired_series` — the join, not the aggregate,
    dominates this shape) and a measured REGRESSION at sf0.1, the
    driver's bench scale (ISOLATE_r12.json
    `tpch_fixedpoint_sf01_paired_series`: SQL wins 4/4 order-alternating
    paired rounds, ~1.21 vs ~1.62 s)."""
    register_temp_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


_Q5_SQL = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(12,2)))
                AS DOUBLE) AS revenue
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


@register("tpch_q5", tags=("composite",), oracle=_Q5_SQL)
def tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: local-supplier volume — 5-way star join with a
    region filter cascading through broadcast dims. Ships the SQL-decimal
    form (see tpch_q3's docstring: fixed-point was a wash at sf10 and a
    4/4 paired regression at sf0.1 — ISOLATE_r12.json
    `tpch_fixedpoint_sf01_paired_series`). For the orderkey-bucketed
    layout that removes this query's dominant 60 M-row shuffle join, see
    tpch_q5_bucketed."""
    register_temp_views(spark, sf_dir)
    return spark.sql(_Q5_SQL)


# --- The slug lifecycle every bucketed-layout builder below shares ------
# A layout slug is a content-addressed dir under the scratch root. A
# builder checks it warm without a lock (`_warm`), otherwise builds it
# cold under the root flock (`_cold_build`); a motion on a built slug
# runs under its slug lock (`_slug_motion`) and commits each rel
# version through `_publish`. Builders keep only their own Spark writes,
# CDC/split/coalesce semantics and pointer-state conditions.

#: Default bucket count of the orderkey layouts.
_BUCKETS = 32
#: The two facts the orderkey layouts bucket, with their bucket keys.
_FACTS = (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))


def _layout_slug(sf_dir, n: int, ns: str | None = None,
                 tables: tuple[str, ...] = ("orders",)):
    """The content address of a layout slug:
    ``md5("{abs sf_dir}:{n}[:{ns}]:{fp}")[:8]``, where ``n`` is the
    bucket (or file) count, ``ns`` the namespace that keeps derived
    layouts of the same source apart, and ``fp`` the source tables'
    file fingerprints, ``:``-joined when one slug spans several tables.
    Returns (slug, slug_dir, fp)."""
    from pycaim_spark.queries.relational import _SCRATCH

    abs_sf = os.path.abspath(sf_dir)
    fp = ":".join(
        _layout_fingerprint(os.path.join(sf_dir, f"{t}.parquet"))
        for t in tables
    )
    ident = f"{abs_sf}:{n}:{fp}" if ns is None else f"{abs_sf}:{n}:{ns}:{fp}"
    slug = hashlib.md5(ident.encode()).hexdigest()[:8]
    return slug, os.path.join(_SCRATCH, "bucketed_tpch", slug), fp


def _warm(spark, slug_dir, *data_dirs, name=None, attached=True) -> bool:
    """The lock-free warm check, around which each builder puts its own
    pointer-state condition: every data dir has ``_SUCCESS``, the slug
    carries no tombstone (a visible one must route through the locked
    path, which clears it, or a later GC pass would delete files this
    session serves) and, when ``name`` is given, the catalog table
    exists and (``attached``) this session attached it over the first
    data dir."""
    return (
        all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in data_dirs)
        and not commit.tombstoned(slug_dir)
        and (
            name is None
            or (
                (not attached or _ATTACHED.get(name) == data_dirs[0])
                and spark.catalog.tableExists(name)
            )
        )
    )


def _drop_stage(spark, sname: str, stage: str) -> None:
    """Drop a motion's stage table and its dir (unpublished by
    construction)."""
    spark.sql(f"DROP TABLE IF EXISTS {sname}")
    shutil.rmtree(stage, ignore_errors=True)


@contextlib.contextmanager
def _slug_motion(spark, slug_dir, rel=None, stage=None):
    """The motion preamble: take the slug write lock, run the version
    GC and crash sweep, wipe the motion's ``stage`` = (table, dir)
    leftovers, then re-resolve ``rel`` under the lock. Yields
    (current dir, pointer), or None without ``rel``."""
    with slug_write_lock(slug_dir):
        gc_layout_versions(slug_dir)
        if stage is not None:
            _drop_stage(spark, *stage)
        yield resolve_layout_rel(slug_dir, rel) if rel else None


def _cold_build(spark, slug_dir, fp, source: str, n: int, sf_dir,
                built, build, attach=None) -> None:
    """The cold build of a slug: root flock → slug motion preamble →
    re-test ``built()`` (the double-check: a concurrent builder that
    lost the lock race finds the winner's files) → ``build()`` →
    ``source.json`` provenance marker → `_gc_superseded_layouts` →
    ``attach()`` → clear the slug tombstone. A built slug without a
    marker (a crash between the build and the marker) gets it
    backfilled so GC can reason about it. Clearing the tombstone
    resurrects a slug this caller re-derived from the CURRENT
    fingerprint: its files are valid by construction, and a left
    tombstone would let a later GC pass delete a layout the catalog
    serves."""
    root = os.path.dirname(slug_dir)
    abs_sf = os.path.abspath(sf_dir)
    marker = os.path.join(slug_dir, "source.json")
    meta = {"sf_dir": abs_sf, "table": source, "buckets": n, "fp": fp}
    with commit.store_lock(root), _slug_motion(spark, slug_dir):
        if not built():
            build()
            commit.write_json_atomic(marker, meta)
            _gc_superseded_layouts(
                spark, root, os.path.basename(slug_dir), abs_sf, source, fp
            )
        elif not os.path.exists(marker):
            commit.write_json_atomic(marker, meta)
        if attach is not None:
            attach()
        commit.clear_tombstone(slug_dir)


def _publish(spark, slug_dir, rel, cur, extra: dict, *, src_dir=None,
             skip=(), staged=(), carry_stats=None, stage=None,
             retire: bool = True):
    """The publish step of a motion: publish ``rel``'s next version from
    ``src_dir`` (default: the displaced dir) minus ``skip`` plus
    ``staged``, with ``extra`` as the commit record and the displaced
    pointer's ``retained`` pins carried forward unless ``extra`` sets
    its own; then drop the ``stage`` and tombstone the displaced dir
    (``retire=False`` leaves that to the caller). ``cur`` is the
    (dir, pointer) the motion resolved under its lock. Returns
    (version dir, pointer)."""
    old_dir, old_ptr = cur
    retained = (old_ptr or {}).get("retained")
    if retained and "retained" not in extra:
        extra["retained"] = list(retained)
    vdir, ptr = publish_layout_version(
        slug_dir, rel, src_dir=old_dir if src_dir is None else src_dir,
        skip_names=set(skip), staged_files=list(staged), extra=extra,
        stats_cols=_stats_cols(rel), carry_stats=carry_stats,
    )
    if stage is not None:
        _drop_stage(spark, *stage)
    if retire and os.path.isdir(old_dir) and old_dir != vdir:
        tombstone_layout_dir(old_dir)
    return vdir, ptr


def _merged_files(plan: dict):
    """(displaced file names, staged paths) of a bucket-local merge."""
    return (
        {
            os.path.basename(f)
            for b in plan["touched"] for f in plan["live"].get(b, [])
        },
        [f for fs in plan["staged"].values() for f in fs],
    )


def _ddl(fields) -> str:
    """DDL column list of a schema (or of an iterable of its fields)."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)


def _save_bucketed(df, n: int, key: str, path: str, table: str,
                   mode: str = "overwrite") -> None:
    """Write ``df`` as catalog table ``table`` at ``path``, bucketed and
    sorted on ``key`` into ``n`` buckets; the ``repartition(n, key)``
    first makes each bucket exactly one file."""
    (
        df.repartition(n, F.col(key))
        .write.mode(mode)
        .bucketBy(n, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def _bucket_clause(key: str, buckets: int) -> str:
    return f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "


def _create_table(spark, name, ddl, path, clause="") -> None:
    """Attach an external parquet table over ``path``; ``clause`` is
    its `_bucket_clause`, or empty for a plain table."""
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING PARQUET {clause}LOCATION '{path}'"
    )


def _bucketed_orderkey_layout(spark, sf_dir, buckets: int = _BUCKETS):
    """PERSISTED lineitem/orders layout bucketed (and per-bucket sorted)
    on orderkey — the standard 100 TB answer to a recurring fact-fact
    join: pay one shuffle at ingest, then every orderkey join is a
    co-located merge with ZERO Exchange on either fact. Built once per
    sf_dir under the scratch root (NOT the per-call ``_scratch`` wiper);
    later sessions — including fresh-JVM bench children — re-attach via
    external-table DDL over the existing bucketed files, so steady-state
    timings measure the query path, same convention as the persisted ANN
    index (sim_ivf_pq_stored). ``repartition(buckets, key)`` before the
    write yields exactly one file per bucket, which is the PRECONDITION
    for Spark trusting the per-bucket sort order — but since Spark 3.0
    that trust is additionally gated behind
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` (default
    false), so without it every co-located SMJ still pays a per-task
    sort of the (already sorted) bucket. Round 14 discovered this while
    building the incremental append path: this function now sets the
    conf on the session (runtime-settable, same convention as
    catalog.load_table's nanosAsLong). Spark itself re-checks the
    one-file-per-bucket precondition per scan and re-inserts sorts where
    it fails (e.g. the post-append multi-file state,
    `_incremental_orderkey_layout`), so correctness never rests on the
    conf. Decision evidence (r15, after the r14 series was
    decay-contaminated): ISOLATE_r15.json
    `q5_sorted_scan_series_r15` — 5 order-alternating canary-gated
    fresh-JVM paired rounds of tpch_q5_bucketed at sf10, conf-ON wins
    3/5 with median 3.45 s vs 4.81 s OFF (−28%), consistent with the
    structural argument (eliding a sort of sorted data).

    Cache key = (sf_dir, buckets, per-file fingerprint of the source
    parquet). ``buckets`` is in the key (ADVICE r12): attaching DDL with a
    bucket count different from the one the files were written with would
    make Spark trust a false hash distribution and silently return wrong
    co-located joins. The fingerprint makes in-place corpus regeneration
    (tools/make_scaled_sf.py) produce a fresh slug instead of serving the
    previous corpus.

    Concurrency + GC (round 13, hardened round 14 per ADVICE r13, on the
    shared commit protocol of operators/commit.py): the WARM path
    (``_SUCCESS`` present and the table already in this session's
    catalog) is lock-free — the slug is
    content-addressed by (sf_dir, buckets, per-file fingerprint), so a
    catalog entry with this name can only ever point at these exact
    files, and taking the root flock on every warm attach would park
    every bench child behind any concurrent multi-minute cold build.
    Cold builds and DDL attaches run under the exclusive root flock with
    a double-checked ``_SUCCESS`` re-test after acquiring, so two
    fresh-JVM bench children hitting a cold layout concurrently produce
    ONE valid build (the loser re-attaches to the winner's files).

    GC is two-phase (`_gc_superseded_layouts`) because flock only
    serializes writers — readers take no lock, and an immediate rmtree
    of a superseded slug would crash any in-flight scan mid-query
    instead of merely letting it return stale rows. Phase 1 (at
    supersede time, under the lock): drop the slug from THIS session's
    catalog and tombstone it. Phase 2 (every
    later cold build, under the lock): rmtree slugs whose tombstone —
    or, for marker-less crashed-build slugs, whose dir mtime —
    is older than $PYCAIM_LAYOUT_GC_GRACE (default 900 s). Residual
    reader-crash mode: a scan that STARTS against a tombstoned slug
    after its grace expires (only reachable from a session that cached
    the DataFrame across a corpus regeneration — it was serving stale
    rows already) dies mid-scan; other sessions' catalog entries cannot
    be dropped from here, which is why the grace period, not the DROP,
    is the protection. flock is host-local; on an object store the
    build is a table-format snapshot commit and the catalog provides
    the lock (same caveat as the signature store)."""
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    out = {}
    for table, key in _FACTS:
        slug, slug_dir, fp = _layout_slug(sf_dir, buckets, tables=(table,))
        name = f"tpch_b_{table}_{slug}"
        path = os.path.join(slug_dir, table)
        # Lock-free warm fast path (ADVICE r13): content-addressed slug +
        # immutable files once _SUCCESS exists, so no lock is needed to
        # re-serve an attach this session already made. A visible
        # tombstone (another process superseded this slug — a
        # stale-fingerprint sweep that raced this caller's
        # regeneration) sends us through the locked path,
        # which resurrects it — the slug came from the CURRENT
        # fingerprint, so its files are valid by construction. Same-bytes
        # bucket-count variants are SIBLINGS since r16 (fp-keyed GC) and
        # no longer tombstone each other.
        if not _warm(spark, slug_dir, path, name=name, attached=False):

            def build():
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                _save_bucketed(
                    load_table(spark, sf_dir, table), buckets, key, path,
                    name,
                )

            def attach():
                if not spark.catalog.tableExists(name):
                    _create_table(
                        spark, name,
                        _ddl(load_table(spark, sf_dir, table).schema),
                        path, _bucket_clause(key, buckets),
                    )

            _cold_build(
                spark, slug_dir, fp, table, buckets, sf_dir,
                built=lambda: os.path.exists(os.path.join(path, "_SUCCESS")),
                build=build, attach=attach,
            )
        out[table] = spark.table(name)
    return out["lineitem"], out["orders"]


def _gc_superseded_layouts(
    spark, layout_root: str, keep_slug: str, abs_sf: str, table: str,
    fp: str | None = None,
) -> None:
    """Two-phase layout GC, called under the layout-root flock from a
    cold build (see `_bucketed_orderkey_layout`'s docstring for the
    reader-safety rationale). Phase 1 tombstones superseded same-source
    slugs (and DROPs them from this session's catalog);
    phase 2 deletes slugs whose tombstone — or dir mtime, for slugs with
    no ``source.json`` marker at all (builds that crashed before writing
    the marker) — is older than
    $PYCAIM_LAYOUT_GC_GRACE seconds (default 900). The mtime age test is
    what keeps an in-progress concurrent build safe from the marker-less
    sweep: its slug dir is seconds old."""
    import json
    import time

    grace = commit.layout_grace()
    for sib in os.listdir(layout_root):
        sib_dir = os.path.join(layout_root, sib)
        if sib == keep_slug or not os.path.isdir(sib_dir):
            continue
        marker = os.path.join(sib_dir, "source.json")
        meta = None
        if os.path.exists(marker):
            try:
                with open(marker) as f:
                    meta = json.load(f)
            except (OSError, ValueError):
                meta = None
        # Phase 1: tombstone same-(sf_dir, table) slugs whose source
        # FINGERPRINT is stale (r16). Bucket count alone is NOT staleness:
        # a 512-bucket probe layout over the same bytes is a live SIBLING
        # of the 32-bucket fixture, not a superseded version of it — the
        # pre-r16 rule (supersede on (sf_dir, table) regardless) forced a
        # tombstone/resurrect flip-flop, and a grace-expiry rebuild,
        # whenever two counts were in use at once. A changed fingerprint
        # (corpus regenerated) supersedes EVERY bucket variant — their
        # content-addressed slugs can never be served again, so they are
        # pure garbage.
        if (
            meta is not None
            and (meta.get("sf_dir"), meta.get("table")) == (abs_sf, table)
            and (fp is None or meta.get("fp") != fp)
            and not commit.tombstoned(sib_dir)
        ):
            # Every catalog table this slug ever attached carries the
            # slug as its name suffix (tpch_b_/tpch_ia_/tpch_ic_/
            # tpch_iu*/tpch_rb*/tpch_rebuild_* — the full current and
            # future family set), so the drops are enumerated from the
            # CATALOG by suffix glob instead of by name-family list:
            # the r16 fix enumerated upsert derivatives from marker
            # files and promptly missed the r17 split/coalesce/rebuild
            # families (ADVICE r17 #3 — the same dangling-entry class
            # reintroduced). A suffix match is exhaustive by
            # construction: slugs are 8-hex md5 prefixes unique per
            # (source, buckets, namespace, fingerprint).
            for row in spark.sql(f"SHOW TABLES LIKE '*_{sib}'").collect():
                t = row.tableName
                if t.endswith(f"_{sib}") and not row.isTemporary:
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
            commit.tombstone(sib_dir)
            continue  # freshly tombstoned: full grace ahead of it
        # Phase 2: delete past-grace tombstones and aged marker-less dirs
        # (an unreadable tombstone is left for a later pass).
        age = None
        if commit.tombstoned(sib_dir):
            age = commit.tombstone_age(sib_dir)
        elif meta is None:
            try:
                age = time.time() - os.path.getmtime(sib_dir)
            except OSError:
                age = None
        if age is not None and age > grace:
            # Per-slug locking (r18): a sibling slug's MOTIONS hold
            # only their slug lock, not the root flock we hold — so
            # the delete TRY-acquires the sibling's lock and skips it
            # when a live writer owns it (the writer resurrects its
            # tombstone at motion end; an abandoned slug collects on a
            # later pass). Blocking here would invert the root→slug
            # lock order and risk a cycle; try-lock cannot.
            from pycaim_spark.operators.layout import remove_slug_lock_file

            with slug_write_lock(sib_dir, blocking=False) as lk:
                if lk.acquired:
                    shutil.rmtree(sib_dir, ignore_errors=True)
                    remove_slug_lock_file(sib_dir)


#: Session-side memo of which version dir each layout catalog table is
#: attached over. The snapshot-pointer commit (operators/layout.py, r17)
#: makes the file set immutable per version; this dict is the cheap
#: "does this session's catalog entry point at the CURRENT version?"
#: test — a pointer flip (ours or another process's, observed via
#: resolve) changes the path and forces a DROP+CREATE re-attach.
_ATTACHED: dict[str, str] = {}
#: ... and the DDL+bucket spec it was attached with: a re-bucketed rel
#: can need a re-attach at the SAME path with a different bucket trust
#: (plain while mid-split, CLUSTERED INTO n_to once complete).
_ATTACHED_SPEC: dict[str, str] = {}


def _attach_rel_table(
    spark, name: str, path: str, ddl: str, key: str, buckets: int,
    bucketed: bool = True,
) -> None:
    """(Re-)attach catalog table ``name`` over a layout rel's CURRENT
    version dir. Warm case (already attached there with this spec) is
    free; any path/spec change re-issues the external-table DDL — the
    session-side half of the snapshot-pointer commit. ``bucketed=False``
    attaches a plain parquet table (the half-split re-bucket state,
    where the dir mixes two bucket schemes and Spark must not trust
    either)."""
    cluster = _bucket_clause(key, buckets) if bucketed else ""
    spec = cluster + ddl
    if (
        _ATTACHED.get(name) == path
        and _ATTACHED_SPEC.get(name) == spec
        and spark.catalog.tableExists(name)
    ):
        return
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    _create_table(spark, name, ddl, path, cluster)
    _ATTACHED[name] = path
    _ATTACHED_SPEC[name] = spec


def _rebuild_pristine_rel(
    spark, slug_dir: str, rel: str, src_parquet_dir: str, key: str,
    buckets: int, slug: str,
):
    """Rebuild a mutated rel's PRISTINE bucketed state (full corpus =
    the slug's base+append files) into a FRESH version dir and flip the
    pointer — the tombstone-not-rmtree replacement (VERDICT r16 #2) for
    stale-batch / divergent-history recovery on in-place arms: the
    stale version is tombstoned and grace-collected, so a lockless
    reader that resolved it keeps scanning intact files instead of
    dying under an rmtree. Retention pins die with the abandoned
    history BY DESIGN (the fresh pointer carries no ``retained`` list,
    so previously-pinned snapshots become ordinary tombstones and
    grace-collect; `layout_time_travel` self-heals by replaying and
    re-pinning). Returns (new version dir, new pointer)."""
    tmp = os.path.join(slug_dir, f"{rel}_rebuild_stage")
    tmp_name = f"tpch_rebuild_{rel}_{slug}"
    _drop_stage(spark, tmp_name, tmp)
    _save_bucketed(
        spark.read.parquet(src_parquet_dir), buckets, key, tmp, tmp_name
    )
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
    old_dir, _old = resolve_layout_rel(slug_dir, rel)
    vdir, ptr = publish_layout_version(
        slug_dir, rel, src_dir=None, prebuilt_dir=tmp,
        extra={"batch": None}, stats_cols=_stats_cols(rel),
    )
    if os.path.isdir(old_dir) and old_dir != vdir:
        tombstone_layout_dir(old_dir)
    return vdir, ptr


def _incremental_orderkey_layout(
    spark, sf_dir, buckets: int = _BUCKETS, compacted: bool = False,
    ns: str = "incr", tables: tuple[str, ...] = ("lineitem", "orders"),
):
    """Incremental lifecycle for the orderkey-bucketed layout (round 14):
    at 100 TB a production layout is never REBUILT when data arrives — a
    delta batch is APPENDED into the same bucket scheme, queries keep
    running co-located, and a background COMPACTION restores the
    one-file-per-bucket invariant. This function demonstrates all three
    states on the fixture corpus, split deterministically into base
    (``orderkey % 7 != 0``, ~86%) and delta (the rest):

    - **base**: bucketBy+sortBy saveAsTable, one file per bucket — the
      same shape `_bucketed_orderkey_layout` builds.
    - **append**: the delta, repartitioned onto the SAME bucket count,
      written with ``mode("append")`` against the existing table — Spark
      validates the bucket spec and hashes the new files into the same
      buckets, so joins stay Exchange-free; but with two files per
      bucket Spark no longer trusts the per-bucket sort order and
      re-inserts per-task SMJ sorts (the measured trade of appending).
      The append is marker-guarded (``append_<table>.json`` under the
      slug, written under the layout flock) so re-runs attach instead of
      double-inserting; a crash between the INSERT and the marker can
      leave a duplicated delta — locally the flock + marker ordering
      makes the window tiny, and on an object store this step is a
      table-format transactional commit (same caveat as the signature
      store).
    - **compacted** (``compacted=True``): rewrite into a sibling table
      with one file per bucket. The rewrite reads the PARQUET FILES
      directly, not the catalog table: reading through the bucketed scan
      lets Spark elide the repartition as already-satisfied and pack
      multiple bucket-files per task, which writes multi-bucket files
      and silently loses the 1:1 task→bucket alignment (measured: 16
      files from an 8-bucket compaction; the file-read path yields
      exactly ``buckets``).

    Slug namespace: ``table#<ns>`` in the provenance marker (``ns`` =
    "incr" for the shared lifecycle fixture; the in-place upsert arm
    passes its own ``ip*`` namespace so its destructive merge never
    mutates the compacted table other queries serve), so the main
    layout's GC never treats these as superseding its slugs and vice
    versa. Returns (lineitem_df, orders_df) for the requested state."""
    # The warm path reads no fixture table, so load_table's runtime confs
    # are applied here for every layout query built on this helper.
    configure_session(spark)
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    out = {}
    for table, key in _FACTS:
        if table not in tables:
            continue
        slug, slug_dir, fp = _layout_slug(sf_dir, buckets, ns, (table,))
        name = f"tpch_ia_{table}_{slug}"
        cname = f"tpch_ic_{table}_{slug}"
        path = os.path.join(slug_dir, table)
        cpath = os.path.join(slug_dir, f"{table}_c")
        append_marker = os.path.join(slug_dir, f"append_{table}.json")
        want_name = cname if compacted else name
        # The compacted rel may be VERSION-MANAGED (r17): the in-place
        # CDC arms publish immutable `{table}_c_v{N}` dirs behind an
        # atomic `{table}_c_current.json` pointer (operators/layout.py),
        # so "the compacted state" is whatever the pointer resolves to —
        # the plain dir only for never-upserted slugs.
        crel = f"{table}_c"
        cdir, cptr = resolve_layout_rel(slug_dir, crel)
        # Lock-free warm fast path, as in _bucketed_orderkey_layout; the
        # appended state additionally requires the append marker (the
        # base build's _SUCCESS alone is the pre-append state). The
        # tombstone check mirrors the one-shot warm path and is
        # load-bearing (r14 ADVICE): a session whose catalog still holds
        # these entries would otherwise keep serving a slug another
        # process tombstoned — never passing through the locked path
        # that resurrects it — until GC deletes the files under the
        # actively-served table.
        if os.path.exists(append_marker) and _warm(
            spark, slug_dir, cdir if compacted else path, name=want_name,
            attached=compacted and cptr is not None,
        ):
            out[table] = spark.table(want_name)
            continue
        full = load_table(spark, sf_dir, table)

        def build():
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            # A base rebuild invalidates everything DERIVED from the
            # old base (r14 ADVICE): a surviving append marker would
            # make the `not exists(append_marker)` guard below skip
            # re-inserting the delta — the layout would silently
            # serve the ~86% base as the full corpus — and a
            # surviving compacted rewrite would serve the old bytes.
            if os.path.exists(append_marker):
                os.remove(append_marker)
            spark.sql(f"DROP TABLE IF EXISTS {cname}")
            shutil.rmtree(cpath, ignore_errors=True)
            # The rebuild also invalidates
            # rel POINTERS and version dirs derived from the old
            # base. Dirs are TOMBSTONED FIRST (never rmtree'd —
            # another session's lockless reader may still hold
            # them, VERDICT r16 #2; `gc_layout_versions` collects
            # them after grace), and only then the pointers are
            # removed: a crash between the two leaves tombstoned
            # dirs with their grace window intact, whereas the
            # reverse order would leave pointer-less untombstoned
            # version dirs that the unpointed-sweep deletes
            # immediately — under a reader that resolved them
            # before the pointer vanished.
            for ud in glob.glob(
                os.path.join(slug_dir, f"{table}_c_v[0-9]*")
            ) + glob.glob(os.path.join(slug_dir, "orders_u*")):
                if os.path.isdir(ud):
                    tombstone_layout_dir(ud)
            for pf in glob.glob(os.path.join(slug_dir, "*_current.json")):
                os.remove(pf)
            _save_bucketed(
                full.filter(F.col(key) % 7 != 0), buckets, key, path, name
            )

        def attach():
            if not spark.catalog.tableExists(name):
                _create_table(
                    spark, name, _ddl(full.schema), path,
                    _bucket_clause(key, buckets),
                )
            if not os.path.exists(append_marker):
                _save_bucketed(
                    full.filter(F.col(key) % 7 == 0), buckets, key, path,
                    name, mode="append",
                )
                commit.write_json_atomic(append_marker, {"appended": True})
            if not compacted:
                return
            cdir, cptr = resolve_layout_rel(slug_dir, crel)
            if not os.path.exists(os.path.join(cdir, "_SUCCESS")):
                if cptr is not None:
                    # Pointer to a missing/broken version dir: crash
                    # debris (the publish machinery tombstones a dir
                    # before any reader could lose it, so a live
                    # pointer normally always resolves). Drop the
                    # pointer and rebuild the plain dir.
                    os.remove(os.path.join(slug_dir, f"{crel}_current.json"))
                    tombstone_layout_dir(cdir)
                    cptr = None
                spark.sql(f"DROP TABLE IF EXISTS {cname}")
                _save_bucketed(
                    spark.read.parquet(path), buckets, key, cpath, cname
                )
                cdir = cpath
            # A versioned compacted state may carry an EVOLVED schema
            # (the schema-evolution MERGE arm records its DDL in the
            # pointer); attach with it so the new column survives
            # re-attachment from a fresh session. A rel MID-re-bucket
            # mixes two bucket schemes — attach PLAIN (correct for
            # any state); a COMPLETED re-bucket is a valid bucketed
            # table at its finer count, so attach with that trust
            # (the composed migrate-then-CDC lifecycle keeps its
            # Exchange-free plans on warm serves).
            crb = (cptr or {}).get("rebucket") or None
            crb_done = rebucket_complete(cptr)
            _attach_rel_table(
                spark, cname, cdir,
                (cptr.get("ddl") if cptr else None) or _ddl(full.schema),
                key,
                crb["to"] if crb_done else buckets,
                bucketed=crb_done or not crb,
            )

        _cold_build(
            spark, slug_dir, fp, f"{table}#{ns}", buckets, sf_dir,
            built=lambda: os.path.exists(os.path.join(path, "_SUCCESS")),
            build=build, attach=attach,
        )
        out[table] = spark.table(want_name)
    return out.get("lineitem"), out.get("orders")


@register(
    "tpch_q3_layout_append",
    tags=("composite", "storage"),
    oracle=_Q3_SQL,
)
def tpch_q3_layout_append(spark, sf_dir):
    """TPC-H Q3 over the POST-APPEND incremental bucketed layout
    (`_incremental_orderkey_layout`: base built on ~86% of each fact,
    the remaining delta appended into the same bucket scheme). The
    correctness claim the oracle gate checks: base ∪ appended delta ==
    the full corpus, and the appended files land in the right buckets —
    a mis-bucketed append would silently DROP join matches in the
    co-located SMJ, which is exactly what the hash-compare against the
    full-table DuckDB oracle would catch. Plan shape: still zero
    Exchange on either fact (append preserves co-location); per-task
    SMJ sorts reappear because two files per bucket forfeit the trusted
    sort order — the measured cost of the appended state, removed again
    by tpch_q3_layout_compacted (tests/test_storage.py pins both plan
    states)."""
    lib, ob = _incremental_orderkey_layout(spark, sf_dir)
    return _q3_over_layout(spark, sf_dir, lib, ob)


@register(
    "tpch_q3_layout_compacted",
    tags=("composite", "storage"),
    oracle=_Q3_SQL,
)
def tpch_q3_layout_compacted(spark, sf_dir):
    """TPC-H Q3 over the COMPACTED incremental layout: the appended
    two-files-per-bucket state rewritten to one file per bucket
    (`_incremental_orderkey_layout(compacted=True)`), restoring the
    sort-free co-located merge — with
    spark.sql.legacy.bucketedTableScan.outputOrdering set (see
    `_bucketed_orderkey_layout`), the compacted plan carries ZERO Sort
    nodes below the join while the appended plan carries the per-task
    sorts Spark re-inserts for multi-file buckets. Same full-table
    DuckDB oracle as tpch_q3: compaction must be a pure physical
    rewrite."""
    lib, ob = _incremental_orderkey_layout(spark, sf_dir, compacted=True)
    return _q3_over_layout(spark, sf_dir, lib, ob)


#: CDC batch for the layout upsert, derived deterministically from the
#: orders table so Spark and the DuckDB oracle see the identical batch:
#: keys ≡0 (mod 83) are UPDATED (o_orderdate shifted +30 days — chosen
#: because it moves orders across Q3's date predicate and changes the
#: group key, so a missed or double-applied update is visible in the
#: result at both gate scales: 2 updated keys appear in the sf0.001
#: result, 11 at sf0.01), keys ≡0 (mod 503) are DELETED (1 and 3 result
#: rows respectively). Deletes take precedence on the overlap. r16 adds
#: INSERTS — the dominant CDC verb (VERDICT r15 #1): keys ≡0 (mod 113)
#: are cloned with ``o_orderkey + 10^9`` (the fixtures' orderkeys are
#: dense 0..N−1 BIGINTs at every scale incl. the replica-scaled sf10,
#: so the offset can never collide with a live key); 14 inserted rows
#: at sf0.001, 133 at sf0.01. Inserted keys have no lineitem rows, so
#: Q3 can't see them — `layout_upsert_audit` aggregates the upserted
#: table directly (per-priority counts + exact sums + an inserted-row
#: count) so a dropped/double-applied insert batch hash-fails there.
_UPSERT_UPD = "o_orderkey % 83 = 0 AND o_orderkey % 503 <> 0"
_UPSERT_DEL = "o_orderkey % 503 = 0"
_UPSERT_INS = "o_orderkey % 113 = 0"
_UPSERT_INS_OFFSET = 1_000_000_000

#: Stats columns every orders-rel publish records into its pointer
#: manifest (r18): the sort key plus the dominant query predicate
#: column. Carry-forward in `publish_layout_version` keeps each CDC
#: publish O(delta) — only staged files' footers are read; the first
#: publish over a plain bucketed dir footer-reads every file once (the
#: same one-time cost as a table format's stats backfill).
_LAYOUT_STATS_COLS = ("o_orderkey", "o_orderdate")


def _stats_cols(rel: str) -> tuple[str, ...]:
    """The stats columns ``rel``'s publishes record. Every rel is named
    after its source table: the orders rels carry `_LAYOUT_STATS_COLS`,
    and a lineitem rel has neither column, so its publishes read no
    footer and commit no stats."""
    return _LAYOUT_STATS_COLS if rel.startswith("orders") else ()


def _cdc_updates(df, upd_pred: str):
    """A CDC batch's update rows: ``upd_pred`` matches, o_orderdate
    shifted +30 days."""
    return df.filter(F.expr(upd_pred)).withColumn(
        "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    )


def _cdc_inserts(full, ins_pred: str):
    """A CDC batch's insert rows: ``ins_pred`` matches, cloned under
    ``o_orderkey + 10^9``."""
    return full.filter(F.expr(ins_pred)).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(_UPSERT_INS_OFFSET)
    )


def _cdc_batch(full, upd_pred, del_pred, ins_pred, buckets: int):
    """(insert rows or None, touched buckets) of a predicate-derived CDC
    batch over ``full``: the update/delete keys plus the inserts' new
    keys, hashed to ``buckets``."""
    key = "o_orderkey"
    cdc_keys = full.filter(F.expr(f"({upd_pred}) OR ({del_pred})")).select(
        key
    )
    ins_rows = None
    if ins_pred is not None:
        ins_rows = _cdc_inserts(full, ins_pred)
        cdc_keys = cdc_keys.unionByName(ins_rows.select(key))
    return ins_rows, delta_touched_buckets(cdc_keys, key, buckets)


def _upserted_orderkey_layout(
    spark,
    sf_dir,
    buckets: int = _BUCKETS,
    upd_pred: str = _UPSERT_UPD,
    del_pred: str = _UPSERT_DEL,
    ins_pred: str | None = _UPSERT_INS,
    suffix: str = "",
    inplace: bool = False,
    with_lineitem: bool = True,
    base_rel: str = "orders_c",
    add_col: tuple[str, str] | None = None,
):
    """CDC-style MERGE (insert + update + delete) applied BUCKET-LOCALLY
    to the compacted incremental layout, committed through the SNAPSHOT
    POINTER (r17, VERDICT r16 #1): the bucketed table now gets the same
    table-format-style commit the stores got in r16.

    Mechanics (publishes under the SLUG write lock — r18, per-slug
    serialization so CDC to different tables runs concurrently;
    readers lock-free):

    1. Resolve the rel's CURRENT version via its atomic pointer
       (`operators/layout.resolve_layout_rel`). With ``inplace=True``
       the mutated rel is the compacted ``orders_c`` itself, inside a
       PRIVATE layout namespace (``ip<suffix>``) so no shared query ever
       reads the mutated table; the cloned arm versions a SIBLING rel
       ``orders_u<suffix>`` whose untouched-bucket "clone" is pure hard
       links of the base rel's files — zero byte copy (the r16
       ``copytree`` scaffolding is gone; at 100 TB a clone is a manifest
       re-list, which links stand in for locally).
    2. Compute the touched buckets driver-side as ``pmod(hash(key),
       buckets)`` over the CDC keys — update/delete keys AND the insert
       batch's NEW keys. An empty batch (predicates matching nothing at
       this scale) commits a pointer recording ``touched: []`` (clone
       arm: a full link-clone version) and serves the base unmodified
       (ADVICE r15).
    3. Read ONLY the touched buckets' parquet files, apply the merge
       (`operators/merge.plan_bucket_local_merge` — drop update+delete
       keys, union the new versions and inserts), stage one sorted file
       per touched bucket, assert bucket-assignment parity.
       ``add_col=(name, sql_expr)`` is the SCHEMA-EVOLUTION arm
       (VERDICT r16 #3): update+insert rows gain the new column, the
       merge unions with ``allowMissingColumns`` so resident rows
       null-fill, and the evolved DDL is recorded IN the pointer so
       re-attachment from any session carries the column; untouched
       buckets keep their old-schema files, which the parquet scan
       null-fills per the table schema.
    4. COMMIT: publish version N+1 = hard links of untouched buckets'
       files + staged rewrites, then atomically flip
       ``{rel}_current.json`` (batch spec, touched set and DDL folded
       INSIDE the pointer, like the signature store's folded manifest).
       The displaced version is tombstoned (underscore-prefixed
       ``_superseded.json``) and grace-collected — NO file a lockless
       reader may have resolved is ever removed or renamed at swap time;
       the r16 "residual window at the remove/rename instant" is gone,
       and with it the pending-journal/undo-dir rollback machinery: a
       crash BEFORE the flip leaves an unpointed dir above the pointed
       version that the next locked writer deletes (never
       reader-visible); a crash AFTER the flip but before the
       tombstone leaves the displaced dir unpointed BELOW the pointer,
       which GC tombstones into the normal grace window rather than
       deleting (ADVICE r17 #1 — readers that resolved it while it was
       current keep their files).
       Stale batch specs (fixture predicates changed between rounds)
       re-derive — the cloned arm from its pristine base, the in-place
       arm by REBUILDING the pristine compacted state into a fresh
       version (`_rebuild_pristine_rel`, tombstone-not-rmtree per
       VERDICT r16 #2). A dependent batch's spec includes its upstream
       rel's committed pointer state (ADVICE r16 #3), so re-deriving
       batch 1 automatically staleness-propagates to batch 2's clone.

    Untouched buckets' files are not opened, not rewritten, not moved —
    pinned by tests/test_storage.py. One sorted file per bucket is
    preserved, so the upserted table keeps the sort-free co-located
    merge. Bytes accounting at sf10: SCALING_r16.json
    ``upsert_inplace_vs_clone_sf10`` (32 vs 512 buckets: 40.6% vs 2.9%
    of the table staged for the same 15-key batch). Returns
    (lineitem_df, orders_upserted_df).
    """
    ns = f"ip{suffix}" if inplace else "incr"
    # lineitem always comes from the SHARED compacted layout (the merge
    # never touches it; co-located SMJs only require both sides bucketed
    # on the same count, not the same table family).
    lib = None
    if with_lineitem:
        lib, _ = _incremental_orderkey_layout(
            spark, sf_dir, buckets=buckets, compacted=True
        )
    _incremental_orderkey_layout(
        spark, sf_dir, buckets=buckets, compacted=True, ns=ns,
        tables=("orders",),
    )
    slug, slug_dir, _fp = _layout_slug(sf_dir, buckets, ns)
    rel = "orders_c" if inplace else f"orders_u{suffix}"
    uname = (
        f"tpch_ic_orders_{slug}" if inplace
        else f"tpch_iu{suffix}_orders_{slug}"
    )
    key = "o_orderkey"
    full = load_table(spark, sf_dir, "orders")
    base_ddl = _ddl(full.schema)

    def _base_state():
        """The upstream rel's committed identity (ADVICE r16 #3): a
        dependent batch whose base re-derived (new version / new batch
        spec) must itself re-derive — folding the base pointer's
        (version, batch, applied) into this batch's spec makes the
        staleness propagate down the chain."""
        if inplace:
            return None
        bptr = load_layout_pointer(slug_dir, base_rel)
        if bptr is None:
            return None
        return [bptr["version"], bptr.get("batch"), bptr.get("applied")]

    batch_spec = [
        upd_pred, del_pred, ins_pred, base_rel, _base_state(),
        list(add_col) if add_col else None,
    ]

    def _current(p):
        return p is not None and p.get("batch") == batch_spec

    cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
    # Lock-free warm fast path: committed pointer records this exact
    # batch, version dir intact, session attached over it.
    if _current(ptr) and _warm(spark, slug_dir, cur_dir, name=uname):
        return lib, spark.table(uname)

    stage = (
        f"tpch_iu{suffix}_stage_orders_{slug}",
        os.path.join(slug_dir, f"orders_u{suffix}_stage"),
    )
    with _slug_motion(spark, slug_dir, rel) as (cur_dir, ptr):
        if not _current(ptr):
            # Stage leftovers are unpublished by construction — wipe
            # before re-deriving (ADVICE r16 #5: cleanup symmetric
            # across every branch).
            _drop_stage(spark, *stage)

            def _rb_state(p):
                """(record, complete, effective bucket count) of a
                source state. A COMPLETED re-bucket is a fully valid
                merge base at its finer count — the composed
                migrate-then-CDC lifecycle (`layout_split_then_upsert`);
                an INCOMPLETE one mixes two bucket schemes: merging at
                either count against it would read only half of a split
                parent's key range and resurrect deleted keys — never a
                valid base."""
                rb = (p or {}).get("rebucket") or None
                complete = rebucket_complete(p)
                return rb, complete, (rb["to"] if complete else buckets)

            # In-place staleness: a pointer committing a DIFFERENT batch
            # means the current version is a mutated state with no
            # pristine copy — rebuild pristine into a fresh version
            # (tombstone-not-rmtree, VERDICT r16 #2).
            rb, rb_complete, _eff = _rb_state(ptr)
            if inplace and ptr is not None and (
                ptr.get("batch") is not None or (rb and not rb_complete)
            ):
                cur_dir, ptr = _rebuild_pristine_rel(
                    spark, slug_dir, rel,
                    os.path.join(slug_dir, "orders"), key, buckets, slug,
                )
            if inplace:
                src_dir, src_ptr = cur_dir, ptr
            else:
                src_dir, src_ptr = resolve_layout_rel(slug_dir, base_rel)
            rb, rb_complete, eff_buckets = _rb_state(src_ptr)
            # The source state's COMMITTED schema: a previously-evolved
            # base carries extra columns that this batch must inherit
            # (read the touched files with it, publish it forward) —
            # inference over mixed-schema files would silently drop
            # them (the composition bug the merge core now also guards).
            src_ddl = (src_ptr or {}).get("ddl") or base_ddl
            evolving = add_col is not None or src_ddl != base_ddl
            if not inplace and rb and not rb_complete:
                raise RuntimeError(
                    f"base rel {base_rel} is mid-re-bucket "
                    f"({rb}) — not a valid clone-merge base; finish or "
                    "abandon the migration first"
                )
            # DEMO SCAFFOLDING: derive the CDC batch from predicates
            # over the raw corpus so the DuckDB oracle can reproduce the
            # identical batch in SQL; production callers hand
            # `plan_bucket_local_merge` their CDC stream's DataFrames.
            ins_rows, touched = _cdc_batch(
                full, upd_pred, del_pred, ins_pred, eff_buckets
            )
            # The own rel's displaced state (in-place: the source) and
            # the commit record shared by both branches. A completed
            # migration record travels with the table: attach logic
            # keeps trusting the finer count across sessions and
            # further CDC batches.
            own = (cur_dir, ptr)
            extra = {"batch": batch_spec, "touched": touched,
                     "ddl": src_ddl}
            if not touched:
                # Empty CDC batch at this scale (ADVICE r15): commit the
                # no-op so re-runs warm-path.
                if inplace:
                    newptr = dict(ptr) if ptr else {
                        "version": 0, "dir": rel,
                    }
                    newptr.update(
                        {"batch": batch_spec, "touched": [],
                         "ddl": newptr.get("ddl") or base_ddl}
                    )  # in-place: own pointer already carries the DDL
                    rewrite_layout_pointer(slug_dir, rel, newptr)
                    ptr, cur_dir = newptr, os.path.join(
                        slug_dir, newptr["dir"]
                    )
                else:
                    if rb_complete:
                        extra["rebucket"] = rb
                    cur_dir, ptr = _publish(
                        spark, slug_dir, rel, own, extra, src_dir=src_dir,
                        carry_stats=(src_ptr or {}).get("files"),
                    )
            else:
                live = bucket_files(src_dir)
                touched_files = [
                    f for b in touched for f in live.get(b, [])
                ]
                cur = (
                    spark.read.schema(src_ddl).parquet(*touched_files)
                    if touched_files
                    else spark.createDataFrame([], src_ddl)
                )
                updates = _cdc_updates(cur, upd_pred)
                if add_col is not None:
                    updates = updates.withColumn(
                        add_col[0], F.expr(add_col[1])
                    )
                    if ins_rows is not None:
                        ins_rows = ins_rows.withColumn(
                            add_col[0], F.expr(add_col[1])
                        )
                upserts = (
                    updates if ins_rows is None
                    # inserts derive from the raw corpus (base schema);
                    # on an evolved base they null-fill the evolved
                    # columns, same posture as resident old-file rows
                    else updates.unionByName(
                        ins_rows, allowMissingColumns=evolving
                    )
                )
                plan = plan_bucket_local_merge(
                    spark,
                    path=src_dir,
                    schema=src_ddl,
                    key=key,
                    buckets=eff_buckets,
                    upserts=upserts,
                    deletes=cur.filter(F.expr(del_pred)).select(key),
                    stage_path=stage[1],
                    stage_table=stage[0],
                    touched=touched,
                    evolve_schema=evolving,
                )
                if add_col is not None:
                    extra["ddl"] += ", " + _ddl(
                        f for f in upserts.schema.fields
                        if f.name == add_col[0]
                    )
                if rb_complete:
                    extra["rebucket"] = rb
                skip, staged = _merged_files(plan)
                cur_dir, ptr = _publish(
                    spark, slug_dir, rel, own, extra, src_dir=src_dir,
                    skip=skip, staged=staged,
                    carry_stats=(src_ptr or {}).get("files"), stage=stage,
                )
        _attach_rel_table(
            spark, uname, cur_dir,
            (ptr or {}).get("ddl") or base_ddl, key,
            ptr["rebucket"]["to"] if rebucket_complete(ptr) else buckets,
        )
        commit.clear_tombstone(slug_dir)
    return lib, spark.table(uname)


def _upsert_stream_inplace(
    spark,
    sf_dir,
    batches: list[tuple[str, str, str, str | None]],
    suffix: str = "st",
    buckets: int = _BUCKETS,
    retain: bool = False,
):
    '''A STREAM of CDC batches applied IN PLACE to one bucketed table —
    the steady-state production shape: each batch ``(batch_key,
    upd_pred, del_pred, ins_pred)`` merges bucket-locally on top of the
    previous batches' result and COMMITS by publishing the next
    immutable version and atomically flipping the rel pointer with the
    ordered APPLIED MANIFEST folded inside it (r17 — the same
    snapshot-pointer commit as the single-batch arms; the r16 per-batch
    pending-journal + undo-dir rollback is gone because a crash before
    the flip leaves only a never-pointer-visible dir above the pointed
    version that the next locked writer deletes and re-merges, and a
    crash after the flip leaves at worst an untombstoned displaced dir
    that GC tombstones into its grace window — never a rollback). Replaying an applied key is a no-op; a manifest whose
    recorded history DIVERGES from the requested batch list (fixture
    predicates changed between rounds) rebuilds the pristine compacted
    state into a FRESH version and tombstones the divergent one
    (`_rebuild_pristine_rel` — VERDICT r16 #2: the old rmtree of the
    live slug could crash a lockless reader; now the reader's files
    survive the grace window). Batch semantics per entry match
    `_upserted_orderkey_layout`: updates shift o_orderdate +30 days,
    inserts clone under key + 10^9, deltas derive from the touched
    buckets' rows so each merge job is bucket-file-sized. Both
    composition styles (this stream vs the cloned chain) gate against
    the SAME two-batch oracle: `layout_upsert_inplace_stream` vs
    `layout_upsert_second_batch`. For the Structured Streaming
    foreachBatch driver over a file-source CDC feed, see
    `stream_cdc_upsert` (same motion, micro-batch delivery).

    ``retain=True`` PINS every published version in the pointer's
    ``retained`` list (and records each batch's version in its applied
    entry), so displaced snapshots survive past the grace window for
    TIME TRAVEL — `operators/layout.resolve_layout_rel_version` reads
    any retained version consistently (immutable dirs); dropping a pin
    is rewriting the pointer without that version, after which normal
    tombstone+grace GC collects it. Retention covers versions >= 1;
    the pre-history plain dir (version 0) expires on grace as always.'''
    ns = f"ip{suffix}"
    _incremental_orderkey_layout(
        spark, sf_dir, buckets=buckets, compacted=True, ns=ns,
        tables=("orders",),
    )
    slug, slug_dir, _fp = _layout_slug(sf_dir, buckets, ns)
    rel = "orders_c"
    tname = f"tpch_ic_orders_{slug}"
    specs = [list(b) for b in batches]
    key = "o_orderkey"
    full = load_table(spark, sf_dir, "orders")
    base_ddl = _ddl(full.schema)

    def _applied(p):
        return list((p or {}).get("applied") or [])

    cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
    if (
        [a["batch"] for a in _applied(ptr)] == specs
        # a non-None batch (single-batch spec or a force-rebuild
        # sentinel) or a mid-re-bucket record disqualifies the warm
        # claim even when the applied history matches
        and ptr is not None
        and ptr.get("batch") is None
        and not ptr.get("rebucket")
        and _warm(spark, slug_dir, cur_dir, name=tname)
    ):
        return spark.table(tname)

    stage = (
        f"tpch_iu{suffix}_stream_stage_orders_{slug}",
        os.path.join(slug_dir, f"orders_u{suffix}_stream_stage"),
    )
    with _slug_motion(spark, slug_dir, rel, stage) as (cur_dir, ptr):
        applied = _applied(ptr)
        hist = [a["batch"] for a in applied]
        if (
            (hist and hist != specs[: len(hist)])
            # a pointer committing a single-batch spec, or a rel
            # mid-re-bucket (mixed bucket schemes — merging at the old
            # count against it would drop keys), is not a valid stream
            # base either
            or (
                ptr is not None
                and (ptr.get("batch") is not None or ptr.get("rebucket"))
            )
        ):
            cur_dir, ptr = _rebuild_pristine_rel(
                spark, slug_dir, rel, os.path.join(slug_dir, "orders"),
                key, buckets, slug,
            )
            applied = []
        for spec in specs[len(applied):]:
            batch_key, upd_pred, del_pred, ins_pred = spec
            ins_rows, touched = _cdc_batch(
                full, upd_pred, del_pred, ins_pred, buckets
            )
            cur_v = ptr["version"] if ptr else 0
            entry = {"key": batch_key, "batch": spec, "touched": touched,
                     "version": cur_v if not touched else cur_v + 1}
            if not touched:
                newptr = dict(ptr) if ptr else {"version": 0, "dir": rel}
                newptr.update(
                    {"applied": applied + [entry], "batch": None}
                )
                rewrite_layout_pointer(slug_dir, rel, newptr)
                ptr, applied = newptr, applied + [entry]
                continue
            live = bucket_files(cur_dir)
            touched_files = [
                f for b in touched for f in live.get(b, [])
            ]
            cur = (
                spark.read.parquet(*touched_files)
                if touched_files
                else spark.createDataFrame([], full.schema)
            )
            updates = _cdc_updates(cur, upd_pred)
            upserts = (
                updates if ins_rows is None
                else updates.unionByName(ins_rows)
            )
            plan = plan_bucket_local_merge(
                spark,
                path=cur_dir,
                schema=full.schema,
                key=key,
                buckets=buckets,
                upserts=upserts,
                deletes=cur.filter(F.expr(del_pred)).select(key),
                stage_path=stage[1],
                stage_table=stage[0],
                touched=touched,
            )
            extra = {"applied": applied + [entry], "batch": None,
                     "ddl": base_ddl}
            if retain:
                extra["retained"] = sorted(
                    set((ptr or {}).get("retained") or [])
                    | {entry["version"]}
                )
            skip, staged = _merged_files(plan)
            cur_dir, ptr = _publish(
                spark, slug_dir, rel, (cur_dir, ptr), extra, skip=skip,
                staged=staged, stage=stage,
            )
            applied = applied + [entry]
        _attach_rel_table(
            spark, tname, cur_dir,
            (ptr or {}).get("ddl") or base_ddl, key, buckets,
        )
        commit.clear_tombstone(slug_dir)
    return spark.table(tname)


#: The post-CDC orders view, in SQL, shared by every upsert oracle: base
#: minus update/delete keys, plus the shifted updates, plus the inserted
#: clones (keys + 10^9). DuckDB reproduces the exact batch the layout
#: merge applied, so the hash gates compare full post-MERGE semantics.
_UPSERT_ORDV_SQL = """
    WITH upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate + INTERVAL 30 DAY AS o_orderdate,
               o_orderpriority
        FROM orders
        WHERE o_orderkey % 83 = 0 AND o_orderkey % 503 <> 0
    ), ins AS (
        SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey % 113 = 0
    ), ordv AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey % 83 <> 0 AND o_orderkey % 503 <> 0
        UNION ALL
        SELECT * FROM upd
        UNION ALL
        SELECT * FROM ins
    )
"""

_UPSERT_Q3_SQL = _UPSERT_ORDV_SQL + """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(12,2)))
                AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN ordv ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    """

#: The audit aggregate every CDC gate shares: per-priority row counts
#: (inserts +, deletes −), an exact money sum (any row change moves it),
#: MAX(o_orderkey) (≥ 10^9 iff an insert survived) and the inserted-row
#: count. `_audit` is its Spark side.
_AUDIT_SELECT = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           MAX(o_orderkey) AS max_key,
           COUNT(CASE WHEN o_orderkey >= 1000000000 THEN 1 END)
               AS n_inserted
    FROM ordv
"""
_AUDIT_SQL = _UPSERT_ORDV_SQL + _AUDIT_SELECT + """
    GROUP BY o_orderpriority
"""


def _audit(orders):
    """The audit aggregate over an upserted orders frame; money sums
    in fixed-point cents (functions/exact.py), the oracle keeps the
    bit-identical decimal form."""
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        fsum(cents("o_totalprice"), 2, "total_price"),
        F.max("o_orderkey").alias("max_key"),
        F.count(
            F.when(F.col("o_orderkey") >= _UPSERT_INS_OFFSET, 1)
        ).alias("n_inserted"),
    )


def _q3_upserted_body(spark, sf_dir, lib, ou):
    """TPC-H Q3 over an upserted orders table + the shared compacted
    lineitem — the DataFrame body both upsert arms (cloned / in-place)
    register, so the two gates compare identical query logic over the
    two storage motions."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = ou.filter(
        F.col("o_orderdate")
        < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    ).join(F.broadcast(c), F.col("o_custkey") == c.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    li = lib.filter(
        F.col("l_shipdate")
        > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    disc_price = cents("l_extendedprice") * (
        F.lit(100).cast("long") - cents("l_discount")
    )
    # No ORDER BY on either side: the gate's value-hash is
    # order-insensitive, and a global sort here would hang an Exchange
    # rangepartitioning + Sort over the otherwise sort-free co-located
    # plan the storage test pins.
    return (
        li.join(o.hint("MERGE"), li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(fsum(disc_price, 4, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "tpch_q3_layout_upserted",
    tags=("composite", "storage"),
    oracle=_UPSERT_Q3_SQL,
)
def tpch_q3_layout_upserted(spark, sf_dir):
    """TPC-H Q3 over the UPSERTED incremental layout: a deterministic
    CDC batch (updates shift o_orderdate +30 days on keys ≡0 mod 83,
    deletes remove keys ≡0 mod 503, inserts clone keys ≡0 mod 113 under
    o_orderkey + 10^9) MERGEd bucket-locally into a clone of the
    compacted orders state (`_upserted_orderkey_layout`). The oracle
    applies the same batch in SQL over the raw table, so the hash gate
    falsifies the join-visible failure modes of the file surgery: a
    dropped bucket loses ~1/32 of orders, a double-applied delta
    duplicates rows, a missed update leaves result rows on their old
    o_orderdate (2 updated + 1 deleted key land in the sf0.001 result;
    11 + 3 at sf0.01). Full grouped rows, no LIMIT — top-10 would hide
    all of that. Inserted keys have no lineitem rows, so THIS query
    cannot see them — `layout_upsert_audit` aggregates the upserted
    table directly and is the insert-visibility gate. Plan: still zero
    Exchange on either fact, and zero SMJ sorts — the upsert preserves
    one sorted file per bucket, unlike the append state
    (tests/test_storage.py pins files-untouched + plan)."""
    lib, ou = _upserted_orderkey_layout(spark, sf_dir)
    return _q3_upserted_body(spark, sf_dir, lib, ou)


@register(
    "layout_upsert_audit",
    tags=("composite", "storage"),
    oracle=_AUDIT_SQL,
)
def layout_upsert_audit(spark, sf_dir):
    """Full-table audit of the upserted orders state — the gate that
    makes INSERTS visible (VERDICT r15 #1): Q3 joins lineitem, and the
    inserted clones (o_orderkey + 10^9) have no lineitem rows, so a
    dropped/double-applied insert batch cannot change Q3's result. Here
    every CDC verb lands in the aggregates: per-priority row counts
    (inserts +, deletes −), an exact money sum (any row change moves
    it), MAX(o_orderkey) (≥ 10^9 iff at least one insert survived), and
    the explicit inserted-row count per priority. Exact spelling: the
    Spark side sums fixed-point cents (functions/exact.py — SUM over a
    precision-22 decimal leaves the long-backed fast path,
    ISOLATE_r11.json `tpch_fixedpoint_paired_series`), the oracle keeps
    the bit-identical decimal form."""
    _, ou = _upserted_orderkey_layout(spark, sf_dir, with_lineitem=False)
    return _audit(ou)


#: Second CDC batch: delete original keys ≡0 (mod 307). The `< 10^9`
#: clause keeps it derivable from the raw corpus (the fixture's demo
#: derivation scans `orders`; a production MERGE receives the delta) and
#: guarantees batch 1's inserted clones survive into the audit.
_UPSERT_B2_DEL = "o_orderkey % 307 = 0 AND o_orderkey < 1000000000"

#: The audit over both batches, and the two-batch stream itself: batch 1
#: (update + delete + insert), then batch 2 (the deletes above).
_AUDIT_B2_SQL = _UPSERT_ORDV_SQL + _AUDIT_SELECT + f"""
    WHERE NOT ({_UPSERT_B2_DEL})
    GROUP BY o_orderpriority
"""
_TWO_BATCHES = [
    ("b1", _UPSERT_UPD, _UPSERT_DEL, _UPSERT_INS),
    ("b2", "1 = 0", _UPSERT_B2_DEL, None),
]


@register(
    "layout_upsert_second_batch",
    tags=("composite", "storage"),
    oracle=_AUDIT_B2_SQL,
)
def layout_upsert_second_batch(spark, sf_dir):
    """SUCCESSIVE CDC batches composed through the bucket-local motion —
    the production stream shape: batch 2 (deletes on keys ≡0 mod 307)
    clones batch 1's upserted table (``base_rel="orders_u"``) and merges
    on top, so the result carries BOTH batches' effects; the oracle
    applies the same two-batch composition in SQL over the raw table.
    Falsifies the composition failure modes a single-batch gate can't:
    batch 2 re-deriving from the compacted base instead of batch 1's
    state would resurrect batch 1's deletes and lose its updates/inserts
    (counts, sums, max_key and n_inserted all shift). Audit shape, not
    Q3, so every verb of both batches is result-visible. Batch identity
    is COMMITTED in the marker (the ``batch`` spec): re-running with
    different predicates re-derives instead of serving the stale merge."""
    _upserted_orderkey_layout(spark, sf_dir, with_lineitem=False)
    _, ou2 = _upserted_orderkey_layout(
        spark, sf_dir, suffix="b2", base_rel="orders_u",
        upd_pred="1 = 0", del_pred=_UPSERT_B2_DEL, ins_pred=None,
        with_lineitem=False,
    )
    return _audit(ou2)


@register(
    "layout_upsert_inplace_stream",
    tags=("composite", "storage"),
    oracle=_AUDIT_B2_SQL,
)
def layout_upsert_inplace_stream(spark, sf_dir):
    """The same two-batch CDC composition as `layout_upsert_second_batch`
    executed as an IN-PLACE STREAM (`_upsert_stream_inplace`): batch 1
    (update+delete+insert) and batch 2 (deletes) merge successively into
    ONE table, each batch committed as its own snapshot-pointer version
    with the ordered applied manifest folded inside the pointer (a crash
    before the flip leaves only an unpointed dir the next writer
    deletes; nothing is rolled back). The cloned
    chain and this stream are the two composition styles a production
    CDC pipeline chooses between, and both gate against the SAME DuckDB
    two-batch oracle — a divergence between them (e.g. batch 2 merging
    against the wrong base state) hash-fails one of the twins."""
    return _audit(_upsert_stream_inplace(spark, sf_dir, batches=_TWO_BATCHES))


def _retained_stream(spark, sf_dir, suffix: str) -> str:
    """Run the retained two-batch in-place stream in namespace
    ``ip{suffix}`` (warm when committed); returns its slug dir."""
    _upsert_stream_inplace(
        spark, sf_dir, batches=_TWO_BATCHES, suffix=suffix, retain=True
    )
    return _layout_slug(sf_dir, _BUCKETS, f"ip{suffix}")[1]


def _heal_or_invalidate(slug_dir, rel, resolve):
    """The time-travel self-heal's pointer invalidation, UNDER the
    slug's write lock (VERDICT r17 advice: the previous lockless
    load→mutate→rewrite of ``{rel}_current.json`` was the one
    unserialized pointer rewrite left in the repo — a concurrent locked
    publish landing between the load and the rewrite got clobbered by
    the stale copy, violating layout.py's own "publishes are
    serialized" contract). After acquiring, ``resolve`` re-runs first:
    a concurrent writer may have already healed the rel while we
    waited, in which case its result is returned and the pointer is
    NOT touched. Returns None after marking the pointer invalid — the
    caller then replays the stream outside the lock (the stream takes
    the same slug lock itself)."""
    with slug_write_lock(slug_dir):
        try:
            return resolve()
        except FileNotFoundError:
            ptr = load_layout_pointer(slug_dir, rel)
            ptr["batch"] = ["retained-snapshot-missing"]
            rewrite_layout_pointer(slug_dir, rel, ptr)
            return None


@register(
    "layout_time_travel",
    tags=("composite", "storage"),
    oracle=_AUDIT_SQL,
)
def layout_time_travel(spark, sf_dir):
    """TIME TRAVEL over the versioned layout (r17): after a two-batch
    CDC stream with snapshot RETENTION, read the table AS OF the
    post-batch-1 version — the oracle is the single-batch post-CDC
    state, so the gate falsifies both failure modes: a time-travel read
    that leaks batch 2's deletes (reading the current version) and one
    that misses batch 1 (reading the pre-history). Mechanics: every
    version dir is immutable once published, so "as of version N" is
    one pointer-less parquet read of ``{rel}_v{N}``
    (`operators/layout.resolve_layout_rel_version`); ``retain=True``
    pins the displaced versions in the pointer's ``retained`` list,
    which `gc_layout_versions` exempts from tombstone+grace collection —
    bounded, explicit history like a table format's snapshot retention,
    not an unbounded log. The version to read comes from the applied
    manifest (each batch entry records the version it published), so
    the query is stable across pristine rebuilds that shift version
    numbers. The snapshot is read with the pointer's committed DDL, so
    the build infers no footer schema."""
    from pycaim_spark.operators.layout import resolve_layout_rel_version

    slug_dir = _retained_stream(spark, sf_dir, "tt")

    def _as_of_b1_path():
        ptr = load_layout_pointer(slug_dir, "orders_c")
        [v] = [
            a["version"] for a in ptr["applied"] if a["key"] == "b1"
        ]
        return ptr, resolve_layout_rel_version(slug_dir, "orders_c", v)

    try:
        ptr, path = _as_of_b1_path()
    except FileNotFoundError:
        # The pinned snapshot was unpinned and collected (an operator
        # dropped retention): self-heal by forcing a pristine replay of
        # the stream — marking the pointer's batch invalid routes the
        # next call through the rebuild-and-replay path, which
        # republishes (and re-pins) every version.
        healed = _heal_or_invalidate(
            slug_dir, "orders_c", _as_of_b1_path,
        )
        if healed is None:
            # Replay outside the slug lock: the stream takes it
            # itself (flock on a second fd of the same file
            # self-deadlocks).
            _retained_stream(spark, sf_dir, "tt")
            healed = _as_of_b1_path()
        ptr, path = healed
    return _audit(spark.read.schema(ptr["ddl"]).parquet(path))


@register(
    "layout_history",
    tags=("composite", "storage"),
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'cdc', 'b1'),
        (CAST(2 AS BIGINT), 'cdc', 'b2')
    ) AS t(ordinal, kind, batch_key)
    """,
)
def layout_history_query(spark, sf_dir):
    """SNAPSHOT-LOG QUERY (r18, VERDICT r17 #5): list the readable
    history of a retained two-batch CDC stream — every publish now
    writes a ``_commit.json`` record {version, ts, kind, key}
    ATOMICALLY WITH its version dir (before the pointer flip, so a
    version is never pointer-visible without its record), and
    `operators/layout.layout_history` returns the records of the
    versions still readable (current + retained pins). The fixture
    retains both batch snapshots, so the log is exactly two CDC
    commits in order — ordinals, not raw version numbers, because a
    pristine rebuild legitimately shifts versions while the READABLE
    history stays the two pinned snapshots (the rebuild's own
    intermediate version is displaced by batch 1's publish and leaves
    the readable set). Bounded, explicit retention: an expired
    snapshot leaves the log when it leaves time travel — same
    doctrine, one source of truth. Timestamp resolution on top of the
    same records (`resolve_layout_rel_asof_ts`) is pinned by
    tests/test_storage.py test_layout_history_and_asof_ts."""
    from pycaim_spark.operators.layout import layout_history

    hist = layout_history(_retained_stream(spark, sf_dir, "hi"), "orders_c")
    return spark.createDataFrame(
        [(i + 1, rec["kind"], rec["key"]) for i, rec in enumerate(hist)],
        "ordinal bigint, kind string, batch_key string",
    )


@register(
    "layout_time_travel_ts",
    tags=("composite", "storage"),
    oracle=_AUDIT_SQL,
)
def layout_time_travel_ts(spark, sf_dir):
    """TIME TRAVEL BY TIMESTAMP (r18, VERDICT r17 #5): read the
    retained two-batch stream's table AS OF batch 1's COMMIT TIME —
    `resolve_layout_rel_asof_ts` maps the timestamp (taken from the
    snapshot log's own commit record, so the query is stable across
    pristine rebuilds that shift versions and clocks) to the newest
    readable version committed at or before it. The oracle is the
    single-batch post-CDC state — identical to `layout_time_travel`'s
    version-number gate, so the two resolution paths are pinned to the
    same frame: a timestamp resolution that leaks batch 2's deletes
    (rounding up) or misses batch 1 (rounding down) hash-fails. Read
    with the pointer's committed DDL, like `layout_time_travel`."""
    from pycaim_spark.operators.layout import (
        layout_history,
        resolve_layout_rel_asof_ts,
    )

    slug_dir = _retained_stream(spark, sf_dir, "hi")
    [b1_ts] = [
        rec["ts"] for rec in layout_history(slug_dir, "orders_c")
        if rec["key"] == "b1"
    ]
    ddl = load_layout_pointer(slug_dir, "orders_c")["ddl"]
    return _audit(spark.read.schema(ddl).parquet(
        resolve_layout_rel_asof_ts(slug_dir, "orders_c", b1_ts)
    ))


def _cdc_sink_apply_micro_batch(
    spark, bdf, *, slug_dir, rel, specs, stage, sname,
    buckets, key, columns, schema, base_ddl,
):
    """The foreachBatch sink body (module-level so tests can drive it
    with a hand-built micro-batch): manifest-key idempotence guard,
    then the production MERGE (delta DataFrames in, touched buckets
    from the delta alone), then the pointer-publish commit.

    A micro-batch may carry MORE THAN ONE feed file (ADVICE r17 #2:
    ``maxFilesPerTrigger`` is admission control, not a guarantee — a
    restart after raising the option, or a source that coalesces,
    delivers several files in one trigger). Applying all rows under the
    first file's key would silently merge batch 2 under batch 1's
    manifest entry IN ONE PASS — changing update-then-delete ordering
    for overlapping keys (a key updated by batch 1 and deleted by
    batch 2 would SURVIVE, because a single merge pass applies upserts
    after deletes) and desynchronizing the applied manifest. So the
    handler groups the micro-batch by ``batch_key`` and applies each
    CDC batch as its own sequential merge+publish in feed (spec) order;
    each gets its own manifest entry and snapshot commit. The
    distinct-key collect is bounded by the number of feed batches."""
    bkeys = [
        r.batch_key
        for r in bdf.select("batch_key").distinct().collect()
    ]
    if not bkeys:
        return  # empty micro-batch
    spec_by_key = {s[0]: s for s in specs}
    order = {s[0]: i for i, s in enumerate(specs)}
    with _slug_motion(spark, slug_dir, rel) as (cur_dir, ptr):
        applied = list((ptr or {}).get("applied") or [])
        for bkey in sorted(bkeys, key=lambda k: order[k]):
            if any(a["key"] == bkey for a in applied):
                continue  # redelivery (checkpoint lost/crashed): no-op
            sub = bdf.filter(F.col("batch_key") == bkey)
            _drop_stage(spark, sname, stage)
            ups = sub.filter(F.col("op").isin("U", "I")).select(*columns)
            dels = sub.filter(F.col("op") == "D").select(key)
            plan = plan_bucket_local_merge(
                spark,
                path=cur_dir,
                schema=schema,
                key=key,
                buckets=buckets,
                upserts=ups,
                deletes=dels,
                stage_path=stage,
                stage_table=sname,
            )
            entry = {
                "key": bkey,
                "batch": spec_by_key[bkey],
                "touched": plan["touched"],
            }
            skip, staged = _merged_files(plan)
            cur_dir, ptr = _publish(
                spark, slug_dir, rel, (cur_dir, ptr),
                {"applied": applied + [entry], "batch": None,
                 "ddl": base_ddl},
                skip=skip, staged=staged, stage=(sname, stage),
            )
            applied = applied + [entry]


def _stream_cdc_feed_and_sink(spark, sf_dir, buckets: int = _BUCKETS,
                              suffix: str = "cd"):
    """Structured Streaming foreachBatch CDC sink over the bucket-local
    MERGE core (VERDICT r16 #4) — the layout-side twin of the signature
    store's `dedup_stream_ingest`: a FILE-SOURCE CDC feed (one parquet
    file per batch, rows = op('U'/'D'/'I') + full order columns +
    batch_key) is read with ``maxFilesPerTrigger=1`` under
    ``Trigger.AvailableNow``, and each micro-batch drives
    `plan_bucket_local_merge` through the PRODUCTION contract: upserts/
    deletes as DataFrames, touched buckets computed from the DELTA ALONE
    (no predicate scaffolding inside the sink), committed by the
    snapshot-pointer publish with the batch key appended to the applied
    manifest INSIDE the pointer.

    Idempotence has two interlocking layers, and their ORDER is the
    crash-safety argument: the handler publishes (pointer flip = the
    commit) BEFORE Structured Streaming commits its checkpoint, so a
    crash between them re-delivers the file and the manifest-key guard
    makes the redelivery a NO-OP — the applied manifest is the
    batch-id guard, the checkpoint is only a cursor. A checkpoint wiped
    entirely (new environment) replays every file; every key is in the
    manifest; nothing double-applies.

    The demo feed carries the SAME two fixture batches as
    `_upsert_stream_inplace`'s `layout_upsert_inplace_stream` twin, so
    the registered query gates against the identical two-batch DuckDB
    oracle — micro-batch delivery must be invisible in the result. Feed
    staleness (fixture predicates changed) rebuilds feed + checkpoint +
    pristine table under the slug lock (tombstone-not-rmtree for the table,
    like every divergence path since r17)."""
    configure_session(spark)
    specs = [[f"cdc-{k}", *rest] for k, *rest in _TWO_BATCHES]
    ns = f"ip{suffix}"
    _incremental_orderkey_layout(
        spark, sf_dir, buckets=buckets, compacted=True, ns=ns,
        tables=("orders",),
    )
    slug, slug_dir, _fp = _layout_slug(sf_dir, buckets, ns)
    rel = "orders_c"
    tname = f"tpch_ic_orders_{slug}"
    feed = os.path.join(slug_dir, "cdc_feed")
    ckpt = os.path.join(slug_dir, "cdc_ckpt")
    feed_spec = os.path.join(slug_dir, "cdc_feed_spec.json")
    key = "o_orderkey"
    full = load_table(spark, sf_dir, "orders")
    base_ddl = _ddl(full.schema)

    def _applied(p):
        return list((p or {}).get("applied") or [])

    cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
    if (
        [a["batch"] for a in _applied(ptr)] == specs
        and ptr is not None
        and ptr.get("batch") is None
        and not ptr.get("rebucket")
        # A missing checkpoint means the stream's cursor is gone — the
        # warm claim "every file was processed" can't be made from the
        # pointer alone, so run the stream: it re-creates the
        # checkpoint, redelivers every file, and the manifest guard
        # no-ops each one (the redelivery-idempotence path, pinned by
        # tests/test_storage.py test_stream_cdc_sink_redelivery_and_twin).
        and os.path.isdir(ckpt)
        and _warm(spark, slug_dir, cur_dir, name=tname)
    ):
        return spark.table(tname)

    with _slug_motion(spark, slug_dir, rel) as (cur_dir, ptr):
        applied = _applied(ptr)
        hist = [a["batch"] for a in applied]
        cur_spec = None
        if os.path.exists(feed_spec):
            try:
                import json as _json

                with open(feed_spec) as f:
                    cur_spec = _json.load(f)
            except (OSError, ValueError):
                cur_spec = None
        if (
            (hist and hist != specs[: len(hist)])
            or (
                ptr is not None
                and (ptr.get("batch") is not None or ptr.get("rebucket"))
            )
            or (os.path.isdir(feed) and cur_spec != specs)
        ):
            # Divergent history or stale feed: pristine table rebuild
            # (tombstone, never rmtree — readers keep their files), feed
            # + checkpoint reset (process-private state, safe to wipe:
            # no lockless reader ever resolves them).
            cur_dir, ptr = _rebuild_pristine_rel(
                spark, slug_dir, rel, os.path.join(slug_dir, "orders"),
                key, buckets, slug,
            )
            shutil.rmtree(feed, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
        if not os.path.isdir(feed):
            # Build the feed: one parquet FILE per CDC batch, mtimes
            # ordered so the file source delivers batches in sequence.
            import time as _time

            os.makedirs(feed)
            t0 = _time.time() - 1000
            for i, (bkey, upd, dele, ins) in enumerate(specs):
                parts = [
                    _cdc_updates(full, upd).withColumn("op", F.lit("U")),
                    full.filter(F.expr(dele)).withColumn(
                        "op", F.lit("D")
                    ),
                ]
                if ins is not None:
                    parts.append(
                        _cdc_inserts(full, ins).withColumn("op", F.lit("I"))
                    )
                bdf = parts[0]
                for p in parts[1:]:
                    bdf = bdf.unionByName(p)
                bdf = bdf.withColumn("batch_key", F.lit(bkey)).select(
                    "op", "batch_key", *full.columns
                )
                tmp = os.path.join(slug_dir, f"cdc_feed_tmp_{i}")
                bdf.coalesce(1).write.mode("overwrite").parquet(tmp)
                part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
                dst = os.path.join(feed, f"batch-{i}.parquet")
                shutil.move(part, dst)
                shutil.rmtree(tmp, ignore_errors=True)
                os.utime(dst, (t0 + 10 * i, t0 + 10 * i))
            commit.write_json_atomic(feed_spec, specs)
        feed_schema = spark.read.parquet(
            os.path.join(feed, "batch-0.parquet")
        ).schema

    stage = os.path.join(slug_dir, f"orders_u{suffix}_stream_stage")
    sname = f"tpch_iu{suffix}_stream_stage_orders_{slug}"

    def _apply_cdc_batch(bdf, batch_id):
        _cdc_sink_apply_micro_batch(
            spark, bdf, slug_dir=slug_dir,
            rel=rel, specs=specs, stage=stage, sname=sname,
            buckets=buckets, key=key, columns=full.columns,
            schema=full.schema, base_ddl=base_ddl,
        )

    q = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(_apply_cdc_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    with slug_write_lock(slug_dir):
        cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
        _attach_rel_table(
            spark, tname, cur_dir,
            (ptr or {}).get("ddl") or base_ddl, key, buckets,
        )
        commit.clear_tombstone(slug_dir)
    return spark.table(tname)


@register(
    "stream_cdc_upsert",
    tags=("composite", "storage", "stream"),
    oracle=_AUDIT_B2_SQL,
)
def stream_cdc_upsert(spark, sf_dir):
    """The SAME two-batch CDC composition as `layout_upsert_second_batch`
    / `layout_upsert_inplace_stream`, delivered through a REAL Structured
    Streaming foreachBatch sink over a file-source CDC feed
    (`_stream_cdc_feed_and_sink` — VERDICT r16 #4): micro-batch arrival,
    checkpointed cursor, applied-manifest batch-key guard (redelivery =
    no-op, asserted in tests/test_storage.py), snapshot-pointer commit
    per batch. Three surfaces now gate against ONE DuckDB two-batch
    oracle — the cloned chain, the batch-loop stream, and this streaming
    sink — so any divergence between composition styles hash-fails a
    twin. Unlike those twins, the sink exercises the PRODUCTION merge
    contract end-to-end: the delta arrives as DataFrames and the touched
    buckets are computed from the delta's keys alone."""
    ou = _stream_cdc_feed_and_sink(spark, sf_dir)
    return _audit(ou)


#: Schema-evolution CDC batch (VERDICT r16 #3): the update+insert rows
#: carry a NEW column. The channel expr is deterministic from the key so
#: DuckDB reproduces it; inserts compute it from the SHIFTED key (the
#: withColumn runs after the key offset, which is also what a real feed
#: would deliver — the new key's attribute).
_UPSERT_EV_COL = ("o_channel", "concat('chan-', CAST(o_orderkey % 7 AS STRING))")

_UPSERT_EV_CTE = """
    WITH upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate + INTERVAL 30 DAY AS o_orderdate,
               o_orderpriority,
               'chan-' || CAST(o_orderkey % 7 AS VARCHAR) AS o_channel
        FROM orders
        WHERE o_orderkey % 83 = 0 AND o_orderkey % 503 <> 0
    ), ins AS (
        SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
               'chan-' || CAST((o_orderkey + 1000000000) % 7 AS VARCHAR)
                   AS o_channel
        FROM orders
        WHERE o_orderkey % 113 = 0
    ), ordv AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority,
               CAST(NULL AS VARCHAR) AS o_channel
        FROM orders
        WHERE o_orderkey % 83 <> 0 AND o_orderkey % 503 <> 0
        UNION ALL
        SELECT * FROM upd
        UNION ALL
        SELECT * FROM ins
    )
"""

_UPSERT_EV_SQL = _UPSERT_EV_CTE + """
    SELECT o_channel,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           MAX(o_orderkey) AS max_key
    FROM ordv
    GROUP BY o_channel
"""


@register(
    "layout_upsert_schema_evolve",
    tags=("composite", "storage"),
    oracle=_UPSERT_EV_SQL,
)
def layout_upsert_schema_evolve(spark, sf_dir):
    """SCHEMA-EVOLUTION MERGE arm (VERDICT r16 #3): the CDC batch's
    update+insert rows carry a column the base table lacks
    (``o_channel``). The merge unions with ``allowMissingColumns`` so
    the touched buckets' resident rows null-fill, the staged files carry
    the evolved schema, the EVOLVED DDL is committed inside the snapshot
    pointer, and the table re-attaches with the new column from any
    session; untouched buckets keep their old-schema parquet files,
    which the scan null-fills per the table schema — the standard
    additive-column posture (a production CDC stream eventually adds a
    column; pre-r17 the merge would have failed the strict union).
    Gate: grouping BY the new column makes every failure mode
    result-visible — a dropped evolution loses the non-null groups, a
    mis-null-filled resident row deflates the NULL group, and the DuckDB
    oracle reproduces the exact three-way union (base rows with NULL
    channel, updates/inserts with the key-derived channel). A
    pre-evolution reader of untouched buckets still works:
    tests/test_storage.py `test_upsert_schema_evolution_arm`."""
    _, ou = _upserted_orderkey_layout(
        spark, sf_dir, suffix="ev", with_lineitem=False,
        add_col=_UPSERT_EV_COL,
    )
    return ou.groupBy("o_channel").agg(
        F.count(F.lit(1)).alias("n_orders"),
        fsum(cents("o_totalprice"), 2, "total_price"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "layout_upsert_evolve_second",
    tags=("composite", "storage"),
    oracle=_UPSERT_EV_CTE + f"""
    SELECT o_channel,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           MAX(o_orderkey) AS max_key
    FROM ordv
    WHERE NOT ({_UPSERT_B2_DEL})
    GROUP BY o_channel
    """,
)
def layout_upsert_evolve_second(spark, sf_dir):
    """A SECOND CDC batch chained onto a SCHEMA-EVOLVED base — the
    composition that found a real r17 bug: reading the touched buckets'
    mixed-schema files by parquet inference sampled one footer, and an
    old-schema footer silently DROPPED the evolved column from every
    resident row (a delete batch lost o_channel entirely). The merge
    core now reads the base with its COMMITTED schema and every batch
    inherits the source state's evolved DDL forward, so batch 2's
    deletes leave batch 1's channels intact and null-fills where they
    were null. The oracle reproduces evolve-then-delete in SQL and
    groups BY the evolved column — any dropped or nulled channel value
    shifts the groups."""
    _upserted_orderkey_layout(
        spark, sf_dir, suffix="ev", with_lineitem=False,
        add_col=_UPSERT_EV_COL,
    )
    _, ou2 = _upserted_orderkey_layout(
        spark, sf_dir, suffix="evb2", base_rel="orders_uev",
        upd_pred="1 = 0", del_pred=_UPSERT_B2_DEL, ins_pred=None,
        with_lineitem=False,
    )
    return ou2.groupBy("o_channel").agg(
        F.count(F.lit(1)).alias("n_orders"),
        fsum(cents("o_totalprice"), 2, "total_price"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "tpch_q3_layout_upserted_inplace",
    tags=("composite", "storage"),
    oracle=_UPSERT_Q3_SQL,
)
def tpch_q3_layout_upserted_inplace(spark, sf_dir):
    """TPC-H Q3 over the IN-PLACE upsert arm (VERDICT r15 #2): the same
    CDC batch MERGEd directly into the compacted orders table of a
    private layout namespace. Both arms commit through the snapshot
    pointer: the next version hard-links the untouched buckets' files
    and moves in the staged rewrites, so neither copies table bytes (the
    cloned arm's clone of its base rel is hard links too). Crash safety
    is the pointer flip plus tombstone-and-grace GC of the displaced
    version (see `_upserted_orderkey_layout`).
    Identical oracle and query body as tpch_q3_layout_upserted: both
    arms must produce the same post-MERGE table."""
    lib, ou = _upserted_orderkey_layout(spark, sf_dir, inplace=True)
    return _q3_upserted_body(spark, sf_dir, lib, ou)


#: Incremental re-bucket fixture geometry: a PRIVATE 8-bucket orders
#: layout split toward 16 — small counts keep the fixture cheap while
#: exercising both migration states (mixed and complete).
_SPLIT_FROM = 8
_SPLIT_FACTOR = 2


def _split_orderkey_layout(
    spark, sf_dir, full_split: bool = False, suffix: str = "sph",
    buckets: int = _SPLIT_FROM, factor: int = _SPLIT_FACTOR,
):
    """Incremental RE-BUCKET (bucket split, VERDICT r16 #5): bucket
    count is the dominant upsert-cost knob (SCALING_r16.json: the same
    15-key batch stages 40.6% of the table at 32 buckets vs 2.9% at
    512), but changing a live layout's count classically means a full
    rebuild. The standard answer is a BUCKET-LOCAL split: each parent
    bucket's rows partition into ``factor`` children under the doubled
    modulus — for n_to = factor·n_from, ``pmod(hash, n_to)`` of every
    row in parent p is in {p, p+n_from, ..., p+(factor-1)·n_from}, so
    splitting parent p reads and rewrites ONLY p's file (asserted: a
    staged child outside p's child set aborts the motion). Untouched
    parents stay unsplit until their pass — progressive migration;
    each pass publishes a snapshot-pointer version whose ``rebucket``
    record carries {from, to, done}, so migration progress commits
    atomically like every other layout mutation and a crash mid-pass
    leaves only an unpointed version dir.

    MID-MIGRATION the directory mixes two bucket schemes, so the table
    attaches PLAIN (no CLUSTERED BY — Spark must not trust either
    count; queries stay correct, co-location is suspended: the measured
    price of migrating without a rebuild). Child ids are unambiguous
    against unsplit parents: a file with id i < n_from is parent i's
    file iff i is not in ``done`` (children with id i only exist once
    parent i's file is gone). COMPLETE, the dir has one sorted file per
    n_to bucket and re-attaches CLUSTERED INTO n_to BUCKETS — bucket
    trust and Exchange-free plans resume at the finer count
    (tests/test_storage.py pins the plan). Half and full phases run in
    SEPARATE namespaces (``ipsph`` / ``ipspf``) so the two registered
    gates never flip one layout's state back and forth; the full phase
    executes both passes, exercising the progressive chain end-to-end.
    Returns the orders DataFrame over the current migration state."""
    ns = f"ip{suffix}"
    _incremental_orderkey_layout(
        spark, sf_dir, buckets=buckets, compacted=True, ns=ns,
        tables=("orders",),
    )
    slug, slug_dir, _fp = _layout_slug(sf_dir, buckets, ns)
    rel = "orders_c"
    tname = f"tpch_rb_orders_{slug}"
    n_to = buckets * factor
    half = list(range(buckets // 2))
    passes = [half] + ([list(range(buckets // 2, buckets))]
                       if full_split else [])
    want_done = sorted(p for g in passes for p in g)
    key = "o_orderkey"
    base_ddl = _ddl(load_table(spark, sf_dir, "orders").schema)

    def _rb(p):
        return (p or {}).get("rebucket") or {}

    cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
    if (
        _rb(ptr).get("done") == want_done
        and _rb(ptr).get("to") == n_to
        and _warm(spark, slug_dir, cur_dir, name=tname)
    ):
        return spark.table(tname)

    stage = (
        f"tpch_rb{suffix}_stage_orders_{slug}",
        os.path.join(slug_dir, f"orders_split{suffix}_stage"),
    )
    with _slug_motion(spark, slug_dir, rel, stage) as (cur_dir, ptr):
        state = _rb(ptr)
        if ptr is not None and (
            ptr.get("batch") is not None
            or (state and state.get("to") != n_to)
        ):
            # Not a valid split base (a CDC-mutated state, or a split
            # toward a different target): pristine rebuild, tombstoned.
            cur_dir, ptr = _rebuild_pristine_rel(
                spark, slug_dir, rel, os.path.join(slug_dir, "orders"),
                key, buckets, slug,
            )
            state = {}
        done = list(state.get("done", []))
        for group in passes:
            todo = sorted(p for p in group if p not in done)
            if not todo:
                continue
            live = bucket_files(cur_dir)
            parent_files = [f for b in todo for f in live.get(b, [])]
            _save_bucketed(
                spark.read.parquet(*parent_files), n_to, key, stage[1],
                stage[0],
            )
            staged = bucket_files(stage[1])
            allowed = {
                p + j * buckets for p in todo for j in range(factor)
            }
            stray = sorted(set(staged) - allowed)
            if stray:
                raise AssertionError(
                    f"split of parents {todo} staged children in "
                    f"unpredicted buckets {stray}: pmod(hash, {n_to}) "
                    f"no longer refines pmod(hash, {buckets}) — "
                    "aborting before mis-placing rows"
                )
            done = sorted(done + todo)
            cur_dir, ptr = _publish(
                spark, slug_dir, rel, (cur_dir, ptr),
                {"batch": None, "ddl": base_ddl,
                 "rebucket": {"from": buckets, "to": n_to, "done": done}},
                skip={os.path.basename(f) for f in parent_files},
                staged=[f for fs in staged.values() for f in fs],
                stage=stage,
            )
        complete = done == sorted(range(buckets))
        _attach_rel_table(
            spark, tname, cur_dir, base_ddl, key,
            n_to if complete else buckets, bucketed=complete,
        )
        commit.clear_tombstone(slug_dir)
    return spark.table(tname)

@register(
    "tpch_q3_layout_split_half",
    tags=("composite", "storage"),
    oracle=_Q3_SQL,
)
def tpch_q3_layout_split_half(spark, sf_dir):
    """TPC-H Q3 over a HALF-SPLIT re-bucketed orders layout (VERDICT r16
    #5): parents 0..3 of an 8-bucket table split into 16-bucket
    children, parents 4..7 still unsplit — the directory mixes two
    bucket schemes, so the table is attached PLAIN and the join plan
    shuffles (the suspended-co-location price of migrating without a
    rebuild). The oracle is the plain Q3 SQL: a split is a pure
    physical rewrite, so any row lost, duplicated or mis-placed by the
    file surgery hash-fails here. File-level locality (splitting bucket
    b touches only b's file) is pinned by tests/test_storage.py."""
    ou = _split_orderkey_layout(spark, sf_dir, full_split=False,
                                suffix="sph")
    li = load_table(spark, sf_dir, "lineitem")
    return _q3_over_layout(spark, sf_dir, li, ou)


@register(
    "tpch_q3_layout_split_full",
    tags=("composite", "storage"),
    oracle=_Q3_SQL,
)
def tpch_q3_layout_split_full(spark, sf_dir):
    """TPC-H Q3 over the COMPLETED re-bucket: both split passes applied
    (0..3 then 4..7 — the progressive chain), one sorted file per
    16-bucket, table re-attached CLUSTERED INTO 16 BUCKETS so bucket
    trust and Exchange-free aggregation resume at the finer count
    (tests/test_storage.py asserts the o_orderkey aggregate plan has no
    Exchange). Same plain-Q3 oracle: the full migration must be
    invisible in query results."""
    ou = _split_orderkey_layout(spark, sf_dir, full_split=True,
                                suffix="spf")
    li = load_table(spark, sf_dir, "lineitem")
    return _q3_over_layout(spark, sf_dir, li, ou)


@register(
    "layout_split_then_upsert",
    tags=("composite", "storage"),
    oracle=_AUDIT_SQL,
)
def layout_split_then_upsert(spark, sf_dir):
    """The composed MIGRATE-THEN-CDC lifecycle: a completed re-bucket
    (8 → 16, both split passes) followed by the standard CDC batch
    MERGEd bucket-locally AT THE FINER COUNT — the gate that a migrated
    table is a full CDC citizen, not merely queryable. The upsert arm
    derives its effective bucket count from the pointer's completed
    ``rebucket`` record (hash-routing, touched-bucket prediction, the
    staged write and the bucketed attach all run at 16), and the
    migration record travels forward in the post-merge pointer so later
    batches and fresh sessions keep the finer-count trust. The oracle is
    the single-batch post-CDC audit over the raw table: the migration
    must be invisible, the merge exact. Guarded the other way too: an
    INCOMPLETE re-bucket is never a valid merge base
    (tests/test_storage.py test_upsert_refuses_mid_rebucket_base)."""
    slug_dir = _layout_slug(sf_dir, _SPLIT_FROM, "ipspu")[1]
    if not rebucket_complete(load_layout_pointer(slug_dir, "orders_c")):
        # (Re-)run the migration only when the composed state isn't
        # already committed — the upsert's pointer carries the completed
        # rebucket record forward, and re-running the split over a
        # CDC-mutated table would (correctly) reset it pristine.
        _split_orderkey_layout(
            spark, sf_dir, full_split=True, suffix="spu"
        )
    _, ou = _upserted_orderkey_layout(
        spark, sf_dir, suffix="spu", inplace=True, with_lineitem=False,
        buckets=_SPLIT_FROM,
    )
    return _audit(ou)


def _coalesce_orderkey_layout(
    spark, sf_dir, suffix: str, buckets: int = _SPLIT_FROM,
    factor: int = _SPLIT_FACTOR,
):
    """Incremental bucket COALESCE — the inverse re-bucket motion
    (merge-down, for a table left over-bucketed after data shrinks or a
    too-aggressive split): output bucket p at count n gathers exactly
    the files of buckets {p, p+n, ..., p+(factor-1)·n} at count
    factor·n — pmod(hash, n) of every row in those children is p, so
    coalescing output p reads only its children's files (asserted: a
    staged file outside {p} aborts). Same snapshot-pointer commit and
    progressive per-pass ``rebucket`` record as the split (units =
    output buckets = min(from, to)); mid-migration attaches plain,
    complete re-attaches CLUSTERED at the coarser count. REQUIRES its
    base: a completed split to factor·n (or its own partial progress) —
    anything else raises; the round-trip query orchestrates the
    sequence."""
    slug, slug_dir, _fp = _layout_slug(sf_dir, buckets, f"ip{suffix}")
    rel = "orders_c"
    tname = f"tpch_rb_orders_{slug}"
    n_from = buckets * factor  # coalescing FROM the split count
    passes = [list(range(buckets // 2)),
              list(range(buckets // 2, buckets))]
    want_done = list(range(buckets))
    key = "o_orderkey"
    base_ddl = _ddl(load_table(spark, sf_dir, "orders").schema)

    def _rb(p):
        return (p or {}).get("rebucket") or {}

    cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
    state = _rb(ptr)
    if (
        state.get("from") == n_from
        and state.get("to") == buckets
        and sorted(state.get("done", [])) == want_done
        and _warm(spark, slug_dir, cur_dir, name=tname)
    ):
        return spark.table(tname)

    stage = (
        f"tpch_rb{suffix}_cstage_orders_{slug}",
        os.path.join(slug_dir, f"orders_coalesce{suffix}_stage"),
    )
    with _slug_motion(spark, slug_dir, rel, stage) as (cur_dir, ptr):
        state = _rb(ptr)
        if ptr is None or ptr.get("batch") is not None:
            raise RuntimeError(
                "coalesce requires a pure completed-split base "
                f"(got pointer={ptr and ptr.get('batch')})"
            )
        if state.get("from") == buckets and state.get("to") == n_from \
                and sorted(state.get("done", [])) == want_done:
            done = []  # completed split: begin coalescing
        elif state.get("from") == n_from and state.get("to") == buckets:
            done = sorted(state.get("done", []))  # resume partial
        else:
            raise RuntimeError(
                f"coalesce base must be a completed {buckets}->{n_from} "
                f"split or a partial coalesce; got rebucket={state}"
            )
        for group in passes:
            todo = sorted(p for p in group if p not in done)
            if not todo:
                continue
            live = bucket_files(cur_dir)
            child_files = [
                f
                for p in todo
                for j in range(factor)
                for f in live.get(p + j * buckets, [])
            ]
            _save_bucketed(
                spark.read.parquet(*child_files), buckets, key, stage[1],
                stage[0],
            )
            staged = bucket_files(stage[1])
            stray = sorted(set(staged) - set(todo))
            if stray:
                raise AssertionError(
                    f"coalesce of outputs {todo} staged files in "
                    f"unpredicted buckets {stray}: pmod(hash, "
                    f"{buckets}) does not coarsen pmod(hash, {n_from}) "
                    "— aborting before mis-placing rows"
                )
            done = sorted(done + todo)
            cur_dir, ptr = _publish(
                spark, slug_dir, rel, (cur_dir, ptr),
                {"batch": None, "ddl": base_ddl,
                 "rebucket": {"from": n_from, "to": buckets, "done": done}},
                skip={os.path.basename(f) for f in child_files},
                staged=[f for fs in staged.values() for f in fs],
                stage=stage,
            )
        complete = done == want_done
        _attach_rel_table(
            spark, tname, cur_dir, base_ddl, key,
            buckets if complete else n_from, bucketed=complete,
        )
        commit.clear_tombstone(slug_dir)
    return spark.table(tname)

@register(
    "tpch_q3_layout_rebucket_roundtrip",
    tags=("composite", "storage"),
    oracle=_Q3_SQL,
)
def tpch_q3_layout_rebucket_roundtrip(spark, sf_dir):
    """Re-bucket ROUND TRIP: split 8 -> 16 (two passes), then coalesce
    16 -> 8 (two passes) — four progressive pointer commits on one rel,
    ending back at one sorted file per original bucket with CLUSTERED-
    BY-8 trust re-attached. The plain Q3 oracle gates the whole chain as
    a pure physical no-op: any row lost, duplicated or mis-placed across
    the four motions hash-fails. The coalesce is the inverse production
    knob (a table left over-bucketed after shrink or an over-aggressive
    split); its per-output locality (output p reads only children
    {p, p+8}) is asserted in the motion and file-pinned in
    tests/test_storage.py."""
    slug_dir = _layout_slug(sf_dir, _SPLIT_FROM, "ipco")[1]
    ptr = load_layout_pointer(slug_dir, "orders_c")
    state = (ptr or {}).get("rebucket") or {}
    roundtrip_done = (
        state.get("from") == 2 * _SPLIT_FROM
        and state.get("to") == _SPLIT_FROM
        and sorted(state.get("done", [])) == list(range(_SPLIT_FROM))
    )
    if not roundtrip_done:
        # Orchestrate the chain only when the final state isn't already
        # committed (re-running the split over a coalesced table would
        # correctly reset it pristine and redo the whole trip).
        _split_orderkey_layout(
            spark, sf_dir, full_split=True, suffix="co"
        )
    ou = _coalesce_orderkey_layout(spark, sf_dir, suffix="co")
    li = load_table(spark, sf_dir, "lineitem")
    return _q3_over_layout(spark, sf_dir, li, ou)


def _date_clustered_orders_layout(spark, sf_dir, files: int = 16):
    """A DATE-CLUSTERED orders layout published WITH per-file column
    stats — the fixture behind manifest-based file skipping (r18,
    VERDICT r17 #1). Orders is range-partitioned on ``o_orderdate``
    into ``files`` files (each covers a contiguous date slice — the
    clustering that gives min/max stats their pruning power; a
    hash-bucketed layout's per-file date range spans the whole corpus,
    which is exactly why skipping needs a clustered rel) and published
    through `publish_layout_version` with
    ``stats_cols=("o_orderdate", "o_orderkey")``: the publish reads
    each file's parquet FOOTER min/max and folds them into the
    pointer's ``files`` manifest, so a reader prunes candidate files
    from the COMMITTED manifest without opening a single footer at
    query time (`operators/layout.prune_layout_files`). Slug is
    content-addressed like every layout fixture (corpus regeneration
    produces a fresh slug; `_gc_superseded_layouts` retires the old
    one). Returns (slug_dir, ddl)."""

    def write(full, stage):
        (
            full.repartitionByRange(files, F.col("o_orderdate"))
            .sortWithinPartitions("o_orderdate")
            .write.mode("overwrite")
            .parquet(stage)
        )

    return _clustered_orders_layout(
        spark, sf_dir, files, "dc", "orders_d",
        ("o_orderdate", "o_orderkey"), write,
    )


def _clustered_orders_layout(spark, sf_dir, files, ns, rel, stats_cols,
                             write):
    """The cold build shared by the clustered orders rels: ``write(full,
    stage)`` lays the corpus out in ``files`` files, which publish as
    version 1 of ``rel`` with per-file stats on ``stats_cols``. Returns
    (slug_dir, ddl)."""
    slug, slug_dir, fp = _layout_slug(sf_dir, files, ns)
    full = load_table(spark, sf_dir, "orders")
    ddl = _ddl(full.schema)
    cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
    if ptr is not None and _warm(spark, slug_dir, cur_dir):
        return slug_dir, ddl

    def built():
        cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
        return ptr is not None and os.path.exists(
            os.path.join(cur_dir, "_SUCCESS")
        )

    def build():
        stage = os.path.join(slug_dir, f"{rel}_stage")
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(slug_dir, exist_ok=True)
        write(full, stage)
        publish_layout_version(
            slug_dir, rel, src_dir=None, prebuilt_dir=stage,
            extra={"batch": None, "ddl": ddl}, stats_cols=stats_cols,
        )

    _cold_build(
        spark, slug_dir, fp, f"orders#{ns}", files, sf_dir, built, build
    )
    return slug_dir, ddl


#: File-skipping predicate bounds, in the manifest's committed
#: representation (ISO strings — lexicographic == chronological).
_SKIP_LO = "1997-01-01T00:00:00"
_SKIP_HI = "1998-01-01T00:00:00"


@register(
    "layout_file_skipping",
    tags=("composite", "storage"),
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def layout_file_skipping(spark, sf_dir):
    """MANIFEST-BASED FILE SKIPPING (r18, VERDICT r17 #1): a selective
    date predicate over the date-clustered orders layout resolves its
    scan file set from the snapshot pointer's per-file min/max manifest
    — only files whose committed range overlaps [1997, 1998) are
    opened; the rest are never touched by the scan (at sf0.01, 2-3 of
    16 files qualify — at 100 TB this is the difference between
    scanning a year and scanning the table, the same motion as a table
    format's manifest pruning). Correctness never rests on the stats:
    the query re-applies the predicate over the kept files, so the
    oracle (the same filter over the raw table) falsifies both pruning
    failure modes — a file skipped WRONGLY loses its rows from the
    aggregate (hash-fail), a file kept wrongly contributes nothing.
    The file-level claim (skipped files genuinely contain no
    qualifying rows; kept is a strict subset) is pinned by
    tests/test_storage.py test_layout_file_skipping_prunes_scan."""
    from pycaim_spark.operators.layout import prune_layout_files

    slug_dir, ddl = _date_clustered_orders_layout(spark, sf_dir)
    kept, _skipped, _ptr = prune_layout_files(
        slug_dir, "orders_d", "o_orderdate", lo=_SKIP_LO, hi=_SKIP_HI
    )
    df = spark.read.schema(ddl).parquet(*kept)
    return (
        df.filter(
            (F.col("o_orderdate")
             >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate")
               < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fsum(cents("o_totalprice"), 2, "total_price"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def _zvalue(x, y, bits: int = 16):
    """Morton/Z-value of two ``bits``-bit non-negative ints, as a pure
    JVM column expression (16 shift/mask/or terms per column — inside
    whole-stage codegen, no UDF): bit i of ``x`` lands at position 2i,
    bit i of ``y`` at 2i+1. Interleaving makes a range sort on the
    z-value cluster BOTH dimensions at once — each file covers a small
    rectangle of (x, y) space, so per-file min/max stats prune on
    EITHER column's predicate (the table-format Z-ORDER motion)."""
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        # Column.bitwiseAND/OR, not Python &/| (those are LOGICAL
        # and/or on Spark Columns and fail analysis on BIGINT).
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(one), 2 * i + 1)
        )
    return z


def _zorder_orders_layout(spark, sf_dir, files: int = 16):
    """A Z-ORDERED orders layout published with per-file stats on BOTH
    clustering dimensions (r18): rows are range-partitioned on the
    Morton interleave of (o_custkey, o_orderdate), so every file covers
    a compact rectangle of customer × date space and the pointer
    manifest's min/max prune files for predicates on EITHER column —
    where the single-column date-clustered rel
    (`_date_clustered_orders_layout`) prunes nothing on a customer
    predicate (its files span the full custkey range; measured in
    tests/test_storage.py test_layout_zorder_two_dimensional_skipping).
    Both dimensions normalize to 16-bit grid coordinates from their
    corpus min/max (two driver scalars — one tiny agg at build time).
    Returns (slug_dir, ddl)."""

    def write(full, stage):
        lo = full.agg(
            F.min("o_custkey").alias("cmin"),
            F.max("o_custkey").alias("cmax"),
            F.min(F.unix_date(F.col("o_orderdate").cast("date")))
            .alias("dmin"),
            F.max(F.unix_date(F.col("o_orderdate").cast("date")))
            .alias("dmax"),
        ).first()
        cspan = max(int(lo.cmax - lo.cmin), 1)
        dspan = max(int(lo.dmax - lo.dmin), 1)
        cx = (
            (F.col("o_custkey") - F.lit(int(lo.cmin)))
            * F.lit(65535) / F.lit(cspan)
        ).cast("long")
        dy = (
            (
                F.unix_date(F.col("o_orderdate").cast("date"))
                - F.lit(int(lo.dmin))
            )
            * F.lit(65535) / F.lit(dspan)
        ).cast("long")
        (
            full.withColumn("_z", _zvalue(cx, dy))
            .repartitionByRange(files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(stage)
        )

    return _clustered_orders_layout(
        spark, sf_dir, files, "zo", "orders_z",
        ("o_custkey", "o_orderdate", "o_orderkey"), write,
    )


#: The z-order demo rectangle: the lower quarter of the customer range
#: crossed with two mid-corpus years. Bounds derive from corpus min/max
#: in BOTH engines so the gate compares identical predicates.
_ZO_DATE_LO = "1994-01-01 00:00:00"
_ZO_DATE_HI = "1996-01-01 00:00:00"


@register(
    "layout_zorder_skipping",
    tags=("composite", "storage"),
    oracle=f"""
    WITH b AS (
        SELECT MIN(o_custkey)
               + CAST(FLOOR((MAX(o_custkey) - MIN(o_custkey)) / 4.0)
                      AS BIGINT) AS cmax
        FROM orders
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           MAX(o_orderkey) AS max_key
    FROM orders, b
    WHERE o_custkey <= b.cmax
      AND o_orderdate >= TIMESTAMP '{_ZO_DATE_LO}'
      AND o_orderdate < TIMESTAMP '{_ZO_DATE_HI}'
    GROUP BY o_orderpriority
    """,
)
def layout_zorder_skipping(spark, sf_dir):
    """TWO-DIMENSIONAL FILE SKIPPING over the Z-ORDERED layout (r18):
    a rectangle predicate (lower quarter of the customer range × two
    mid-corpus years) resolves its scan file set by intersecting the
    manifest prunes of BOTH columns — possible only because the Morton
    sort gives every file a compact rectangle in (custkey, date) space;
    a single-column clustering prunes on its own column and nothing
    else (measured against the date-clustered rel in
    tests/test_storage.py). Correctness never rests on the stats: the
    rectangle is re-applied over the kept files and the oracle runs the
    identical predicate on the raw table — a wrongly skipped file
    hash-fails, a wrongly kept one contributes nothing."""
    from pycaim_spark.operators.layout import prune_layout_files

    slug_dir, ddl = _zorder_orders_layout(spark, sf_dir)
    # The rectangle's custkey range is the corpus min/max, read from the
    # pointer manifest's per-file [min, max] (the rel holds the whole
    # corpus): sizing it launches no Spark job.
    spans = [
        st["o_custkey"]
        for st in load_layout_pointer(slug_dir, "orders_z")["files"].values()
        if "o_custkey" in st
    ]
    cmin = min(lo for lo, _hi in spans)
    cmax = max(hi for _lo, hi in spans)
    import math

    cbound = cmin + int(math.floor((cmax - cmin) / 4.0))
    kept_c, _sc, _ = prune_layout_files(
        slug_dir, "orders_z", "o_custkey", lo=None, hi=cbound
    )
    kept_d, _sd, _ = prune_layout_files(
        slug_dir, "orders_z", "o_orderdate",
        lo=_ZO_DATE_LO.replace(" ", "T"),
        hi=_ZO_DATE_HI.replace(" ", "T"),
    )
    kept = sorted(set(kept_c) & set(kept_d))
    df = spark.read.schema(ddl).parquet(*kept)
    return (
        df.filter(
            (F.col("o_custkey") <= F.lit(cbound))
            & (F.col("o_orderdate")
               >= F.lit(_ZO_DATE_LO).cast("timestamp_ntz"))
            & (F.col("o_orderdate")
               < F.lit(_ZO_DATE_HI).cast("timestamp_ntz"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fsum(cents("o_totalprice"), 2, "total_price"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


#: The multi-rel CDC batch: referential delete of order keys ≡0 (mod
#: 503) from orders AND their lineitems, in ONE slug-level commit.
_MULTIREL_DEL = 503


def _multirel_slug_layout(spark, sf_dir, buckets: int = 8):
    """A TWO-REL layout slug (orders_c + lineitem_c bucketed on their
    orderkeys at the same count, in ONE slug dir) — the fixture for the
    slug-level multi-rel commit (r18, VERDICT r17 #4). Every other
    layout fixture content-addresses one table per slug; a multi-table
    transaction needs both rels under one commit scope, so this slug's
    hash folds BOTH source fingerprints. Returns (slug_dir, slug)."""
    rels = (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
    slug, slug_dir, fps = _layout_slug(
        sf_dir, buckets, "mrc", tuple(t for t, _ in rels)
    )
    paths = [os.path.join(slug_dir, f"{t}_c") for t, _ in rels]
    if _warm(spark, slug_dir, *paths):
        return slug_dir, slug

    def build():
        for (table, key), path in zip(rels, paths):
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                continue
            tmp_name = f"tpch_mrc_{table}_{slug}"
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
            _save_bucketed(
                load_table(spark, sf_dir, table), buckets, key, path,
                tmp_name,
            )
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")

    _cold_build(
        spark, slug_dir, fps, "orders#mrc", buckets, sf_dir,
        built=lambda: all(
            os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths
        ),
        build=build,
    )
    return slug_dir, slug


def _multirel_delete_commit(spark, sf_dir, buckets: int = 8):
    """ATOMIC TWO-REL MOTION over the slug-level commit (r18, VERDICT
    r17 #4): referentially delete order keys ≡0 (mod 503) from orders
    AND their lineitems in ONE commit. Ordering is the atomicity
    argument:

    1. Under the slug write lock, publish each rel's next version
       (bucket-local delete via `plan_bucket_local_merge`; per-rel
       pointers flip as the physical latest) WITHOUT tombstoning the
       displaced dirs.
    2. Flip ``slug_commit.json`` — ONE atomic write naming both rels'
       versions (`operators/layout.publish_slug_commit`, batch spec
       folded inside). `resolve_slug_commit` readers see the old pair
       or the new pair, never orders@new with lineitem@old: time
       travel for the TABLE means "as of commit K", not per-rel
       versions.
    3. Only then tombstone the displaced dirs — grace protects
       commit-readers holding the old pair, and versions named by the
       CURRENT slug commit are GC-pinned (`_gc_retained` consults the
       commit), so a crash between the per-rel flips and the commit
       flip leaves the committed pair readable until the next locked
       writer re-derives.

    tests/test_storage.py test_multirel_commit_atomic_reader pins the
    mid-commit reader view. Returns {rel: data dir} per the committed
    slug commit."""
    from pycaim_spark.operators.layout import (
        load_slug_commit,
        publish_slug_commit,
        resolve_slug_commit,
    )

    slug_dir, slug = _multirel_slug_layout(spark, sf_dir, buckets)
    spec = ["mrdel", _MULTIREL_DEL, buckets]
    rec = load_slug_commit(slug_dir)
    if rec is not None and rec.get("batch") == spec:
        try:
            return resolve_slug_commit(slug_dir)
        except FileNotFoundError:
            pass  # a named version expired: re-derive under the lock
    with _slug_motion(spark, slug_dir):
        rec = load_slug_commit(slug_dir)
        if rec is not None and rec.get("batch") == spec:
            try:
                return resolve_slug_commit(slug_dir)
            except FileNotFoundError:
                pass
        new_versions, displaced = {}, []
        for table, key in (
            ("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
        ):
            rel = f"{table}_c"
            cur_dir, ptr = resolve_layout_rel(slug_dir, rel)
            if ptr is not None:
                # A previous (possibly different-spec or crashed)
                # motion left versions: rebuild the pristine base rel
                # into a fresh version so the delete always derives
                # from the full corpus.
                cur_dir, ptr = _rebuild_pristine_rel(
                    spark, slug_dir, rel,
                    os.path.join(slug_dir, rel), key, buckets, slug,
                )
            ddl = _ddl(load_table(spark, sf_dir, table).schema)
            dels = (
                spark.read.schema(ddl).parquet(cur_dir)
                .filter(F.col(key) % _MULTIREL_DEL == 0)
                .select(key)
            )
            touched = delta_touched_buckets(dels, key, buckets)
            stage = os.path.join(slug_dir, f"{rel}_mr_stage")
            sname = f"tpch_mrs_{table}_{slug}"
            _drop_stage(spark, sname, stage)
            plan = plan_bucket_local_merge(
                spark, path=cur_dir, schema=ddl, key=key,
                buckets=buckets, upserts=None, deletes=dels,
                stage_path=stage, stage_table=sname, touched=touched,
            )
            skip, staged = _merged_files(plan)
            old_dir = cur_dir
            cur_dir, ptr = _publish(
                spark, slug_dir, rel, (cur_dir, ptr),
                {"batch": spec, "ddl": ddl}, skip=skip, staged=staged,
                stage=(sname, stage), retire=False,
            )
            new_versions[rel] = ptr["version"]
            # The PLAIN builder dir is this slug's pristine base — the
            # source `_rebuild_pristine_rel` re-derives from on a spec
            # change — so it is never tombstoned (matching every other
            # namespace, whose `slug_dir/orders` base outlives all
            # motions); only displaced VERSIONED dirs retire.
            if (
                os.path.isdir(old_dir)
                and old_dir != cur_dir
                and old_dir != os.path.join(slug_dir, rel)
            ):
                displaced.append(old_dir)
        publish_slug_commit(
            slug_dir, new_versions, extra={"batch": spec}
        )
        for d in displaced:
            tombstone_layout_dir(d)
        return resolve_slug_commit(slug_dir)


@register(
    "layout_multirel_commit",
    tags=("composite", "storage"),
    oracle=f"""
    WITH o AS (
        SELECT * FROM orders WHERE o_orderkey % {_MULTIREL_DEL} <> 0
    ), l AS (
        SELECT * FROM lineitem WHERE l_orderkey % {_MULTIREL_DEL} <> 0
    ), oa AS (
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM o GROUP BY o_orderpriority
    ), la AS (
        SELECT o_orderpriority, COUNT(*) AS n_li,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DOUBLE) AS sum_ext
        FROM l JOIN o ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    )
    SELECT oa.o_orderpriority, n_orders, n_li, sum_ext
    FROM oa JOIN la ON oa.o_orderpriority = la.o_orderpriority
    """,
)
def layout_multirel_commit(spark, sf_dir):
    """Audit over the MULTI-REL slug commit (r18, VERDICT r17 #4): a
    referential delete (orders keys ≡0 mod 503 AND their lineitems)
    applied to BOTH rels in one atomic slug-level commit, read back
    through `resolve_slug_commit` — the consistent two-table view. The
    result exposes each side's deletion INDEPENDENTLY: ``n_orders``
    groups the orders rel alone (a lineitem-only application leaves it
    inflated), while ``n_li``/``sum_ext`` aggregate the join (an
    orders-only application leaves lineitem orphans out of the join
    but their deletion visible through n_li). The oracle reproduces
    the two-sided delete in SQL — any partial or skewed application
    hash-fails."""
    dirs = _multirel_delete_commit(spark, sf_dir)
    o, li = (
        spark.read.schema(_ddl(load_table(spark, sf_dir, t).schema))
        .parquet(dirs[f"{t}_c"])
        for t in ("orders", "lineitem")
    )
    oa = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    la = (
        li.select("l_orderkey", "l_extendedprice")
        .join(
            o.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            fsum(cents("l_extendedprice"), 2, "sum_ext"),
        )
    )
    return oa.join(F.broadcast(la), "o_orderpriority").select(
        "o_orderpriority", "n_orders", "n_li", "sum_ext"
    )


@register(
    "tpch_q5_bucketed",
    tags=("composite", "storage"),
    oracle=_Q5_SQL,
)
def tpch_q5_bucketed(spark, sf_dir):
    """TPC-H Q5 over the orderkey-bucketed lineitem/orders layout — the
    scale lever the q5 decomposition pointed at (ISOLATE_r11.json
    `q5_decomposition`: the 60 M-row lineitem shuffle join IS the query;
    dims+orders 1.47 s, +lineitem join 5.49 s, group-agg free). Shape:
    region⋈nation⋈customer collapse into one broadcast that enriches the
    bucketed orders scan in place (broadcast joins preserve the probe
    side's bucketing), then orders⋈lineitem runs as a co-located SMJ —
    the only shuffle left in the plan is the 5-row final aggregate.
    Verdicts/rows identical to tpch_q5 (same DuckDB oracle)."""
    lib, ob = _bucketed_orderkey_layout(spark, sf_dir)
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    dims = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    cust = c.join(
        F.broadcast(dims), c.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey", "n_name")
    o = ob.filter(
        (F.col("o_orderdate")
         >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate")
           < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    o_enriched = o.join(
        F.broadcast(cust), o.o_custkey == cust.c_custkey
    ).select("o_orderkey", "n_name")
    disc_price = cents("l_extendedprice") * (
        F.lit(100).cast("long") - cents("l_discount")
    )
    return (
        lib.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            o_enriched.hint("MERGE"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("n_name")
        .agg(fsum(disc_price, 4, "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "tpch_q3_bucketed",
    tags=("composite", "storage"),
    oracle=_Q3_SQL,
)
def tpch_q3_bucketed(spark, sf_dir):
    """TPC-H Q3 over the orderkey-bucketed lineitem/orders layout — the
    ZERO-shuffle form of the shipped tpch_q3's plan: the filtered-segment
    customer keys broadcast into the bucketed orders scan, orders⋈lineitem
    runs as a co-located SMJ on the bucket key, and the group-agg needs no
    Exchange either because its grouping set (l_orderkey, o_orderdate)
    CONTAINS the bucket key — HashPartitioning(l_orderkey) satisfies the
    aggregate's clustered distribution — so the only data movement in the
    whole plan is the customer broadcast and the final TakeOrdered top-10.
    Fixed-point money arithmetic (this is a DataFrame form; the sf0.1
    SQL-vs-fixed-point adjudication in tpch_q3's docstring compared forms
    of the SHUFFLED plan — here the join dominates nothing, so the
    aggregate spelling is on the fast path by construction). Same DuckDB
    oracle as tpch_q3."""
    lib, ob = _bucketed_orderkey_layout(spark, sf_dir)
    return _q3_over_layout(spark, sf_dir, lib, ob)


def _q3_over_layout(spark, sf_dir, lib, ob):
    """The co-located Q3 body over any orderkey-bucketed (lib, ob) pair —
    shared by the one-shot layout and its incremental append/compaction
    twins (`tpch_q3_layout_append` / `_compacted`)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = ob.filter(
        F.col("o_orderdate")
        < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    ).join(F.broadcast(c), F.col("o_custkey") == c.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    li = lib.filter(
        F.col("l_shipdate")
        > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    disc_price = cents("l_extendedprice") * (
        F.lit(100).cast("long") - cents("l_discount")
    )
    return (
        li.join(o.hint("MERGE"), li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(fsum(disc_price, 4, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "agg_stats",
    tags=("agg",),
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           round(sqrt((CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                                * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                       - pow(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
                         / COUNT(*))
                      / (COUNT(*) - 1)), 6) AS price_stddev,
           round(quantile_cont(o_totalprice, 0.5), 6) AS price_median
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_stats(spark, sf_dir):
    """Distribution statistics with order-independent arithmetic:
    stddev from exact decimal Σx/Σx² (native stddev accumulates floats in
    partition order), exact interpolated median (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``)."""
    o = load_table(spark, sf_dir, "orders")
    d2 = F.col("o_totalprice").cast("decimal(12,2)")
    sum_sq = F.sum(d2 * d2).cast("double")
    sum_x = F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
    n = F.count(F.lit(1))
    stddev = F.round(
        F.sqrt((sum_sq - F.pow(sum_x, 2) / n) / (n - 1)), 6
    )
    return o.groupBy("o_orderstatus").agg(
        n.alias("n"),
        stddev.alias("price_stddev"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("price_median"),
    )


@register(
    "agg_unpivot",
    tags=("agg",),
    oracle="""
    SELECT c_custkey, metric, CAST(v AS DOUBLE) AS v
    FROM (SELECT c_custkey,
                 CAST(c_acctbal AS DOUBLE) AS acctbal,
                 CAST(c_nationkey AS DOUBLE) AS nationkey
          FROM customer)
    UNPIVOT (v FOR metric IN (acctbal, nationkey))
    """,
)
def agg_unpivot(spark, sf_dir):
    """Unpivot / melt wide → long (Spark DataFrame.unpivot vs SQL UNPIVOT)."""
    c = load_table(spark, sf_dir, "customer")
    wide = c.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "v")


@register(
    "fn_null",
    tags=("function",),
    oracle="""
    SELECT event_id,
           nullif(event_type, 'view') AS type_or_null,
           coalesce(nullif(event_type, 'view'), 'suppressed') AS type_filled,
           CAST(nullif(event_type, 'view') IS NOT DISTINCT FROM NULL AS INTEGER)
               AS is_suppressed,
           CASE WHEN json_extract(props, '$.missing') IS NULL THEN -1
                ELSE 0 END AS missing_marker
    FROM events
    """,
)
def fn_null(spark, sf_dir):
    """Null semantics: nullif/coalesce/null-safe equality (`<=>` ≡
    IS NOT DISTINCT FROM)."""
    ev = load_table(spark, sf_dir, "events")
    type_or_null = F.nullif(F.col("event_type"), F.lit("view"))
    return ev.select(
        "event_id",
        type_or_null.alias("type_or_null"),
        F.coalesce(type_or_null, F.lit("suppressed")).alias("type_filled"),
        type_or_null.eqNullSafe(F.lit(None).cast("string")).cast("int").alias("is_suppressed"),
        F.when(
            F.get_json_object("props", "$.missing").isNull(), -1
        ).otherwise(0).alias("missing_marker"),
    )


@register(
    "win_distribution",
    tags=("window",),
    oracle="""
    SELECT c_custkey,
           round(PERCENT_RANK() OVER w, 6) AS pct_rank,
           round(CUME_DIST() OVER w, 6) AS cume,
           NTH_VALUE(c_custkey, 2) OVER (PARTITION BY c_mktsegment
                                         ORDER BY c_acctbal DESC, c_custkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS second_richest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_distribution(spark, sf_dir):
    """Distribution window functions: percent_rank, cume_dist, nth_value."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second_richest"),
    )


@register(
    "ts_resample",
    tags=("timeseries",),
    oracle="""
    WITH bounds AS (
        SELECT time_bucket(INTERVAL 1 HOUR, CAST(MIN(ts) AS TIMESTAMP)) AS lo,
               time_bucket(INTERVAL 1 HOUR, CAST(MAX(ts) AS TIMESTAMP)) AS hi
        FROM events
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        FROM bounds
    ), counts AS (
        SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS hour_start,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT s.hour_start, COALESCE(c.n_events, 0) AS n_events
    FROM spine s LEFT JOIN counts c USING (hour_start)
    """,
)
def ts_resample(spark, sf_dir):
    """Gap-filled hourly resampling: dense hour spine (sequence+explode)
    left-joined with bucketed counts, gaps coalesced to 0 — the hypertable
    rollup / time-series densification shape. The spine is generated from
    the aggregated min/max (two scalar rows), so it costs one broadcast
    join regardless of data size."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return spine.join(counts, "hour_start", "left").select(
        "hour_start",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )
