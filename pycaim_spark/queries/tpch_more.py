"""Additional TPC-H-shaped composite queries (SURVEY.md §5 mirrors TPC-H
query shapes without claiming compliance): Q6 forecast-revenue filter-agg,
Q10 returned-item report, Q18 large-volume customer.

These exercise plan shapes the single-operator queries don't: a scan-only
aggregate with every predicate pushed to parquet (Q6), a 4-way join with a
broadcast dim chain feeding a top-k (Q10), and a self-join against a
HAVING-filtered aggregate subquery (Q18 — Catalyst plans the IN subquery as
a left-semi join against the re-aggregated lineitem).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pycaim_spark.catalog import load_table, register_temp_views
from pycaim_spark.functions.exact import cents, fsum
from pycaim_spark.registry import register

_Q6_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@register("tpch_q6", tags=("composite",), oracle=_Q6_SQL)
def tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape: forecasting revenue change — pure filter+agg, no
    join, no groupBy key. Every predicate reaches the parquet scan
    (PushedFilters on l_shipdate/l_discount/l_quantity), so at 100 TB this
    reads only matching row groups and aggregates map-side; the exchange
    moves one partial-agg row per partition. Ships the SQL-decimal form:
    the r11 fixed-point conversion was a wash at sf10
    (ISOLATE_r11.json `tpch_fixedpoint_paired_series` — the filtered scan,
    not the aggregate, dominates) and a 4/4 order-alternating paired
    regression at sf0.1 (ISOLATE_r12.json
    `tpch_q6_fixedpoint_sf01_paired_series`: ~1.21 vs ~1.43 s median)."""
    register_temp_views(spark, sf_dir)
    return spark.sql(_Q6_SQL)


_Q10_SQL = """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(12,2)))
                AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@register("tpch_q10", tags=("composite",), oracle=_Q10_SQL)
def tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape: returned-item reporting — 4-way join (nation
    broadcasts, orders filtered to one quarter before joining lineitem),
    group-agg, global top-20 via TakeOrderedAndProject. Ships the
    SQL-decimal form (see tpch_q3's docstring: the r11 fixed-point
    conversion was a wash at sf10 and a 4/4 paired regression at sf0.1 —
    ISOLATE_r12.json `tpch_fixedpoint_sf01_paired_series`)."""
    register_temp_views(spark, sf_dir)
    return spark.sql(_Q10_SQL)


_Q18_SQL = """
    SELECT c_name, c_custkey, o_orderkey,
           o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
"""


@register("tpch_q18", tags=("composite",), oracle=_Q18_SQL)
def tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape: large-volume customer — IN over a HAVING-filtered
    aggregate of lineitem (planned as aggregate → left-semi join), then the
    3-way join re-aggregates per order. The threshold (180 ≈ p90 of
    per-order quantity) keeps the semi-join side small enough to broadcast
    under AQE at any scale factor.

    Both lineitem aggregations (the HAVING subquery over the FULL table
    and the final per-order re-aggregate) run on the fixed-point fast
    path: SUM(DECIMAL(12,2)) carries a precision-22 accumulator — off
    Spark's long-backed Decimal fast path — and the subquery pays it on
    every lineitem row, which made this the most expensive composite at
    sf10 (19.9 s; see ISOLATE_r11.json `tpch_fixedpoint_paired_series`).
    ``HAVING SUM(qty) > 180`` becomes ``Σ cents > 18000`` — exact, no
    boundary drift.

    The shipped form also applies an AGGREGATE-REUSE rewrite Catalyst
    cannot derive from the SQL: the final GROUP BY's keys are
    functionally dependent on o_orderkey (one order → one customer/
    date/price) and every lineitem row of a qualifying order joins, so
    the re-aggregate over the joined 60 M-row lineitem recomputes
    exactly the per-order sum the subquery already holds. Computing the
    per-order sum ONCE and joining it through halves the lineitem work
    (one 60 M-row aggregation instead of two plus a 60 M-row join) —
    ISOLATE_r11.json `q18_shape_paired_series`: 11.94 → 7.94 s median
    at sf10 against the literal two-aggregation shape. Result equality
    with the SQL form is bit-asserted by tests/test_aggregates.py and
    the parity gate."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = cents("l_quantity")
    # Catalyst collapses the two sum expressions into one buffer: the
    # filter runs on the exact long, sum_qty is its decimal recombination.
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(qty_c).alias("qty_cents"),
            fsum(qty_c, 2, "sum_qty"),
        )
        .filter(F.col("qty_cents") > 18000)
        .select("l_orderkey", "sum_qty")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(big_orders, o.o_orderkey == big_orders.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q18_bucketed",
    tags=("composite", "storage"),
    oracle=_Q18_SQL,
)
def tpch_q18_bucketed(spark, sf_dir):
    """TPC-H Q18 over the orderkey-bucketed lineitem/orders layout
    (tpch_q5_bucketed's `_bucketed_orderkey_layout`). The shipped q18's
    two heavy stages are BOTH on the bucket key: the 60 M-row
    ``groupBy(l_orderkey)`` aggregates bucket-locally with no Exchange
    (the scan's hash distribution already satisfies the aggregate), and
    its output joins the bucketed orders scan co-located — so the only
    shuffles left are the post-filter customer join and the top-100.
    Same aggregate-reuse rewrite and fixed-point arithmetic as tpch_q18
    (the 60 M-row sum is exactly where fixed-point won 2× at sf10 —
    ISOLATE_r11.json `tpch_fixedpoint_paired_series`); same oracle."""
    from pycaim_spark.queries.advanced import _bucketed_orderkey_layout

    lib, ob = _bucketed_orderkey_layout(spark, sf_dir)
    qty_c = cents("l_quantity")
    big_orders = (
        lib.groupBy("l_orderkey")
        .agg(
            F.sum(qty_c).alias("qty_cents"),
            fsum(qty_c, 2, "sum_qty"),
        )
        .filter(F.col("qty_cents") > 18000)
        .select("l_orderkey", "sum_qty")
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        ob.join(big_orders, ob.o_orderkey == big_orders.l_orderkey)
        .join(c, ob.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q10_bucketed",
    tags=("composite", "storage"),
    oracle=_Q10_SQL,
)
def tpch_q10_bucketed(spark, sf_dir):
    """TPC-H Q10 over the orderkey-bucketed lineitem/orders layout, with
    the aggregate PUSHED BELOW the customer join. The heavy stage —
    returned lineitems ⋈ one quarter of orders — runs as a co-located SMJ
    on the bucket key (zero Exchange on either fact), and revenue is
    summed per o_custkey BEFORE touching customer: every Q10 output column
    (c_name, c_acctbal, n_name) is functionally determined by c_custkey
    (customer's key), so pre-aggregating by custkey then joining 1:1 is
    exactly the oracle's grouped sum — but the custkey shuffle now moves
    one row per custkey partial instead of every joined lineitem row, and
    the second "aggregate" disappears entirely. nation broadcasts; the
    final top-20 is a TakeOrdered. Same DuckDB oracle as tpch_q10.
    A broadcast left-semi of the quarter's orderkeys into the lineitem
    side lost 3 of 4 sf10 paired rounds to this plain merge
    (ISOLATE_r13.json `q10_semi_filter_paired_series`)."""
    from pycaim_spark.queries.advanced import _bucketed_orderkey_layout

    lib, ob = _bucketed_orderkey_layout(spark, sf_dir)
    o = ob.filter(
        (F.col("o_orderdate")
         >= F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate")
           < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    li = lib.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    disc_price = cents("l_extendedprice") * (
        F.lit(100).cast("long") - cents("l_discount")
    )
    rev = (
        li.join(o.hint("MERGE"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(fsum(disc_price, 4, "revenue"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# Reuse tpch_full's Q21 SQL verbatim: same query, alternate physical form.
from pycaim_spark.queries.tpch_full import _Q21_SQL  # noqa: E402


@register(
    "tpch_q21_bucketed",
    tags=("composite", "storage"),
    oracle=_Q21_SQL,
)
def tpch_q21_bucketed(spark, sf_dir):
    """TPC-H Q21 over the orderkey-bucketed layout: the EXISTS / NOT
    EXISTS pair collapses into ONE co-located pass. The shipped tpch_q21
    plans three lineitem instances (l1, the EXISTS semi-join, the NOT
    EXISTS anti-join through its o2 bridge) — at sf10 that is three
    60 M-row scans with orderkey shuffles between them. But every
    correlation in the query is on l_orderkey, the bucket key, and both
    subqueries are per-order EXISTENCE facts, i.e. two order-level
    aggregates:

      EXISTS l2 (another supplier on the order)    ⇔  n_supp ≥ 2
      NOT EXISTS late l3 from another supplier     ⇔  n_late = 1
                                                      (l1 itself is late)

    lineitem⋈orders('F') runs as the co-located SMJ, and the distinct
    counts STACK as two bucket-local aggregates — groupBy(orderkey,
    suppkey) then groupBy(orderkey), each satisfied by the orderkey hash
    distribution (no Exchange). A direct countDistinct pair would NOT
    stay local: Spark plans multi-distinct aggregates through Expand and
    re-clusters on (key, distinct-expr, gid) — two extra full-width
    shuffles, observed on this very query before the stacked form.

    Shape adjudication (r13 → r14): the r13 two-aggregate body was a
    self-join DIAMOND off per_supp with no Exchange below it, so Spark
    had no ReusedExchange point and the 60 M-row scan+SMJ+aggregate
    subtree executed TWICE — at 100 TB, reading the fact table twice is
    the single worst property a plan can have. The one-pass
    window-aggregate spelling shipped here (``count()/sum() over
    (partition by l_orderkey)`` on per_supp — clustering already
    satisfied by the bucketed scan, one local sort, zero new exchanges)
    removes the recompute. r13 kept the diamond because the window arm
    looked bimodal in fresh-JVM isolates (3.9–15.3 s); r13 itself
    diagnosed the bimodality as child-to-child machine-state decay, not
    the plan (`q21_window_slowmode_heap_ab`). Round 14 re-adjudicated
    under the canary-gated decay-controlled protocol (VERDICT r13 #1/#2)
    on rebooted hardware (ISOLATE_r14.json `q21_shape_canary_series`,
    5 order-alternating paired rounds, all canaries healthy): window
    median 4.52 s vs diamond 5.95 s (3/5 round wins), and — decisively —
    the window arm's range collapsed to a tight 3.2–5.7 s band (vs
    r13's 3.9–15.3 s): the slow mode was the box, not the sort. With
    the bimodality gone, the structural argument governs: never scan
    the fact subtree twice.

    The per-(order,supplier) late-row counts carry numwait's row
    multiplicity, so nothing joins back to raw lineitem at all. supplier
    broadcasts; the only shuffles left are the final per-s_name count and
    its output sort. Equivalence with the EXISTS form: l2 demands another
    row on the order with a different suppkey (⇔ ≥2 distinct suppliers);
    l3⋈o2 demands a late row from a different supplier, and o2 carries
    the same o_orderdate (orders is unique per orderkey), so its absence
    ⇔ the order's late suppliers are exactly {l1.l_suppkey}. Same oracle
    SQL as tpch_q21."""
    from pyspark.sql import Window

    from pycaim_spark.queries.advanced import _bucketed_orderkey_layout

    lib, ob = _bucketed_orderkey_layout(spark, sf_dir)
    o = ob.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    j = (
        lib.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o.hint("MERGE"), F.col("l_orderkey") == o.o_orderkey)
        .withColumn(
            "late",
            F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY"),
        )
    )
    per_supp = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late"),
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("n_late_rows"),
    )
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("l_orderkey")
    qualifying = (
        per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_late",
            F.sum(F.when(F.col("supp_late"), 1).otherwise(0)).over(w),
        )
        .filter(
            F.col("supp_late")
            & (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
        )
    )
    return (
        qualifying.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )
