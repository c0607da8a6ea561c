"""Data-pipeline patterns: ordered event funnels, forward-fill gap repair,
and Delta-less upsert (latest-wins CDC compaction).

These are the composite shapes a production pipeline runs daily; each is
expressed as stock declarative ops so Catalyst plans them (no UDFs, no
driver loops), with exact DuckDB twins.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from pycaim_spark.catalog import load_table
from pycaim_spark.registry import register


@register(
    "events_funnel",
    tags=("pipeline", "analytics"),
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
                      AND CAST(e.ts AS TIMESTAMP) > v.t_view
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
                      AND CAST(e.ts AS TIMESTAMP) > c.t_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           1 + CAST(c.user_id IS NOT NULL AS INTEGER)
             + CAST(p.user_id IS NOT NULL AS INTEGER) AS steps_reached
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered funnel view → click → purchase per user: each step's
    timestamp is the first occurrence STRICTLY AFTER the previous step
    (not just any occurrence — ordering is the point of a funnel).

    Plan shape: three per-user aggregates chained by equi-joins on
    user_id — all three shuffles share the same key, so at 100 TB AQE
    reuses one partitioning; no window over the full event stream is
    needed."""
    ev = load_table(spark, sf_dir, "events")
    # r18 exchange-reuse guard (guide §2.4): the view-step aggregate
    # is consumed twice — inside the click join (which pushes an
    # inferred isnotnull(user_id) into ITS copy's scan) and as the
    # preserved side of the final left join (which cannot infer it) —
    # so the two copies canonicalized differently and the view pass
    # ran twice (plans/r18/events_funnel_{before,after}.txt). The
    # explicit filter is a row-level no-op (fixture user_id is never
    # null) that makes every branch carry the same predicate; the
    # click aggregate was already reused by the purchase branch.
    ev = ev.filter(F.col("user_id").isNotNull())
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "t_view", "t_click", "t_purchase",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("steps_reached"),
        )
    )


@register(
    "win_gap_fill",
    tags=("pipeline", "window", "timeseries"),
    oracle="""
    SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts,
           v AS value_raw,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_ffill,
           CAST(v IS NULL AS INTEGER) AS was_gap
    FROM (SELECT *, CASE WHEN event_type = 'view' THEN NULL
                         ELSE value END AS v
          FROM events)
    """,
)
def win_gap_fill(spark, sf_dir):
    """Forward-fill gap repair: sensor-style series with holes (here:
    'view' rows nulled deterministically) repaired by last-non-null
    carry-forward per user in event-time order — `last(..., ignorenulls)`
    over a running rows frame. One shuffle on the partition key; the fill
    itself is a linear in-partition scan."""
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "view", F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.withColumn("v", v).select(
        "event_id", "user_id", "ts",
        F.col("v").alias("value_raw"),
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
        F.col("v").isNull().cast("int").alias("was_gap"),
    )


@register(
    "upsert_merge",
    tags=("pipeline", "cdc"),
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
        FROM orders
    ), updates AS (
        SELECT o_orderkey, 'D' AS o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2))
                    * CAST(1.1 AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice,
               2 AS version
        FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0
    ), unioned AS (
        SELECT * FROM base UNION ALL SELECT * FROM updates
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice, version
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                       ORDER BY version DESC) AS rn
          FROM unioned)
    WHERE rn = 1
    """,
)
def upsert_merge(spark, sf_dir):
    """Delta-less MERGE/upsert: base ∪ CDC-updates → latest version wins
    per key (row_number over version desc). The updates here are derived
    deterministically from the base so both engines see identical input.

    This union + window compaction is the engine-native upsert at 100 TB:
    one shuffle on the merge key; with the base bucketed on the key
    (join_bucketed layout) the exchange disappears entirely. Lakehouse
    table formats run the same logical plan under MERGE INTO."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("version")
    )
    updates = (
        o.filter((F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 3 == 0))
        .select(
            "o_orderkey",
            F.lit("D").alias("o_orderstatus"),
            (
                F.col("o_totalprice").cast("decimal(12,2)")
                * F.lit(1.1).cast("decimal(3,2)")
            ).cast("double").alias("o_totalprice"),
            F.lit(2).alias("version"),
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "events_cohort_retention",
    tags=("pipeline", "analytics"),
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id,
               date_trunc('week', CAST(ts AS TIMESTAMP)) AS activity_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.activity_week) / 7 AS INT)
               AS week_offset,
           COUNT(*) AS n_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_week, week_offset
    ORDER BY f.cohort_week, week_offset
    """,
)
def events_cohort_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-activity week; each cell
    counts cohort members still active N weeks later — the canonical
    product-analytics rollup.

    Two aggregates over the same scan (first-week per user, distinct
    active weeks per user) joined on user_id: the join key is also both
    groupBy keys, so at 100 TB a single hash-partitioning on user_id
    serves the aggregate AND the join (no second shuffle until the final
    small cohort-cell rollup). Week arithmetic is integer day-diff / 7 —
    no float time math."""
    ev = load_table(spark, sf_dir, "events")
    # r18 scan-share (guide §2.4, same mechanism as pipeline_ops
    # `_shard_exchange`): both aggregates key on user_id, so ONE
    # explicit hash exchange serves them shuffle-free — a
    # HashPartitioning on user_id satisfies ClusteredDistribution for
    # the (user_id, activity_week) distinct too, and the join needs
    # no further shuffle. Without it each aggregate planned its own
    # subtree and the events corpus was SCANNED TWICE
    # (plans/r18/events_cohort_retention_{before,after}.txt). Both
    # consumers project exactly (user_id, ts), so the copies
    # canonicalize with no keep-alive; activity_week is derived ABOVE
    # the exchange.
    ev = ev.select("user_id", "ts").repartition("user_id")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    week_offset = (
        F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
    ).cast("int")
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_week", week_offset.alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "scd2_history",
    tags=("pipeline",),
    oracle="""
    SELECT user_id, event_id, value AS attr_value,
           CAST(ts AS TIMESTAMP) AS valid_from,
           LEAD(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
           CASE WHEN LEAD(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type 2: each change event becomes a
    version row with [valid_from, valid_to) effectivity and a current
    flag — the dimension-table build step of a warehouse load.

    One window over (user_id, ts): valid_to is simply the next version's
    valid_from (lead), null marking the open current row. Deterministic
    under timestamp ties via the event_id tiebreak. Scales as a single
    shuffle on the dimension key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "events_mad_outliers",
    tags=("pipeline", "analytics", "quality"),
    oracle="""
    WITH med AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT event_id, d.event_type, value,
           round(d.med, 6) AS med,
           round(mad.mad, 6) AS mad,
           CASE WHEN ABS(value - round(d.med, 6)) > 3 * round(mad.mad, 6)
                THEN 1 ELSE 0 END AS is_outlier
    FROM dev d JOIN mad USING (event_type)
    """,
)
def events_mad_outliers(spark, sf_dir):
    """Robust per-group outlier flagging by median absolute deviation — the
    data-quality screen that survives the outliers it hunts (mean/stddev
    z-scores get dragged by the very anomalies they should flag; the
    median/MAD pair has a 50% breakdown point). Flags every event whose
    value sits more than 3 MADs from its event_type's median.

    Two exact grouped percentiles (median of value, then median of the
    absolute deviations) + two broadcast joins of the tiny per-type stats
    back onto the stream — at 100 TB the only data-sized operations are
    the percentile aggregates, and those can swap to approx_percentile
    sketches (agg_approx_percentile) without changing the query shape.
    Exact interpolated percentile is engine-identical on identical doubles
    (precedent: agg_stats price_median, oracle-green); med/mad are rounded
    to 6dp and the flag is computed FROM the rounded values so the
    comparison is bit-stable cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id", "event_type", "value", "_med",
        F.abs(F.col("value") - F.col("_med")).alias("_adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(_adev, 0.5)").alias("_mad")
    )
    med6, mad6 = F.round("_med", 6), F.round("_mad", 6)
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        "value",
        med6.alias("med"),
        mad6.alias("mad"),
        (F.abs(F.col("value") - med6) > 3 * mad6).cast("int").alias("is_outlier"),
    )
