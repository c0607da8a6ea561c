"""Aggregate semantics beyond the oracle hash: approx-distinct accuracy."""

from __future__ import annotations

import pyspark.sql.functions as F

from pycaim_spark.registry import REGISTRY, _ensure_loaded
from pycaim_spark.catalog import load_table

_ensure_loaded()


def test_approx_distinct_within_5pct_of_exact(spark, sf_dir):
    approx = {
        r.l_returnflag: r.approx_parts
        for r in REGISTRY["agg_approx_distinct"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: r.exact_parts
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("exact_parts"))
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, est in approx.items():
        assert abs(est - exact[flag]) / exact[flag] <= 0.05, (
            f"{flag}: approx {est} vs exact {exact[flag]}"
        )


def test_agg_hash_fixedpoint_bit_identical_to_decimal_spelling(spark):
    """The fixed-point fast path (functions/exact.py cents/fsum/fsum_split/
    favg) must reproduce the decimal spelling BIT-FOR-BIT per group — the
    determinism contract with the DuckDB oracle depends on it. Checked on
    every fixture dir present, including the 10×/100× .scratch replicas
    when they exist (the overflow-split path only matters at volume)."""
    import os
    import struct

    from pycaim_spark.functions.exact import DEC2, davg, dec2, dmul_sum, dsum
    from pycaim_spark.queries.aggregates import _Q1_CUTOFF

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    for extra in (".scratch/sf1", ".scratch/sf10"):
        p = os.path.join(repo, extra)
        if os.path.exists(os.path.join(p, "lineitem.parquet")):
            dirs.append(p)

    def decimal_spelling(sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        price = dec2("l_extendedprice")
        disc = (F.lit(1) - dec2("l_discount")).cast(DEC2)
        tax = (F.lit(1) + dec2("l_tax")).cast(DEC2)
        return (
            li.filter(
                F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz")
            )
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                dsum("l_quantity", "sum_qty"),
                dsum("l_extendedprice", "sum_base_price"),
                dmul_sum(price * disc, "sum_disc_price"),
                dmul_sum(price * disc * tax, "sum_charge"),
                davg("l_quantity", "avg_qty"),
                davg("l_extendedprice", "avg_price"),
                davg("l_discount", "avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    def bits(rows):
        out = []
        for r in rows:
            vals = []
            for v in r:
                vals.append(
                    struct.pack(">d", v).hex() if isinstance(v, float) else v
                )
            out.append(tuple(vals))
        return out

    for d in dirs:
        fixed = bits(REGISTRY["agg_hash"].fn(spark, d).collect())
        dec = bits(decimal_spelling(d).collect())
        assert fixed == dec, d


def test_tpch_q18_matches_sql_decimal_form(spark):
    """tpch_q18 is the one TPC-H composite whose shipped form is not its
    SQL: it sums fixed-point cents and reuses the per-order aggregate
    (tpch_more.py; ISOLATE_r11.json `tpch_fixedpoint_paired_series`,
    `q18_shape_paired_series`). It must agree BIT-FOR-BIT — same rows,
    same float bits — with the decimal SQL spelling on both gate
    fixtures."""
    import struct

    from conftest import SF_MEDIUM, SF_SMALL

    from pycaim_spark.catalog import register_temp_views
    from pycaim_spark.queries.tpch_more import _Q18_SQL

    def bits(rows):
        out = []
        for r in rows:
            out.append(tuple(
                struct.pack(">d", v).hex() if isinstance(v, float) else v
                for v in r
            ))
        return sorted(out, key=str)

    for d in (SF_SMALL, SF_MEDIUM):
        shipped = bits(REGISTRY["tpch_q18"].fn(spark, d).collect())
        register_temp_views(spark, d)
        sql_form = bits(spark.sql(_Q18_SQL).collect())
        assert shipped == sql_form and shipped, d
