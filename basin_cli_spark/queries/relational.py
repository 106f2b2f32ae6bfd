"""Projection / filter / expression / limit / distinct operators
(SURVEY.md §2.B "Projection / filter / predicates", "Sort / limit / top-k").

The reference's own query surface is `SELECT * FROM t` (reference
internal/app/db.go:174) plus before/after/limit/offset event filters
(reference pkg/vaultsprovider/provider.go:101-106); everything else here is
the delegated-to-DuckDB surface re-expressed as DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from basin_cli_spark.operators.layout import spread
from basin_cli_spark.queries import register
from basin_cli_spark.queries._helpers import (
    dec,
    dec_avg,
    dec_sum,
    one_minus,
    one_plus,
    sql_dec,
    sql_dec_avg,
    sql_dec_sum,
)
from basin_cli_spark.sources import load_table

# --- flagship: TPC-H Q1-style pricing summary -------------------------------
# filter -> hash agg (partial+final, map-side combine free) -> sort.
# At 100 TB: scan-local partial aggregation reduces the shuffle to
# |groups| * |partitions| rows; the l_shipdate filter pushes to parquet
# min/max (verified in tests/test_plans.py).

_PRICE = sql_dec("l_extendedprice")
_DISC = sql_dec("l_discount")
_TAX = sql_dec("l_tax")
_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dec_sum(sql_dec('l_quantity'), 'sum_qty')},
       {sql_dec_sum(_PRICE, 'sum_base_price')},
       {sql_dec_sum(f'{_PRICE} * (1 - {_DISC})', 'sum_disc_price')},
       {sql_dec_sum(f'{_PRICE} * (1 - {_DISC}) * (1 + {_TAX})', 'sum_charge')},
       {sql_dec_avg(sql_dec('l_quantity'), 'avg_qty')},
       {sql_dec_avg(_PRICE, 'avg_price')},
       {sql_dec_avg(_DISC, 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark, sf_dir):
    # Wide-scan decimal aggregation: the partial agg is the map-side cost
    # (spread: 1.26 s -> 0.98 s at sf0.1 on 32 cores)
    li = spread(
        load_table(spark, sf_dir, "lineitem"), ("l_orderkey", "l_linenumber")
    )
    price, disc = dec("l_extendedprice"), dec("l_discount")
    disc_price = price * one_minus("l_discount")  # (13,4), long-backed
    charge = disc_price * one_plus("l_tax")  # (18,6), still long-backed
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(dec("l_quantity"), "sum_qty"),
            dec_sum(price, "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(charge, "sum_charge"),
            dec_avg(dec("l_quantity"), "avg_qty"),
            dec_avg(price, "avg_price"),
            dec_avg(disc, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q_filter_predicates",
    """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_returnflag IN ('A', 'R')
  AND l_linestatus = 'F'
  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND NOT (l_discount > 0.08)
""",
)
def q_filter_predicates(spark, sf_dir):
    """Comparison / BETWEEN / IN / boolean ops — all pushed to the parquet
    scan by Catalyst (PushedFilters, checked in test_plans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_linestatus") == "F")
        & (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
        & ~(F.col("l_discount") > 0.08)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")


@register(
    "q_like_isnull",
    """
SELECT o_orderkey, o_orderpriority,
       NULLIF(o_orderstatus, 'O') AS status_or_null
FROM orders
WHERE o_orderpriority LIKE '1-%' AND NULLIF(o_orderstatus, 'O') IS NOT NULL
""",
)
def q_like_isnull(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        o.withColumn("status_or_null", status_or_null)
        .where(F.col("o_orderpriority").like("1-%") & status_or_null.isNotNull())
        .select("o_orderkey", "o_orderpriority", "status_or_null")
    )


@register(
    "q_case_expr",
    """
SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'small' END AS bucket,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1))) AS VARCHAR) AS DOUBLE) AS discounted_total,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders
GROUP BY 1
""",
)
def q_case_expr(spark, sf_dir):
    """CASE WHEN / arithmetic / cast (SURVEY §2.B expression evaluation)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("bucket")
    )
    return o.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(dec("o_totalprice") * F.lit(0.9).cast("decimal(2,1)"), "discounted_total"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
    )


@register(
    "q_distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct(spark, sf_dir):
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "q_limit_offset",
    """
SELECT event_id, user_id, event_type
FROM events
ORDER BY ts DESC, event_id DESC
LIMIT 50 OFFSET 10
""",
)
def q_limit_offset(spark, sf_dir):
    """ORDER BY ... LIMIT/OFFSET — the reference's event paging
    (reference pkg/vaultsprovider/provider.go:101-106).  Spark plans this as
    TakeOrderedAndProject: no full sort, no shuffle of the full table."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .offset(10)
        .limit(50)
        .select("event_id", "user_id", "event_type")
    )


@register(
    "q_orderby_nulls",
    """
SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
FROM customer
ORDER BY seg ASC NULLS FIRST, c_custkey DESC
LIMIT 100
""",
)
def q_orderby_nulls(spark, sf_dir):
    """Multi-key ORDER BY with explicit null placement."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg"))
        .orderBy(F.col("seg").asc_nulls_first(), F.col("c_custkey").desc())
        .limit(100)
    )
