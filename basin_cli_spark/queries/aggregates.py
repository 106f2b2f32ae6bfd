"""Aggregation operators (SURVEY.md §2.B "Aggregations").

The reference's only direct aggregate is the empty-table guard
``select count(1) ... LIMIT 1`` (reference internal/app/db.go:155-166);
the rest is its delegated DuckDB surface, re-expressed with hash
aggregation (partial+final automatic — map-side combine is free at scale).

Variance/stddev are computed from exact decimal moments (sum, sum of
squares) so the value is order-independent — a raw float stddev would
drift with partitioning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from basin_cli_spark.operators.layout import spread
from basin_cli_spark.queries import register
from basin_cli_spark.queries._helpers import dec, dec_sum
from basin_cli_spark.sources import load_table

_LI_KEY = ("l_orderkey", "l_linenumber")


@register(
    "q_agg_stats",
    """
SELECT l_returnflag,
       COUNT(*) AS n,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_stats(spark, sf_dir):
    # count_distinct forces a two-phase agg whose first (l_returnflag,
    # l_orderkey) dedup is map-side CPU
    li = spread(load_table(spark, sf_dir, "lineitem"), _LI_KEY)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        dec_sum(dec("l_extendedprice"), "sum_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


_VAR_ORACLE = """
WITH m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       s1 / n AS mean_value,
       (s2 - s1 * s1 / n) / (n - 1) AS var_value,
       SQRT((s2 - s1 * s1 / n) / (n - 1)) AS stddev_value
FROM m
"""


@register("q_stddev_var", _VAR_ORACLE)
def q_stddev_var(spark, sf_dir):
    """Sample variance/stddev from exact decimal moments (see module doc)."""
    ev = load_table(spark, sf_dir, "events")
    v = dec("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var = (s2 - s1 * s1 / n) / (n - 1)
    return m.select(
        "event_type",
        "n",
        (s1 / n).alias("mean_value"),
        var.alias("var_value"),
        F.sqrt(var).alias("stddev_value"),
    )


@register(
    "q_grouping_rollup",
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def q_grouping_rollup(spark, sf_dir):
    # rollup expand multiplies partial-agg rows 3x — same map-side CPU
    # shape as q_grouping_sets
    li = spread(load_table(spark, sf_dir, "lineitem"), _LI_KEY)
    gid = (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).cast("int")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        gid.alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dec_sum(dec("l_quantity"), "sum_qty"),
    )


@register(
    "q_grouping_cube",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
)
def q_grouping_cube(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    gid = (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")).cast("int")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        gid.alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dec_sum(dec("o_totalprice"), "total"),
    )


@register(
    "q_maxby_minby",
    """
SELECT c_nationkey,
       ARG_MAX(c_name, c_custkey) AS newest_customer,
       ARG_MIN(c_name, c_custkey) AS oldest_customer,
       MAX(c_acctbal) AS max_bal
FROM customer
GROUP BY c_nationkey
""",
)
def q_maxby_minby(spark, sf_dir):
    """max_by/min_by keyed on the unique customer key (deterministic)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_custkey").alias("newest_customer"),
        F.min_by("c_name", "c_custkey").alias("oldest_customer"),
        F.max("c_acctbal").alias("max_bal"),
    )


@register(
    "q_collect_list_sorted",
    """
SELECT r_name, ARRAY_TO_STRING(LIST_SORT(LIST(n_name)), ',') AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def q_collect_list_sorted(spark, sf_dir):
    """collect_list is order-nondeterministic — always sort before compare;
    surfaced as a joined string so engines' array containers don't matter."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"))
    )


@register(
    "q_median_percentile",
    """
SELECT l_returnflag,
       MEDIAN(l_quantity) AS med_qty,
       QUANTILE_CONT(l_quantity, 0.25) AS p25_qty,
       QUANTILE_CONT(l_quantity, 0.75) AS p75_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_median_percentile(spark, sf_dir):
    """Exact median / interpolated percentiles (both engines use linear
    interpolation over the sorted values — deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.percentile("l_quantity", 0.25).alias("p25_qty"),
        F.percentile("l_quantity", 0.75).alias("p75_qty"),
    )


@register(
    "q_count_distinct_multi",
    """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT o_orderstatus) AS n_statuses,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
""",
)
def q_count_distinct_multi(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_approx_count_distinct",
    """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       ABS(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))
         <= 0.05 * COUNT(DISTINCT l_orderkey) AS orders_ok,
       ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
         <= 0.05 * COUNT(DISTINCT l_partkey) AS parts_ok
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_approx_count_distinct(spark, sf_dir):
    """HLL++ sketch with a tolerance-as-boolean oracle: Spark's HLL++ and
    DuckDB's HLL differ in raw estimate, but BOTH must land within 5% of
    the exact count, so each engine emits |approx-exact|/exact <= 0.05 as
    a boolean and the booleans (plus the exact counts, which must agree
    bit-for-bit) hash-match.  Exactness itself is covered by
    q_count_distinct_multi."""
    # Fused, Spark's multi-distinct rewrite plants the partial HLL
    # sketches INSIDE the Expand-dedup aggregate, so two rsd-0.02
    # register arrays (~3 KB each) are allocated and updated per
    # (returnflag, orderkey/partkey) dedup key — ~350k keys at sf0.1 —
    # instead of per output group (3).  Splitting the sketches into
    # their own 3-group aggregation over the raw input computes the
    # identical registers (HLL merge is per-register max over the same
    # value set, same rsd) with 3 buffers, and the 3-row join is a
    # broadcast.  Measured 5.7 s -> 1.25 s noop at sf0.1 (interleaved
    # A/B); fused-vs-split bit-equality is pinned in
    # tests/test_oracle_diff.py.  NOT spread: with the buffer churn
    # gone the map sides are light and the A/B measured the extra
    # exchanges a net loss (1.25 s -> 1.65 s).
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("_ao"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_ap"),
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        (F.abs(F.col("_ao") - F.col("exact_orders"))
         <= 0.05 * F.col("exact_orders")).alias("orders_ok"),
        (F.abs(F.col("_ap") - F.col("exact_parts"))
         <= 0.05 * F.col("exact_parts")).alias("parts_ok"),
    )


@register(
    "q_pivot",
    """
SELECT l_returnflag,
       CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS qty_O,
       CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS qty_F
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_pivot(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
    )
    return p.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


@register(
    "q_grouping_sets",
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with GROUPING() disambiguation (SURVEY.md
    §2.B aggregations) — subtotal rows computed in one shuffle, not one
    pass per set."""
    # GROUPING SETS expand triples the partial-agg rows, so the map side is
    # CPU-bound (spread: 0.99 s -> 0.60 s at sf0.1 on 32 cores)
    li = spread(load_table(spark, sf_dir, "lineitem"), _LI_KEY)
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "q_agg_first_last",
    """
SELECT o_orderpriority,
       FIRST(o_totalprice ORDER BY o_orderdate, o_orderkey) AS first_price,
       LAST(o_totalprice ORDER BY o_orderdate, o_orderkey) AS last_price,
       FIRST(o_orderkey ORDER BY o_orderdate, o_orderkey) AS first_key,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
""",
)
def q_agg_first_last(spark, sf_dir):
    """Deterministic first/last per group. Spark's F.first/F.last are
    order-dependent on partitioning (unsafe at scale), so 'first by sort
    key' is expressed as min/max over a struct whose leading fields are
    the (unique) sort key — a plain hash-agg, no window, no sort."""
    o = load_table(spark, sf_dir, "orders")
    key = ("o_orderdate", "o_orderkey")
    fst = F.min(F.struct(*key, "o_totalprice"))
    lst = F.max(F.struct(*key, "o_totalprice"))
    return o.groupBy("o_orderpriority").agg(
        fst["o_totalprice"].alias("first_price"),
        lst["o_totalprice"].alias("last_price"),
        fst["o_orderkey"].alias("first_key"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_unpivot",
    """
WITH m AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS DOUBLE) AS n_customers,
         CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_acctbal
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, metric, value
FROM m UNPIVOT (value FOR metric IN (n_customers, total_acctbal))
""",
)
def q_unpivot(spark, sf_dir):
    """Unpivot/melt — the wide->long reshape dual of q_pivot (SURVEY.md
    §2.B aggregations).  Spark plans Expand (one pass multiplying rows by
    the number of measures), not a per-measure union of scans."""
    c = load_table(spark, sf_dir, "customer")
    m = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        F.sum(dec("c_acctbal")).cast("double").alias("total_acctbal"),
    )
    return m.unpivot(
        ids=["c_nationkey"],
        values=["n_customers", "total_acctbal"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_CORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(6,2))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(6,2)) * CAST(l_quantity AS DECIMAL(6,2))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(8,2)) * CAST(l_extendedprice AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(6,2)) * CAST(l_extendedprice AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((sxy - sx * sy / n) / (n - 1), 6) AS covar_qty_price,
       ROUND((sxy - sx * sy / n)
             / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)), 9) AS corr_qty_price
FROM m
"""


@register("q_corr_covar", _CORR_ORACLE)
def q_corr_covar(spark, sf_dir):
    """Correlation / covariance via exact-decimal moment sums (sx, sy,
    sxx, syy, sxy are all exact — 2-dp inputs, decimal products), so the
    final double formula is order-independent and bit-identical across
    engines; the built-in CORR/COVAR accumulate in floats and are not.
    One hash-agg pass, map-side partials, same shuffle as any groupBy."""
    # five wide-decimal product sums per row are the map cost.
    # Partitioning-safe by this query's own design:
    # the moment sums are exact decimals (order-independent), doubles
    # only appear in the final per-group formula.
    li = spread(load_table(spark, sf_dir, "lineitem"), _LI_KEY)
    qty, price = dec("l_quantity"), dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).cast("double").alias("sx"),
        F.sum(price).cast("double").alias("sy"),
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
        F.sum(qty * price).cast("double").alias("sxy"),
    )
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    corr = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * (F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(cov, 6).alias("covar_qty_price"),
        F.round(corr, 9).alias("corr_qty_price"),
    )


@register(
    "q_approx_percentile",
    """
WITH exact AS (
  SELECT l_returnflag, COUNT(*) AS n_rows,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.5) AS p50,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.95) AS p95
  FROM lineitem GROUP BY l_returnflag
),
approx AS (
  SELECT l_returnflag,
         APPROX_QUANTILE(CAST(l_extendedprice AS DOUBLE), 0.5) AS a50,
         APPROX_QUANTILE(CAST(l_extendedprice AS DOUBLE), 0.95) AS a95
  FROM lineitem GROUP BY l_returnflag
)
SELECT e.l_returnflag, e.n_rows,
       ABS(a.a50 - e.p50) <= 0.05 * e.p50 AS p50_ok,
       ABS(a.a95 - e.p95) <= 0.05 * e.p95 AS p95_ok
FROM exact e JOIN approx a USING (l_returnflag)
""",
)
def q_approx_percentile(spark, sf_dir):
    """Sketch-based percentile with a tolerance-as-boolean oracle (the
    q_approx_count_distinct pattern): Spark's percentile_approx
    (Greenwald-Khanna) and DuckDB's t-digest produce different
    estimates — and even the two engines' EXACT continuous quantiles
    differ in the last float bit (interpolation order) — so each engine
    emits the bit-identical group counts plus its own
    approx-within-5%-of-its-own-exact booleans.  Exact percentile values
    are separately hash-verified by q_median_percentile."""
    # map-side CPU: the exact percentiles accumulate a per-group
    # value->count map and the GK sketches (accuracy 10000) compress per
    # row, all before the one exchange.  Spread the under-split scan;
    # safe because the exact percentile is a function of the value
    # multiset (order-free counts map) and GK merge-order wobble is
    # bounded by the 1e-4 rank accuracy — two orders inside the 5%
    # tolerance the booleans state.  Measured margin (r15, this fixture
    # family): worst |approx-exact|/exact across all groups, both
    # percentiles, sf0.001/0.01/0.1 x {4, 8, 32} cores (different
    # defaultParallelism => different spread layout and GK merge order)
    # is 7.7e-4, i.e. 65x inside the 5% bound; the core-count-induced
    # wobble alone is <= ~1.3e-4.  For the booleans to flip, the
    # fixture's rank->value density near p50/p95 would have to be ~500x
    # steeper than anywhere in the measured price distribution.
    li = spread(load_table(spark, sf_dir, "lineitem"), _LI_KEY)
    price = F.col("l_extendedprice").cast("double")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            "percentile(cast(l_extendedprice as double), 0.5)"
        ).alias("_e50"),
        F.expr(
            "percentile(cast(l_extendedprice as double), 0.95)"
        ).alias("_e95"),
        F.percentile_approx(price, 0.5, 10000).alias("_a50"),
        F.percentile_approx(price, 0.95, 10000).alias("_a95"),
    )
    return g.select(
        "l_returnflag",
        "n_rows",
        (F.abs(F.col("_a50") - F.col("_e50")) <= 0.05 * F.col("_e50"))
            .alias("p50_ok"),
        (F.abs(F.col("_a95") - F.col("_e95")) <= 0.05 * F.col("_e95"))
            .alias("p95_ok"),
    )


@register(
    "q_histogram",
    """
SELECT CAST(LEAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / 10000), 9) AS BIGINT)
         AS bucket,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
FROM lineitem
GROUP BY 1
ORDER BY bucket
""",
)
def q_histogram(spark, sf_dir):
    """Fixed-width histogram (10 x 10K price buckets, top bucket open):
    the binning arithmetic is FLOOR(x / width) clamped — identical IEEE
    ops in both engines, so bucket boundaries can't drift.  One hash-agg
    with map-side partials; the decimal sum keeps per-bucket totals
    order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.floor(F.col("l_extendedprice").cast("double") / 10000), F.lit(9)
    ).cast("bigint")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum(dec("l_extendedprice"), "total"),
        )
        .orderBy("bucket")
    )
