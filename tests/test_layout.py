"""Layout-operator tests: bucketed joins drop the shuffle entirely;
salted joins return exactly the plain join's rows."""

from __future__ import annotations

import pyspark.sql.functions as F

from basin_cli_spark.operators.layout import salted_join, write_bucketed
from basin_cli_spark.sources import load_table


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(li, "li_bucketed", "l_orderkey", buckets=8)
    write_bucketed(orders, "o_bucketed", "o_orderkey", buckets=8)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("li_bucketed").join(
                spark.table("o_bucketed"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._sc._jvm.PythonSQLUtils.explainString(
                joined._jdf.queryExecution(), "formatted"
            )
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located buckets: no shuffle
            # and the join still returns every lineitem row
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    plain = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=4)
    key = ["l_orderkey", "l_linenumber"]
    assert sorted(map(tuple, plain.select(*key).collect())) == sorted(
        map(tuple, salted.select(*key).collect())
    )
    assert "_salt" not in salted.columns


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """Catalyst injects a bloom-filter pre-filter (might_contain on the
    fact side) for a selective shuffle join, and the join result is
    unchanged — the runtime form of pre-shuffle row pruning at scale."""
    from basin_cli_spark.operators.layout import tune_runtime_bloom

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 20 == 0
    ).select("o_orderkey")

    expected = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"], "left_semi"
    ).count()

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tune_runtime_bloom(spark, app_side_threshold="0")
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan  # the injected bloom pre-filter
        assert j.count() == expected    # never drops a real match
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )


def test_date_partitioned_write_prunes_scan(spark, sf_dir, tmp_path):
    """A day filter on the partition column must become a PartitionFilter
    (pruned at planning), not a post-scan predicate over the whole log."""
    from basin_cli_spark.operators.layout import write_date_partitioned
    from basin_cli_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_day")
    write_date_partitioned(ev, out)
    back = spark.read.parquet(out)
    q = back.where(F.col("event_date") == "2024-01-03").select("event_id")
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    scan = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_date" in scan
    # and the result only contains that day
    days = q.count()
    import datetime

    got = back.where(F.col("event_date") == "2024-01-03")
    assert got.count() == days
    assert set(
        r.event_date for r in got.select("event_date").distinct().collect()
    ) == {datetime.date(2024, 1, 3)}


def _scan_rows(q) -> int:
    q.collect()
    plan = q._jdf.queryExecution().executedPlan()
    found = []

    def walk(node):
        if "Scan" in node.nodeName():
            it = node.metrics().iterator()
            while it.hasNext():
                e = it.next()
                if e._1() == "numOutputRows":
                    found.append(e._2().value())
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(plan)
    return sum(found)


def test_sorted_and_zordered_layouts_skip_row_groups(spark, tmp_path):
    """Stats-based data skipping: a selective range predicate over a
    range-sorted layout must scan far fewer rows than over a shuffled
    layout, and a Z-ordered layout must skip on BOTH interleaved columns
    where single-column sorting only skips on its own."""
    from basin_cli_spark.operators.layout import write_sorted_by, write_zordered

    df = spark.range(0, 200_000).select(
        (F.col("id") * 2654435761 % 1_000_000).alias("x"),
        (F.col("id") * 40503 % 1_000_000).alias("y"),
    )
    rand, srt, zo = (str(tmp_path / n) for n in ("rand", "sorted", "zorder"))
    df.repartition(16).write.mode("overwrite").parquet(rand)
    write_sorted_by(df, srt, "x")
    write_zordered(df, zo, "x", "y")

    fx = (F.col("x") >= 100) & (F.col("x") < 2000)
    fy = (F.col("y") >= 100) & (F.col("y") < 2000)
    rows = {
        (name, axis): _scan_rows(spark.read.parquet(p).where(flt))
        for name, p in (("rand", rand), ("sorted", srt), ("zorder", zo))
        for axis, flt in (("x", fx), ("y", fy))
    }
    # sorted-by-x: big skip on x, none on y
    assert rows[("sorted", "x")] * 5 < rows[("rand", "x")]
    # z-order: clear skip on BOTH axes vs the shuffled layout (threshold
    # 2x, not higher: repartitionByRange samples its range boundaries, so
    # the exact skip ratio varies run to run around ~2.5-4x)
    assert rows[("zorder", "x")] * 2 < rows[("rand", "x")]
    assert rows[("zorder", "y")] * 2 < rows[("rand", "y")]
    # and y-skipping is something the x-sorted layout cannot do
    assert rows[("zorder", "y")] * 2 < rows[("sorted", "y")]


def test_session_aqe_sizing_confs(spark):
    """Pin the r9 AQE sizing decision: a 16 MB advisory partition target
    (the default 64 MB coalesces high-cardinality final-agg shuffles into
    reducers whose hash maps spill — exact dedup at 100x measured 6x
    slower), and NO initialPartitionNum override (256 initial was
    measured +60% on the multi-shuffle LSH/Bloom bench trio; it's a
    per-deployment cluster conf, not a local default — session.py)."""
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        in ("16m", "16777216", "16777216b")
    )
    assert (
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            None,
        )
        is None
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
