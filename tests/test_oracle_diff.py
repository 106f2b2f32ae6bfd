"""Differential tests: every oracle-backed query in the registry must match
DuckDB exactly (the driver's t2 gate, run here at sf0.001 for speed)."""

import pytest

from basin_cli_spark.oracle import compare, duckdb_connect
from basin_cli_spark.queries import load_all

QUERIES = load_all()
ORACLE_BACKED = [name for name, spec in QUERIES.items() if spec.oracle]
NO_ORACLE = [name for name, spec in QUERIES.items() if spec.oracle is None]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_query_matches_oracle(spark, sf_dir, oracle_con, name):
    # scope each query's persisted intermediates to its own run (same
    # discipline as bench.py / drive_contract.py) — 180 queries on one
    # session would otherwise accumulate orphaned cache entries
    spark.catalog.clearCache()
    spec = QUERIES[name]
    sdf = spec.fn(spark, sf_dir)
    # .arrow() (not .df()) so compare() sees the oracle's engine-level
    # column types for the driver-strict dtype-class check
    otbl = oracle_con.execute(spec.oracle).arrow()
    ok, msg = compare(sdf, otbl)
    assert ok, f"{name}: {msg}"
    opdf = otbl.to_pandas(date_as_object=True)
    # Guard against vacuous passes: an empty expected result means the
    # query's filters select nothing at this scale factor, and the match
    # above proved nothing (this has bitten real date-literal bugs).
    if not name.startswith("q_stream"):
        assert len(opdf) > 0, f"{name}: oracle returns 0 rows — vacuous test"


@pytest.mark.parametrize("name", NO_ORACLE)
def test_rows_only_query_runs(spark, sf_dir, name):
    spec = QUERIES[name]
    sdf = spec.fn(spark, sf_dir)
    assert sdf.count() >= 0


def test_approx_count_distinct_split_equals_fused(spark, sf_dir):
    """q_approx_count_distinct computes its HLL sketches in a
    separate 3-group aggregation instead of fused with the exact
    distincts (where the multi-distinct rewrite allocates the rsd-0.02
    register arrays per dedup key).  The registers are per-register max
    over the same value set, so the split estimates must be
    BIT-identical to the fused form's — not merely within tolerance."""
    from pyspark.sql import functions as F

    from basin_cli_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    fused = {
        r["l_returnflag"]: (r["_ao"], r["_ap"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("_ao"),
            F.countDistinct("l_orderkey").alias("eo"),
            F.approx_count_distinct("l_partkey", 0.02).alias("_ap"),
            F.countDistinct("l_partkey").alias("ep"),
        )
        .collect()
    }
    split = {
        r["l_returnflag"]: (r["_ao"], r["_ap"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("_ao"),
            F.approx_count_distinct("l_partkey", 0.02).alias("_ap"),
        )
        .collect()
    }
    assert split == fused
