"""Registry output-schema contract — the permanent pin for a
driver-red failure class (CORRECTNESS_r07.json: 5 red rows, none a wrong value,
all canonicalization/dtype contract violations the value-diff suite was
structurally blind to).

Two invariants over EVERY registry entry:
1. No raw container (array/map/struct) output column — the driver's
   canonicalizer hashes cells via a pandas sort and a raw list raises
   ``TypeError: unhashable type: 'list'`` (registry rule:
   queries/__init__.py docstring — arrays surface joined to strings).
2. The Spark output schema's type class (int/float/bool/str/timestamp/
   date/bytes/decimal) matches the DuckDB oracle's Arrow-schema class per
   column — the driver's value hash is dtype-sensitive (BIGINT "7" vs
   DOUBLE "7.0"), and checking at the engine-schema level means a
   symmetric pandas NULL-upcast can never mask a divergence.

Plus negative tests proving compare() actually rejects both violation
kinds (a gate that cannot fail is not a gate).
"""

import duckdb
import pytest

from basin_cli_spark.oracle import (
    arrow_type_class,
    compare,
    duckdb_connect,
    spark_type_class,
)
from basin_cli_spark.queries import load_all

QUERIES = load_all()
ORACLE_BACKED = [n for n, s in QUERIES.items() if s.oracle]
ALL = list(QUERIES)


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ALL)
def test_no_raw_container_outputs(spark, sf_dir, name):
    sdf = QUERIES[name].fn(spark, sf_dir)
    bad = [
        (f.name, spark_type_class(f.dataType))
        for f in sdf.schema.fields
        if spark_type_class(f.dataType).startswith("CONTAINER")
    ]
    assert not bad, (
        f"{name} outputs raw container column(s) {bad} — join to string "
        "(queries/_helpers.vec_str for double vectors, F.array_join for "
        "string arrays); a raw list crashes the driver's canonicalizer"
    )
    # Spark happily produces duplicate output names (e.g. an unaliased
    # join key from both sides); pandas then mangles them and the
    # driver's column-sorted hash breaks
    names = [f.name for f in sdf.schema.fields]
    assert len(set(names)) == len(names), (
        f"{name} has duplicate output column names: {names}"
    )
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_dtype_class_matches_oracle(spark, sf_dir, oracle_con, name):
    spec = QUERIES[name]
    sdf = spec.fn(spark, sf_dir)
    s_classes = {f.name: spark_type_class(f.dataType) for f in sdf.schema.fields}
    # LIMIT 0: only the oracle's result schema matters here, and DuckDB
    # still type-checks the full query
    tbl = oracle_con.execute(
        f"SELECT * FROM ({spec.oracle}) LIMIT 0"
    ).arrow()
    o_classes = {f.name: arrow_type_class(f.type) for f in tbl.schema}
    assert sorted(s_classes) == sorted(o_classes), (
        f"{name}: column sets differ: spark={sorted(s_classes)} "
        f"oracle={sorted(o_classes)}"
    )
    diffs = {
        c: (s_classes[c], o_classes[c])
        for c in s_classes
        if s_classes[c] != o_classes[c]
    }
    assert not diffs, (
        f"{name}: dtype-class divergence (driver hashes are dtype-"
        f"sensitive; CAST the oracle side): {diffs}"
    )
    spark.catalog.clearCache()


def test_compare_rejects_mistyped_column(spark, sf_dir):
    """A deliberately int-vs-double column must fail compare() even though
    every VALUE is numerically equal — the driver's value hash is
    dtype-sensitive, so a value-only comparison would pass a row the
    driver rejects."""
    sdf = spark.range(5).selectExpr("id AS k", "CAST(id * 2 AS BIGINT) AS v")
    con = duckdb.connect()
    tbl = con.execute(
        "SELECT range AS k, CAST(range * 2 AS DOUBLE) AS v FROM range(5)"
    ).arrow()
    ok, msg = compare(sdf, tbl)
    assert not ok and "dtype-class" in msg, f"gate did not trip: {msg}"


def test_compare_rejects_raw_array_column(spark):
    sdf = spark.range(3).selectExpr("id AS k", "array(id, id + 1) AS v")
    con = duckdb.connect()
    tbl = con.execute(
        "SELECT range AS k, [range, range + 1] AS v FROM range(3)"
    ).arrow()
    ok, msg = compare(sdf, tbl)
    assert not ok and "container" in msg, f"gate did not trip: {msg}"


def test_compare_still_passes_on_equal_typed_frames(spark):
    sdf = spark.range(4).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v", "CAST(id AS STRING) AS s"
    )
    con = duckdb.connect()
    tbl = con.execute(
        "SELECT range AS k, CAST(range AS DOUBLE) AS v, "
        "CAST(range AS VARCHAR) AS s FROM range(4)"
    ).arrow()
    ok, msg = compare(sdf, tbl)
    assert ok, msg


def test_compare_takes_only_an_arrow_oracle():
    """A pandas oracle frame would skip the dtype-class gate, so compare()
    refuses it before looking at the Spark side."""
    import pandas as pd

    with pytest.raises(TypeError, match="pyarrow.Table"):
        compare(None, pd.DataFrame({"k": [1]}))


def test_decimal_canonicalization_is_lossless():
    """Decimal cells canonicalize losslessly.  The
    old float round-trip collapsed >2^53 decimals differing by <1 double
    ULP into equal strings — exactly the divergence a dtype-exact driver
    hash over a DECIMAL(38,0)/HUGEINT sum would see."""
    from decimal import Decimal

    from basin_cli_spark.oracle import canon_value

    big = 2**60
    a, b = Decimal(big), Decimal(big + 1)
    assert float(a) == float(b)  # sub-ULP apart as doubles...
    assert canon_value(a) != canon_value(b)  # ...but canon distinguishes
    # scale-insensitive: the same value at different decimal scales
    # (DECIMAL(18,2) vs DECIMAL(38,12)) canonicalizes identically
    assert canon_value(Decimal("7.00")) == canon_value(Decimal("7.000000"))
    # plain notation, never exponent form
    assert canon_value(Decimal("100")) == "100"
    assert canon_value(Decimal("0.00")) == "0"


def test_vec_str_null_element_sentinel(spark, oracle_con):
    """A NULL vector element must surface as an explicit 'NULL' token
    on BOTH engines — the default array join silently drops nulls, so
    [1,NULL,3] and [1,3] would canonicalize identically and mask an
    upstream bug."""
    from basin_cli_spark.queries._helpers import sql_vec_str, vec_str
    import pyspark.sql.functions as F

    sdf = spark.createDataFrame(
        [(1, [1.0, None, 3.0]), (2, [1.0, 3.0])],
        "k long, v array<double>",
    ).select("k", vec_str(F.col("v")).alias("vs"))
    rows = {r["k"]: r["vs"] for r in sdf.collect()}
    assert rows[1] == "1000000,NULL,3000000"
    assert rows[2] == "1000000,3000000"
    expr = sql_vec_str("[1.0, NULL, 3.0]::DOUBLE[]")
    (oval,) = oracle_con.execute(f"SELECT {expr}").fetchone()
    assert oval == rows[1]


def test_sf1_legs_partition_the_registry():
    """The four sf1 contract legs in scripts/drive_contract.py must
    exactly partition the registry — no entry driven twice at the fourth
    decade, and (the real risk) no entry silently left out of it.  A new
    registry entry fails this test until it is assigned to a leg."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "drive_contract",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "drive_contract.py"),
    )
    dc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dc)
    legs = [dc.SF1_SUBSET, dc.SF1_SUBSET_LEG2, dc.SF1_SUBSET_LEG3,
            dc.SF1_SUBSET_LEG4]
    union = [n for leg in legs for n in leg]
    assert len(union) == len(set(union)), "an entry appears in two legs"
    assert set(union) == set(QUERIES), (
        "legs must cover the registry exactly",
        sorted(set(QUERIES) - set(union)),
        sorted(set(union) - set(QUERIES)),
    )
