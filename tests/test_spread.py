"""spread() — the one layout-aware spread of an under-split input
(operators/layout.py).

Contract under test:
* under-split batch input (row groups * SPREAD_FACTOR <= cores): a hash
  exchange on the caller's key — never round-robin (round-robin pays a
  map-side sort, SPARK-23207);
* well-split or unreadable layout: the plan is untouched (no Exchange);
* streaming and in-memory input: always spread;
* no key: a per-row id is hashed, so duplicate-heavy multisets (the
  ECMH/MuHash digests) spread evenly instead of co-locating;
* results are identical either way (the repartition is pure placement);
* query filters still reach the parquet scan below the spread exchange;
* no engine code calls ``repartition`` outside spread() (lint).
"""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from basin_cli_spark.operators import layout as L
from basin_cli_spark.operators.layout import spread
from basin_cli_spark.sources import load_table

_LI_KEY = ("l_orderkey", "l_linenumber")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_spread_under_split_adds_hash_exchange(spark, sf_dir):
    # the fixture tables are single-row-group files, far below the
    # session parallelism -> spread must fire with a hash partitioning
    # on the caller's key
    plan = plan_of(spread(load_table(spark, sf_dir, "lineitem"), _LI_KEY))
    assert "REPARTITION_BY_NUM" in plan
    assert re.search(r"xxhash64\(l_orderkey#\d+L?, l_linenumber#\d+", plan)
    assert "RoundRobinPartitioning" not in plan


def test_spread_noop_on_well_split_layout(spark, sf_dir, monkeypatch):
    # simulate a well-split warehouse layout via the memoized row-group
    # count: at cores-many row groups the scan needs no help
    df = load_table(spark, sf_dir, "lineitem")
    (uri,) = df.inputFiles()
    monkeypatch.setitem(L._ROW_GROUPS, uri, 4096)
    assert "Exchange" not in plan_of(spread(df, _LI_KEY))


def test_spread_noop_when_footer_unreadable(spark, tmp_path):
    # a CSV has no Parquet footer: the layout is unknown, so it is taken
    # to be well split and left alone
    path = str(tmp_path / "t.csv")
    spark.range(10).write.csv(path)
    df = spark.read.csv(path)
    assert "Exchange" not in plan_of(spread(df, "_c0"))


def test_spread_in_memory_input_always_spreads(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], ["id"])
    plan = plan_of(spread(df, "id"))
    assert "REPARTITION_BY_NUM" in plan and "xxhash64(id#" in plan


def test_spread_streaming_input_always_spreads(spark, sf_dir, monkeypatch):
    # a single-file stream source is one partition per micro-batch; the
    # spread fires even when the file's footer says it is well split
    docs = load_table(spark, sf_dir, "documents")
    (uri,) = docs.inputFiles()
    monkeypatch.setitem(L._ROW_GROUPS, uri, 4096)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    out = spread(stream, "doc_id")
    assert out.isStreaming
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression [xxhash64(doc_id" in analyzed, analyzed


def test_spread_preserves_rows_and_pushdown(spark, sf_dir):
    base = load_table(spark, sf_dir, "lineitem")
    spreaded = spread(base, _LI_KEY)
    pred = F.col("l_quantity") <= 5
    a = sorted(
        tuple(r)
        for r in base.where(pred).select("l_orderkey", "l_linenumber").collect()
    )
    b = sorted(
        tuple(r)
        for r in spreaded.where(pred)
        .select("l_orderkey", "l_linenumber")
        .collect()
    )
    assert a == b and len(a) > 0
    # the filter must reach the scan BELOW the spread exchange
    plan = plan_of(spreaded.where(pred).select("l_orderkey"))
    scan = plan.split("(1) Scan", 1)[1].split("(2)")[0]
    assert "LessThanOrEqual(l_quantity,5" in scan, scan


def test_spread_scan_row_groups_memoized(spark, sf_dir):
    (uri,) = load_table(spark, sf_dir, "orders").inputFiles()
    assert L._row_groups(uri) >= 1
    assert uri in L._ROW_GROUPS


# -- duplicate-heavy digests -------------------------------------------------

_HOT_ROWS = 10_000


@pytest.mark.parametrize(
    "name",
    [
        "ecmh_digest",
        "muhash_digest",
        "ecmh_digest_by_group",
        "muhash_digest_by_group",
    ],
)
def test_duplicate_heavy_digest_spreads_evenly(spark, monkeypatch, name):
    """One value repeated 10k times: the digest equals a local fold and
    the digest of a differently partitioned input, and the spread the
    digest folds over holds at most 2x the mean rows in any partition —
    hashing the value itself would put all 10k rows in one task."""
    from basin_cli_spark.functions import ecmh, muhash

    mod = ecmh if name.startswith("ecmh") else muhash
    fn = getattr(mod, name)
    by_group = name.endswith("_by_group")
    df = spark.createDataFrame([("g", "hot")] * _HOT_ROWS, ["k", "v"])

    def digest(d):
        if by_group:
            return {r[0]: r[1] for r in fn(d, "k", "v").collect()}
        return fn(d, "v")

    folded = []
    cls = type(df)
    orig = cls.mapInPandas

    def capture(self, *args, **kwargs):
        folded.append(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", capture)
    got = digest(df)
    monkeypatch.setattr(cls, "mapInPandas", orig)

    multiset = ecmh.MultisetHash if mod is ecmh else muhash.MulMultisetHash
    one, acc = multiset(), multiset()
    one.insert(b"hot")
    for _ in range(_HOT_ROWS):
        acc.union(one)
    local = acc.digest()
    assert got == ({"g": local} if by_group else local)
    assert digest(df.repartition(7)) == got

    (spread_in,) = folded
    par = spark.sparkContext.defaultParallelism
    sizes = [
        r["n"]
        for r in spread_in.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert sum(sizes) == _HOT_ROWS
    assert max(sizes) <= 2 * _HOT_ROWS / par, sizes


# -- lint: one way to spread ------------------------------------------------

_ENGINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "basin_cli_spark",
)

# (path under basin_cli_spark/, enclosing function) -> why this call may
# repartition directly.  An entry without a reason is rejected.
_REPARTITION_ALLOWED: dict[tuple[str, str], str] = {
    ("operators/layout.py", "spread"): "the one spread primitive",
}


def _repartition_calls():
    """(relpath, enclosing function, line) of every ``.repartition(``
    call in the engine sources."""
    found = []

    def visit(node, rel, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "repartition"
        ):
            found.append((rel, func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, func)

    for path in glob.glob(os.path.join(_ENGINE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _ENGINE).replace(os.sep, "/")
        with open(path) as f:
            visit(ast.parse(f.read(), path), rel, "<module>")
    return found


def test_no_repartition_outside_spread():
    for key, reason in _REPARTITION_ALLOWED.items():
        assert isinstance(reason, str) and reason.strip(), key
    calls = _repartition_calls()
    stray = [c for c in calls if (c[0], c[1]) not in _REPARTITION_ALLOWED]
    assert not stray, (
        "repartition outside spread() — call operators.layout.spread, or "
        f"allowlist the site with a reason: {stray}"
    )
    used = {(rel, func) for rel, func, _ in calls}
    stale = set(_REPARTITION_ALLOWED) - used
    assert not stale, f"allowlist entries with no call: {stale}"
