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
* the footer row-group count comes from the footer memo
  (``sources.tables.footer``), keyed per file identity, so a file
  rewritten at the same path is read again;
* no engine code calls ``repartition`` outside spread() (lint).
* no engine code calls ``dot_arrow`` outside operators/ (lint).
* no public operator keeps a ``*_col`` parameter that callers outside
  tests/ only ever set to one value (lint).
* no public engine function or class is reached only from tests/ (lint).
* no engine code reads a parquet footer outside sources/tables.py (lint).
"""

from __future__ import annotations

import ast
import glob
import os
import re
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from basin_cli_spark.operators import layout as L
from basin_cli_spark.operators.layout import spread
from basin_cli_spark.sources import load_table
from basin_cli_spark.sources import tables as TB
from basin_cli_spark.sources.tables import file_identity

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
    # simulate a well-split warehouse layout via the memoized footer: at
    # cores-many row groups the scan needs no help
    df = load_table(spark, sf_dir, "lineitem")
    (uri,) = df.inputFiles()
    monkeypatch.setitem(TB._FOOTERS, file_identity(uri), SimpleNamespace(num_row_groups=4096))
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
    monkeypatch.setitem(TB._FOOTERS, file_identity(uri), SimpleNamespace(num_row_groups=4096))
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
    assert file_identity(uri) in TB._FOOTERS


def test_row_groups_reread_after_rewrite(tmp_path):
    # the memo is keyed by file identity: a file rewritten at the same
    # path is read again instead of keeping its old row-group count
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    table = pa.table({"a": list(range(1000))})
    pq.write_table(table, path)
    uri = f"file://{path}"
    assert L._row_groups(uri) == 1
    pq.write_table(table, path, row_group_size=100)
    assert L._row_groups(uri) == 10


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


def _engine_calls(name: str):
    """(relpath, enclosing function, line) of every call to ``name`` —
    ``x.name(`` or a bare ``name(`` — in the engine sources."""
    found = []

    def visit(node, rel, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and name in (
            getattr(node.func, "attr", None),
            getattr(node.func, "id", None),
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
    calls = _engine_calls("repartition")
    stray = [c for c in calls if (c[0], c[1]) not in _REPARTITION_ALLOWED]
    assert not stray, (
        "repartition outside spread() — call operators.layout.spread, or "
        f"allowlist the site with a reason: {stray}"
    )
    used = {(rel, func) for rel, func, _ in calls}
    stale = set(_REPARTITION_ALLOWED) - used
    assert not stale, f"allowlist entries with no call: {stale}"


def _imports_pyarrow_parquet(node) -> bool:
    if isinstance(node, ast.Import):
        return any(a.name == "pyarrow.parquet" for a in node.names)
    if isinstance(node, ast.ImportFrom):
        return node.module == "pyarrow.parquet" or (
            node.module == "pyarrow" and any(a.name == "parquet" for a in node.names)
        )
    return False


def test_footer_reads_only_in_tables():
    """Parquet footers have one reader, sources.tables.footer, memoized
    per file version: engine code that reads a footer itself keeps a
    second answer to when a remembered fact is stale."""
    found = [c for name in ("read_metadata", "ParquetFile") for c in _engine_calls(name)]
    found += [
        (rel.removeprefix("basin_cli_spark/"), "<import>", node.lineno)
        for rel, tree in _non_test_trees() if rel.startswith("basin_cli_spark/")
        for node in ast.walk(tree) if _imports_pyarrow_parquet(node)
    ]
    stray = [c for c in found if c[0] != "sources/tables.py"]
    assert not stray, (
        "parquet footer read outside sources/tables.py — call "
        f"sources.tables.footer: {stray}"
    )


def test_dot_arrow_only_under_operators():
    """Pair scoring has one owner: a query module that calls dot_arrow
    directly is a private verify that the scorers in
    operators/similarity.py (cosine_pair_scores, cosine_probe_scores)
    already provide."""
    stray = [
        c for c in _engine_calls("dot_arrow")
        if not c[0].startswith("operators/")
    ]
    assert not stray, (
        "dot_arrow outside operators/ — score through "
        f"similarity.cosine_pair_scores / cosine_probe_scores: {stray}"
    )


# -- lint: no column-name parameter with one value in use ---------------------

_REPO = os.path.dirname(_ENGINE)

# (module under operators/, function, parameter) -> why it stays settable
# although no caller outside tests/ sets it.  An entry without a reason is
# rejected.
_COL_PARAMS_KEPT: dict[tuple[str, str, str], str] = {
    ("events.py", "list_events", "ts_col"): (
        "perfbench/workloads.py passes it by keyword, and the benchmark's "
        "calls keep their signatures"
    ),
    ("kmeans.py", "distortion", "vec_col"): (
        "a quality measure with no engine caller: tests score the PQ "
        "sub-codebooks on their '_sub' slices"
    ),
}
_REQUIRED = object()
_DYNAMIC = object()


def _col_params():
    """(module, function, parameter) -> (positional index or None,
    default or ``_REQUIRED``) for every ``*_col`` parameter of a public
    function under operators/."""
    out = {}
    for path in sorted(glob.glob(os.path.join(_ENGINE, "operators", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = [p.arg for p in a.posonlyargs + a.args]
            defaults = [_REQUIRED] * (len(pos) - len(a.defaults)) + [
                ast.literal_eval(d) for d in a.defaults
            ]
            named = list(zip(pos, defaults)) + [
                (p.arg, _REQUIRED if d is None else ast.literal_eval(d))
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
            ]
            for i, (name, default) in enumerate(named):
                if name.endswith("_col"):
                    key = (os.path.basename(path), fn.name, name)
                    out[key] = (i if i < len(pos) else None, default)
    return out


def _non_test_trees():
    """(path under the repo, parsed source) of each source outside
    tests/: the engine, scripts/, perfbench/ (its self-test excluded),
    bench.py and the contract entry point."""
    for pattern in ("basin_cli_spark/**/*.py", "scripts/*.py", "perfbench/*.py",
                    "bench.py", "__spark_entry__.py"):
        for path in glob.glob(os.path.join(_REPO, pattern), recursive=True):
            if not os.path.basename(path).startswith("test_"):
                with open(path) as f:
                    rel = os.path.relpath(path, _REPO).replace(os.sep, "/")
                    yield rel, ast.parse(f.read(), path)


def _caller_values(params) -> dict:
    """Parameter -> the values callers outside tests/ pass: a literal's
    value, the default when the argument is omitted, or ``_DYNAMIC`` for
    anything not a literal (a variable, an expression, ``*args`` or
    ``**kwargs``)."""
    seen = {key: [] for key in params}
    by_fn = {}
    for key in params:
        by_fn.setdefault(key[1], []).append(key)
    for _, tree in _non_test_trees():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "attr", None) or getattr(node.func, "id", None)
            for key in by_fn.get(name, ()):
                idx, default = params[key]
                if any(isinstance(x, ast.Starred) for x in node.args) or any(
                    kw.arg is None for kw in node.keywords
                ):
                    seen[key].append(_DYNAMIC)
                    continue
                arg = next((kw.value for kw in node.keywords if kw.arg == key[2]), None)
                if arg is None and idx is not None and idx < len(node.args):
                    arg = node.args[idx]
                if arg is None:
                    seen[key].append(default)
                    continue
                try:
                    seen[key].append(ast.literal_eval(arg))
                except ValueError:
                    seen[key].append(_DYNAMIC)
    return seen


def test_col_params_have_two_values_in_use():
    """A column-name parameter earns its place only when callers outside
    tests/ set it to a value other than its default (for a parameter
    without one: to two different values).  Otherwise the operator reads
    the column by name, as ``cosine_pair_scores`` reads ``vec_id``."""
    for key, reason in _COL_PARAMS_KEPT.items():
        assert isinstance(reason, str) and reason.strip(), key
    params = _col_params()
    unused = []
    for key, values in _caller_values(params).items():
        if key in _COL_PARAMS_KEPT or _DYNAMIC in values:
            continue
        default = params[key][1]
        other = {repr(v) for v in values if v is not default and v != default}
        if len(other) < (1 if default is not _REQUIRED else 2):
            unused.append(key)
    assert not unused, (
        "column parameters with one value in use — read the column by "
        f"name, or keep it with a reason in _COL_PARAMS_KEPT: {sorted(unused)}"
    )
    stale = set(_COL_PARAMS_KEPT) - set(params)
    assert not stale, f"_COL_PARAMS_KEPT entries with no parameter: {stale}"


# -- lint: no engine code that only tests reach --------------------------------

# (path under basin_cli_spark/, name) -> why it stays although no source
# outside tests/ mentions it.  An entry without a reason is rejected.
_TEST_ONLY_KEPT: dict[tuple[str, str], str] = {
    ("sources/pgwire.py", "PgWireReplicationClient"): (
        "the live-Postgres socket transport; tests drive it against an "
        "in-process fake walsender"
    ),
    ("sources/replication.py", "start_replication_session"): (
        "the live-Postgres replication handshake, driven over a transport"
    ),
    ("sources/replication.py", "pump"): (
        "the live-Postgres receive loop around a primed session"
    ),
    ("sources/provider.py", "VaultsProvider"): (
        "the reference's provider API over a pluggable transport"
    ),
    ("sources/jdbc.py", "discover_table_schema"): (
        "live-Postgres schema discovery over a connection"
    ),
    ("sources/jdbc.py", "postgres_snapshot"): (
        "the JDBC snapshot scan of a live Postgres"
    ),
    ("sources/pgwire.py", "ScramVerifier"): (
        "server half of SCRAM; tests round-trip the client half through it"
    ),
    ("sources/pgwire.py", "recv_startup"): (
        "server half of the startup message; tests round-trip "
        "encode_startup through it"
    ),
    ("sources/carv1.py", "write_car_v1"): (
        "writer half of CARv1; tests round-trip the reader through it"
    ),
    ("sources/carv1.py", "cid_for_raw"): (
        "builds the raw-codec CIDs that the CAR round-trip tests root at"
    ),
    ("operators/kmeans.py", "distortion"): (
        "a codebook-quality oracle: tests score the trained codebooks by it"
    ),
    ("types/literals.py", "format_pg_interval"): (
        "an oracle: tests invert parse_pg_interval through it"
    ),
}


def _decorated_register(node) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if "register" in (getattr(f, "id", None), getattr(f, "attr", None)):
            return True
    return False


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _mentions(node) -> set[str]:
    """Every name, attribute, import alias and string constant under
    ``node`` — a string counts because perfbench patches functions by
    name."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update((n.name.rsplit(".", 1)[-1], n.asname))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _unreached_engine_defs() -> set[tuple[str, str]]:
    """(path under basin_cli_spark/, name) of every module-level public
    function and class (``@register`` entries and _golden.py excluded)
    that no code outside tests/ reaches.

    A reachability pass over names: the roots are all sources outside
    tests/ except the bodies of the engine's module-level functions and
    classes, plus ``@register`` builders and the _TEST_ONLY_KEPT entries.
    A definition is reached when a reached body mentions its name, and
    only then do its own mentions count, so a chain of definitions that
    only tests reach is named link by link in one run."""
    reached: set[str] = set()
    defs = []
    for rel, tree in _non_test_trees():
        engine = rel.startswith("basin_cli_spark/") and not rel.endswith("/_golden.py")
        rel = rel.removeprefix("basin_cli_spark/")
        for node in tree.body:
            if engine and isinstance(node, _DEFS) and not _decorated_register(node):
                defs.append((rel, node))
                if (rel, node.name) in _TEST_ONLY_KEPT:
                    reached |= _mentions(node) - {node.name}
            else:
                reached |= _mentions(node)
    pending = [(rel, n) for rel, n in defs if (rel, n.name) not in _TEST_ONLY_KEPT]
    grew = True
    while grew:
        grew = False
        for rel, node in [d for d in pending if d[1].name in reached]:
            pending.remove((rel, node))
            reached |= _mentions(node) - {node.name}
            grew = True
    return {
        (rel, node.name) for rel, node in defs
        if node.name not in reached and not node.name.startswith("_")
    }


def test_no_engine_code_only_tests_reach():
    """A public engine function or class that no code outside tests/
    reaches is code only its tests run: delete it with its tests, or
    keep it with a reason in _TEST_ONLY_KEPT."""
    for key, reason in _TEST_ONLY_KEPT.items():
        assert isinstance(reason, str) and reason.strip(), key
    unreached = _unreached_engine_defs()
    stray = sorted(unreached - set(_TEST_ONLY_KEPT))
    assert not stray, (
        "public engine code that only tests/ reaches — delete it, or keep "
        f"it with a reason in _TEST_ONLY_KEPT: {stray}"
    )
    stale = set(_TEST_ONLY_KEPT) - unreached
    assert not stale, (
        f"_TEST_ONLY_KEPT entries for code that is gone or in use: {stale}"
    )
