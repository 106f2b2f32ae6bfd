"""Fourth-scale-decade tooling: the sf1 fixture generator, the contract
subset wiring, and the oracle decimal->double cast fix it surfaced."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
)

SF0001 = "/root/testdata/sf0.001"


def test_sql_dec2dbl_routes_through_varchar():
    from basin_cli_spark.queries._helpers import sql_dec2dbl, sql_dec_sum

    assert sql_dec2dbl("x") == "CAST(CAST(x AS VARCHAR) AS DOUBLE)"
    assert "AS VARCHAR" in sql_dec_sum("x", "s")


def test_duckdb_varchar_route_is_correctly_rounded():
    """The sf1 repro: DuckDB's direct DECIMAL->DOUBLE cast computes
    (double)int128 * 10^-scale (two roundings) and lands 1 ULP off the
    correctly-rounded double for 27864178755.319390 (q1 sum_charge at the
    sf1 decade), while Spark's BigDecimal.doubleValue is correctly rounded.
    The VARCHAR route must equal Python's float() (both are
    correctly-rounded string->double parses), at every magnitude that
    matters up to DECIMAL(38,6) sums."""
    con = duckdb.connect()
    for s in (
        "27864178755.319390",  # the observed 1-ULP divergence
        "28204186469.100000",
        "1234567890123456.789012",  # 22 sig digits, far past double precision
        "0.000001",
        "-27864178755.319390",
    ):
        got = con.execute(
            f"SELECT CAST(CAST(CAST({s} AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)"
        ).fetchone()[0]
        assert got == float(s), (s, got.hex(), float(s).hex())


def test_sf1_subset_resolves_in_registry():
    import __spark_entry__ as contract
    from drive_contract import SF1_SUBSET

    qs, oracles = contract.queries(), contract.oracle_sql()
    assert len(SF1_SUBSET) == 31
    missing = [n for n in SF1_SUBSET if n not in qs or n not in oracles]
    assert not missing
    # composition: the full TPC-H family + row-count-sensitive joins/windows
    assert sum(n[1].isdigit() for n in SF1_SUBSET) == 22
    assert sum(n.startswith("q_join") for n in SF1_SUBSET) == 5
    assert sum(n.startswith(("q_window", "q_topk")) for n in SF1_SUBSET) == 4


def test_sf1_leg2_leg3_resolve_in_registry():
    """Legs 2/3 are validated at drive time only; pin them here too so a
    registry rename can't silently orphan the committed leg artifacts."""
    import __spark_entry__ as contract
    from drive_contract import SF1_SUBSET_LEG2, SF1_SUBSET_LEG3

    qs, oracles = contract.queries(), contract.oracle_sql()
    assert len(SF1_SUBSET_LEG2) == 41
    assert len(SF1_SUBSET_LEG3) == 80
    for leg in (SF1_SUBSET_LEG2, SF1_SUBSET_LEG3):
        missing = [n for n in leg if n not in qs or n not in oracles]
        assert not missing, missing


@pytest.mark.skipif(not os.path.isdir(SF0001), reason="testdata not mounted")
def test_gen_sf1_preserves_fk_integrity(tmp_path):
    """2x replication of sf0.001: row counts double, every FK edge count
    doubles exactly (whole-database copies — no dangling keys), and the
    money tick stays on the 2dp grain."""
    from gen_sf1 import generate

    out = str(tmp_path / "sf2x")
    generate(out, SF0001, copies=2)
    con = duckdb.connect()

    def q(sql):
        return con.execute(sql).fetchone()[0]

    for t in ("lineitem", "orders", "customer"):
        base = q(f"SELECT count(*) FROM read_parquet('{SF0001}/{t}.parquet')")
        got = q(f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')")
        assert got == 2 * base, t

    base_edges = q(
        f"SELECT count(*) FROM read_parquet('{SF0001}/orders.parquet') o "
        f"JOIN read_parquet('{SF0001}/customer.parquet') c ON o.o_custkey = c.c_custkey"
    )
    got_edges = q(
        f"SELECT count(*) FROM read_parquet('{out}/orders.parquet') o "
        f"JOIN read_parquet('{out}/customer.parquet') c ON o.o_custkey = c.c_custkey"
    )
    assert got_edges == 2 * base_edges
    # no dangling FK on the scaled side
    dangling = q(
        f"SELECT count(*) FROM read_parquet('{out}/orders.parquet') o "
        f"ANTI JOIN read_parquet('{out}/customer.parquet') c ON o.o_custkey = c.c_custkey"
    )
    assert dangling == 0
    # tick stays on the 2dp grain: every ticked double is exactly the
    # correctly-rounded image of a DECIMAL(18,2) value (round-trip identity
    # via the varchar cast — a raw *100 integrality check would false-fail
    # on IEEE doubles)
    off_grid = q(
        f"SELECT count(*) FROM read_parquet('{out}/lineitem.parquet') "
        f"WHERE CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE)"
        f"      != l_extendedprice"
    )
    assert off_grid == 0
    # exact-decimal cent totals: copy 0 is byte-identical, copy 1 adds
    # exactly 1 cent per row
    base_sum = q(
        f"SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) "
        f"FROM read_parquet('{SF0001}/lineitem.parquet')"
    )
    n_rows = q(f"SELECT count(*) FROM read_parquet('{SF0001}/lineitem.parquet')")
    got_sum = q(
        f"SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) "
        f"FROM read_parquet('{out}/lineitem.parquet')"
    )
    assert int(got_sum) == 2 * int(base_sum) + n_rows
