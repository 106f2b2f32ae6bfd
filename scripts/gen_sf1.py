"""Generate an sf1-equivalent relational fixture (~6M lineitem rows) from
the sf0.1 testdata by seeded 10x replication — the fourth scale decade for
the relational/window/join contract subset.

Replication scheme (copy c in 0..copies-1, whole-database copies so every
FK relationship survives exactly):

* every int64 surrogate key k (custkey/suppkey/partkey/orderkey/event_id/
  user_id) remaps to ``k*copies + c``, applied consistently across fact
  AND dimension sides so joins stay referentially intact;
* region/nation keep their constant TPC-H size (int32 nationkey/regionkey
  FKs are NOT remapped);
* one money column per scaled table gains a deterministic ``+c * 0.01``
  tick (exactly representable at the DECIMAL(18,2) grain every registry
  aggregate uses) so distinct-value counts scale with the data and no
  query ever faces a 10-way exact-value tie that the base fixture didn't
  have — the registry's unique-key tie-breaks make ties safe, but the
  perturbation keeps value distributions honest at 10x;
* documents/embeddings are copied UNSCALED: the sf1 subset is the
  relational core whose plans change shape with row count; the LLM-corpus
  shapes have their own 10x/100x perturbed-replica evidence in SCALE.md,
  and oracle.duckdb_connect registers views for all ten tables so the
  files must exist.

Generation runs in DuckDB (vectorized, single pass per table) and writes
plain parquet that both engines then read — generator determinism is all
that matters for the contract compare, since Spark and the oracle see the
same files.

Usage:  python scripts/gen_sf1.py [out_dir] [base_dir] [copies]
Defaults: .scratch/sf1  /root/testdata/sf0.1  10
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# table -> (int64 key columns to remap, double column to tick by +c*0.01)
SCALED: dict[str, tuple[tuple[str, ...], str]] = {
    "customer": (("c_custkey",), "c_acctbal"),
    "supplier": (("s_suppkey",), "s_acctbal"),
    "part": (("p_partkey",), "p_retailprice"),
    "orders": (("o_orderkey", "o_custkey"), "o_totalprice"),
    "lineitem": (("l_orderkey", "l_partkey", "l_suppkey"), "l_extendedprice"),
    "events": (("event_id", "user_id"), "value"),
}
COPIED = ("region", "nation", "documents", "embeddings")


def generate(out_dir: str, base_dir: str, copies: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(16, os.cpu_count() or 4)}")
    for name, (keys, tick_col) in SCALED.items():
        src = os.path.join(base_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]
        proj = []
        for col in cols:
            if col in keys:
                proj.append(f"({col} * {copies} + c.c)::BIGINT AS {col}")
            elif col == tick_col:
                # exact at 2dp: tick in integer cents, divide once
                proj.append(
                    f"((round({col} * 100) + c.c) / 100.0)::DOUBLE AS {col}"
                )
            else:
                proj.append(col)
        con.execute(
            f"COPY (SELECT {', '.join(proj)} "
            f"FROM read_parquet('{src}'), "
            f"(SELECT unnest(range({copies})) AS c) AS c) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        print(f"{name}: {n} rows -> {dst}")
    for name in COPIED:
        src = os.path.join(base_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        shutil.copyfile(src, dst)
        print(f"{name}: copied unscaled")


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch", "sf1")
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    generate(out, base, copies)
