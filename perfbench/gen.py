"""Seeded inputs for the benchmark: fixture tables and wal2json windows.

Everything here is a pure function of its arguments (the seed included),
needs no Spark, and writes only under the directory it is given.

* ``write_tables`` writes the ten fixture tables the registry queries read
  (TPC-H-shaped star schema, an ``events`` stream table, a ``documents``
  corpus with near-duplicates, unit ``embeddings``).  Row counts follow the
  scale factor the same way the repository's test fixtures do.
* ``WalGenerator`` writes one wal2json v2 JSONL file per window and keeps
  the ledger: for every window and table, the rows that must materialize.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(start: dt.date, n_days: int, rng, n: int) -> np.ndarray:
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    return (base + rng.integers(0, n_days + 1, n)).astype("int64") * _US_PER_DAY


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n["customer"])],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n["part"])],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _ts(_days_us(dt.date(1995, 1, 1), 2404, rng, n["orders"])),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n["orders"])],
        }),
    }
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, m)],
        "l_shipdate": _ts(_days_us(dt.date(1995, 1, 2), 2498, rng, m)),
    })
    e = n["events"]
    start_us = (dt.datetime(2024, 1, 1) - _EPOCH).days * _US_PER_DAY
    gaps = rng.exponential(30 * _US_PER_DAY / e, e).astype("int64")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(start_us + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(50, int(15_000 * sf)), e), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.lognormal(3.5, 1.0, e), 2)),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, e)],
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    return {name: t.num_rows for name, t in tables.items()}


# -- wal2json windows -----------------------------------------------------------

# Two tables whose columns cover the PG types the sink must carry.
WAL_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "payments": [
        ("id", "bigint"), ("amount", "numeric(12,2)"), ("memo", "text"),
        ("tags", "text[]"), ("created", "timestamp without time zone"),
        ("meta", "jsonb"),
    ],
    "receipts": [
        ("id", "bigint"), ("payment_id", "bigint"), ("blob", "bytea"),
        ("hold", "interval"), ("note", "text"),
    ],
}
UPDATE_DELETE_SHARE = 0.2


def _payment(r: random.Random, pid: int, t0: dt.datetime):
    amount = f"{r.randint(1, 9_999_999) / 100:.2f}"
    memo = " ".join(r.choice(VOCAB) for _ in range(r.randint(1, 12)))
    tags = [r.choice(VOCAB) for _ in range(r.randint(0, 4))]
    if tags and r.random() < 0.2:
        tags[r.randrange(len(tags))] = None
    created = t0 + dt.timedelta(microseconds=r.randint(0, 86_400_000_000))
    meta = json.dumps({"k": r.randint(0, 999), "tag": r.choice(VOCAB)})
    values = {
        "id": pid, "amount": amount, "memo": memo,
        "tags": "{" + ",".join("NULL" if t is None else t for t in tags) + "}",
        "created": created.strftime("%Y-%m-%d %H:%M:%S.%f"), "meta": meta,
    }
    row = (pid, float(amount), memo, tags, created, meta)
    return values, row


def _receipt(r: random.Random, rid: int, pid: int):
    blob = r.randbytes(r.randint(0, 48))
    months, days, secs = r.randint(0, 30), r.randint(0, 40), r.randint(0, 86_399)
    hold = f"{months // 12} year {months % 12} mons {days} days " \
        f"{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"
    note = None if r.random() < 0.1 else r.choice(VOCAB)
    values = {"id": rid, "payment_id": pid, "blob": "\\x" + blob.hex(),
              "hold": hold, "note": note}
    row = (rid, pid, blob, {"months": months, "days": days,
                            "micros": secs * 1_000_000}, note)
    return values, row


def _record(action, table, xid, lsn, ts, values):
    cols = [
        {"name": c, "type": t, "value": values[c]} for c, t in WAL_SCHEMAS[table]
    ]
    rec = {"action": action, "xid": xid, "lsn": f"0/{lsn:X}", "nextlsn": "",
           "timestamp": ts, "schema": "public", "table": table}
    if action == "D":
        rec["identity"] = [cols[0]]
    else:
        rec["columns"] = cols
    rec["pk"] = [{"name": "id", "type": "bigint"}]
    return rec


class WalGenerator:
    """Seeded wal2json source.  Each ``write`` call appends windows to a
    directory, continuing ids, LSNs and the commit clock, and extends the
    ledger: ``ledger[window][table]`` lists the rows the sink must publish
    for that window, as Python values in column order.  Transactions span
    both tables; about UPDATE_DELETE_SHARE of the records are updates or
    deletes of earlier rows, which must not materialize."""

    def __init__(self, seed: int) -> None:
        self._r = random.Random(seed)
        self.ledger: list[dict[str, list[tuple]]] = []
        self.lines: list[int] = []  # transactions (JSONL lines) per window
        self._next_id = {"payments": 1, "receipts": 1}
        self._seen: dict[str, list[dict]] = {"payments": [], "receipts": []}
        self._xid, self._lsn = 1000, 0x3910B898
        self._clock = dt.datetime(2024, 1, 1, 9, 0, 0)

    def _transaction(self, rows: dict[str, list[tuple]]) -> str:
        r = self._r
        self._xid += 1
        self._clock += dt.timedelta(milliseconds=r.randint(1, 5000))
        ts = self._clock.strftime("%Y-%m-%d %H:%M:%S.%f") + "-03"
        records = []
        for _ in range(r.randint(2, 8)):
            self._lsn += r.randint(0x20, 0x80)
            table = "payments" if r.random() < 0.55 else "receipts"
            if self._seen[table] and r.random() < UPDATE_DELETE_SHARE:
                values = r.choice(self._seen[table])
                action = r.choice("UD")
                if action == "U":
                    values = dict(values)
                    values["note" if table == "receipts" else "memo"] = "updated"
                records.append(_record(action, table, self._xid, self._lsn, ts, values))
                continue
            new_id = self._next_id[table]
            self._next_id[table] += 1
            if table == "payments":
                values, row = _payment(r, new_id, self._clock)
            else:
                pid = r.randint(1, max(1, self._next_id["payments"] - 1))
                values, row = _receipt(r, new_id, pid)
            self._seen[table].append(values)
            rows[table].append(row)
            records.append(_record("I", table, self._xid, self._lsn, ts, values))
        return json.dumps({"commit_lsn": self._lsn, "records": records},
                          separators=(",", ":"))

    def write(self, wal_dir: str, n_windows: int, rows_per_window: int) -> list[str]:
        """Append ``n_windows`` files of about ``rows_per_window`` inserted
        rows each.  File names and modification times both increase with
        the window index, so a file stream reads them in window order."""
        os.makedirs(wal_dir, exist_ok=True)
        paths = []
        for _ in range(n_windows):
            w = len(self.ledger)
            rows: dict[str, list[tuple]] = {"payments": [], "receipts": []}
            lines = []
            while sum(len(v) for v in rows.values()) < rows_per_window:
                lines.append(self._transaction(rows))
            path = os.path.join(wal_dir, f"w{w:05d}.jsonl")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            mtime_ns = 1_700_000_000_000_000_000 + w * 1_000_000_000
            os.utime(path, ns=(mtime_ns, mtime_ns))
            self.ledger.append(rows)
            self.lines.append(len(lines))
            paths.append(path)
        return paths
