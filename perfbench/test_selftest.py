"""Spark-free self-tests of the benchmark itself:

    python3 -m pytest perfbench/test_selftest.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import clock  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

CATALOGUE = stats.load_catalogue(os.path.join(ROOT, "BENCHMARK.json"))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    return (not cmp.left_only and not cmp.right_only and
            all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                for f in cmp.common_files))


def test_tables_are_deterministic(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 0.001, 7)
    gen.write_tables(str(tmp_path / "b"), 0.001, 7)
    gen.write_tables(str(tmp_path / "c"), 0.001, 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_wal_is_deterministic_and_covers_the_cases(tmp_path):
    a, b = gen.WalGenerator(5), gen.WalGenerator(5)
    a.write(str(tmp_path / "a"), 3, 300)
    b.write(str(tmp_path / "b"), 3, 300)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert a.ledger == b.ledger
    other = gen.WalGenerator(6)
    other.write(str(tmp_path / "c"), 3, 300)
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))

    actions, types, two_table_tx, inserted = [], set(), 0, 0
    for name in sorted(os.listdir(tmp_path / "a")):
        with open(tmp_path / "a" / name) as f:
            for line in f:
                tx = json.loads(line)
                tables = {r["table"] for r in tx["records"]}
                two_table_tx += len(tables) == 2
                for r in tx["records"]:
                    actions.append(r["action"])
                    types.update(c["type"] for c in r.get("columns", []))
    inserted = sum(len(rows) for w in a.ledger for rows in w.values())
    assert actions.count("I") == inserted
    share = (actions.count("U") + actions.count("D")) / len(actions)
    assert 0.1 < share < 0.3
    assert two_table_tx > 0
    assert {"bigint", "numeric(12,2)", "text", "text[]", "jsonb", "bytea",
            "interval", "timestamp without time zone"} <= types
    assert all(len(w["payments"]) + len(w["receipts"]) >= 300 for w in a.ledger)


def test_wal_continues_across_writes(tmp_path):
    one, two = gen.WalGenerator(9), gen.WalGenerator(9)
    one.write(str(tmp_path / "a"), 4, 100)
    two.write(str(tmp_path / "b"), 2, 100)
    two.write(str(tmp_path / "b"), 2, 100)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    mtimes = [os.stat(tmp_path / "b" / n).st_mtime_ns for n in sorted(os.listdir(tmp_path / "b"))]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_percentile_rule():
    assert stats.percentile(list(range(1, 11)), 50) == 5
    assert stats.percentile([3.0], 99) == 3.0
    assert stats.supported_tail(19) is None
    assert stats.supported_tail(39) is None
    assert stats.supported_tail(40) == 75
    assert stats.supported_tail(100) == 90
    assert stats.supported_tail(200) == 95
    assert stats.supported_tail(1000) == 99
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p90"] == 89.0 and "p95" not in s
    assert stats.summarize([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}


def test_catalogue_names_and_units():
    assert stats.check_catalogue(CATALOGUE) == []
    for key in ("workloads", "end_to_end", "per_layer"):
        for m in CATALOGUE[key]:
            assert stats.NAME_RE.match(m["name"]), m["name"]


def test_printed_names_equal_the_catalogue():
    import workloads

    assert sorted(w["name"] for w in CATALOGUE["workloads"]) == sorted(workloads.WORKLOADS)
    out = workloads.Outcome(warmup=clock.Timing(1.0), units=[clock.Timing(2.0)],
                            ops=[0.5, 1.5], attempted=2)
    e2e = run.end_to_end_values(clock.Timing(3.0), out)
    assert e2e["setup_s"] == 4.0 and e2e["work_s"] == 2.0
    line = json.loads(stats.result_line(CATALOGUE, False, e2e, 2, 0, True))
    assert set(line["metrics"]) == set(stats.metric_names(CATALOGUE, traced=False))
    assert all(v["value"] > 0 for v in line["metrics"].values())

    per_layer = set(stats.metric_names(CATALOGUE, traced=True))
    assert set(tracing.stage_metrics([])) <= per_layer
    assert set(tracing.batch_metrics([])) <= per_layer
    layers = run.per_layer_values(CATALOGUE, clock.Timing(1.0), out, 2**30)
    assert set(layers) == per_layer
    with pytest.raises(ValueError):
        stats.result_line(CATALOGUE, True, {**layers, "not.a.metric": 1.0}, 1, 0, True)


def test_clock_discounts_steal():
    assert clock.Timing(2.0).seconds == 2.0
    assert clock.Timing(2.0, 0.1).seconds == pytest.approx(2.0 / (1 + clock.STEAL_SLOWDOWN * 0.1))
    stolen, total = clock.cpu_ticks()
    assert 0 <= stolen <= total
    with clock.stopwatch() as t:
        sum(range(10**5))
    assert t.wall > 0 and 0 <= t.steal <= 1 and t.seconds <= t.wall


def test_stage_metrics_flag_serial_stages():
    stages = [
        {"submitted_ms": 0, "completed_ms": 1000, "tasks": 1, "run_ms": 900,
         "cpu_ms": 800.0, "gc_ms": 5, "max_task_ms": 900.0, "input_records": 10,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 64, "spill_bytes": 0},
        {"submitted_ms": 1000, "completed_ms": 1500, "tasks": 4, "run_ms": 1800,
         "cpu_ms": 1700.0, "gc_ms": 0, "max_task_ms": 480.0, "input_records": 0,
         "shuffle_read_bytes": 64, "shuffle_write_bytes": 0, "spill_bytes": 0},
    ]
    m = tracing.stage_metrics(stages)
    assert m["stages.serial_ms"] == 1000
    assert m["stages.parallelism"] == pytest.approx(2700 / 1500)
    assert m["stages.max_task_ms"] == 900.0
    assert tracing.stages_within(stages, [(0.5, 2.0)]) == [stages[1]]


def test_tracer_spans_nest_and_switch_off():
    tr = tracing.Tracer("t")
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    tr.active = False
    with tr.span("hidden"):
        tr.count("n")
    outer, = tr.named("outer")
    inner, = tr.named("inner", k=1)
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert not tr.named("hidden") and not tr.counts
    assert all(s["run_id"] == "t" for s in tr.spans)


def test_rows_digest_ignores_order_only():
    rows = [(1, "a", [1, None], {"months": 1, "days": 2, "micros": 3}, b"\x00"),
            (2, None, [], {"months": 0, "days": 0, "micros": 0}, b"")]
    assert check.rows_digest(rows) == check.rows_digest(list(reversed(rows)))
    assert check.rows_digest(rows) != check.rows_digest(rows[:1])
    assert check.rows_digest(rows) != check.rows_digest(rows + rows[:1])


def test_crypto_gates():
    from basin_cli_spark.functions.hashing import keccak256
    from basin_cli_spark.functions.signing import sign_digest

    import workloads

    assert check.keccak_known_answers()
    pub = check.public_key(workloads.PRIVATE_KEY)
    digests = [keccak256(b"part-0"), keccak256(b"part-1")]
    sig = b"".join(sign_digest(d, workloads.PRIVATE_KEY) for d in digests).hex()
    assert check.signatures_ok(pub, digests, sig)
    assert not check.signatures_ok(pub, digests[::-1], sig)
    assert not check.signatures_ok(pub, digests, sig[:-2])
    assert check.cid_from(digests[:1]) == "0x" + digests[0].hex()
