"""Unit tests for scripts/assemble_bench.py — the builder bench
artifact assembler (pure Python, no Spark)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
    ),
)

import assemble_bench  # noqa: E402

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench  # noqa: E402


def _capture(queries, clean=True, total=None):
    return {
        "metric": "headline_queries_total",
        "value": total if total is not None else round(
            sum(queries.values()), 3
        ),
        "unit": "sec",
        "queries": queries,
        "median": dict(queries),
        "spread": {q: 0.01 for q in queries},
        "env": {
            "load_avg": [0.1, 0.1, 0.1],
            "cpus": 32,
            "load_gate": {
                "target": 2.0,
                "waited_s": 3.0,
                "load_at_start": 0.1,
                "load_min_seen": 0.1,
                "load_max_seen": 0.1,
                "clean": clean,
            },
        },
        "sf": 0.1,
    }


def _write(tmp_path, name, cap):
    p = tmp_path / name
    p.write_text(json.dumps(cap))
    return str(p)


def test_min_median_and_spread_across_captures(tmp_path):
    caps = [
        _capture({"qa": 1.0, "qb": 3.0}),
        _capture({"qa": 2.0, "qb": 2.0}),
        _capture({"qa": 1.5, "qb": 2.5}),
    ]
    paths = [_write(tmp_path, f"c{i}.json", c) for i, c in enumerate(caps)]
    out = str(tmp_path / "out.json")
    assert assemble_bench.main(out, *paths) == 0
    got = json.load(open(out))
    assert got["queries"] == {"qa": 1.0, "qb": 2.0}
    assert got["median"] == {"qa": 1.5, "qb": 2.5}
    assert got["spread_across_captures"] == {"qa": 1.0, "qb": 1.0}
    assert got["value"] == 3.0
    assert len(got["captures"]) == 3
    assert all(c["load_gate"]["clean"] for c in got["captures"])


def test_refuses_dirty_capture(tmp_path):
    caps = [
        _capture({"qa": 1.0}),
        _capture({"qa": 2.0}, clean=False),
    ]
    paths = [_write(tmp_path, f"c{i}.json", c) for i, c in enumerate(caps)]
    assert assemble_bench.main(str(tmp_path / "out.json"), *paths) == 1
    assert not (tmp_path / "out.json").exists()


def test_refuses_single_capture(tmp_path):
    p = _write(tmp_path, "c0.json", _capture({"qa": 1.0}))
    assert assemble_bench.main(str(tmp_path / "out.json"), p) == 1


# -- bench.py stdout format pin: the driver keeps only the last
# ~2 KB of stdout, so bench prints the full payload line FIRST and a
# compact summary line LAST; the compact line must stay well under the
# capture budget and parse standalone.


def test_compact_summary_is_small_and_parses():
    # REAL headline names at double-digit seconds, per-query dict
    # included: the worst-case size a ~2KB stdout tail must swallow
    # whole.
    times = {q: 12.345 for q in bench.HEADLINE}
    gate = {"clean": True, "load_at_start": 0.42}
    line = bench.compact_summary(times, "0.1", gate)
    assert "\n" not in line
    assert len(line) < 1900, "compact line must survive the ~2KB tail"
    got = json.loads(line)
    assert got["metric"] == "headline_queries_total"
    assert got["unit"] == "sec"
    assert got["sf"] == 0.1
    assert got["n_queries"] == len(bench.HEADLINE)
    assert got["value"] == round(12.345 * len(bench.HEADLINE), 3)
    assert got["queries"] == times
    assert got["load_gate_clean"] is True
    assert isinstance(got["load_avg_end"], float)
    assert got["full_payload"] == "bench_out.json"


def test_bench_main_prints_summary_last():
    # source-level pin: main() ends its stdout with compact_summary —
    # print(payload) then print(compact_summary(...)), in that order.
    import inspect

    src = inspect.getsource(bench.main)
    i_payload = src.index("print(payload)")
    i_summary = src.index("print(compact_summary(")
    assert i_payload < i_summary
