"""Tooling checks for scripts/: every script imports, none shadows a
stdlib module, and scripts/measure.py's core measures and compares."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)
sys.path.insert(0, SCRIPTS)

import measure  # noqa: E402

SCRIPT_FILES = sorted(glob.glob(os.path.join(SCRIPTS, "*.py")))


@pytest.mark.parametrize("path", SCRIPT_FILES, ids=os.path.basename)
def test_script_imports(path):
    """A script importing a deleted sibling (``from scale_smoke import``)
    fails here, not at its next manual run."""
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(f"_script_{name}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_no_script_shadows_stdlib():
    """scripts/ is sys.path[0] for every script, so a script named like a
    stdlib module (profile.py, which pyspark reaches through cProfile)
    breaks the imports of all of them."""
    names = {os.path.splitext(os.path.basename(p))[0] for p in SCRIPT_FILES}
    assert not names & set(sys.stdlib_module_names)


def test_anti_pattern_check_flags_cartesian_product():
    plan = (
        "== Physical Plan ==\n"
        "* Project (4)\n"
        "+- CartesianProduct Inner (3)\n"
        "   :- * Scan parquet  (1)\n"
        "   +- * Scan parquet  (2)\n\n\n"
        "(1) Scan parquet \nOutput [1]: [a#1]\n\n"
        "(2) Scan parquet \nOutput [1]: [b#2]\n\n"
        "(3) CartesianProduct\nJoin type: Inner\n\n"
        "(4) Project [codegen id : 3]\nOutput [2]: [a#1, b#2]\n"
    )
    assert measure.anti_patterns(plan) == ["CartesianProduct"]
    assert measure.anti_patterns(plan.replace("CartesianProduct", "BroadcastHashJoin")) == []
    assert measure.hist_drift(
        measure.node_hist(plan), {"Scan": 2, "Project": 1}
    ) == "CartesianProduct:1->0"


# Two builds of q_count_distinct_multi: Catalyst listed the Expand's
# distinct groups in either order (excerpts of the formatted plans).
_EXPAND_A = """(2) Expand
Arguments: [[p#5, null, null, 0], [p#5, o_custkey#1L, null, 1], [p#5, null, o_orderstatus#2, 2]], [p#5, o_custkey#20L, o_orderstatus#21, gid#19]

(3) HashAggregate
Keys [4]: [p#5, o_custkey#20L, o_orderstatus#21, gid#19]
Functions [2]: [partial_count(o_custkey#20L) FILTER (WHERE (gid#19 = 1)), partial_count(o_orderstatus#21) FILTER (WHERE (gid#19 = 2))]
"""
_EXPAND_B = """(2) Expand
Arguments: [[p#63, null, null, 0], [p#63, o_orderstatus#60, null, 1], [p#63, null, o_custkey#59L, 2]], [p#63, o_orderstatus#78, o_custkey#79L, gid#77]

(3) HashAggregate
Keys [4]: [p#63, o_orderstatus#78, o_custkey#79L, gid#77]
Functions [2]: [partial_count(o_custkey#79L) FILTER (WHERE (gid#77 = 2)), partial_count(o_orderstatus#78) FILTER (WHERE (gid#77 = 1))]
"""


def test_normalised_plan_is_one_text_per_query(spark, sf_dir):
    """Raw plan text changes from build to build: expression ids count up,
    and about half of q_count_distinct_multi's builds list its Expand's
    distinct groups the other way round.  The normalised plan does not."""
    from basin_cli_spark.queries import load_all

    fn = load_all()["q_count_distinct_multi"].fn
    plans = [measure.plan_text(fn(spark, sf_dir)) for _ in range(2)]
    assert plans[0] != plans[1]
    assert measure.normalise_plan(plans[0]) == measure.normalise_plan(plans[1])
    assert measure.normalise_plan(_EXPAND_A) == measure.normalise_plan(_EXPAND_B)
    assert measure.normalise_plan(_EXPAND_A) != measure.normalise_plan(
        _EXPAND_A.replace("= 1)", "= 3)")
    )


def test_next_head_policy_reproduces_committed_head():
    """The committed REPRESENTATIVE_HEAD was chosen before the newest
    round ran: over every round but the newest, scripts/next_head.py's
    policy gives the same 50 names in the same order."""
    import next_head
    from basin_cli_spark.queries import REPRESENTATIVE_HEAD, load_all

    rounds = next_head.history()
    rounds.pop(max(rounds))
    assert next_head.next_head(list(load_all()), rounds) == REPRESENTATIVE_HEAD


def test_measure_two_queries_two_dirs(spark, sf_dir):
    from basin_cli_spark.queries import load_all

    dirs = [sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01")]
    names = ["q6_forecast_revenue", "q_topk_per_group"]
    out = measure.measure(spark, load_all(), names, dirs)

    assert out["errors"] == [] and out["anti_patterns"] == []
    assert [(r["query"], r["dir"]) for r in out["records"]] == [
        (n, d) for n in names for d in dirs
    ]
    by = {(r["query"], r["dir"]): r for r in out["records"]}
    for (name, _), rec in by.items():
        assert 0 < rec["noop_min_s"] <= rec["noop_median_s"]
        assert rec["build_s"] >= 0
        assert rec["plan"].startswith("== Physical Plan ==")
        assert rec["nodes"].get("Exchange", 0) >= 1
        assert rec["dup_python_eval"] == []
        assert rec["stages"]
        for st in rec["stages"]:
            assert st["group"] == name
            assert st["tasks"] >= 1 and st["wall_ms"] >= 1
            assert st["parallelism"] == round(st["run_ms"] / st["wall_ms"], 2)
            assert {"shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"} <= set(st)
    for name in names:
        a, b = by[(name, dirs[0])], by[(name, dirs[1])]
        assert out["ratios"][name] == {
            dirs[1]: round(b["noop_min_s"] / a["noop_min_s"], 2)
        }
        assert isinstance(out["drift"][name][dirs[1]], str)
