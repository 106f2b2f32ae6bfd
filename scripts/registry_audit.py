"""Registry-wide coverage audit (measure everything, not just the
headline).

For EVERY registry entry (203) at $SPARK_GRAFT_SF_DIR (default sf0.1):
* noop-sink wall time, min of 2 reps after one warm run at sf0.01
  (guide §1.4 — times the computation, not the sink/pickling);
* a duplicated-Python-evaluation audit of the formatted plan: any
  ArrowEvalPython / BatchEvalPython expression signature appearing twice
  in one plan means a kernel runs twice per row (guide §4.4) — the same
  signature match tests/test_plans.py::test_no_duplicated_python_eval
  pins for the seven plans that historically carried it;
* a one-line plan shape (Exchange / join / python-eval node counts).

Writes <plans_dir>/registry_timing.json and prints the entries ranked by
noop_min so the heaviest non-headline entries are visible.

Usage: python scripts/registry_audit.py <plans_dir> [entry,entry,...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basin_cli_spark.queries import load_all  # noqa: E402
from basin_cli_spark.session import get_spark  # noqa: E402
from scripts.query_profile import plan_shape  # noqa: E402


def dup_python_sigs(plan: str) -> list[str]:
    """Expression signatures evaluated more than once in one plan.

    The first Arguments bracket of an (Arrow|Batch)EvalPython node (udf +
    input expression ids + result id) identifies the evaluated
    expression; a pushdown-duplicated eval repeats it verbatim, while two
    legitimate evals on different join sides carry different input ids."""
    sigs = re.findall(
        r"(?:Arrow|Batch)EvalPython\nInput.*\nArguments: (\[[^\]]+\])", plan
    )
    return sorted({s for s in sigs if sigs.count(s) > 1})


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    plans_dir = sys.argv[1]
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.01"
    reps = int(os.environ.get("PROFILE_REPS", "2"))
    os.makedirs(plans_dir, exist_ok=True)

    registry = load_all()
    spark = get_spark(app_name="registry_audit")

    path = os.path.join(plans_dir, "registry_timing.json")
    out: dict[str, dict] = {}
    if names and os.path.exists(path):
        # subset re-run: merge into the standing sweep instead of
        # clobbering the other 200 entries' numbers
        with open(path) as f:
            out = json.load(f).get("queries", {})
    for name, spec in registry.items():
        if names and name not in names:
            continue
        # scope each entry's persisted intermediates to its own run (same
        # discipline as drive_contract/bench) so the sweep's later entries
        # aren't timed against an LRU store churned by the earlier ones
        spark.catalog.clearCache()
        try:
            spark.sparkContext.setJobDescription(f"{name}: warm")
            if os.path.isdir(warm_dir) and warm_dir != sf_dir:
                spec.fn(spark, warm_dir).collect()

            df = spec.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            dupes = dup_python_sigs(plan)

            noops = []
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"{name}: noop")
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                noops.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)

            out[name] = {
                "noop_min": round(min(noops), 3),
                "dup_python_eval": dupes,
                "shape": plan_shape(plan),
            }
        except Exception as e:  # an entry must never abort the sweep
            out[name] = {"noop_min": None, "error": repr(e)[:300]}
        rec = out[name]
        print(
            f"{name:40s} noop="
            f"{rec['noop_min'] if rec.get('noop_min') is not None else 'ERR':>7} "
            f"dup={len(rec.get('dup_python_eval', []))} "
            f"{rec.get('shape', rec.get('error', ''))}",
            flush=True,
        )

    n_dup = sum(1 for v in out.values() if v.get("dup_python_eval"))
    with open(path, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "n_entries": len(out),
                "n_with_duplicated_python_eval": n_dup,
                "queries": out,
            },
            f,
            indent=1,
        )

    timed = {k: v["noop_min"] for k, v in out.items() if v.get("noop_min")}
    print(f"\nwrote {path}")
    print(f"entries: {len(out)}, duplicated-python-eval: {n_dup}")
    print(f"total noop_min: {sum(timed.values()):.2f}s over {len(timed)} timed")
    for k in sorted(timed, key=timed.get, reverse=True)[:15]:
        print(f"  {k:40s} {timed[k]:6.3f}")


if __name__ == "__main__":
    main()
