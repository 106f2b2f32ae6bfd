"""Per-query measurement harness for the headline queries.

For each headline query at $SPARK_GRAFT_SF_DIR (default sf0.1):
* build time — the Python call fn(spark, sf_dir) alone, which captures any
  driver-side work a builder does during construction (Bloom build,
  codebook loads, corpus-count stats);
* collect time — min/median of 3, the bench.py methodology;
* noop time — min/median of 3 with the noop sink (guide §1.4), isolating
  the computation from row pickling into the Python driver;
* the formatted physical plan, written to <plans_dir>/<query>_<tag>.txt,
  plus a one-line plan-shape summary (Exchange / python-eval / join nodes).

Results go to <plans_dir>/profile_<tag>.json.

Usage:
    python scripts/query_profile.py <plans_dir> [before|after] [query,...]
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
from bench import HEADLINE  # noqa: E402


def plan_shape(plan: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "BHJ": len(re.findall(r"BroadcastHashJoin", plan)),
        "SMJ": len(re.findall(r"SortMergeJoin", plan)),
        "SHJ": len(re.findall(r"ShuffledHashJoin", plan)),
        "BNLJ": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "ArrowEval": len(re.findall(r"ArrowEvalPython", plan)),
        "BatchEval": len(re.findall(r"BatchEvalPython", plan)),
        "mapInPandas": len(re.findall(r"(?:MapInPandas|MapInArrow)", plan)),
        "Sort": len(re.findall(r"\bSort\b", plan)),
        "Window": len(re.findall(r"\bWindow\b", plan)),
        "InMemory": len(re.findall(r"InMemoryTableScan", plan)),
    }
    return " ".join(f"{k}={v}" for k, v in counts.items() if v)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    plans_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("PROFILE_REPS", "3"))
    os.makedirs(plans_dir, exist_ok=True)

    registry = load_all()
    spark = get_spark(app_name="query_profile")
    warm_dirs = [
        d
        for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
        if os.path.isdir(d) and d != sf_dir
    ]

    path = os.path.join(plans_dir, f"profile_{tag}.json")
    out = {}
    if len(sys.argv) > 3 and os.path.exists(path):
        # subset re-run: merge into the standing capture instead of
        # clobbering the other queries' numbers
        with open(path) as f:
            out = json.load(f).get("queries", {})
    for name in names:
        spec = registry[name]
        spark.sparkContext.setJobDescription(f"{name}: warm")
        for warm_dir in warm_dirs:
            spec.fn(spark, warm_dir).collect()
        spark.catalog.clearCache()

        # build (construction-only) time, on a fresh cache the way the
        # bench's first rep pays it
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        build_s = time.perf_counter() - t0

        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)

        collects, noops = [], []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"{name}: collect")
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).collect()
            collects.append(time.perf_counter() - t0)
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"{name}: noop")
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            noops.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)

        rec = {
            "build_s": round(build_s, 3),
            "collect_min": round(min(collects), 3),
            "collect_med": round(sorted(collects)[len(collects) // 2], 3),
            "noop_min": round(min(noops), 3),
            "noop_med": round(sorted(noops)[len(noops) // 2], 3),
            "shape": plan_shape(plan),
        }
        out[name] = rec
        print(
            f"{name:36s} build={rec['build_s']:6.3f} "
            f"collect={rec['collect_min']:6.3f} noop={rec['noop_min']:6.3f}  "
            f"{rec['shape']}",
            flush=True,
        )

    with open(path, "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": out}, f, indent=1)
    print(f"\nwrote {path}")
    print(f"total collect_min: {sum(v['collect_min'] for v in out.values()):.2f}s")
    print(f"total noop_min:    {sum(v['noop_min'] for v in out.values()):.2f}s")


if __name__ == "__main__":
    main()
