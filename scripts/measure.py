"""Measure registry queries over one or more fixture dirs.

    python scripts/measure.py OUT.json QUERIES DIR [DIR ...]

QUERIES is ``headline`` (bench.HEADLINE), ``registry`` (every entry),
``sf1`` (drive_contract.SF1_SUBSET) or a comma list of entry names; each
DIR is a fixture dir (scripts/gen_sf1.py and scripts/gen_sf1_corpus.py
generate the larger ones).  Before the session starts it waits on
bench.load_gate() and records the result.

For each query and dir, one record:
* ``build_s``: the builder call alone (driver-side work during
  construction: Bloom builds, codebook loads, corpus statistics);
* ``noop_min_s`` / ``noop_median_s`` over REPS noop-sink runs after one
  warm run, the cache cleared first as bench.py does;
* ``plan``: the formatted physical plan, ``plan_norm``: the same plan
  with its run-to-run noise removed (normalise_plan), so two trees'
  plans can be compared as text, ``nodes``: its node histogram,
  ``dup_python_eval``: Python-eval signatures evaluated twice;
* ``stages``: one record per Spark stage of the fastest run, read from
  the status store (the batch analogue of Structured Streaming's
  per-trigger progress) under a job group named after the query; stream
  drains run their stages under the stream's own group.

With two or more dirs it prints each dir's noop_min ratio to the first
dir and the node-histogram drift, and exits 1 when a later dir's plan
holds a CartesianProduct or BatchEvalPython node.  A query that raises is
recorded with its error and also makes the exit status 1.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import tracing  # noqa: E402

REPS = 3
ANTI_PATTERNS = ("CartesianProduct", "BatchEvalPython")


def query_names(spec: str, registry: dict) -> list[str]:
    if spec == "headline":
        from bench import HEADLINE

        return list(HEADLINE)
    if spec == "registry":
        return list(registry)
    if spec == "sf1":
        sys.path.insert(0, os.path.join(REPO, "scripts"))
        from drive_contract import SF1_SUBSET

        return list(SF1_SUBSET)
    names = spec.split(",")
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    return names


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _split_top(s: str) -> list[str]:
    """Split a plan list body on the commas outside brackets."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    return out + [s[start:].strip()]


def _sort_expand_groups(plan: str, m: re.Match) -> str:
    """Put one Expand's groups in a content-derived order.

    Catalyst orders the groups of a multi-``count(distinct)`` Expand by
    expression-id hashes, so two builds of one query can list the groups,
    their output columns and their ``gid`` literals in either order.  Each
    group is keyed by the names of the columns it alone keeps non-null;
    the groups, those columns (in every list of the plan) and the ``gid``
    literals are rewritten in that key's order."""
    projs = [_split_top(p[1:-1]) for p in _split_top(m.group(1))]
    outs = _split_top(m.group(2))
    g = outs.index("gid#N")
    var = [i for i in range(len(outs)) if i != g and any(p[i] == "null" for p in projs)]
    order = sorted(
        range(len(projs)),
        key=lambda j: [outs[i] for i in var if projs[j][i] != "null"],
    )
    slot = dict(zip(var, dict.fromkeys(
        i for j in order for i in var if projs[j][i] != "null"
    )))
    gids = {projs[j][g]: str(r) for r, j in enumerate(order)}

    def permute(items: list[str]) -> list[str]:
        return [items[slot.get(i, i)] for i in range(len(items))]

    body = ", ".join(
        "[" + ", ".join(permute(projs[j])[:g] + [gids[projs[j][g]]]
                        + permute(projs[j])[g + 1:]) + "]"
        for j in order
    )
    plan = plan.replace(
        m.group(0), f"Arguments: [{body}], [{', '.join(permute(outs))}]"
    )
    # the same columns in every other list of the plan, one run of
    # adjacent positions at a time
    for _, run in itertools.groupby(enumerate(var), lambda t: t[1] - t[0]):
        run = [i for _, i in run]
        if len(run) > 1:
            plan = plan.replace(
                ", ".join(outs[i] for i in run),
                ", ".join(outs[slot[i]] for i in run),
            )
    return re.sub(
        r"\(gid#N = (\d+)\)",
        lambda n: f"(gid#N = {gids.get(n.group(1), n.group(1))})",
        plan,
    )


def normalise_plan(plan: str) -> str:
    """``plan`` without its run-to-run noise: expression ids, ``plan_id``,
    RDD ids, the numbers of PySpark's lambda variables and the checkout
    path masked, and the distinct groups of each Expand in a
    content-derived order.  Two builds of one query on one tree give the
    same text; plan text alone does not (the ids and lambda numbers count
    up with whatever the process built before, and the Expand order
    follows the ids)."""
    plan = plan.replace(REPO, "<repo>")
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1_N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    expand = re.compile(r"^Arguments: \[(\[.*\])\], \[(.*\bgid#N\b.*)\]$", re.M)
    for m in list(expand.finditer(plan)):
        plan = _sort_expand_groups(plan, m)
    return plan


def node_hist(plan: str) -> dict[str, int]:
    """Operator name -> count over the numbered nodes of a formatted plan."""
    hist: dict[str, int] = {}
    for m in re.finditer(r"^\(\d+\) (\S+)", plan, re.MULTILINE):
        hist[m.group(1)] = hist.get(m.group(1), 0) + 1
    return hist


def anti_patterns(plan: str) -> list[str]:
    nodes = node_hist(plan)
    return [p for p in ANTI_PATTERNS if nodes.get(p)]


def hist_drift(a: dict, b: dict) -> str:
    parts = [
        f"{k}:{a.get(k, 0)}->{b.get(k, 0)}"
        for k in sorted(set(a) | set(b))
        if a.get(k, 0) != b.get(k, 0)
    ]
    return ", ".join(parts) or "identical"


def dup_python_sigs(plan: str) -> list[str]:
    """Expression signatures evaluated more than once in one plan.

    The first Arguments bracket of an (Arrow|Batch)EvalPython node (udf +
    input expression ids + result id) identifies the evaluated
    expression; a pushdown-duplicated eval repeats it verbatim, while two
    legitimate evals on different join sides carry different input ids
    (guide §4.4; tests/test_plans.py::test_no_duplicated_python_eval)."""
    sigs = re.findall(
        r"(?:Arrow|Batch)EvalPython\nInput.*\nArguments: (\[[^\]]+\])", plan
    )
    return sorted({s for s in sigs if sigs.count(s) > 1})


def stage_record(s: dict) -> dict:
    wall_ms = max(1, s["completed_ms"] - s["submitted_ms"])
    return {
        "stage": s["stage"],
        "group": s["group"],
        "tasks": s["tasks"],
        "run_ms": s["run_ms"],
        "wall_ms": wall_ms,
        "parallelism": round(s["run_ms"] / wall_ms, 2),
        "max_task_ms": s["max_task_ms"],
        "shuffle_read_bytes": s["shuffle_read_bytes"],
        "shuffle_write_bytes": s["shuffle_write_bytes"],
        "spill_bytes": s["spill_bytes"],
    }


def measure_one(spark, name: str, fn, sf_dir: str) -> dict:
    spark.sparkContext.setJobGroup(name, name)
    spark.catalog.clearCache()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    build_s = time.perf_counter() - t0
    plan = plan_text(df)
    runs = []
    for _ in range(REPS):
        start, t0 = time.time(), time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append((time.perf_counter() - t0, start, time.time()))
    tracing.wait_for_listeners(spark)
    best = min(runs)
    _, stages = tracing.stage_records(spark)
    return {
        "build_s": round(build_s, 3),
        "noop_min_s": round(best[0], 3),
        "noop_median_s": round(statistics.median(r[0] for r in runs), 3),
        "plan": plan,
        "plan_norm": normalise_plan(plan),
        "nodes": node_hist(plan),
        "dup_python_eval": dup_python_sigs(plan),
        "stages": [
            stage_record(s)
            for s in sorted(
                tracing.stages_within(stages, [best[1:]]), key=lambda s: s["stage"]
            )
        ],
    }


def measure(spark, registry: dict, names: list[str], dirs: list[str]) -> dict:
    """The records for every (query, dir), plus, with two or more dirs,
    the ratios, drift and anti-patterns of each later dir against the
    first."""
    records, errors = [], []
    for name in names:
        for d in dirs:
            try:
                rec = measure_one(spark, name, registry[name].fn, d)
            except Exception as e:  # one query must not abort the sweep
                errors.append({"query": name, "dir": d, "error": repr(e)[:500]})
                print(f"ERROR {name} @ {d}: {e!r:.300}", flush=True)
                continue
            records.append({"query": name, "dir": d, **rec})
            print(
                f"{name:40s} {d}  build={rec['build_s']:6.3f}  "
                f"noop={rec['noop_min_s']:7.3f}  stages={len(rec['stages'])}  "
                f"dup={len(rec['dup_python_eval'])}",
                flush=True,
            )
    out = {"records": records, "errors": errors, "ratios": {}, "drift": {},
           "anti_patterns": []}
    by = {(r["query"], r["dir"]): r for r in records}
    for name in names:
        first = by.get((name, dirs[0]))
        for d in dirs[1:]:
            rec = by.get((name, d))
            if first is None or rec is None:
                continue
            out["ratios"].setdefault(name, {})[d] = round(
                rec["noop_min_s"] / max(first["noop_min_s"], 1e-3), 2
            )
            out["drift"].setdefault(name, {})[d] = hist_drift(first["nodes"], rec["nodes"])
            bad = anti_patterns(rec["plan"])
            if bad:
                out["anti_patterns"].append({"query": name, "dir": d, "nodes": bad})
    return out


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        sys.exit(__doc__)
    out_path, spec, dirs = argv[0], argv[1], argv[2:]
    missing = [d for d in dirs if not os.path.isdir(d)]
    if missing:
        sys.exit(f"missing fixture dir(s): {missing}")

    import bench
    from basin_cli_spark.queries import load_all
    from basin_cli_spark.session import get_spark

    gate = bench.load_gate()
    registry = load_all()
    names = query_names(spec, registry)
    spark = get_spark(app_name="measure")
    result = measure(spark, registry, names, dirs)
    with open(out_path, "w") as f:
        json.dump({"queries": spec, "dirs": dirs, "reps": REPS,
                   "cpus": spark.sparkContext.defaultParallelism,
                   "load_gate": gate, **result}, f, indent=1)

    timed = [r for r in result["records"] if r["dir"] == dirs[0]]
    print(f"\nwrote {out_path}: {len(result['records'])} records, "
          f"{len(result['errors'])} errors, load gate clean={gate['clean']}")
    print(f"total noop_min at {dirs[0]}: {sum(r['noop_min_s'] for r in timed):.2f}s")
    dups = sorted({r["query"] for r in result["records"] if r["dup_python_eval"]})
    print(f"duplicated python eval: {dups or 'none'}")
    for name, ratios in result["ratios"].items():
        for d, ratio in ratios.items():
            print(f"  {name:40s} {d}  x{ratio:<6}  {result['drift'][name][d]}")
    for bad in result["anti_patterns"]:
        print(f"ANTI-PATTERN {bad['query']} @ {bad['dir']}: {bad['nodes']}")
    return 1 if result["errors"] or result["anti_patterns"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
