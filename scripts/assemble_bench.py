"""Assemble one bench file from several bench_out.json captures.

Usage:
    python scripts/assemble_bench.py OUT.json cap1.json cap2.json ...

Per query: `queries` = min across captures (noise-robust steady state),
`median` = median across captures of each capture's per-query min,
`spread` = the within-capture spread from the capture that produced the
min, `spread_across_captures` = max-min of the per-query mins.  `value`
is the sum of per-query mins; `captures` records each capture's total
and load-gate outcome so a loaded capture is visibly marked.  Every
capture must be load-gate clean — the assembler refuses otherwise
(cross-round totals drift with sandbox load; only clean captures are
comparable).
"""
from __future__ import annotations

import json
import statistics
import sys


def main(out_path: str, *cap_paths: str) -> int:
    caps = [json.load(open(p)) for p in cap_paths]
    if len(caps) < 2:
        print("need >=2 captures", file=sys.stderr)
        return 1
    dirty = [
        p
        for p, c in zip(cap_paths, caps)
        if not c["env"]["load_gate"]["clean"]
    ]
    if dirty:
        print(f"REFUSING: load-gate-dirty captures: {dirty}", file=sys.stderr)
        return 1
    names = list(caps[0]["queries"])
    for c in caps[1:]:
        assert list(c["queries"]) == names, "capture query sets differ"

    queries, median, spread, across = {}, {}, {}, {}
    for q in names:
        vals = [c["queries"][q] for c in caps]
        best_i = min(range(len(caps)), key=lambda i: vals[i])
        queries[q] = round(min(vals), 3)
        median[q] = round(statistics.median(vals), 3)
        spread[q] = caps[best_i]["spread"][q]
        across[q] = round(max(vals) - min(vals), 3)

    base = caps[0]
    payload = {
        "metric": base["metric"],
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "median": median,
        "spread": spread,
        "spread_across_captures": across,
        "env": caps[-1]["env"],
        "sf": base["sf"],
        "captures": [
            {"total": c["value"], "load_gate": c["env"]["load_gate"]}
            for c in caps
        ],
    }
    with open(out_path, "w") as f:
        json.dump(payload, f)
        f.write("\n")
    print(f"{out_path}: {len(names)} queries, total {payload['value']}s "
          f"over {len(caps)} clean captures")
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
