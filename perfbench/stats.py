"""Summary statistics and the metric catalogue (no Spark, no I/O).

The percentile rule: a timing is reported as its median plus the highest
of the standard percentiles (75, 90, 95, 99) that still has at least ten
samples above it; with fewer than 40 samples only the median is
supported.
"""

from __future__ import annotations

import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_PERCENTILES = (75, 90, 95, 99)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def supported_tail(n: int) -> int | None:
    """Highest percentile in TAIL_PERCENTILES with >= MIN_BEYOND samples
    strictly above it, or None when the sample supports none."""
    best = None
    for p in TAIL_PERCENTILES:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, supported tail percentile and sample count of a timing."""
    out = {"n": len(values), "p50": statistics.median(values)}
    tail = supported_tail(len(values))
    if tail is not None:
        out[f"p{tail}"] = percentile(values, tail)
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def load_catalogue(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def metric_names(catalogue: dict, traced: bool) -> list[str]:
    key = "per_layer" if traced else "end_to_end"
    return [m["name"] for m in catalogue[key]]


def check_catalogue(catalogue: dict) -> list[str]:
    """Problems with BENCHMARK.json's names and units (empty when valid)."""
    problems = []
    seen: set[str] = set()
    for key in ("workloads", "end_to_end", "per_layer"):
        for m in catalogue[key]:
            name = m["name"]
            if not NAME_RE.match(name):
                problems.append(f"bad name {name!r}")
            if name in seen:
                problems.append(f"duplicate name {name!r}")
            seen.add(name)
            if "unit" in m and not UNIT_RE.match(m["unit"]):
                problems.append(f"bad unit {m['unit']!r} for {name}")
    return problems


def result_line(catalogue: dict, traced: bool, values: dict[str, float],
                attempted: int, failed: int, correct: bool) -> str:
    """The final stdout line.  Raises if ``values`` does not name exactly
    the catalogue's metrics for this mode."""
    key = "per_layer" if traced else "end_to_end"
    units = {m["name"]: m["unit"] for m in catalogue[key]}
    if set(values) != set(units):
        missing = sorted(set(units) - set(values))
        extra = sorted(set(values) - set(units))
        raise ValueError(f"metric set mismatch: missing={missing} extra={extra}")
    metrics = {
        name: {"value": float(values[name]), "unit": units[name]}
        for name in units
    }
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})

