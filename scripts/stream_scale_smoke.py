"""Streaming 10x throughput smoke: measure the two headline streaming
shapes (ingest quality gate, SimHash near-dedup) at sf0.1 (5k docs) and
at the 10x perturbed corpus (.scratch/sf1c, 50k docs), recording rows/s
and state-store size from the StreamingQueryProgress — turning the
O(gates) / one-row-per-bucket state claims in streaming_queries.py's
docstrings into measured rows.

The registry entries drain a single-file fixture in one AvailableNow
batch; a one-batch run never carries state ACROSS batches, so this smoke
first re-shards the document corpus into 8 files and drains with
maxFilesPerTrigger=2 (4 micro-batches): the state rows reported by the
final progress have survived batch boundaries, which is the property the
docstring claims actually need.

The complete-mode near-dedup runs hold every bucket live by construction
(a 1-batch-visible watermark never expires anything), so they measure
the WORST case.  The windowed runs measure the production shape
instead: event time spread across the shards so each micro-batch
advances the watermark by ~2 hours, dedup keyed on (30-minute window,
simhash) in append mode — the watermark finalizes and EVICTS old windows
as the stream progresses, and the per-batch state series must plateau
at the active-window working set rather than accumulate toward the
corpus-total bucket count.

The quality-gate and near-dedup plans are the registry entries' own
(streaming_queries.quality_gate_plan and near_dedup_plan), so the
measured plan is the attested plan.

Usage: python scripts/stream_scale_smoke.py [sf1c_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from basin_cli_spark.operators.dedup import simhash_expr  # noqa: E402
from basin_cli_spark.queries.streaming_queries import (  # noqa: E402
    near_dedup_plan,
    quality_gate_plan,
)
from basin_cli_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"


def _shard_documents(spark, sf_dir: str, out_dir: str, n_files: int = 8) -> None:
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def _shard_documents_timed(
    spark, sf_dir: str, out_dir: str, n_files: int = 8,
    span_s: int = 8 * 3600,
) -> None:
    """Time-ordered shards for the watermark-expiry runs: doc_id is dense
    0..n-1 in every fixture, so ts = base + doc_id * span/n spreads event
    time uniformly across `span_s`, and shard i holds exactly time-slice i.
    Shards are written SEQUENTIALLY (one append per slice, distinct file
    mtimes) because the file source replays oldest-mtime-first — the
    watermark must advance monotonically for expiry to be measurable."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = docs.count()
    base = 1_700_000_000
    timed = docs.select(
        "doc_id", "text",
        F.timestamp_seconds(
            F.lit(base) + (F.col("doc_id") * span_s / n).cast("long")
        ).alias("ts"),
        (F.col("doc_id") * n_files / n).cast("int").alias("shard"),
    )
    seen: set = set()
    for i in range(n_files):
        (
            timed.filter(F.col("shard") == i).drop("shard")
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )
        # Stamp the slice's part files explicitly: a coarse-mtime
        # filesystem could tie two appends, letting the file source
        # replay a later time-slice first and stall the watermark.
        for name in os.listdir(out_dir):
            if name.startswith("part-") and name not in seen:
                seen.add(name)
                os.utime(os.path.join(out_dir, name), (base + i, base + i))


def _docs_stream(spark, shard_dir: str):
    schema = spark.read.parquet(shard_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(shard_dir)
    )


def _drain_measured(df, mode: str, spark=None) -> dict:
    name = f"mem_{uuid.uuid4().hex[:12]}"
    t0 = time.perf_counter()
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    progresses = [p for p in q.recentProgress if p is not None]
    rows_in = sum(p["numInputRows"] for p in progresses)
    batches = sum(1 for p in progresses if p["numInputRows"] > 0)
    # per-batch state snapshots (every progress that reports a state op,
    # including the trailing zero-input flush batch that applies the final
    # watermark) — the series is the expiry evidence, the last entry the
    # headline number
    series = [
        sum(op["numRowsTotal"] for op in ops)
        for p in progresses
        if (ops := p.get("stateOperators") or [])
    ]
    state = {}
    for p in reversed(progresses):
        ops = p.get("stateOperators") or []
        if ops:
            state = {
                "state_rows": sum(op["numRowsTotal"] for op in ops),
                "state_mb": round(
                    sum(op["memoryUsedBytes"] for op in ops) / 1e6, 2
                ),
                "state_series": series,
            }
            break
    if spark is not None:
        state["rows_out"] = spark.table(name).count()
    return {
        "rows_in": rows_in,
        "batches": batches,
        "wall_s": round(wall, 2),
        "rows_per_s": int(rows_in / wall) if wall else 0,
        **state,
    }


def near_dedup_windowed_plan(docs):
    """The production near-dedup shape: dedup scoped to 30-minute
    event-time windows with a 10-minute watermark, append mode — the
    watermark finalizes old windows (they emit to the sink) and EVICTS
    their buckets from the state store, so state holds only the active
    working set.  Same simhash kernel as the registry's
    q_stream_dedup_within_watermark; the windowed grouping key is what
    makes append-mode eviction legal."""
    sim = docs.select("doc_id", simhash_expr().alias("simhash"), "ts")
    return (
        sim.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"), "simhash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_bucket"),
        )
        .select(
            F.col("w.start").alias("w_start"), "simhash", "keep_id",
            "n_bucket",
        )
    )


def _wm_run(spark, sf_dir: str, label: str) -> dict:
    """One watermark-expiry measurement: time-ordered shards, windowed
    key, append mode (warm-up drain then the measured one)."""
    timed_dir = tempfile.mkdtemp(
        prefix=f"stream_smoke_wm_{label.rstrip(')').replace('(', '_')}_"
    )
    try:
        _shard_documents_timed(spark, sf_dir, timed_dir)
        _drain_measured(
            near_dedup_windowed_plan(_docs_stream(spark, timed_dir)),
            "append", spark,
        )
        return _drain_measured(
            near_dedup_windowed_plan(_docs_stream(spark, timed_dir)),
            "append", spark,
        )
    finally:
        shutil.rmtree(timed_dir, ignore_errors=True)


def wm_only(sf_dir: str, label: str) -> int:
    """Watermark-expiry run at one extra corpus decade: confirms the
    state-plateau fraction is corpus-size-independent at the 500k-doc
    sf10c fixture, where state pressure is real.

        python scripts/stream_scale_smoke.py wm .scratch/sf10c sf10c(100x)
    """
    spark = get_spark(app_name="stream_scale_smoke_wm")
    spark.range(1000).count()
    m = _wm_run(spark, sf_dir, label)
    print(f"{'near_dedup_wm':14s} {label:10s} {m}")
    assert m.get("rows_out", 0) > 0, (
        "watermark never finalized a window — expiry unmeasured", m)
    total_groups = m["rows_out"] + m["state_rows"]
    peak = max(m["state_series"])
    assert peak <= 0.6 * total_groups, (
        "watermark failed to bound state to the active windows", m)
    print(f"peak state {peak:,} / total groups {total_groups:,} "
          f"= {peak / total_groups:.3f}x — state-bound assertion holds")
    return 0


def main(sf1c_dir: str = os.path.join(REPO, ".scratch", "sf1c")) -> int:
    spark = get_spark(app_name="stream_scale_smoke")
    spark.range(1000).count()
    results = {}
    for label, sf_dir in (("sf0.1", SF01), ("sf1c(10x)", sf1c_dir)):
        shard_dir = tempfile.mkdtemp(prefix=f"stream_smoke_{label.rstrip(')').replace('(', '_')}_")
        try:
            _shard_documents(spark, sf_dir, shard_dir)
            for shape, plan, mode in (
                ("quality_gate", quality_gate_plan, "complete"),
                ("near_dedup", near_dedup_plan, "complete"),
            ):
                # warm-up drain (classload/codegen), then the measured one
                _drain_measured(plan(_docs_stream(spark, shard_dir)), mode)
                m = _drain_measured(plan(_docs_stream(spark, shard_dir)), mode)
                results[(shape, label)] = m
                print(f"{shape:14s} {label:10s} {m}")
        finally:
            shutil.rmtree(shard_dir, ignore_errors=True)

        # watermark-expiry run: time-ordered shards, windowed key, append
        # mode — the only run where the watermark can actually evict
        m = _wm_run(spark, sf_dir, label)
        results[("near_dedup_wm", label)] = m
        print(f"{'near_dedup_wm':14s} {label:10s} {m}")

    print("\n| shape | corpus | rows | batches | wall s | rows/s | state rows | state MB | state/batch |")
    print("|---|---|---|---|---|---|---|---|---|")
    for (shape, label), m in results.items():
        series = "→".join(str(s) for s in m.get("state_series", [])) or "-"
        print(
            f"| {shape} | {label} | {m['rows_in']:,} | {m['batches']} "
            f"| {m['wall_s']} | {m['rows_per_s']:,} "
            f"| {m.get('state_rows', '-')} | {m.get('state_mb', '-')} "
            f"| {series} |"
        )

    # the docstring claims, asserted at both scales:
    for label in ("sf0.1", "sf1c(10x)"):
        gate = results[("quality_gate", label)]
        assert "state_rows" in gate, (
            "quality-gate drain reported no stateOperators progress", gate)
        assert gate["state_rows"] <= 3 * 32, (  # gates x max shuffle partitions
            "quality-gate state must stay O(gates), got", gate)
        nd = results[("near_dedup", label)]
        assert "state_rows" in nd, (
            "near-dedup drain reported no stateOperators progress", nd)
        assert nd["state_rows"] <= nd["rows_in"], ("bucket state exceeds corpus", nd)
        # the expiry claim: with a windowed key and an advancing watermark,
        # state is bounded by the ACTIVE windows' working set, never by the
        # corpus-total group count (which = rows emitted + rows still held)
        wm = results[("near_dedup_wm", label)]
        assert "state_rows" in wm, (
            "windowed drain reported no stateOperators progress", wm)
        assert wm.get("rows_out", 0) > 0, (
            "watermark never finalized a window — expiry unmeasured", wm)
        total_groups = wm["rows_out"] + wm["state_rows"]
        assert max(wm["state_series"]) <= 0.6 * total_groups, (
            "watermark failed to bound state to the active windows", wm)
    print("\nstate-bound assertions hold at both scales")
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "wm":
        raise SystemExit(wm_only(*sys.argv[2:]))
    raise SystemExit(main(*sys.argv[1:]))
