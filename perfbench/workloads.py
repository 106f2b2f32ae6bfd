"""The benchmark's two workloads.

Each workload repeats a fixed unit of work until at least ``--seconds``
have been measured (at least one unit), then runs its correctness gates
outside the timed region.  Both are closed loops with one client: the
next operation starts when the previous one has returned.

* ``registry_mix``: a ``bench.HEADLINE`` batch query and a stateful
  ``q_stream_*`` drain, in seed order, on generated sf0.01 tables.
  Touches query building, Catalyst planning and batch stages, and the
  stream drain's state store, watermark and ``_drain``; no sink or
  signing.
* ``vault_roundtrip``: wal2json windows drained by the sink exactly as the
  CLI ``stream`` verb wires it (signing on, no window digest), one file per
  micro-batch, then list/retrieve calls against the same manifest.
  Warm-up windows go through a throwaway sink first.

Every run starts a fresh JVM.  ``registry_mix`` runs WARM_PASSES untimed
passes as set-up (code generation and the JIT's first passes land there),
then times TIMED_PASSES more.  Every time is taken with ``clock``, which
discounts vCPU time the hypervisor stole meanwhile.  The sizes keep one
run, JVM boot included, within 30 to 45 s on 4 vCPUs, so the 48 runs of
a full measurement fit well inside an hour.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
from dataclasses import dataclass, field

import check
import clock
import gen
import tracing as trace

# A headline entry the ROADMAP's open items target, a scan feeding an
# aggregate (the single-core scan), and a stateful q_stream_* entry, an
# event-time window aggregate with a watermark and a state store.
REGISTRY_MIX = ("q1_pricing_summary", "q_stream_tumbling_agg")
REGISTRY_SF = 0.01
# Untimed passes first (the cold one included), since a fresh JVM keeps
# getting faster over its first passes; an op's latency is the median of
# its timed passes.
WARM_PASSES = 2
TIMED_PASSES = 5

VAULT = "bench.payments"
VAULT_WARM_WINDOWS = 3  # published through a throwaway sink as set-up
VAULT_WINDOWS = 4  # windows published per unit
VAULT_ROWS = 1000  # inserted rows per window, across both tables
VAULT_READS = 4  # list_events calls and retrieve calls per unit
# Fixed test key (the reference's signing test vector); its public key is
# derived independently by the signature gate.
PRIVATE_KEY = "59c6995e998f97a5a0044966f0945389dc9e86dae88c7a8412f4603b6b78690d"


@dataclass
class Run:
    spark: object
    work_dir: str
    seed: int
    seconds: float
    tracer: trace.Tracer | None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)


@dataclass
class Outcome:
    """What a workload measured.  Times are ``clock`` timings, or seconds
    at no steal (``clock.Timing.seconds``)."""

    warmup: clock.Timing = field(default_factory=clock.Timing)
    units: list[clock.Timing] = field(default_factory=list)  # each unit of work
    ops: list[float] = field(default_factory=list)  # primary op latencies, s
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def _overhead(traced: float, untraced: float) -> float:
    return traced / untraced - 1.0


def _oracle_gates(out: Outcome, registry, results, data_dir: str) -> None:
    from basin_cli_spark.oracle import compare, duckdb_connect

    con = duckdb_connect(data_dir)
    try:
        expected: dict[str, object] = {}
        for name, collected in results:
            if name not in expected:
                expected[name] = con.execute(registry[name].oracle).arrow()
            ok, msg = compare(collected, expected[name])
            if not ok:
                out.fail(f"{name}: {msg[:200]}")
    finally:
        con.close()


# -- registry_mix --------------------------------------------------------------------


def _registry_passes(run: Run, out: Outcome, names: list[str], data_dir: str,
                     traced_call, traced_scope) -> None:
    """Run WARM_PASSES untimed passes (set-up), then TIMED_PASSES timed
    passes (more while under ``--seconds``) in the same order; an op's
    latency is the median of its timed runs.  A traced run adds one pass
    through ``traced_call`` inside ``traced_scope()`` and one more untraced
    pass, and reports the traced wall against the mean of the untraced
    passes either side of it.  Every collected result goes through the
    oracle gates."""
    from basin_cli_spark.queries import load_all

    registry = load_all()
    spark, results = run.spark, []
    runs: dict[str, list[float]] = {n: [] for n in names}

    def call(name: str):
        spark.catalog.clearCache()
        df = registry[name].fn(spark, data_dir)
        return df, df.toPandas()

    cold: dict[str, float] = {}
    with clock.stopwatch() as out.warmup:
        for _ in range(WARM_PASSES):
            for name in names:
                with clock.stopwatch() as t:
                    df, pdf = call(name)
                cold.setdefault(name, t.seconds)
                results.append((name, check.Collected(df.schema, pdf)))

    def one_pass() -> None:
        for name in names:
            with clock.stopwatch() as t:
                df, pdf = call(name)
            runs[name].append(t.seconds)
            results.append((name, check.Collected(df.schema, pdf)))

    out.units = [clock.timed(one_pass) for _ in range(TIMED_PASSES)]
    while run.tracer is None and sum(u.wall for u in out.units) < run.seconds:
        out.units.append(clock.timed(one_pass))
    out.ops = [statistics.median(runs[n]) for n in names]
    if run.tracer is not None:
        tr = run.tracer
        with traced_scope():
            with clock.stopwatch() as traced:
                for name in names:
                    spark.catalog.clearCache()
                    spark.sparkContext.setJobGroup(f"{tr.run_id}:{name}", name)
                    df, pdf = traced_call(registry[name], tr)
                    results.append((name, check.Collected(df.schema, pdf)))
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        after = clock.timed(one_pass)
        out.layers["trace.overhead_ratio"] = _overhead(
            traced.seconds, (out.units[-1].seconds + after.seconds) / 2)
        trace.wait_for_listeners(spark)
    out.attempted = len(results)
    _oracle_gates(out, registry, results, data_dir)
    out.notes = {"cold_s": {n: round(cold[n], 3) for n in names},
                 "median_s": {n: round(out.ops[i], 3) for i, n in enumerate(names)}}


def registry_mix(run: Run) -> Outcome:
    import bench

    names = list(REGISTRY_MIX)
    if not all(n in bench.HEADLINE or n.startswith("q_stream_") for n in names):
        raise RuntimeError("REGISTRY_MIX names a batch query outside bench.HEADLINE")
    random.Random(run.seed).shuffle(names)
    data_dir = run.path("data")
    gen.write_tables(data_dir, REGISTRY_SF, run.seed)
    out = Outcome()
    listener = trace.progress_listener()

    def traced_call(spec, tr):
        if spec.name.startswith("q_stream_"):
            with tr.span("streaming.drain", query=spec.name):
                df = spec.fn(run.spark, data_dir)
                return df, df.toPandas()
        with tr.span("queries.call", query=spec.name):
            with tr.span("queries.build"):
                df = spec.fn(run.spark, data_dir)
            with tr.span("queries.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("queries.exec"):
                return df, df.toPandas()

    @contextlib.contextmanager
    def listening():
        # only around the traced pass: the untraced passes it is compared
        # with run without a Python listener on the bus
        run.spark.streams.addListener(listener)
        try:
            yield
            trace.wait_for_listeners(run.spark)
        finally:
            run.spark.streams.removeListener(listener)

    _registry_passes(run, out, names, data_dir, traced_call, listening)
    if run.tracer is not None:
        tr = run.tracer
        calls = [(s["start"], s["end"])
                 for s in tr.named("queries.call") + tr.named("streaming.drain")]
        out.layers.update(trace.stage_metrics(
            trace.stages_within(trace.stage_records(run.spark)[1], calls)))
        out.layers.update(trace.batch_metrics(listener.records))
        out.layers.update({
            "queries.build_s": tr.seconds("queries.build"),
            "queries.plan_s": tr.seconds("queries.plan"),
            "queries.exec_s": tr.seconds("queries.exec"),
        })
    return out


# -- vault_roundtrip -----------------------------------------------------------------


def _drain_wal(spark, wal_dir: str, ckpt: str, publish) -> None:
    from basin_cli_spark.sources.cdc import read_wal_stream

    q = (
        read_wal_stream(spark, wal_dir, max_files_per_trigger=1)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(publish)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"vault drain failed: {q.exception()}")


def _install_vault_wrappers(tr: trace.Tracer) -> trace.Patches:
    """Timing wrappers over what the sink and the event surface call."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import basin_cli_spark.functions.signing as signing
    import basin_cli_spark.operators.events as events
    import basin_cli_spark.streaming.window_sink as ws

    def keccak_file_count(args, _):
        tr.count("functions.keccak.calls")
        tr.count("functions.keccak.bytes", os.path.getsize(args[0]))

    def keccak_bytes_count(args, _):
        tr.count("functions.keccak.calls")
        tr.count("functions.keccak.bytes", len(args[0]))

    p = trace.Patches()
    p.install(ws, "materialize_table", trace.timed(tr, "cdc.materialize_table"))
    p.install(ws, "keccak256_file", trace.timed(tr, "functions.keccak", keccak_file_count, caller="cid"))
    p.install(ws, "keccak256", trace.timed(tr, "functions.keccak", keccak_bytes_count, caller="cid"))
    p.install(signing, "keccak256_file", trace.timed(tr, "functions.keccak", keccak_file_count, caller="sign"))
    p.install(ws, "sign_file", trace.timed(tr, "functions.sign", lambda a, r: tr.count("functions.sign.calls")))
    p.install(ws.WindowedVaultSink, "_published_batches", trace.timed(tr, "streaming.sink.manifest"))
    p.install(ws.WindowedVaultSink, "_append_manifest", trace.timed(tr, "streaming.sink.manifest"))
    p.install(DataFrame, "isEmpty", trace.timed(tr, "streaming.sink.empty_check"))
    p.install(DataFrameWriter, "parquet", trace.timed(tr, "streaming.sink.write"))

    def resolver_factory(make_resolver):
        def factory(*args, **kwargs):
            return trace.timed(tr, "events.resolve")(make_resolver(*args, **kwargs))
        return factory

    p.install(events, "manifest_resolver", resolver_factory)
    return p


def vault_roundtrip(run: Run) -> Outcome:
    from pyspark.sql import functions as F

    from basin_cli_spark.operators.events import list_events, retrieve
    from basin_cli_spark.streaming.window_sink import WindowedVaultSink

    spark, out, tr = run.spark, Outcome(), run.tracer
    rng = random.Random(run.seed)
    patches = _install_vault_wrappers(tr) if tr is not None else None
    listener, added = trace.progress_listener(), []
    try:
        # warm-up: windows through a throwaway sink and checkpoint
        warm = gen.WalGenerator(run.seed + 1)
        warm.write(run.path("warm_wal"), VAULT_WARM_WINDOWS, VAULT_ROWS)
        warm_sink = WindowedVaultSink(run.path("warm_out"), gen.WAL_SCHEMAS,
                                      vault=VAULT, private_key_hex=PRIVATE_KEY)
        if tr is not None:
            tr.active = False
        with clock.stopwatch() as out.warmup:
            _drain_wal(spark, run.path("warm_wal"), run.path("warm_ckpt"),
                       warm_sink.process_batch)

        wal = gen.WalGenerator(run.seed)
        sink = WindowedVaultSink(run.path("out"), gen.WAL_SCHEMAS,
                                 vault=VAULT, private_key_hex=PRIVATE_KEY)
        window_s: dict[int, float] = {}
        publish_s: list[float] = []
        reads: list[tuple] = []
        list_s: list[float] = []
        retrieve_s: list[float] = []
        # traced runs alternate: odd windows and odd reads are traced, the
        # rest give the untraced times the tracing overhead is taken from
        traced_ops = {"window": [], "list": [], "retrieve": []}
        untraced_ops = {"window": [], "list": [], "retrieve": []}

        def op(kind: str, i: int, fn, **attrs):
            traced = tr is not None and i % 2 == 1
            if tr is not None:
                tr.active = traced
            with clock.stopwatch() as t:
                if traced:
                    with tr.span(f"vault.{kind}", **attrs):
                        result = fn()
                else:
                    result = fn()
            dt_s = t.seconds
            if tr is not None:
                (traced_ops if traced else untraced_ops)[kind].append(dt_s)
                tr.active = False
            return result, dt_s

        def publish(df, batch_id: int) -> None:
            _, dt_s = op("window", batch_id, lambda: sink.process_batch(df, batch_id),
                         batch=batch_id)
            window_s[batch_id] = dt_s

        def events_of(relation: str):
            ev = sink.events(spark).where(F.col("table") == relation)
            return ev.withColumn("ts", F.timestamp_seconds("timestamp").cast("timestamp_ntz"))

        def read_back() -> None:
            published = [m for m in _manifest(sink) if m["cid"]]
            for _ in range(VAULT_READS):
                relation = rng.choice(sorted(gen.WAL_SCHEMAS))
                latest = rng.randint(1, 10)
                rows, dt_s = op("list", len(list_s), lambda: list_events(
                    events_of(relation), ts_col="ts", key_col="cid", latest=latest,
                ).select("cid").collect())
                list_s.append(dt_s)
                reads.append(("list", relation, latest, [r.cid for r in rows],
                              len(published)))
                target = rng.choice(published)
                rows, dt_s = op("retrieve", len(retrieve_s), lambda: retrieve(
                    spark, sink.events(spark), target["cid"]).collect())
                retrieve_s.append(dt_s)
                reads.append(("retrieve", target, rows))

        def publish_and_read() -> None:
            publish_s.append(clock.timed(
                lambda: _drain_wal(spark, run.path("wal"), run.path("ckpt"), publish)).seconds)
            read_back()

        if tr is not None:
            spark.streams.addListener(listener)
            added.append(listener)
        while not out.units or sum(u.wall for u in out.units) < run.seconds:
            wal.write(run.path("wal"), VAULT_WINDOWS, VAULT_ROWS)  # input arrives
            out.units.append(clock.timed(publish_and_read))
            if tr is not None:
                break
        if tr is not None:
            trace.wait_for_listeners(spark)
    finally:
        for each in added:
            spark.streams.removeListener(each)
        if patches is not None:
            patches.restore()
            tr.active = True

    out.ops = [window_s[b] for b in sorted(window_s)]
    _vault_gates(out, sink, wal, reads)
    rows = sum(len(r) for w in wal.ledger for r in w.values())
    out.notes = {
        "window_s": [round(w, 3) for w in out.ops], "rows": rows,
        "publish_rows_per_s": rows / sum(publish_s),
        "list": _summary(list_s), "retrieve": _summary(retrieve_s),
    }
    if tr is not None:
        out.layers.update(_vault_layers(run, sink, wal, traced_ops, untraced_ops,
                                        listener.records))
    return out


def _summary(values: list[float]) -> dict:
    import stats

    return stats.summarize(values) if values else {"n": 0}


def _manifest(sink) -> list[dict]:
    import json

    if not os.path.exists(sink.manifest_path):
        return []
    with open(sink.manifest_path) as f:
        return [json.loads(line) for line in f]


def _vault_gates(out: Outcome, sink, wal: gen.WalGenerator, reads) -> None:
    """Windows against the ledger, cids and signatures against the part
    files, list results against the manifest, retrieved rows against the
    ledger."""
    if not check.keccak_known_answers():
        out.fail("keccak256 known-answer vectors")
        return
    pub = check.public_key(PRIVATE_KEY)
    manifest = [m for m in _manifest(sink) if m["cid"]]
    by_batch: dict[int, dict[str, dict]] = {}
    for m in manifest:
        if m["table"] in by_batch.setdefault(m["batch_id"], {}):
            out.fail(f"batch {m['batch_id']} published {m['table']} twice")
        by_batch[m["batch_id"]][m["table"]] = m
    for w, expected in enumerate(wal.ledger):
        out.attempted += 1
        got = by_batch.get(w, {})
        problems = []
        for table, rows in expected.items():
            m = got.get(table)
            if m is None:
                problems.append(f"{table} missing")
                continue
            cols = [c for c, _ in gen.WAL_SCHEMAS[table]]
            if check.rows_digest(check.parquet_rows(m["path"], cols)) != check.rows_digest(rows):
                problems.append(f"{table} rows differ from the ledger")
            digests = check.part_digests(m["path"])
            if m["cid"] != check.cid_from(digests):
                problems.append(f"{table} cid does not recompute")
            if not check.signatures_ok(pub, digests, m["signature"]):
                problems.append(f"{table} signature does not verify")
        if problems:
            out.fail(f"window {w}: {'; '.join(problems)}")
    for read in reads:
        out.attempted += 1
        if read[0] == "list":
            # newest first, cid breaking timestamp ties, over the manifest
            # as it stood when the read ran
            _, relation, latest, cids, seen = read
            newest = sorted(
                (m for m in manifest[:seen] if m["table"] == relation),
                key=lambda m: (m["timestamp"], m["cid"]), reverse=True)
            if cids != [m["cid"] for m in newest[:latest]]:
                out.fail(f"list_events({relation}, latest={latest}) is not the newest {latest}")
        else:
            _, target, rows = read
            cols = [c for c, _ in gen.WAL_SCHEMAS[target["table"]]]
            want = wal.ledger[target["batch_id"]][target["table"]]
            got_rows = [tuple(r[c] for c in cols) for r in rows]
            if check.rows_digest(got_rows) != check.rows_digest(want):
                out.fail(f"retrieve({target['cid']}) rows differ from the ledger")


def _vault_layers(run: Run, sink, wal, traced_ops, untraced_ops, progress) -> dict[str, float]:
    tr = run.tracer
    windows = tr.named("vault.window")
    n = max(1, len(windows))
    traced_batches = {s["attrs"]["batch"] for s in windows}
    jobs, stages = trace.stage_records(run.spark)
    intervals = [(s["start"], s["end"]) for s in windows]
    in_windows = trace.stages_within(stages, intervals)
    n_jobs = sum(1 for j in jobs if any(a * 1000 <= j["submitted_ms"] <= b * 1000
                                        for a, b in intervals))
    published = [m for m in _manifest(sink) if m["cid"] and m["batch_id"] in traced_batches]
    parts = [p for m in published for p in check.part_files(m["path"])]
    bytes_written = sum(os.path.getsize(p) for p in parts)
    rows_written = sum(len(r) for b in traced_batches for r in wal.ledger[b].values())
    lines = sum(wal.lines[b] for b in traced_batches)
    keccak_bytes = tr.counts.get("functions.keccak.bytes", 0.0)
    lists, retrieves = tr.named("vault.list"), tr.named("vault.retrieve")
    resolve_s = tr.seconds("events.resolve")
    layers = trace.stage_metrics(in_windows)
    layers.update(trace.batch_metrics(progress))
    layers.update({
        "functions.keccak.calls": tr.counts.get("functions.keccak.calls", 0.0) / n,
        "functions.keccak.bytes": keccak_bytes / n,
        "functions.keccak.s": tr.seconds("functions.keccak") / n,
        "functions.keccak.bytes_per_published_byte": keccak_bytes / max(1, bytes_written),
        "functions.sign.calls": tr.counts.get("functions.sign.calls", 0.0) / n,
        "functions.sign.s": tr.seconds("functions.sign") / n,
        "streaming.sink.empty_check_s": tr.seconds("streaming.sink.empty_check") / n,
        "streaming.sink.write_s": tr.seconds("streaming.sink.write") / n,
        "streaming.sink.cid_s": tr.seconds("functions.keccak", caller="cid") / n,
        "streaming.sink.sign_s": tr.seconds("functions.sign") / n,
        "streaming.sink.manifest_s": tr.seconds("streaming.sink.manifest") / n,
        "streaming.sink.spark_jobs_per_window": n_jobs / n,
        "streaming.sink.input_passes_per_window":
            sum(s["input_records"] for s in in_windows) / max(1, lines),
        "streaming.sink.parts_per_window": len(parts) / n,
        "streaming.sink.bytes_written": bytes_written / n,
        "streaming.sink.bytes_per_row": bytes_written / max(1, rows_written),
        "events.manifest_scan_s": tr.seconds("vault.list") / max(1, len(lists)),
        "events.resolve_s": resolve_s / max(1, len(retrieves)),
        "events.read_s": (tr.seconds("vault.retrieve") - resolve_s) / max(1, len(retrieves)),
        "trace.overhead_ratio": _overhead(
            statistics.median(traced_ops["window"]), statistics.median(untraced_ops["window"])),
    })
    return layers


WORKLOADS = {
    "registry_mix": registry_mix,
    "vault_roundtrip": vault_roundtrip,
}
