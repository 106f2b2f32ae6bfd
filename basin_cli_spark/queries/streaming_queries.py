"""Structured-Streaming queries, oracle-checked.

Each query runs a real ``readStream`` (file source over the events
fixture) through streaming operators — event-time windows + watermark,
streaming dedup, stream-static join — drained with
``Trigger.AvailableNow`` into a memory sink, then returns the sink table.
Because AvailableNow processes the full fixture, the batch-SQL oracle
states exactly the same result, so streaming semantics sit under the same
hash gate as the batch surface (SURVEY.md §2.B streaming-only operators).

The events fixture stores TIMESTAMP(NANOS) (see sources/tables.py): the
stream schema surfaces ``ts`` as a nanosecond long which we convert with
the same integer division the batch loader uses.
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from basin_cli_spark.operators.layout import spread
from basin_cli_spark.queries import register
from basin_cli_spark.queries._helpers import dec, dec_sum, sql_dec, sql_dec_sum
from basin_cli_spark.sources import load_table


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream over the events fixture.  The source path must be a
    directory, so sf_dir is the basePath with a glob keeping only the
    events file.  ``ts`` is cast to TIMESTAMP (session tz is UTC, so values
    equal the batch loader's ntz ones) because watermarks reject ntz."""
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_DRAIN_CONF_LOCK = threading.Lock()


def _drain(df: DataFrame, mode: str) -> DataFrame:
    """Run the streaming plan to completion into a memory sink and return
    the sink table (one AvailableNow drain — the test/recovery trigger;
    production would use a processing-time or continuous trigger).

    The drain disables the watermark-finalize no-data micro-batch
    (`spark.sql.streaming.noDataMicroBatches.enabled`):
    for a bounded AvailableNow drain that batch can only advance the
    watermark and evict state — it cannot change the sink.  Complete-mode
    aggregations re-emit the identical final state they emitted in the
    data batch; the append-mode operators this registry drains all emit
    eagerly (dropDuplicates[WithinWatermark] on first sight, the inner
    interval join on match — only OUTER stream-stream joins hold rows for
    watermark finalization, and none is registered); update-mode
    applyInPandasWithState sees no input groups in a no-data batch.
    End-of-drain state eviction is moot — the query terminates.  What the
    batch DID cost (profile: `git show
    d1de39b:plans/r15/stream_probe_before.json`) is a
    full round of micro-batch machinery: ~1 s of queryPlanning plus a
    commit of every state-store instance (partitions x stores), i.e.
    roughly half the wall of every watermarked drain (guide §1.3/§5 —
    don't pay for work whose output is discarded).  A production
    continuous trigger keeps the default: there the no-data batch is what
    finalizes windows between arrivals.  Results are oracle-identical by
    construction and attested at 3 SFs.

    A query reads that conf once, when ``start()`` builds it, so the
    session value is restored right after ``start()``, not after the
    drain; a module lock around set/start/restore keeps concurrent drains
    from restoring each other's override."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    with _DRAIN_CONF_LOCK:
        old = spark.conf.get(conf_key, "true")
        spark.conf.set(conf_key, "false")
        try:
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set(conf_key, old)
    q.awaitTermination()
    return spark.table(name)


@register(
    "q_stream_tumbling_agg",
    f"""
SELECT CAST(DATE_TRUNC('day', ts) AS VARCHAR) AS window_start,
       event_type,
       COUNT(*) AS n,
       {sql_dec_sum(sql_dec('value'), 'sum_value')}
FROM events
GROUP BY 1, 2
""",
)
def q_stream_tumbling_agg(spark, sf_dir):
    """Event-time tumbling window (1 day) + watermark over a file stream.
    Watermark bounds state at scale; with AvailableNow it drops nothing,
    so the batch oracle is exact."""
    ev = _read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum(dec("value"), "sum_value"),
        )
    )
    out = _drain(agg, "complete")
    return out.select(
        F.col("w.start").cast("date").cast("string").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "q_stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark, sf_dir):
    """Streaming dropDuplicates keyed on (user_id, event_type) with a
    watermark bounding the dedup state window."""
    ev = _read_events_stream(spark, sf_dir)
    dd = ev.withWatermark("ts", "1 hour").dropDuplicates(
        ["user_id", "event_type"]
    )
    out = _drain(dd.select("user_id", "event_type"), "append")
    return out


@register(
    "q_stream_static_join",
    f"""
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       {sql_dec_sum(sql_dec('e.value'), 'sum_value')}
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_stream_static_join(spark, sf_dir):
    """Stream-static enrichment join (events stream x customer dim) +
    windowless global agg.  The static side (customer) scales with SF,
    so no broadcast hint — AQE broadcasts it while it fits; the stream
    side never carries the build."""
    ev = _read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(
        cust, ev["user_id"] == cust["c_custkey"], "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum(dec("value"), "sum_value"),
    )
    return _drain(agg, "complete")


@register(
    "q_stream_stream_join",
    """
SELECT a.event_id AS click_id,
       b.event_id AS purchase_id,
       a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
""",
)
def q_stream_stream_join(spark, sf_dir):
    """STREAM-STREAM interval join: clicks joined to same-user purchases
    within the following hour, both sides watermarked so Spark can expire
    buffered state (without the time bound + watermarks the join state
    would grow forever — the property that decides whether this runs for
    a day or a year at production rates).  AvailableNow drains the whole
    fixture, so the batch self-join oracle states the exact result."""
    clicks = (
        _read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = _drain(joined.select("click_id", "purchase_id", "user_id"), "append")
    return out


def _stream_near_dedup_oracle() -> str:
    """Batch restatement: one representative (min doc_id) per SimHash
    bucket — reuses the registered batch simhash oracle's formula."""
    from basin_cli_spark.queries import QUERIES
    from basin_cli_spark.queries import llm_ops as _llm  # noqa: F401

    sim = QUERIES["q_dedup_simhash"].oracle
    return f"""
WITH sim AS ({sim})
SELECT simhash, MIN(doc_id) AS keep_id, COUNT(*) AS n_bucket
FROM sim GROUP BY simhash
"""


@register("q_stream_near_dedup", _stream_near_dedup_oracle())
def q_stream_near_dedup(spark, sf_dir):
    """STREAMING near-dup dedup: a document stream is fingerprinted with
    the same SimHash expressions as the batch operator, then a watermarked
    event-time aggregation keeps min-id per fingerprint bucket — the
    deterministic representative (streaming dropDuplicates would keep
    arrival-order winners, which no oracle can restate).  State is one
    (simhash, min, count) row per bucket, expired by the watermark at
    production rates."""
    import os as _os

    from basin_cli_spark.operators.dedup import simhash_expr

    path = _os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # A single-file stream source arrives as ONE input partition per
    # micro-batch, so the per-token SimHash fold — by far the batch's
    # map cost — would run on one core; spreading first measured
    # 11.0 s -> 2.6 s per drain at sf0.1 on 32 cores, identical buckets.
    # (A packed-nibble simhash_expr rewrite was ALSO measured — one md5
    # per token instead of 16 — and REVERTED: tie under the spread,
    # 1.5x SLOWER single-core; the fold's per-token array-accumulator
    # allocation costs more than the extra md5 calls.)
    docs = spread(docs, "doc_id")
    # synthetic event time (fixtures carry none): one second per doc id.
    # simhash_expr is a row-wise fold, so the bucket agg is the plan's
    # ONLY stateful operator (a per-doc vote aggregation upstream would
    # trip the chained-stateful-operator correctness check).
    ts = F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
    sim = docs.select(
        "doc_id", simhash_expr("text").alias("simhash"), ts.alias("ts")
    )
    agg = (
        sim.withWatermark("ts", "1 hour")
        .groupBy("simhash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_bucket"),
        )
    )
    return _drain(agg, "complete")


def _stream_quality_oracle() -> str:
    """Wrap the batch quality-score oracle: gate counts plus min/max
    probability (order-independent aggregates — a float avg would depend
    on fold order and be un-oracle-able)."""
    from basin_cli_spark.queries import QUERIES
    from basin_cli_spark.queries import llm_ops as _llm_ops  # noqa: F401

    inner = QUERIES["q_text_quality_score"].oracle
    return f"""
WITH q AS ({inner})
SELECT gate, COUNT(*) AS n,
       ROUND(MIN(quality_p), 9) AS min_p,
       ROUND(MAX(quality_p), 9) AS max_p
FROM q GROUP BY gate
"""


@register("q_stream_quality_gate", _stream_quality_oracle())
def q_stream_quality_gate(spark, sf_dir):
    """STREAMING ingest quality gate: the quality-classifier probe
    applied to a document stream, rolled up into per-gate counts and
    probability bounds — the live monitor a crawl pipeline keeps on its
    intake.  The probe itself is stateless per-row JVM expressions, so
    the only stateful operator is the 3-row gate aggregation; state is
    O(gates), not O(documents)."""
    from basin_cli_spark.operators.text import quality_score

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # single-file stream source -> one input partition; spread the
    # per-row probe expressions across the cores
    docs = spread(docs, "doc_id")
    scored = quality_score(docs, "text", "doc_id")
    agg = scored.groupBy("gate").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("quality_p"), 9).alias("min_p"),
        F.round(F.max("quality_p"), 9).alias("max_p"),
    )
    return _drain(agg, "complete")


def _session_oracle() -> str:
    """Reuse the batch session-window oracle (same result by construction:
    AvailableNow processes the whole fixture in one batch, so update-mode
    emissions are the final merged sessions)."""
    from basin_cli_spark.queries import QUERIES
    from basin_cli_spark.queries import windows as _windows  # noqa: F401

    return QUERIES["q_session_window"].oracle


@register("q_stream_session_window", _session_oracle())
def q_stream_session_window(spark, sf_dir):
    """Streaming session windows (30-min gap) per user over the events
    stream — the merging-window stateful operator.  Complete mode: the
    sink reflects every session's final merged state after the drain."""
    ev = _read_events_stream(spark, sf_dir).where(F.col("user_id") < 100)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _drain(agg, "complete")
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


@register(
    "q_stream_dedup_within_watermark",
    """
SELECT user_id, event_type, COUNT(*) AS n_kept
FROM (
  SELECT DISTINCT user_id, event_type FROM events
)
GROUP BY user_id, event_type
ORDER BY user_id, event_type
""",
)
def q_stream_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark — the production form of streaming
    dedup: state for a key is dropped once the watermark passes it, so
    state size is bounded by the watermark horizon instead of growing
    with total distinct keys (plain dropDuplicates keeps every key
    forever).  With an AvailableNow drain over the bounded fixture and a
    horizon wider than the fixture's time span, the kept set equals
    batch DISTINCT — which is what the oracle states; the semantic
    difference is purely the state-eviction bound, which is the 100 TB
    property this query exists to pin."""
    ev = _read_events_stream(spark, sf_dir)
    dd = ev.withWatermark("ts", "100 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = _drain(dd.select("user_id", "event_type"), "append")
    return (
        out.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("user_id", "event_type")
    )


def _ivf_assign_stream_oracle() -> str:
    """Batch replay of the streaming cell assignment: same frozen
    centroid literals, same argmax-cosine, grouped to per-cell stats."""
    from basin_cli_spark.queries.llm_ops import _frozen_assign_ctes

    return f"""
WITH {_frozen_assign_ctes()}
SELECT CAST(cent_id AS BIGINT) AS cent_id, COUNT(*) AS n_vectors,
       MIN(vec_id) AS min_vec_id
FROM assign GROUP BY cent_id ORDER BY cent_id
"""


@register("q_stream_ivf_assign", _ivf_assign_stream_oracle())
def q_stream_ivf_assign(spark, sf_dir):
    """Streaming index maintenance: embeddings arrive as a stream, each
    is assigned to its frozen IVF cell (the Arrow argmax kernel runs
    per micro-batch), and per-cell occupancy stats aggregate in
    complete mode — the live view an index operator watches to decide
    when a cell is hot enough to retrain/split.  The serving pattern:
    the codebook is a loaded artifact, assignment is append-only, and
    the expensive retrain stays an offline batch job
    (scripts/gen_codebooks.py).  Oracle replays the assignment in
    batch SQL from the same frozen centroid literals."""
    import os as _os

    from basin_cli_spark.operators import kmeans as KM
    from basin_cli_spark.queries.llm_ops import _frozen_ivf_codebook

    path = _os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    e_batch = load_table(spark, sf_dir, "embeddings")
    cents = _frozen_ivf_codebook(e_batch)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    assigned = KM.assign_ids(stream, cents, metric="cos")
    stats = assigned.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
    )
    return _drain(stats, "complete").orderBy("cent_id")


@register(
    "q_stream_cdc_apply",
    """
WITH lines AS (
  SELECT * FROM read_json('{fixture}', format='newline_delimited',
                          columns={{commit_lsn: 'BIGINT', records: 'JSON[]'}})
),
rec AS (
  SELECT commit_lsn,
         UNNEST(LIST_ZIP(records, RANGE(0, LEN(records)))) AS z
  FROM lines
),
t AS (
  SELECT commit_lsn, CAST(z[2] AS INT) AS pos,
         (z[1]->>'$.action') AS action,
         COALESCE((z[1]->>'$.columns[0].value'),
                  (z[1]->>'$.identity[0].value')) AS key,
         (z[1]->>'$.columns[1].value') AS name
  FROM rec WHERE (z[1]->>'$.table') = 't'
),
latest AS (
  SELECT * FROM (
    SELECT t.*, ROW_NUMBER() OVER (
      PARTITION BY key ORDER BY commit_lsn DESC, pos DESC) AS rn
    FROM t
  ) WHERE rn = 1 AND action <> 'D'
)
SELECT CAST(key AS INTEGER) AS id, name FROM latest
""".format(fixture=__import__("os").path.join(
        __import__("os").path.dirname(__import__("os").path.dirname(
            __import__("os").path.dirname(
                __import__("os").path.abspath(__file__)))),
        "fixtures", "wal.jsonl")),
)
def q_stream_cdc_apply(spark, sf_dir):
    """STREAMING last-writer-wins CDC merge: the WAL records arrive as a
    file stream, per-key state in the engine state store holds the
    winning record, and the drained output materializes the same final
    table state the batch apply_changes produces (the oracle replays
    exactly that).  Bounded state: one tuple per live key, forever."""
    import os as _os

    from basin_cli_spark.sources.cdc import _typed, parse_wal_records
    from basin_cli_spark.streaming.stateful import cdc_apply_stream

    fixture = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.dirname(
            _os.path.abspath(__file__)))),
        "fixtures",
    )
    stream = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "wal.jsonl")
        .load(fixture)
    )
    merged = cdc_apply_stream(parse_wal_records(stream), "t", pk="id")
    out = _drain(merged, "update")
    # latest state per key (one AvailableNow batch -> one row per key),
    # tombstones dropped, columns pivoted exactly like materialize_table
    kv = F.map_from_entries(
        F.transform(
            F.from_json(
                "columns_json", "array<array<string>>"
            ),
            lambda c: F.struct(c[0].alias("k"), c[1].alias("v")),
        )
    )
    alive = out.where(F.col("action") != "D").withColumn("_kv", kv)
    return alive.select(
        _typed(F.element_at("_kv", "id"), "integer").alias("id"),
        F.element_at("_kv", "name").alias("name"),
    )


def _stream_dsir_oracle() -> str:
    """Replay the batch weight table (the shared _dsir_ctes fragment) and
    the STREAM's scoring order: a left fold of per-token weights in
    document token order — LIST_REDUCE over LIST(w ORDER BY pos) — which
    is exactly the order the stateless streaming expression adds them."""
    from basin_cli_spark.queries.corpus_ops import _dsir_ctes

    toks = (
        "LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0)"
    )
    return f"""
WITH {_dsir_ctes("documents")},
raw_tok AS (
  SELECT doc_id,
         UNNEST({toks}) AS tok,
         UNNEST(RANGE(1, LEN({toks}) + 1)) AS pos
  FROM documents WHERE doc_id % 20 <> 0
),
wtok AS (
  SELECT r.doc_id, r.pos, ds_lw.w
  FROM (SELECT doc_id, pos,
               CAST(('0x' || SUBSTRING(MD5(tok), 1, 4)) AS BIGINT) % 256 AS b
        FROM raw_tok) r JOIN ds_lw USING (b)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(LIST_REDUCE(LIST(w ORDER BY pos), (x, y) -> x + y), 6) AS iw
FROM wtok GROUP BY doc_id
"""


@register("q_stream_dsir_score", _stream_dsir_oracle())
def q_stream_dsir_score(spark, sf_dir):
    """STREAMING DSIR scoring — the serving shape of importance
    resampling: the 256-bucket weight table is TRAINED in batch
    (_dsir_weight_table, the method's artifact) and collected into a
    literal array, so the stream side is a pure per-row expression —
    tokenize, bucket, left-fold the bucket weights in token order —
    with ZERO streaming state (contrast q_stream_quality_gate's O(gates)
    state; this is O(0): append mode, no aggregation, no watermark).
    A crawl intake can gate on iw at wire speed while the model retrain
    stays an offline batch job, the q_stream_ivf_assign doctrine.

    The fold order is the document's token order (not the batch query's
    bucket-sorted order), and the oracle replays THAT order, so the
    hash gate pins the streaming arithmetic itself.  The weight
    literals are bit-identical in both engines: four LNs of exact
    integer counts, and the 256-row collect is the codebook-artifact
    pattern (k-row driver reduce, not a corpus collect)."""
    from basin_cli_spark.operators import dedup as D
    from basin_cli_spark.queries.corpus_ops import (
        _dsir_bucket,
        _dsir_weight_table,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    batch_docs = load_table(spark, sf_dir, "documents")
    ws = [0.0] * 256
    for row in _dsir_weight_table(batch_docs).collect():
        ws[int(row["b"])] = float(row["w"])
    warr = F.array(*[F.lit(w) for w in ws])
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # single-file stream source -> one input partition; spread the
    # tokenize + weight-fold map work across the cores
    docs = spread(docs, "doc_id")
    toked = docs.where(F.col("doc_id") % 20 != 0).select(
        "doc_id", D.tokens("text").alias("_toks")
    ).where(F.size("_toks") > 0)
    bucket_w = lambda t: F.element_at(  # noqa: E731
        warr, (_dsir_bucket(t).cast("int")) + 1
    )
    scored = toked.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.round(
            F.aggregate(
                F.transform(F.col("_toks"), bucket_w),
                F.lit(0.0),
                lambda acc, w: acc + w,
            ),
            6,
        ).alias("iw"),
    )
    return _drain(scored, "append")
