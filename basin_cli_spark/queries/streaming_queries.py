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

import logging
import math
import os
import pathlib
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from basin_cli_spark.operators.layout import spread
from basin_cli_spark.queries import register
from basin_cli_spark.queries._helpers import dec, dec_sum, sql_dec, sql_dec_sum
from basin_cli_spark.sources import load_table
from basin_cli_spark.sources.tables import footer, read_parquet

_LOG = logging.getLogger(__name__)


def _fixture_file(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _read_fixture_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """File stream over one fixture table.  The source path must be a
    directory, so sf_dir is the basePath with a glob keeping only the
    table's file; the schema is the batch file's."""
    schema = read_parquet(spark, _fixture_file(sf_dir, table)).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream over the events fixture.  ``ts`` is cast to TIMESTAMP
    (session tz is UTC, so values equal the batch loader's ntz ones)
    because watermarks reject ntz."""
    df = _read_fixture_stream(spark, sf_dir, "events")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_DRAIN_CONF_LOCK = threading.Lock()
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_OUTER_JOINS = frozenset({"LeftOuter", "RightOuter", "FullOuter"})
_TIMEOUT_STATE_NODES = frozenset({"FlatMapGroupsWithState", "FlatMapGroupsInPandasWithState"})


def _decoded_bytes(path: str) -> int:
    """Bytes a scan of one local file decodes: for parquet, the
    uncompressed row-group sizes in its footer, else the file size.
    Compressed sizes undercount: the sf1 events file is 15 MB on disk and
    65 MB decoded, and sized by the former its dedup and join drains ran
    35-51% slower on one partition than on four."""
    meta = footer(path)
    if meta is None:
        return os.path.getsize(path)
    return sum(meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))


def _drain_partitions(spark: SparkSession, in_bytes: int) -> int:
    """Shuffle partitions for a drain reading ``in_bytes``: one per
    advisory partition size, as AQE sizes a batch stage, clamped to
    [1, spark.sql.shuffle.partitions]."""
    jutils = spark._jvm.org.apache.spark.network.util.JavaUtils
    advisory = jutils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    cap = int(spark.conf.get(_SHUFFLE_PARTITIONS))
    return max(1, min(cap, math.ceil(in_bytes / max(1, advisory))))


def _finalize_batch_needed(df: DataFrame, mode: str) -> bool:
    """Whether draining ``df`` in output ``mode`` needs the
    watermark-finalize no-data batch: its analyzed plan holds an operator
    that emits rows only once the watermark passes them.  Those are an
    append-mode streaming aggregation (Spark starts one only over an
    event-time watermark), an outer stream-stream join, and a
    ``*GroupsWithState`` operator with a timeout."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "Aggregate" and mode == "append" and node.isStreaming():
            return True
        if (
            name == "Join"
            and node.joinType().toString() in _OUTER_JOINS
            and node.left().isStreaming()
            and node.right().isStreaming()
        ):
            return True
        if name in _TIMEOUT_STATE_NODES and node.timeout().toString() != "NoTimeout":
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def _drain(df: DataFrame, mode: str, *sources: str) -> DataFrame:
    """Run the streaming plan to completion into a memory sink and return
    the sink table (one AvailableNow drain — the test/recovery trigger;
    production would use a processing-time or continuous trigger).
    ``sources`` are the local files the plan's file streams read, one
    entry per stream.  The drain checkpoints to a directory of its own
    and starts its query with three conf overrides, and logs one
    ``decision="drain_confs"`` record naming them.

    **The checkpoint** is a fresh local temporary directory, passed as a
    ``file:`` URI (a bare path resolves against ``fs.defaultFS``) and
    removed when the query ends, also when it fails: Spark removes only
    the temporary directories it makes itself, so under a session
    ``spark.sql.streaming.checkpointLocation`` each drain would leave a
    ``mem_<id>`` directory behind.  A drain never resumes.

    **The watermark-finalize no-data micro-batch**
    (`spark.sql.streaming.noDataMicroBatches.enabled`) is off unless
    ``_finalize_batch_needed`` finds, in the analyzed plan, an operator
    that emits rows only when the watermark passes them: an append-mode
    aggregation, an outer stream-stream join, or a ``*GroupsWithState``
    operator with a timeout.  For any other plan a bounded AvailableNow
    drain's no-data batch can only advance the watermark and evict
    state; it cannot change the sink.  Complete-mode aggregations
    re-emit the final state they emitted in the data batch;
    dropDuplicates[WithinWatermark] emits on first sight and an inner
    interval join on match; update-mode applyInPandasWithState without
    a timeout sees no input groups in a no-data batch.  End-of-drain
    state eviction is moot, since the query terminates.  What the batch
    did cost, by a stream profile of the drains, is a full round of
    micro-batch machinery: ~1 s of queryPlanning plus a commit of every
    state-store instance, roughly half the wall of every watermarked
    drain.  A production continuous trigger keeps the default: there the
    no-data batch is what finalizes windows between arrivals.  None of
    the 11 registry drains needs it.

    **``spark.sql.shuffle.partitions``** is sized to the bytes that
    ``sources`` decode to, the way AQE sizes a batch stage
    (``_drain_partitions``).  AQE does not run inside a micro-batch, so
    without this every stateful operator keeps one state-store instance
    per session partition (the core count) whatever its input.  Each
    instance costs a checkpoint-file write and a commit RPC per batch: 4
    stores for 155 state rows took 358-420 ms of state commit in
    q_stream_tumbling_agg at sf0.01 against 36-45 ms for 1 (4 vCPUs).
    The count is fixed when the query first starts on its checkpoint (it
    is recorded in ``offsets/0``), and a drain always starts on a fresh
    one, so choosing it at ``start()`` from the input is safe.

    **The checkpoint file manager** is Spark's
    ``FileSystemBasedCheckpointFileManager``, which the local checkpoint
    allows.  Spark's default manager renames each offset, commit,
    metadata and state file through Hadoop's ``FileContext.rename``,
    which checks the file and its ``.crc`` with ``getFileLinkStatus``.
    Without the native Hadoop library, Hadoop's local file system forks
    a ``readlink`` for each such check (and a ``chmod`` for each
    ``setPermission``): a JFR recording of 10 warm q_stream_tumbling_agg
    drains at sf0.01 on 4 vCPUs counted 90 process starts per drain (64
    ``readlink``, 25 ``chmod``, 1 ``rm``), most on the stream execution
    thread, against 26 (no ``readlink``) with this manager.
    On a local file system the two managers do the same thing: each
    checks that the destination does not exist, then calls
    ``RawLocalFileSystem.rename`` (``File.renameTo``).  The manager is
    not a session default because a remote checkpoint would get it too,
    where ``FileSystem.rename`` does not overwrite; the vault sink's
    user-given checkpoint (``streaming.window_sink.run_stream``) keeps
    Spark's default.

    A query reads these confs once, when ``start()`` builds it (its
    cloned session keeps them and passes them to the executors' state
    stores), so the session values are restored right after ``start()``,
    not after the drain; a key that was unset before is unset again.  A
    module lock around set/start/restore keeps concurrent drains from
    restoring each other's overrides.  A batch query that another thread
    plans inside that window sees the overridden values."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    in_bytes = sum(_decoded_bytes(p) for p in sources)
    finalize = _finalize_batch_needed(df, mode)
    checkpoint = tempfile.mkdtemp(prefix="drain-")
    try:
        with _DRAIN_CONF_LOCK:
            parts = _drain_partitions(spark, in_bytes)
            overrides = {_NO_DATA_BATCHES: str(finalize).lower(),
                         _SHUFFLE_PARTITIONS: str(parts),
                         _CHECKPOINT_MANAGER: _FS_CHECKPOINT_MANAGER}
            old = {k: spark.conf.get(k, None) for k in overrides}
            for k, v in overrides.items():
                spark.conf.set(k, v)
            try:
                q = (
                    df.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(mode)
                    .option("checkpointLocation", pathlib.Path(checkpoint).as_uri())
                    .trigger(availableNow=True)
                    .start()
                )
            finally:
                for k, v in old.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
        _LOG.info(
            "drain %s: %d decoded input bytes -> %d shuffle partitions, "
            "checkpoint manager %s, finalize batch %s",
            name, in_bytes, parts, _FS_CHECKPOINT_MANAGER, "on" if finalize else "off",
            extra={"decision": "drain_confs", "query": name, "input_bytes": in_bytes,
                   "shuffle_partitions": parts, "checkpoint_manager": _FS_CHECKPOINT_MANAGER,
                   "finalize_batch": finalize},
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
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
    out = _drain(agg, "complete", _fixture_file(sf_dir, "events"))
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
    out = _drain(
        dd.select("user_id", "event_type"), "append",
        _fixture_file(sf_dir, "events"),
    )
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
    return _drain(agg, "complete", _fixture_file(sf_dir, "events"))


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
    events = _fixture_file(sf_dir, "events")
    out = _drain(
        joined.select("click_id", "purchase_id", "user_id"), "append", events, events
    )
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
    docs = _read_fixture_stream(spark, sf_dir, "documents")
    return _drain(near_dedup_plan(docs), "complete", _fixture_file(sf_dir, "documents"))


def near_dedup_plan(docs: DataFrame) -> DataFrame:
    """q_stream_near_dedup's plan over a ``(doc_id, text)`` document
    stream: min-id and count per SimHash bucket."""
    from basin_cli_spark.operators.dedup import simhash_expr

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
        "doc_id", simhash_expr().alias("simhash"), ts.alias("ts")
    )
    return (
        sim.withWatermark("ts", "1 hour")
        .groupBy("simhash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_bucket"),
        )
    )


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
    docs = _read_fixture_stream(spark, sf_dir, "documents")
    return _drain(quality_gate_plan(docs), "complete", _fixture_file(sf_dir, "documents"))


def quality_gate_plan(docs: DataFrame) -> DataFrame:
    """q_stream_quality_gate's plan over a ``(doc_id, text)`` document
    stream: per-gate counts and probability bounds."""
    from basin_cli_spark.operators.text import quality_score

    # single-file stream source -> one input partition; spread the
    # per-row probe expressions across the cores
    scored = quality_score(spread(docs, "doc_id"))
    return scored.groupBy("gate").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("quality_p"), 9).alias("min_p"),
        F.round(F.max("quality_p"), 9).alias("max_p"),
    )


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
    out = _drain(agg, "complete", _fixture_file(sf_dir, "events"))
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
    out = _drain(
        dd.select("user_id", "event_type"), "append",
        _fixture_file(sf_dir, "events"),
    )
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
    from basin_cli_spark.operators import kmeans as KM

    cents = KM.frozen_codebook(load_table(spark, sf_dir, "embeddings"), "ivf")
    stream = _read_fixture_stream(spark, sf_dir, "embeddings")
    assigned = KM.assign_ids(stream, cents)
    stats = assigned.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
    )
    return _drain(
        stats, "complete", _fixture_file(sf_dir, "embeddings")
    ).orderBy("cent_id")


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
    from basin_cli_spark.sources.cdc import _typed, parse_wal_records
    from basin_cli_spark.streaming.stateful import cdc_apply_stream

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))),
        "fixtures",
    )
    stream = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "wal.jsonl")
        .load(fixture)
    )
    merged = cdc_apply_stream(parse_wal_records(stream), "t", pk="id")
    out = _drain(merged, "update", os.path.join(fixture, "wal.jsonl"))
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
    (curation.dsir_weight_table, the method's artifact) and collected into a
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
    from basin_cli_spark.operators import curation as C
    from basin_cli_spark.operators import dedup as D

    batch_docs = load_table(spark, sf_dir, "documents")
    ws = [0.0] * 256
    for row in C.dsir_weight_table(batch_docs).collect():
        ws[int(row["b"])] = float(row["w"])
    warr = F.array(*[F.lit(w) for w in ws])
    docs = _read_fixture_stream(spark, sf_dir, "documents")
    # single-file stream source -> one input partition; spread the
    # tokenize + weight-fold map work across the cores
    docs = spread(docs, "doc_id")
    toked = docs.where(F.col("doc_id") % 20 != 0).select(
        "doc_id", D.tokens("text").alias("_toks")
    ).where(F.size("_toks") > 0)
    bucket_w = lambda t: F.element_at(  # noqa: E731
        warr, (C.dsir_bucket(t).cast("int")) + 1
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
    return _drain(scored, "append", _fixture_file(sf_dir, "documents"))
