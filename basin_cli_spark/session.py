"""SparkSession factory.

Defaults are chosen for the dual target: correctness tests on ``local[N]``
and a plan shape that survives a 1000-executor / 100 TB deployment:

* AQE on (runtime coalesce, skew-join splitting, broadcast demotion) — the
  reference delegates all physical planning to DuckDB; here Catalyst + AQE
  play that role.
* ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster this is overridden by AQE's coalescing so the value only sets the
  pre-AQE upper bound.  AQE does not run inside a streaming micro-batch, so
  each registry stream drain sets its own count at ``start()`` from the
  bytes its sources decode, at most this value
  (``queries/streaming_queries._drain``).
* Spark's default streaming checkpoint file manager.  A registry drain
  checkpoints to its own local temporary directory and starts its query
  with the FileSystem manager instead: without the native Hadoop
  library, the default manager's renames fork a ``readlink`` per
  link-status check.  The session keeps the default because a remote
  checkpoint's ``FileSystem.rename`` does not overwrite (``_drain``
  again).
* UTC session timezone — the reference normalizes every user timestamp to
  UTC (reference internal/app/timestamp.go:30-48).
* Arrow enabled — every Python-side operator in this engine is a Pandas UDF
  / mapInPandas (never row-at-a-time Python UDFs).
* ``nanosAsLong`` — the events fixture carries parquet TIMESTAMP(NANOS)
  which the vectorized reader does not support natively; sources/tables.py
  converts the raw nanos to timestamp_ntz losslessly.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: half the machine's physical RAM,
    capped at 16 GB.  A fixed 16 GB heap on a smaller machine lets the
    driver JVM grow past the RAM it shares with the Python workers.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it in ``get_spark``."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):  # no sysconf: keep the cap
            return "16384m"
    return f"{min(16 << 10, phys_bytes // 2 >> 20)}m"


def get_spark(
    app_name: str = "basin_cli_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if unset)
    so tests and bench share one code path; on a cluster, spark-submit's
    ``--master`` wins because we only set it when constructing a new session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = master or f"local[{cpus}]"
    # shuffle partitions track the SESSION's core count, not the host's:
    # the driver benches at reduced $SPARK_GRAFT_CPUS to measure scaling,
    # and a host-sized constant (32 tasks on local[8]) would tax the
    # low-core runs with pure scheduling overhead.  On a cluster this
    # remains the pre-AQE upper bound only (see module docstring).
    n_shuffle = shuffle_partitions or (
        int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # 16 MB advisory partition target (default 64 MB): at the default,
        # AQE coalesces a high-cardinality final agg's shuffle into
        # partitions whose hash maps spill — exact dedup at 100x (60M rows,
        # 46M distinct 16-byte keys, ~1.6 GB of shuffle) measured 1,273
        # K rows/s (SCALE.md) vs ~10,000 K rows/s with the 16 MB
        # target (.scratch/dedup_tune.py grid).  A HIGHER
        # coalescePartitions.initialPartitionNum was measured and
        # REJECTED: it fixes the same spill but taxes every multi-shuffle
        # query with map-side bucket overhead and extra partial merges —
        # 256 initial cost +60% on the LSH/Bloom bench trio
        # (keep_one/bloom/semantic_ivf: 7.67 s vs 4.68 s at 32/16m).  On a
        # real cluster, set initialPartitionNum per deployment so reducer
        # counts can scale ABOVE shuffle.partitions with shuffle bytes;
        # at local[32] the core count is already the right ceiling.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The default 100-entry codegen class cache thrashes when a session
        # runs a wide query mix (each query compiles several WholeStageCodegen
        # units); eviction turns the second run of a query back into a
        # multi-second Janino compile. A long-lived cluster session wants the
        # whole workload resident.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    # Python workers import this package by name (pickled functions refer
    # to it), so they get the directory holding it whatever their cwd.
    conf = dict(extra_conf or {})
    conf[_WORKER_PATH] = os.pathsep.join(
        p for p in (conf.get(_WORKER_PATH), _PACKAGE_PARENT) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def persist_once(df):
    """``persist()`` that no-ops when an equivalent plan is already cached.

    Queries that persist an intermediate (LSH signatures, IVF assignments,
    the vocab-sized bigram model) are re-invoked per bench rep and per
    registry run; Spark's CacheManager matches cache entries by analyzed
    plan, so the re-run's ``persist()`` call hits an existing entry and
    logs ``WARN CacheManager: Asked to cache already cached data`` — noisy
    but harmless.  Probing the cache first keeps re-runs silent AND makes
    the reuse explicit: the second invocation reads the first's cache, the
    steady state the persist design intends.  Falls back to a plain
    persist, with a warning, if the (classic-mode) JVM internals are
    unavailable."""
    from pyspark import StorageLevel

    try:
        jcm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        if jcm.lookupCachedData(df._jdf).isDefined():
            return df
    except Exception as e:
        _LOG.warning(
            "persist_once: cache probe failed, falling back to a plain persist (%s: %s)",
            type(e).__name__, e, extra={"fallback": "plain_persist", "reason": repr(e)},
        )
    return df.persist(StorageLevel.MEMORY_AND_DISK)
