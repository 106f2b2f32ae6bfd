"""Physical-layout operators: bucketing, skew salting and spreading.

At 100 TB the dominant cost of a fact-fact join is the shuffle.  Two
standing mitigations, both plain Spark:

* **Bucketing** — persist both sides bucketed (and sorted) on the join
  key; a later equi-join reads co-located buckets and sort-merges with
  *no Exchange at all* (asserted in tests/test_layout.py).
* **Salting** — when one side's key distribution is heavy-tailed, AQE's
  skew-join split usually suffices (enabled in session.py); explicit
  salting remains for the worst cases: spread the skewed side across
  ``salt`` sub-keys, replicate the other side to every sub-key, join on
  (key, salt).  Result is identical to the plain join; the hot partition
  is ``salt``× smaller.

The opposite problem is an input with too FEW partitions: one Parquet
file per window with one row group per file, as the vault pipeline and
the fixtures write them, leaves every map-side operator on one core.
``spread`` is the single place that decides whether to fan such an input
out and how; no other engine code calls ``repartition``
(tests/test_spread.py lints for it).
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# spread only when the scanned row groups fall this far short of the cores
SPREAD_FACTOR = 2

# row groups per input-file URI, read once from the Parquet footer
_ROW_GROUPS: dict[str, int] = {}

_SPREAD_ID = "__spread_id"


def _row_groups(uri: str) -> int:
    """Row groups in one input file.  A footer that cannot be read (a
    remote store, a non-Parquet file) counts as unbounded, so the input
    is taken to be well split and left alone."""
    if uri not in _ROW_GROUPS:
        import pyarrow as pa
        import pyarrow.parquet as pq

        url = urlparse(uri)
        n = 1 << 30
        if url.scheme in ("", "file"):
            try:
                meta = pq.ParquetFile(unquote(url.path)).metadata
                n = max(1, meta.num_row_groups)
            except (OSError, pa.ArrowException):
                pass
        _ROW_GROUPS[uri] = n
    return _ROW_GROUPS[uri]


def _under_split(df: DataFrame, par: int) -> bool:
    if df.isStreaming:
        return True
    groups = 0
    for uri in df.inputFiles():
        groups += _row_groups(uri)
        if groups * SPREAD_FACTOR > par:
            return False
    return True


def spread(df: DataFrame, keys=None) -> DataFrame:
    """Hash-repartition ``df`` to ``defaultParallelism`` when its input is
    under-split; otherwise return it unchanged.

    Parquet scan tasks cannot split below a row group, so a file written
    as one row group yields one scan task however small
    ``spark.sql.files.maxPartitionBytes`` is, and every map-side operator
    above the scan (filters, projections, partial aggregation, text
    folds, EC point maps) runs at that parallelism.  A batch input is
    under-split when the row groups its plan scans, times SPREAD_FACTOR,
    are at most the core count — counted from the footers of
    ``df.inputFiles()`` on the driver, memoized per file, with no Spark
    job.  A warehouse table in 128 MB row groups reads a few footers and
    keeps its plan.  Streaming and in-memory inputs (no input files:
    local relations, cached frames) always spread: a micro-batch of a
    single-file stream is one partition, and a cache keeps the layout it
    was built with.

    The exchange hashes ``xxhash64(*keys)`` — callers pass a unique key
    (column names or Columns).  Hashing beats round-robin
    ``repartition(n)``, which sorts its input locally first
    (SPARK-23207) on the one core the scan runs on (q1 at sf0.1 on 32
    cores: 1.12 s round-robin vs 0.65 s hashed), and a deterministic key
    keeps task retries placing rows identically.  Without keys the
    exchange hashes a per-row id taken below it, so a multiset whose
    values repeat is still spread evenly; hashing the values themselves
    would co-locate every copy of a hot value.

    Placement never changes the rows, and Catalyst pushes later filters
    and column pruning below the exchange into the scan (PushedFilters
    and ReadSchema are unchanged), so a selective query shuffles only the
    rows that survive."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if not _under_split(df, par):
        return df
    if isinstance(keys, (str, Column)):
        keys = (keys,)
    if keys:
        return df.repartition(par, F.xxhash64(*keys))
    return (
        df.withColumn(_SPREAD_ID, F.monotonically_increasing_id())
        .repartition(par, F.xxhash64(_SPREAD_ID))
        .drop(_SPREAD_ID)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (+sorted) managed table keyed for co-located
    joins.  Matching bucket counts on both join sides is what removes the
    exchange."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def write_date_partitioned(df: DataFrame, path: str) -> None:
    """Persist hive-partitioned by ``event_date``, the day of ``ts`` — the
    default physical layout for an append-only event log at 100 TB: a
    time-bounded query prunes to the matching date directories at PLANNING
    time (the scan's PartitionFilters), so a day's query reads a day's
    bytes, not the log.  tests/test_layout.py asserts the pruned scan."""
    df.withColumn("event_date", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(path)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str,
    other_key: str,
    salt: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with the skewed side salted across ``salt`` sub-keys.

    The skewed side gets a uniform random sub-key; the other side is
    replicated to all sub-keys (an explode of ``salt`` literals — cheap
    when the other side is the smaller one).  Join condition is
    (key, sub-key), so rows of one hot key land in ``salt`` tasks."""
    skewed_s = skewed.withColumn(
        "_salt", F.floor(F.rand(seed) * salt).cast("int")
    )
    other_r = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<int>"))
    )
    cond: Column = (skewed_s[skewed_key] == other_r[other_key]) & (
        skewed_s["_salt"] == other_r["_salt"]
    )
    return skewed_s.join(other_r, cond, how).drop("_salt")


def tune_runtime_bloom(spark, app_side_threshold: str = "10GB") -> None:
    """Runtime bloom-filter join pre-filtering is Catalyst's job
    (InjectRuntimeFilter, on by default): for a selective shuffle join it
    builds a bloom over the creation side's join keys and pushes
    ``might_contain`` into the other side's scan — fact rows that cannot
    match are dropped BEFORE the shuffle, with zero false negatives.

    This helper only adjusts the application-side size threshold (the
    default 10 GB means small local tests never see the filter; at 100 TB
    the default is right).  tests/test_layout.py asserts the filter
    actually lands in the plan."""
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        app_side_threshold,
    )


def write_sorted_by(
    df: DataFrame, path: str, col: str, files: int = 16
) -> None:
    """Range-partition + sort-within-files on one column: every file and
    row group covers a narrow value range, so parquet min/max stats let a
    range predicate skip almost everything (stats-based data skipping —
    at 100 TB the difference between scanning a terabyte and a gigabyte).
    tests/test_layout.py asserts the scan-row reduction."""
    df.repartitionByRange(files, col).sortWithinPartitions(col).write.mode(
        "overwrite"
    ).parquet(path)


def zorder_value(*cols: Column, bits: int = 20) -> Column:
    """Morton (Z-order) interleaving of two non-negative int columns —
    vectorized Arrow kernel (bit interleave is numpy shift/or ops, not a
    Catalyst expression shape).  Sorting by the Z value gives BOTH
    columns locality, so range predicates on either (or both) skip row
    groups — the multi-column generalization of write_sorted_by."""
    if len(cols) != 2:
        raise ValueError("zorder_value interleaves exactly 2 columns")

    @F.pandas_udf("long")
    def _morton(x: pd.Series, y: pd.Series) -> pd.Series:
        xa = x.to_numpy(dtype=np.int64)
        ya = y.to_numpy(dtype=np.int64)
        z = np.zeros(len(xa), dtype=np.int64)
        for b in range(bits):
            z |= ((xa >> b) & 1) << (2 * b)
            z |= ((ya >> b) & 1) << (2 * b + 1)
        return pd.Series(z)

    return _morton(cols[0], cols[1])


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, files: int = 16
) -> None:
    """Persist Z-ordered on (col_a, col_b): files hold Morton-contiguous
    blocks, so min/max stats are tight on BOTH columns at once."""
    z = zorder_value(F.col(col_a), F.col(col_b))
    (
        df.withColumn("_z", z)
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
