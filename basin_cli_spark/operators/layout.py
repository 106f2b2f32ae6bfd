"""Physical-layout operator: ``spread``, the one way to fan out an
under-split input.

One Parquet file per window with one row group per file, as the vault
pipeline and the fixtures write them, leaves every map-side operator on
one core.  ``spread`` is the single place that decides whether to fan
such an input out and how; no other engine code calls ``repartition``
(tests/test_spread.py lints for it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from basin_cli_spark.sources.tables import footer

# spread only when the scanned row groups fall this far short of the cores
SPREAD_FACTOR = 2

_SPREAD_ID = "__spread_id"


def _row_groups(uri: str) -> int:
    """Row groups in one input file.  A footer that cannot be read (a
    remote store, a non-Parquet file) counts as unbounded, so the input
    is taken to be well split and left alone."""
    meta = footer(uri)
    return 1 << 30 if meta is None else max(1, meta.num_row_groups)


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
