"""Fixture-table loaders, the engine's one parquet reader and its one
parquet-footer reader.

The reference's only scan operators are a Parquet scan
(``SELECT * FROM read_parquet(f)``, reference internal/app/test_util.go:38-39)
and a Postgres ``information_schema`` scan — the analytics surface here reads
the driver-generated TPC-H-ish parquet tables.

Scale note: the executed scan is Spark's V1 vectorized ``FileScan
parquet`` (``spark.sql.sources.useV1SourceList`` lists parquet by
default) — predicate pushdown + column pruning reach the footer/min-max
level, so the same loader is correct at 100 TB provided queries
filter/select before wide ops (verified with .explain in
tests/test_plans.py).

``read_parquet`` is how the engine opens a parquet path.  It always
passes a schema, so the read skips the one-task Spark job that
``spark.read.parquet`` runs on every call to infer the schema from a
footer, even for a file it read a moment before.

``footer`` is how the engine reads a parquet footer on the driver,
once per version of a file.
"""

from __future__ import annotations

import json
import logging
import os
import threading
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG = logging.getLogger(__name__)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor (TPC-H
# region/nation are constant-size; supplier/part grow slowly).  Joins against
# these should never shuffle the fact side.
BROADCAST_TABLES = {"region", "nation", "supplier"}

# The footer key Spark writes its own schema under; Spark's inference
# prefers it to converting the parquet schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Session confs that change the schema Spark infers from a footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# Memos keyed by file identity hold at most this many entries; the
# oldest entry goes first.
MEMO_ENTRIES = 256
_MEMO_LOCK = threading.Lock()

_SCHEMAS: dict[tuple, T.StructType] = {}
_FOOTERS: dict[tuple[str, int, int], object] = {}


def local_path(uri: str) -> str | None:
    """The local path a plain path or ``file:`` URI names; None for any
    other scheme."""
    url = urlparse(uri)
    if url.scheme == "file":
        return unquote(url.path)
    return None if url.scheme else uri


def file_identity(uri: str) -> tuple[str, int, int] | None:
    """``(real path, mtime_ns, size)`` of a local file: the key under
    which the engine memoizes what it read from the file, so a file
    rewritten at the same path gets a new key.  None for a non-local URI
    or a path that does not exist."""
    path = local_path(uri)
    if path is None:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    return os.path.realpath(path), st.st_mtime_ns, st.st_size


def memo_put(memo: dict, key, value) -> None:
    """Store ``value`` in a memo keyed by file identity, dropping the
    oldest entry once it holds MEMO_ENTRIES."""
    with _MEMO_LOCK:
        if len(memo) >= MEMO_ENTRIES:
            memo.pop(next(iter(memo)))
        memo[key] = value


def footer(uri: str):
    """The footer of a local parquet file as pyarrow ``FileMetaData``, or
    None for a non-local URI or a file whose footer cannot be read (not
    parquet, or unreadable).  The engine's one footer read: memoized
    under ``file_identity``, so each version of a file is read once
    whichever consumer asks first, and a file rewritten at the same path
    is read again."""
    key = file_identity(uri)
    if key is None:
        return None
    meta = _FOOTERS.get(key, False)  # False: not read yet; None: unreadable
    if meta is False:
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            meta = pq.read_metadata(key[0])
        except (OSError, pa.ArrowException):
            meta = None
        memo_put(_FOOTERS, key, meta)
    return meta


def _data_files(path: str) -> list[str] | None:
    """The files a plain ``spark.read.parquet(path)`` scans, or None when
    the path does not exist or its listing is not flat: nested or
    partition directories, or ``_metadata`` summary files that Spark's
    inference would read first.  Hidden and ``_``-prefixed
    entries are skipped the way Spark's file index skips them."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for entry in os.scandir(path):
        name = entry.name
        if name.startswith(("_metadata", "_common_metadata")) or (
            name.startswith("_") and "=" in name
        ):
            return None
        if name.startswith(("_", ".")) or name.endswith("._COPYING_"):
            continue
        if not entry.is_file():
            return None
        files.append(entry.path)
    return sorted(files) or None


def _footer_schema(files: list[str]) -> T.StructType | None:
    """The schema Spark wrote into every file's footer, when all files
    carry the same one; else None."""
    found = set()
    for f in files:
        meta = footer(f)
        if meta is None:
            return None
        found.add((meta.metadata or {}).get(_SPARK_SCHEMA_KEY))
    if len(found) != 1 or None in found:
        return None
    try:
        return T.StructType.fromJson(json.loads(found.pop()))
    except (ValueError, KeyError, TypeError):
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema given, so the read
    runs no schema-inference job.

    The schema is the one Spark wrote into the footers (vault windows
    always carry it; each footer comes from ``footer``'s memo), else
    Spark's own inference.  Either is memoized under each data file's
    ``file_identity`` and the confs that steer inference; a rewritten
    file is read again.
    Non-local URIs and nested or partitioned directories are read by
    plain ``spark.read.parquet``."""
    local = local_path(path)
    files = None if local is None else _data_files(local)
    ids = None if files is None else [file_identity(f) for f in files]
    if ids is None or None in ids:
        return spark.read.parquet(path)
    key = (tuple(ids), tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    schema = _footer_schema(files)
    if schema is not None:
        df, source = spark.read.schema(schema).parquet(path), "footer"
    else:
        df, source = spark.read.parquet(path), "inferred"
    memo_put(_SCHEMAS, key, df.schema)
    _LOG.info(
        "read_parquet: schema of %s %s", path, source,
        extra={"decision": "parquet_schema", "path": path,
               "schema_source": source, "files": len(files)},
    )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing physical quirks.

    The events fixture stores parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` it surfaces as a raw
    nanosecond LongType which we convert to timestamp_ntz via exact integer
    division (truncation to micros — the same truncation DuckDB applies, so
    the oracle sees identical values).
    """
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # `div` = integer division: double division would lose the low
            # microseconds at ~1.7e18 nanos (observed as ±1us oracle drift).
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
