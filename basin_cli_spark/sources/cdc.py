"""CDC source: wal2json v2 transaction lines -> typed DataFrames.

The reference decodes wal2json into Tx{CommitLSN, Records[]} on a
replication socket (reference pkg/pgrepl/replicator.go:136-210,
pkg/pgrepl/tx.go:10-39) and replays each record as a generated INSERT
(reference internal/app/db.go:254-289).  Spark-first, the same pipeline is:

    lines (file/socket/Kafka) -> from_json(TX_SCHEMA) -> posexplode(records)
      -> filter(action == 'I') -> per-table pivot to typed columns

Key semantics preserved:
* intra-transaction order: posexplode index + commit_lsn form the sort key
  (the reference's channel preserves WAL order, replicator.go:159-207);
* append-only: only "I" records materialize — the reference documents
  UPDATE/DELETE as ignored (reference README.md:146) even though wal2json
  emits U/D records (reference pkg/pgrepl/replicator_test.go:51-62);
* metadata columns (_action/_xid/_lsn/_commit_lsn/_tx_pos/_commit_ts)
  mirror Record fields so at-least-once replay stays auditable.

The same parse runs in batch (oracle-checkable) and under readStream
(basin_cli_spark/streaming) — one code path, two execution modes.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from basin_cli_spark.types import normalize_pg_type, pg_to_spark
from basin_cli_spark.types.literals import parse_pg_array, parse_pg_interval

# wal2json v2 record shape (reference pkg/pgrepl/tx.go:16-39).  `value` is
# heterogeneous JSON (number | string | bool | null); parsing it as string
# keeps the raw literal which the typed pivot casts per-column.
TX_SCHEMA = T.StructType(
    [
        T.StructField("commit_lsn", T.LongType(), True),
        T.StructField(
            "records",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("action", T.StringType(), True),
                        T.StructField("xid", T.LongType(), True),
                        T.StructField("lsn", T.StringType(), True),
                        T.StructField("nextlsn", T.StringType(), True),
                        T.StructField("timestamp", T.StringType(), True),
                        T.StructField("schema", T.StringType(), True),
                        T.StructField("table", T.StringType(), True),
                        T.StructField(
                            "columns",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("name", T.StringType(), True),
                                        T.StructField("type", T.StringType(), True),
                                        T.StructField("value", T.StringType(), True),
                                    ]
                                )
                            ),
                            True,
                        ),
                        T.StructField(
                            "identity",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("name", T.StringType(), True),
                                        T.StructField("type", T.StringType(), True),
                                        T.StructField("value", T.StringType(), True),
                                    ]
                                )
                            ),
                            True,
                        ),
                        T.StructField(
                            "pk",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("name", T.StringType(), True),
                                        T.StructField("type", T.StringType(), True),
                                    ]
                                )
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)

# wal2json commit timestamps look like '2023-08-22 14:44:02.043586-03'
# (reference internal/app/testdata/wal.input) — offset without colon.
_WAL_TS_FMT = "yyyy-MM-dd HH:mm:ss[.SSSSSS]X"


def parse_wal_records(lines: DataFrame) -> DataFrame:
    """One wal2json tx JSON line per input row (the text source's
    ``value``) -> one output row per record, with tx metadata flattened and
    intra-tx order kept in `_tx_pos`."""
    tx = lines.select(F.from_json(F.col("value"), TX_SCHEMA).alias("tx"))
    rec = tx.select(
        F.col("tx.commit_lsn").alias("_commit_lsn"),
        F.posexplode("tx.records").alias("_tx_pos", "r"),
    )
    return rec.select(
        "_commit_lsn",
        "_tx_pos",
        F.col("r.action").alias("_action"),
        F.col("r.xid").alias("_xid"),
        F.col("r.lsn").alias("_lsn"),
        F.to_timestamp(F.col("r.timestamp"), _WAL_TS_FMT).alias("_commit_ts"),
        F.col("r.schema").alias("_schema"),
        F.col("r.table").alias("_table"),
        F.col("r.columns").alias("_columns"),
        F.col("r.identity").alias("_identity"),
    )


def _typed(raw: Column, pg_type: str) -> Column:
    """Raw wal2json string literal -> typed column, per the PG type.

    Most types are a plain cast; the three shapes a cast can't produce
    (the reference handles them with per-type literal transforms,
    reference internal/app/type_converter.go:13-211):

    * 1-D arrays: '{a,b,NULL}' via parse_pg_array (NULL elements kept);
    * interval: mixed '1 year 2 mons 21 days 05:00:00' -> struct
      (months, days, micros);
    * bytea: PG hex form '\\x6465...' -> binary.
    """
    norm = normalize_pg_type(pg_type.lower())
    spark_type = pg_to_spark(pg_type)
    if norm.endswith("[]"):
        elem = norm[:-2]
        if elem == "interval":
            return parse_pg_array(raw, spark_type.elementType, parse_pg_interval)
        if elem == "bytea":
            return parse_pg_array(
                raw,
                spark_type.elementType,
                lambda s: F.unhex(F.regexp_replace(s, r"^\\x", "")),
            )
        return parse_pg_array(raw, spark_type.elementType)
    if norm == "interval":
        return parse_pg_interval(raw)
    if norm == "bytea":
        return F.unhex(F.regexp_replace(raw, r"^\\x", ""))
    return raw.cast(spark_type)


def _projection(
    records: DataFrame, columns: list[tuple[str, str]], keep_metadata: bool = False
) -> tuple[Column, list[Column]]:
    """The `_kv` map expression over a record's columns and the typed
    output columns read from it, built once per schema.  Building the
    typed columns is dozens of py4j calls per interval or array column,
    and a streaming sink would pay it on every micro-batch."""
    return _build_projection(
        records.sparkSession.sparkContext._gateway,
        tuple(map(tuple, columns)),
        keep_metadata,
    )


def _entries_map(field: str) -> Column:
    """``name -> value`` map over a record's ``_columns`` or ``_identity``."""
    return F.map_from_entries(
        F.transform(field, lambda c: F.struct(c["name"], c["value"]))
    )


@functools.lru_cache(maxsize=256)
def _build_projection(
    gateway, columns: tuple[tuple[str, str], ...], keep_metadata: bool
) -> tuple[Column, list[Column]]:
    # `gateway` is only a key: Column objects belong to the JVM that
    # built them, so a restarted context never reuses stale ones
    kv = _entries_map("_columns")
    cols = [
        _typed(F.element_at("_kv", name), pg_type).alias(name)
        for name, pg_type in columns
    ]
    if keep_metadata:
        cols += [
            F.col(c) for c in ("_commit_lsn", "_tx_pos", "_xid", "_lsn", "_commit_ts")
        ]
    return kv, cols


def materialize_table(
    records: DataFrame,
    table: str,
    columns: list[tuple[str, str]],
    keep_metadata: bool = False,
) -> DataFrame:
    """Pivot one table's insert records into typed columns.

    `columns` is [(name, pg_type)] — the discovered schema (the reference
    pulls it from information_schema before streaming starts, reference
    cmd/vaults/commands.go:851-921).  Only inserts materialize (append-only
    vaults, reference README.md:146).
    """
    kv, cols = _projection(records, columns, keep_metadata)
    return (
        records.where((F.col("_table") == table) & (F.col("_action") == "I"))
        .withColumn("_kv", kv)
        .select(*cols)
    )


def read_wal_batch(spark, path: str) -> DataFrame:
    """Batch read of a wal2json JSONL file/dir (crash-recovery sweep and
    the oracle-checkable replay path)."""
    return parse_wal_records(spark.read.text(path))


def read_wal_stream(spark, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming read of a directory receiving wal2json JSONL files — the
    Structured Streaming face of the reference's replication channel."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return parse_wal_records(reader.load(path))


def keyed_changes(
    records: DataFrame, table: str, pk: str, kv: Column | None = None
) -> DataFrame:
    """``table``'s change records with their ``_key``: the new row's `pk`
    (I/U), else the wal2json `identity` old key (D).  `kv` is the record's
    ``_columns`` map when the caller already holds it (the typed projection
    reads the same map)."""
    if kv is None:
        kv = _entries_map("_columns")
    ident_kv = _entries_map("_identity")
    return records.where(F.col("_table") == table).withColumn(
        "_key", F.coalesce(F.element_at(kv, pk), F.element_at(ident_kv, pk))
    )


def apply_changes(
    records: DataFrame,
    table: str,
    columns: list[tuple[str, str]],
    pk: str,
) -> DataFrame:
    """Last-writer-wins CDC apply: materialize the FINAL state of a table
    from its full I/U/D record stream — the general merge the reference's
    append-only vaults deliberately skip (README.md:146) but every
    warehouse CDC consumer needs.

    Per key (new-row pk for I/U, wal2json `identity` old-key for D), the
    record with the highest (commit_lsn, _tx_pos) wins; a winning D
    removes the row.  One shuffle keyed on the pk; the per-key window is
    a sort within partitions — the MERGE INTO shape without a mutable
    table format.
    """
    from pyspark.sql import Window

    kv, out = _projection(records, columns)
    w = Window.partitionBy("_key").orderBy(
        F.col("_commit_lsn").desc(), F.col("_tx_pos").desc()
    )
    latest = (
        keyed_changes(records, table, pk, kv)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .where(F.col("_action") != "D")
        .withColumn("_kv", kv)
    )
    return latest.select(*out)


def scd2_history(
    records: DataFrame,
    table: str,
    columns: list[tuple[str, str]],
    pk: str,
) -> DataFrame:
    """SCD type-2 historization from the CDC stream: every I/U record
    opens a version valid from its commit LSN; the NEXT event on the same
    key (U or D) closes it.  valid_to_lsn is NULL for the current
    version; a delete closes the last version without opening a new one.
    Same single pk-keyed shuffle as apply_changes — LEAD over the per-key
    event order."""
    from pyspark.sql import Window

    kv, out = _projection(records, columns)
    w = Window.partitionBy("_key").orderBy("_commit_lsn", "_tx_pos")
    evts = (
        keyed_changes(records, table, pk, kv)
        .withColumn("_next_lsn", F.lead("_commit_lsn").over(w))
        .withColumn("_kv", kv)
    )
    versions = evts.where(F.col("_action") != "D")
    return versions.select(
        *out,
        F.col("_commit_lsn").alias("valid_from_lsn"),
        F.col("_next_lsn").alias("valid_to_lsn"),
        F.col("_next_lsn").isNull().alias("is_current"),
    )
