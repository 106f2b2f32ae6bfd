"""DuckDB differential-oracle harness.

Mirrors the driver's correctness gate (SURVEY.md §5 item 3): run the Spark
query and the DuckDB oracle SQL over the same parquet fixtures, normalize
both results to canonical value tuples, compare order-insensitively.

Driver-strictness contract (hardened after five red driver rows):
* Canonicalization is COLUMN-wise, never row-wise — the old row-major
  ``df.iloc[i][c]`` silently upcast ints to float inside a mixed-dtype row
  Series, which made the suite blind to BIGINT-vs-DOUBLE column divergence
  the driver's value hash does see.
* The output TYPE CLASS of every column must match between the Spark
  schema and the DuckDB oracle's Arrow schema (int/float/bool/str/
  timestamp/date/bytes/decimal).  This is checked at the engine-schema
  level, not the pandas level, so it cannot be masked by symmetric
  NULL-driven upcasts.
* Class-level (not width-level) equivalence is provably sufficient for
  the driver: `scripts/audit_dtypes.py` once tracked 37 registry
  columns whose widths diverged inside a matching class (Spark int32 vs
  DuckDB int64 — year()/length()/rank() return INT in Spark, BIGINT in
  DuckDB) while the entries carrying them held hash-GREEN driver
  CORRECTNESS rows, the empirical proof the driver's value hash does
  not distinguish integer widths.  The gap is retired anyway: every
  registry output CASTs to the oracle's width at the
  registry surface (Spark .cast("long") on int-class functions; CAST(..
  AS BIGINT) on the three VALUES-literal oracles), so audit_dtypes
  reports ZERO width divergences and a future width-sensitive
  canonicalizer tightening cannot surprise.
* Raw container (array/map/struct) output columns are REJECTED on either
  side — the registry rule (queries/__init__.py docstring) is that array
  outputs are sorted/joined to strings; a raw list crashes the driver's
  canonicalizer (``TypeError: unhashable type: 'list'``).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.types as T

from basin_cli_spark.sources import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with the fixture tables registered as views —
    the same contract the driver gives oracle_sql().

    ``SPARK_GRAFT_DUCKDB_MEM`` (e.g. ``100GB``) optionally caps DuckDB's
    memory and points its spill at ``SPARK_GRAFT_DUCKDB_TMP`` (default
    ``/tmp/duckdb_spill``) so decade-scale oracle replays (.scratch/sf10c)
    spill to disk instead of taking the whole box to the kernel
    OOM-killer — unset, behavior is exactly the driver's (unlimited
    in-memory), so the sf0.01 gate is unaffected."""
    import os

    con = duckdb.connect()
    mem = os.environ.get("SPARK_GRAFT_DUCKDB_MEM")
    if mem:
        tmp = os.environ.get("SPARK_GRAFT_DUCKDB_TMP", "/tmp/duckdb_spill")
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET memory_limit='{mem}'")
        con.execute(f"SET temp_directory='{tmp}'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


# -- type-class mapping (engine-schema level, pre-pandas) ---------------------

def spark_type_class(dt: T.DataType) -> str:
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return f"CONTAINER:{dt.simpleString()}"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    return f"other:{dt.simpleString()}"


def arrow_type_class(t: pa.DataType) -> str:
    if (
        pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_map(t)
        or pa.types.is_struct(t)
    ):
        return f"CONTAINER:{t}"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    return f"other:{t}"


def canon_value(v):
    """Canonicalize one cell so Spark and DuckDB outputs compare equal when
    the values are equal."""
    if v is None:
        return "NULL"
    if not isinstance(v, (list, tuple, dict, np.ndarray)) and pd.isna(v):
        # None / float NaN / pd.NaT / pd.NA all mean SQL NULL; pandas maps a
        # NULL in a float/timestamp column to NaN/NaT, so treat them alike
        # on both sides.
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f)
    if isinstance(v, _decimal.Decimal):
        # Lossless: a float round-trip would collapse >2^53 decimals that
        # differ by <1 double-ULP (HUGEINT/DECIMAL(38,0) sums) into equal
        # strings.  normalize() strips trailing zeros so the same value at
        # different scales (DECIMAL(18,2) 7.00 vs DECIMAL(38,12) 7.000…)
        # canonicalizes identically; 'f' formatting keeps plain notation
        # (str(Decimal('1E+2')) would split engines on exponent form).
        if v.is_nan():
            return "NaN"
        return format(v.normalize(), "f")
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if v != v:  # residual NaN-likes (pd.NA/NaT)
        return "NULL"
    return str(v)


def canon_frame(df: pd.DataFrame, *, ordered: bool = False) -> list[tuple]:
    """Columns sorted by name; rows as canonical tuples; rows sorted unless
    the comparison is order-sensitive.  COLUMN-wise extraction (``df[c]``,
    one Series per column) so a mixed-dtype frame never upcasts an int
    column through a row Series."""
    cols = sorted(df.columns)
    col_values = [
        [canon_value(v) for v in df[c].tolist()] for c in cols
    ]
    rows = list(zip(*col_values)) if col_values and len(df) else []
    return rows if ordered else sorted(rows)


def _container_cols_spark(schema: T.StructType) -> list[str]:
    return [
        f"{f.name} ({spark_type_class(f.dataType)})"
        for f in schema.fields
        if spark_type_class(f.dataType).startswith("CONTAINER")
    ]


def compare(spark_df, oracle_result) -> tuple[bool, str]:
    """Compare a Spark DataFrame result against the oracle's result.

    ``oracle_result`` is a ``pyarrow.Table`` (pass ``con.execute(sql)
    .arrow()``) so the oracle's engine-level column types are visible for
    the dtype-class check.
    """
    if not isinstance(oracle_result, pa.Table):
        raise TypeError(
            f"oracle_result must be a pyarrow.Table, not {type(oracle_result).__name__}"
        )
    bad = _container_cols_spark(spark_df.schema)
    if bad:
        return False, (
            f"raw container output column(s) {bad} — registry rule: sort and "
            "join arrays to strings (queries/__init__.py docstring); raw "
            "lists crash the driver's canonicalizer"
        )

    o_classes = {f.name: arrow_type_class(f.type) for f in oracle_result.schema}
    s_classes = {
        f.name: spark_type_class(f.dataType) for f in spark_df.schema.fields
    }
    bad_o = [
        f"{c} ({cls})" for c, cls in o_classes.items()
        if cls.startswith("CONTAINER")
    ]
    if bad_o:
        return False, f"oracle returns raw container column(s) {bad_o}"
    if sorted(s_classes) != sorted(o_classes):
        return False, (
            f"column mismatch: spark={sorted(s_classes)} "
            f"oracle={sorted(o_classes)}"
        )
    diffs = [
        f"{c}: spark={s_classes[c]} oracle={o_classes[c]}"
        for c in sorted(s_classes)
        if s_classes[c] != o_classes[c]
    ]
    if diffs:
        return False, (
            "dtype-class mismatch (driver value hashes are dtype-"
            f"sensitive): {diffs}"
        )
    # date_as_object: keep DATE cells as datetime.date (not midnight
    # datetime64) so both engines' date columns canonicalize to the
    # same ISO day string — explicit because the pyarrow default has
    # shifted across versions.
    oracle_pdf = oracle_result.to_pandas(date_as_object=True)

    spdf = spark_df.toPandas()
    if sorted(spdf.columns) != sorted(oracle_pdf.columns):
        return False, f"column mismatch: spark={sorted(spdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    a, b = canon_frame(spdf), canon_frame(oracle_pdf)
    if len(a) != len(b):
        return False, f"row count mismatch: spark={len(a)} oracle={len(b)}"
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return False, f"value mismatch, first diffs (spark vs oracle): {diffs}"
    return True, "ok"
