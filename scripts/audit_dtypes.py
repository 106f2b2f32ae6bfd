"""Full-registry schema/dtype audit: for every oracle-backed query, compare
the Spark output schema's type class against the DuckDB oracle's Arrow
result schema class, column by column, and flag raw container outputs.

This is the diagnostic behind oracle.py's dtype-class gate — the class
pairs it prints on currently-green queries define the equivalences the
strict compare() may allow; anything else is a driver hash risk.

Besides class-level DIFFs (failures under the strict gate), it prints
WIDTH rows: columns whose class matches but whose physical width differs
(int32 vs int64, float32 vs float64).  WIDTH rows are the population that
proves the driver's value hash is width-INSENSITIVE — every entry carrying
one has a hash-green driver CORRECTNESS row (see oracle.py's class-gate
rationale); if the driver ever turned width-sensitive, these are exactly
the entries that would go red first.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyspark.sql.types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basin_cli_spark.oracle import (  # noqa: E402
    arrow_type_class as arrow_class,
    duckdb_connect,
    spark_type_class as spark_class,
)
from basin_cli_spark.queries import load_all  # noqa: E402
from basin_cli_spark.session import get_spark  # noqa: E402

_SPARK_WIDTH = {
    T.ByteType: "int8", T.ShortType: "int16",
    T.IntegerType: "int32", T.LongType: "int64",
    T.FloatType: "float32", T.DoubleType: "float64",
}


def spark_width(dt: T.DataType) -> str | None:
    return _SPARK_WIDTH.get(type(dt))


def arrow_width(t: pa.DataType) -> str | None:
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        # arrow spells float widths 'float'/'double'; align to spark's names
        return {"halffloat": "float16", "float": "float32",
                "double": "float64"}.get(str(t), str(t))
    return None


def main(sf_dir: str = "/root/testdata/sf0.001") -> int:
    spark = get_spark(app_name="audit_dtypes")
    con = duckdb_connect(sf_dir)
    queries = load_all()
    n_flagged = 0
    n_width = 0
    for name, spec in queries.items():
        try:
            sdf = spec.fn(spark, sf_dir)
            s_classes = {f.name: spark_class(f.dataType) for f in sdf.schema.fields}
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: spark build failed: {e}")
            n_flagged += 1
            continue
        for c, cls in s_classes.items():
            if cls.startswith("CONTAINER"):
                print(f"FLAG {name}.{c}: spark outputs {cls}")
                n_flagged += 1
        if spec.oracle is None:
            continue
        try:
            tbl = con.execute(spec.oracle).arrow()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: oracle failed: {e}")
            n_flagged += 1
            continue
        o_classes = {f.name: arrow_class(f.type) for f in tbl.schema}
        for c in sorted(set(s_classes) | set(o_classes)):
            sc, oc = s_classes.get(c, "<missing>"), o_classes.get(c, "<missing>")
            if sc != oc:
                print(f"DIFF {name}.{c}: spark={sc} oracle={oc}")
                n_flagged += 1
        s_widths = {f.name: spark_width(f.dataType) for f in sdf.schema.fields}
        o_widths = {f.name: arrow_width(f.type) for f in tbl.schema}
        for c in sorted(set(s_widths) & set(o_widths)):
            sw, ow = s_widths[c], o_widths[c]
            if sw and ow and sw != ow and s_classes.get(c) == o_classes.get(c):
                print(f"WIDTH {name}.{c}: spark={sw} oracle={ow}")
                n_width += 1
        spark.catalog.clearCache()
    print(f"\n{n_flagged} findings, {n_width} width-only divergences "
          f"across {len(queries)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
