"""The distributed fold behind the multiset digests (functions/ecmh.py,
functions/muhash.py).

An accumulator class supplies ``insert(bytes)``, ``union(other)``,
``digest()``, ``to_hex()`` and ``from_hex(str)``.  Its group operation
commutes and associates, so the result is independent of partitioning —
the property the reference's Union relies on (ecmh.go:41-48).  That lets
the fold spread its input without a key (a multiset's values repeat, and
hashing them would put every copy of a hot value in one task), fold each
(partition, group) slice into one partial at full scan parallelism, and
merge the small partial relation in any order (guide §2.3 "aggregate
before you shuffle").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from basin_cli_spark.operators.layout import spread


def fold(df: DataFrame, col: str, acc_cls, key_col: str | None = None):
    """Fold column ``col`` of ``df`` into ``acc_cls`` accumulators; NULL
    values are skipped.

    Without ``key_col``: one accumulator for the whole column, merged on
    the driver from at most one partial per partition.  With ``key_col``:
    a (key, digest) DataFrame in which only the partials (at most
    partitions x groups rows) shuffle to the per-group merge; a group
    whose values are all NULL still appears, with digest 'empty'."""
    import pandas as pd

    keyed = key_col is not None

    def _partials(batches):
        accs: dict = {}
        for pdf in batches:
            keys = pdf[key_col] if keyed else [None] * len(pdf)
            for k, v in zip(keys, pdf[col]):
                acc = accs.get(k)
                if acc is None:
                    acc = accs[k] = acc_cls()
                if v is not None:
                    acc.insert(str(v).encode())
        if accs:
            out = {"acc": [a.to_hex() for a in accs.values()]}
            if keyed:
                out = {key_col: list(accs), **out}
            yield pd.DataFrame(out)

    def _merge(hexes):
        total = acc_cls()
        for h in hexes:
            total.union(acc_cls.from_hex(h))
        return total

    if not keyed:
        partials = spread(df.select(col)).mapInPandas(_partials, schema="acc string")
        return _merge(row.acc for row in partials.collect())

    rows = df.select(F.col(key_col).cast("string").alias(key_col), col)
    partials = spread(rows).mapInPandas(
        _partials, schema=f"{key_col} string, acc string"
    )
    return partials.groupBy(key_col).applyInPandas(
        lambda pdf: pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "digest": [_merge(pdf["acc"]).digest()]}
        ),
        schema=f"{key_col} string, digest string",
    )
