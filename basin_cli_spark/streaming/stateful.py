"""Custom stateful per-key streaming operator (SURVEY.md §2.B
"Stateful per-key processing").

The reference's replicator assembles WAL records per transaction in LSN
order and tracks the confirmed flush position across restarts (reference
pkg/pgrepl/replicator.go:159-207, pkg/pgrepl/conn.go:47-56).  The Spark
generalization is arbitrary per-key state kept by the engine's state
store: here, the last-writer-wins row per primary key
(``cdc_apply_stream``, ``applyInPandasWithState``).  State survives
micro-batch boundaries AND restarts via the checkpoint (the
Structured Streaming state-store contract, SIGMOD 2018), which is
exactly the ``confirmed_flush_lsn`` durability contract: a re-delivered
older transaction cannot roll a key back.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from basin_cli_spark.sources.cdc import keyed_changes

# NOTE: Spark 4's transformWithStateInPandas (typed state handles, timers)
# is the successor API, but its driver worker imports protobuf
# (pyspark/sql/streaming/proto/StateMessage_pb2), which is not among the
# project's dependencies — applyInPandasWithState below is the supported
# stateful path; the TWS port is mechanical once protobuf is one.


def cdc_apply_stream(records: DataFrame, table: str, pk: str) -> DataFrame:
    """Streaming last-writer-wins CDC merge — the stateful form of
    sources/cdc.apply_changes: per primary key, the engine's state store
    holds the winning (commit_lsn, tx_pos, action, columns-json) so far;
    each micro-batch folds its records in and emits the key's current
    materialized row (action D emits a tombstone marker).  State is one
    small tuple per LIVE key — the bounded-state property that lets this
    run forever on a 100 TB change stream while a window-function
    formulation would need the whole history.

    Returns (key, action, columns_json, commit_lsn): the caller casts
    columns_json per its schema (same pivot as materialize_table)."""
    import json as _json

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("action", T.StringType(), True),
            T.StructField("columns_json", T.StringType(), True),
            T.StructField("commit_lsn", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("commit_lsn", T.LongType(), True),
            T.StructField("tx_pos", T.IntegerType(), True),
            T.StructField("action", T.StringType(), True),
            T.StructField("columns_json", T.StringType(), True),
        ]
    )

    def _merge(key, pdfs, state):
        lsn, pos, action, cols = (
            state.get if state.exists else (-1, -1, None, None)
        )
        for pdf in pdfs:
            for _, row in pdf.sort_values(
                ["_commit_lsn", "_tx_pos"]
            ).iterrows():
                stamp = (int(row["_commit_lsn"]), int(row["_tx_pos"]))
                if stamp >= (lsn, pos):
                    lsn, pos = stamp
                    action = row["_action"]
                    c = row["_columns"]
                    # struct cells arrive as dicts under Arrow; keep
                    # (name, value) pairs only
                    cols = (
                        _json.dumps([[x["name"], x["value"]] for x in c])
                        if c is not None and len(c)
                        else None
                    )
        state.update((lsn, pos, action, cols))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "action": [action],
                "columns_json": [cols],
                "commit_lsn": [lsn],
            }
        )

    return keyed_changes(records, table, pk).groupBy("_key").applyInPandasWithState(
        _merge,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
