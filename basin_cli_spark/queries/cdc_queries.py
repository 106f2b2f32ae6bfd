"""CDC replay as oracle-checkable batch queries over the wal2json fixture
(fixtures/wal.jsonl, shaped after reference internal/app/testdata/wal.input
with U/D records included per pkg/pgrepl/replicator_test.go:51-62)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from basin_cli_spark.queries import register
from basin_cli_spark.sources.cdc import materialize_table, read_wal_batch

_FIXTURE = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "fixtures", "wal.jsonl")

_T_ORACLE = f"""
WITH lines AS (
  SELECT * FROM read_json('{_FIXTURE}', format='newline_delimited',
                          columns={{commit_lsn: 'BIGINT', records: 'JSON[]'}})
),
rec AS (SELECT commit_lsn, UNNEST(records) AS r FROM lines)
SELECT CAST((r->>'$.columns[0].value') AS INTEGER) AS id,
       (r->>'$.columns[1].value') AS name
FROM rec
WHERE (r->>'$.action') = 'I' AND (r->>'$.table') = 't'
"""


@register("q_cdc_replay_t", _T_ORACLE)
def q_cdc_replay_t(spark, sf_dir):
    """Replay table `t` from the WAL fixture: only inserts materialize
    (append-only vaults, reference README.md:146)."""
    rec = read_wal_batch(spark, _FIXTURE)
    return materialize_table(rec, "t", [("id", "integer"), ("name", "text")])


_M_ORACLE = f"""
WITH lines AS (
  SELECT * FROM read_json('{_FIXTURE}', format='newline_delimited',
                          columns={{commit_lsn: 'BIGINT', records: 'JSON[]'}})
),
rec AS (SELECT commit_lsn, UNNEST(records) AS r FROM lines)
SELECT CAST((r->>'$.columns[0].value') AS INTEGER) AS id,
       CAST((r->>'$.columns[1].value') AS DOUBLE) AS price,
       CAST((r->>'$.columns[2].value') AS BOOLEAN) AS active,
       CAST((r->>'$.columns[3].value') AS TIMESTAMP) AS created
FROM rec
WHERE (r->>'$.action') = 'I' AND (r->>'$.table') = 'm'
"""


@register("q_cdc_replay_m", _M_ORACLE)
def q_cdc_replay_m(spark, sf_dir):
    """Replay table `m`: numeric->double, boolean, timestamp_ntz, with JSON
    nulls passing through every transform (reference
    internal/app/type_converter.go:30-33)."""
    rec = read_wal_batch(spark, _FIXTURE)
    return materialize_table(
        rec,
        "m",
        [
            ("id", "integer"),
            ("price", "numeric"),
            ("active", "boolean"),
            ("created", "timestamp without time zone"),
        ],
    )


_ORDER_ORACLE = f"""
WITH lines AS (
  SELECT * FROM read_json('{_FIXTURE}', format='newline_delimited',
                          columns={{commit_lsn: 'BIGINT', records: 'JSON[]'}})
),
rec AS (
  SELECT commit_lsn,
         UNNEST(LIST_ZIP(records, RANGE(0, LEN(records)))) AS z
  FROM lines
)
SELECT commit_lsn AS _commit_lsn,
       CAST(z[2] AS INT) AS _tx_pos,
       (z[1]->>'$.action') AS _action,
       CAST((z[1]->>'$.xid') AS BIGINT) AS _xid,
       (z[1]->>'$.table') AS _table
FROM rec
"""


@register("q_cdc_record_stream", _ORDER_ORACLE)
def q_cdc_record_stream(spark, sf_dir):
    """The raw record stream with intra-tx ordering metadata — all actions
    visible (I/U/D), ordering key (_commit_lsn, _tx_pos) intact."""
    rec = read_wal_batch(spark, _FIXTURE)
    return rec.select("_commit_lsn", "_tx_pos", "_action", "_xid", "_table")


from basin_cli_spark.queries._golden import (
    ECMH_DIGEST as _ECMH_GOLD,
    ECMH_DIGEST_BY_GROUP as _ECMH_GROUP_GOLD,
    MUHASH_DIGEST as _MUHASH_GOLD,
    MUHASH_DIGEST_BY_GROUP as _MUHASH_GROUP_GOLD,
)

_ECMH_ORACLE = (
    "SELECT CASE (SELECT SUM(LENGTH(text)) FROM documents) "
    + " ".join(f"WHEN {k} THEN '{v}'" for k, v in sorted(_ECMH_GOLD.items()))
    + " END AS ecmh_digest"
)

_ECMH_GROUP_ORACLE = (
    "WITH g(key, lang, digest) AS (VALUES "
    + ", ".join(
        f"({k}, '{lang}', '{d}')"
        for k, rows in sorted(_ECMH_GROUP_GOLD.items())
        for lang, d in rows
    )
    + ") SELECT lang, digest FROM g"
    " WHERE key = (SELECT SUM(LENGTH(text)) FROM documents) ORDER BY lang"
)


@register("q_ecmh_digest", _ECMH_ORACLE)
def q_ecmh_digest(spark, sf_dir):
    """ECMH multiset digest of documents.text (reference pkg/ecmh/ecmh.go).
    EC point arithmetic is not SQL-expressible, so the oracle is a
    known-answer constant (the reference's own style for crypto values,
    pkg/signing/signing_test.go:12-41) pinned per fixture corpus by
    scripts/gen_golden_oracles.py; algebraic properties (commutativity,
    partition independence, union/difference) are covered in
    tests/test_ecmh.py."""
    from basin_cli_spark.functions.ecmh import ecmh_digest
    from basin_cli_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    digest = ecmh_digest(d, "text")
    return spark.createDataFrame([(digest,)], ["ecmh_digest"])


@register("q_ecmh_digest_by_group", _ECMH_GROUP_ORACLE)
def q_ecmh_digest_by_group(spark, sf_dir):
    """Per-language ECMH digests of documents.text — the per-vault window
    digest the reference's Union/Difference supports (reference
    pkg/ecmh/ecmh.go:41-48).  Known-answer oracle pinned per fixture
    corpus (see q_ecmh_digest); partition-independence is proven in
    tests/test_ecmh.py."""
    from basin_cli_spark.functions.ecmh import ecmh_digest_by_group
    from basin_cli_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    return ecmh_digest_by_group(d, "lang", "text").orderBy("lang")


_MUHASH_ORACLE = (
    "SELECT CASE (SELECT SUM(LENGTH(text)) FROM documents) "
    + " ".join(f"WHEN {k} THEN '{v}'" for k, v in sorted(_MUHASH_GOLD.items()))
    + " END AS muhash_digest"
)

_MUHASH_GROUP_ORACLE = (
    "WITH g(key, lang, digest) AS (VALUES "
    + ", ".join(
        f"({k}, '{lang}', '{d}')"
        for k, rows in sorted(_MUHASH_GROUP_GOLD.items())
        for lang, d in rows
    )
    + ") SELECT lang, digest FROM g"
    " WHERE key = (SELECT SUM(LENGTH(text)) FROM documents) ORDER BY lang"
)


@register("q_muhash_digest", _MUHASH_ORACLE)
def q_muhash_digest(spark, sf_dir):
    """MuHash multiset digest of documents.text — the multiplicative-group
    scale path for the reference's digest role (functions/muhash.py: same
    insert/remove/union/difference algebra as ECMH at ~7.5x the pure-
    CPython throughput; see SCALE.md).  Known-answer oracle pinned per
    fixture corpus by scripts/gen_golden_oracles.py; algebraic properties
    in tests/test_muhash.py."""
    from basin_cli_spark.functions.muhash import muhash_digest
    from basin_cli_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    digest = muhash_digest(d, "text")
    return spark.createDataFrame([(digest,)], ["muhash_digest"])


@register("q_muhash_digest_by_group", _MUHASH_GROUP_ORACLE)
def q_muhash_digest_by_group(spark, sf_dir):
    """Per-language MuHash digests — q_ecmh_digest_by_group with the
    multiplicative group.  Known-answer oracle; partition-independence is
    proven in tests/test_muhash.py."""
    from basin_cli_spark.functions.muhash import muhash_digest_by_group
    from basin_cli_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    return muhash_digest_by_group(d, "lang", "text").orderBy("lang")


_APPLY_ORACLE = f"""
WITH lines AS (
  SELECT * FROM read_json('{_FIXTURE}', format='newline_delimited',
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
"""


@register("q_cdc_apply_upserts", _APPLY_ORACLE)
def q_cdc_apply_upserts(spark, sf_dir):
    """Last-writer-wins CDC apply over the full I/U/D stream: the FINAL
    table state (sources/cdc.apply_changes) — inserts applied, the update
    replacing bob with bobby, the delete removing alice.  The general
    merge consumers need beyond the reference's append-only materialize
    (README.md:146); one pk-keyed shuffle, MERGE INTO semantics without a
    mutable table format."""
    from basin_cli_spark.sources.cdc import apply_changes

    rec = read_wal_batch(spark, _FIXTURE)
    return apply_changes(
        rec, "t", [("id", "integer"), ("name", "text")], pk="id"
    )


_SCD2_ORACLE = f"""
WITH lines AS (
  SELECT * FROM read_json('{_FIXTURE}', format='newline_delimited',
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
evts AS (
  SELECT t.*, LEAD(commit_lsn) OVER (
    PARTITION BY key ORDER BY commit_lsn, pos) AS next_lsn
  FROM t
)
SELECT CAST(key AS INTEGER) AS id, name,
       commit_lsn AS valid_from_lsn,
       next_lsn AS valid_to_lsn,
       next_lsn IS NULL AS is_current
FROM evts WHERE action <> 'D'
"""


@register("q_cdc_scd2_history", _SCD2_ORACLE)
def q_cdc_scd2_history(spark, sf_dir):
    """SCD type-2 historization from the CDC stream
    (sources/cdc.scd2_history): every I/U opens a version valid from its
    commit LSN, closed by the next event on the same key (the delete
    closes alice's version; bobby's stays current).  The audit/history
    table warehouses derive from the same WAL the vault publishes."""
    from basin_cli_spark.sources.cdc import scd2_history

    rec = read_wal_batch(spark, _FIXTURE)
    return scd2_history(
        rec, "t", [("id", "integer"), ("name", "text")], pk="id"
    )
