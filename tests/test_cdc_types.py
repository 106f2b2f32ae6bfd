"""Full type-matrix CDC replay — the Spark port of the reference's INSERT
golden matrix (reference internal/app/db_test.go:156-581, 622-652): every
supported PG type value travels wal2json -> parse -> typed materialization
without loss, including NULLs, array NULL elements, mixed intervals, and
bytea hex."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from basin_cli_spark.sources.cdc import materialize_table, read_wal_batch

COLUMNS = [
    ("c_bool", "boolean", "true", True),
    ("c_small", "smallint", "32767", 32767),
    ("c_int", "integer", "-42", -42),
    ("c_big", "bigint", "9007199254740993", 9007199254740993),
    ("c_real", "real", "1.5", 1.5),
    ("c_double", "double precision", "2.25", 2.25),
    ("c_numeric", "numeric(10,2)", "123.45", 123.45),
    ("c_text", "text", "hello world", "hello world"),
    ("c_varchar", "character varying(20)", "vc", "vc"),
    ("c_uuid", "uuid", "0b7c13b8-54f5-4b05-b5a7-aa67f0c9ec4f",
     "0b7c13b8-54f5-4b05-b5a7-aa67f0c9ec4f"),
    ("c_json", "jsonb", '{"k": 1}', '{"k": 1}'),
    ("c_date", "date", "2024-02-29", dt.date(2024, 2, 29)),
    ("c_time", "time without time zone", "05:40:00.000001", "05:40:00.000001"),
    ("c_ts", "timestamp without time zone", "2024-01-02 03:04:05.123456",
     dt.datetime(2024, 1, 2, 3, 4, 5, 123456)),
    # PG offset form '-03' normalizes to UTC (session tz) through the cast
    ("c_tstz", "timestamp with time zone", "2023-08-22 14:44:02.043586-03",
     dt.datetime(2023, 8, 22, 17, 44, 2, 43586)),
    ("c_bytea", "bytea", "\\x6465616462656566", b"deadbeef"),
    ("c_int_arr", "integer[]", "{1,2,NULL}", [1, 2, None]),
    ("c_text_arr", "text[]", '{a,"Z",NULL}', ["a", "Z", None]),
    ("c_null", "integer", None, None),
]

INTERVAL_COL = ("c_iv", "interval", "1 year 2 mons 21 days 05:00:00")


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    cols = [
        {"name": n, "type": t, "value": v} for n, t, v, _ in COLUMNS
    ] + [{"name": INTERVAL_COL[0], "type": INTERVAL_COL[1],
          "value": INTERVAL_COL[2]}]
    tx = {
        "commit_lsn": 7,
        "records": [
            {"action": "I", "xid": 1, "lsn": "0/1", "nextlsn": "",
             "timestamp": "2023-08-22 14:44:02.043586-03",
             "schema": "public", "table": "typ", "columns": cols, "pk": []}
        ],
    }
    d = tmp_path_factory.mktemp("walmatrix")
    (d / "w.jsonl").write_text(json.dumps(tx) + "\n")
    schema = [(n, t) for n, t, _, _ in COLUMNS] + [INTERVAL_COL[:2]]
    rows = materialize_table(
        read_wal_batch(spark, str(d)), "typ", schema
    ).collect()
    assert len(rows) == 1
    return rows[0]


@pytest.mark.parametrize(
    "name,expected", [(n, e) for n, _, _, e in COLUMNS],
    ids=[n for n, _, _, _ in COLUMNS],
)
def test_value_replays(replayed, name, expected):
    got = replayed[name]
    if isinstance(expected, bytes):
        got = bytes(got)
    assert got == expected


def test_interval_struct_replays(replayed):
    iv = replayed[INTERVAL_COL[0]]
    assert (iv["months"], iv["days"], iv["micros"]) == (
        14, 21, 5 * 3600 * 1_000_000
    )


def test_schema_evolution_mid_stream(spark):
    """wal2json records carry their own column lists, so a column added
    mid-stream must not break materialization: rows before the ALTER get
    NULL for the new column, unknown columns are ignored until the
    discovered schema includes them."""
    import json

    from basin_cli_spark.sources.cdc import materialize_table, parse_wal_records

    old = {"action": "I", "schema": "public", "table": "t",
           "columns": [{"name": "id", "type": "integer", "value": 1}]}
    new = {"action": "I", "schema": "public", "table": "t",
           "columns": [{"name": "id", "type": "integer", "value": 2},
                       {"name": "tag", "type": "text", "value": "fresh"}]}
    lines = [json.dumps({"commit_lsn": 1, "records": [old]}),
             json.dumps({"commit_lsn": 2, "records": [new]})]
    records = parse_wal_records(
        spark.createDataFrame([(line,) for line in lines], "value string")
    )
    # pre-ALTER schema: the extra column is simply not selected
    got_old = materialize_table(records, "t", [("id", "integer")])
    assert sorted(r.id for r in got_old.collect()) == [1, 2]
    # post-ALTER schema: old rows surface NULL for the new column
    got_new = materialize_table(
        records, "t", [("id", "integer"), ("tag", "text")]
    )
    rows = {r.id: r.tag for r in got_new.collect()}
    assert rows == {1: None, 2: "fresh"}


def test_projection_built_once_per_schema(spark):
    """materialize_table builds its typed projection once per column list
    and keep_metadata; later calls, on any records frame, reuse it."""
    from basin_cli_spark.sources import cdc
    from basin_cli_spark.sources.cdc import parse_wal_records

    schema = [("memo_id", "integer"), ("memo_iv", "interval[]")]

    def records(i):
        rec = {"action": "I", "schema": "public", "table": "m", "columns": [
            {"name": "memo_id", "type": "integer", "value": i},
            {"name": "memo_iv", "type": "interval[]", "value": '{"1 day"}'}]}
        line = json.dumps({"commit_lsn": i, "records": [rec]})
        return parse_wal_records(spark.createDataFrame([(line,)], "value string"))

    misses = cdc._build_projection.cache_info().misses
    got = [materialize_table(records(i), "m", schema).collect() for i in (1, 2, 3)]
    assert cdc._build_projection.cache_info().misses == misses + 1
    assert [r.memo_id for rows in got for r in rows] == [1, 2, 3]
    assert got[2][0].memo_iv[0]["days"] == 1

    meta = materialize_table(records(4), "m", schema, keep_metadata=True)
    assert cdc._build_projection.cache_info().misses == misses + 2
    assert meta.columns[-1] == "_commit_ts"
