"""Tri-format timestamp parsing golden tests (reference
internal/app/timestamp_test.go:10-26)."""

import datetime as dt

from basin_cli_spark.functions.timestamps import parse_timestamp

UTC = dt.timezone.utc


def test_empty_is_zero():
    assert parse_timestamp("") is None


def test_unix_seconds():
    assert parse_timestamp("917755885") == dt.datetime(1999, 1, 31, 4, 11, 25, tzinfo=UTC)


def test_date_only():
    assert parse_timestamp("2000-07-13") == dt.datetime(2000, 7, 13, tzinfo=UTC)
    assert int(parse_timestamp("2000-07-13").timestamp()) == 963446400


def test_rfc3339_normalized_to_utc():
    got = parse_timestamp("1999-01-31T07:11:25+03:00")
    assert int(got.timestamp()) == 917755885
    assert got.utcoffset() == dt.timedelta(0)
