"""Tri-format timestamp parsing (reference internal/app/timestamp.go:30-48):
unix seconds | YYYY-MM-DD | RFC3339, all normalized to UTC.  Empty input is
the zero timestamp (None here).  A Python helper for the CLI's
``--timestamp``, ``--before``, ``--after`` and ``--at`` values."""

from __future__ import annotations

import datetime as dt
import re

_UNIX_RE = re.compile(r"^\d+$")


def parse_timestamp(value: str) -> dt.datetime | None:
    """Reference ParseTimestamp semantics (timestamp_test.go:10-26)."""
    if value == "":
        return None
    if _UNIX_RE.match(value):
        return dt.datetime.fromtimestamp(int(value), dt.timezone.utc)
    if re.match(r"^\d{4}-\d{2}-\d{2}$", value):
        d = dt.date.fromisoformat(value)
        return dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc)
    parsed = dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
    return parsed.astimezone(dt.timezone.utc)

