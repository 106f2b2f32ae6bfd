"""Print the next REPRESENTATIVE_HEAD, one entry name per line.

    python scripts/next_head.py

The correctness gate samples the first 50 registry entries, so
the head rotates: it is the 50 entries with the oldest key over every
CORRECTNESS_r*.json, where an entry's key is (latest green round, first
attested round, registry position).  A round attests the entries its
file names; an attestation is green when rows, schema and hash match
with no error.  An entry never attested, or never green, counts round 0.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEAD_SIZE = 50


def history() -> dict[int, dict]:
    """Round number -> that round's CORRECTNESS_rNN.json records."""
    out = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            out[int(re.search(r"_r(\d+)\.json$", path).group(1))] = json.load(f)
    return out


def green(rec: dict) -> bool:
    return (
        rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        and rec["err"] is None
    )


def next_head(names: list[str], rounds: dict[int, dict]) -> list[str]:
    """The HEAD_SIZE of ``names`` (registry order) with the oldest key."""

    def key(item):
        pos, name = item
        seen = [r for r, recs in rounds.items() if name in recs]
        ok = [r for r in seen if green(rounds[r][name])]
        return max(ok, default=0), min(seen, default=0), pos

    return [n for _, n in sorted(enumerate(names), key=key)[:HEAD_SIZE]]


def main() -> int:
    from basin_cli_spark.queries import load_all

    print("\n".join(next_head(list(load_all()), history())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
