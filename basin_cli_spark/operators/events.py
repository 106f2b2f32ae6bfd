"""Vault / event listing surface (reference A10/A11/A15).

The reference pushes event filters to its provider as HTTP query params
(reference pkg/vaultsprovider/provider.go:92-121) with CLI semantics:

* ``--at T``      => ``before = after = T`` (reference cmd/vaults/commands.go:519,
  787-803), i.e. an inclusive point lookup;
* ``--latest N``  => ``limit = N, offset = 0`` ordered newest-first
  (reference cmd/vaults/commands.go:524-532);
* vault names match ``namespace.relation`` (reference internal/app/models.go:10).

Here the same semantics are pure DataFrame ops over an events table; filters
and limits sit directly on the scan so Catalyst pushes them into the source
(never fetch-then-filter — the same pushdown discipline the reference applies
to its provider).
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from basin_cli_spark.sources.tables import read_parquet

_LOG = logging.getLogger(__name__)

# Reference vault-name regex (reference cmd/vaults/commands.go:32).
VAULT_NAME_RE = re.compile(r"^([a-zA-Z_][a-zA-Z0-9_]*)[.]([a-zA-Z_][a-zA-Z0-9_]*$)")


def parse_vault_name(name: str) -> tuple[str, str]:
    """Split ``namespace.relation``, rejecting invalid names the way the
    reference does (reference cmd/vaults/commands.go:185-189)."""
    m = VAULT_NAME_RE.match(name)
    if not m:
        raise ValueError(
            f"invalid vault name {name!r}: expected `namespace.relation`"
        )
    return m.group(1), m.group(2)


def list_events(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_id",
    before: str | None = None,
    after: str | None = None,
    at: str | None = None,
    latest: int | None = None,
    limit: int = 10,
    offset: int = 0,
) -> DataFrame:
    """Reference ``vaults events`` semantics as one DataFrame pipeline.

    Bounds are inclusive (``--at`` must return the event at exactly that
    timestamp).  ``latest`` overrides limit/offset.  Ordering is newest-first
    with the unique key as tie-break so paging is deterministic.
    """
    if at is not None:
        if before is not None or after is not None:
            raise ValueError("`at` cannot be combined with before/after")
        before = after = at
    df = events
    ts: Column = F.col(ts_col)
    if after is not None:
        df = df.where(ts >= F.lit(after).cast("timestamp_ntz"))
    if before is not None:
        df = df.where(ts <= F.lit(before).cast("timestamp_ntz"))
    if latest is not None:
        limit, offset = latest, 0
    df = df.orderBy(ts.desc(), F.col(key_col).desc())
    if offset:
        df = df.offset(offset)
    return df.limit(limit)


def list_vaults(events: DataFrame, vault_col: str = "vault") -> DataFrame:
    """Reference ``vaults list`` (A15, reference cmd/vaults/commands.go:351-425):
    the distinct vaults present in the event log with event counts and the
    newest publication time."""
    return (
        events.groupBy(vault_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("timestamp").alias("last_published"),
        )
        .orderBy(vault_col)
    )


def manifest_resolver(events: DataFrame):
    """Warm path: the event manifest maps cid -> parquet path (the
    reference's cache GET, retriever.go:44-50)."""

    def resolve(cid: str) -> str | None:
        rows = (
            events.where(F.col("cid") == cid).select("path").limit(1).collect()
        )
        return rows[0]["path"] if rows else None

    return resolve


def cache_dir_resolver(cache_dir: str):
    """Local block cache: <cache_dir>/<cid>.parquet if present."""
    import os

    def resolve(cid: str) -> str | None:
        p = os.path.join(cache_dir, f"{cid}.parquet")
        return p if os.path.exists(p) else None

    return resolve


def _materialize_block(
    car_bytes: bytes, cid: str, scratch_dir: str | None, prefix: str
) -> str:
    """Extract + multihash-verify the root block of a CAR v1 archive and
    write it to scratch as <cid>.parquet; shared tail of every cold-store
    resolver so verification/extraction policy lives in one place."""
    import os
    import tempfile

    from basin_cli_spark.sources.carv1 import extract_root_block

    payload = extract_root_block(car_bytes, cid)
    out_dir = scratch_dir or tempfile.mkdtemp(prefix=prefix)
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{cid}.parquet")
    with open(out, "wb") as f:
        f.write(payload)
    return out


def car_store_resolver(car_dir: str, scratch_dir: str | None = None):
    """Cold path: <car_dir>/<cid>.car holds a CAR v1 archive (what a
    lassie/IPFS fetch materializes, retriever.go:92-156); the root block
    payload — the parquet file itself — is extracted to scratch and
    scanned.  Multihash-verified by sources/carv1.extract_root_block."""
    import os

    def resolve(cid: str) -> str | None:
        car_path = os.path.join(car_dir, f"{cid}.car")
        if not os.path.exists(car_path):
            return None
        with open(car_path, "rb") as f:
            return _materialize_block(f.read(), cid, scratch_dir, "carx_")

    return resolve


def gateway_resolver(
    transport,
    gateway_base: str,
    scratch_dir: str | None = None,
    timeout_s: float | None = 30.0,
):
    """Networked cold store as the PUBLIC IPFS trustless-gateway protocol
    (the gateway HTTP spec the reference's lassie fetch implements over
    bitswap, retriever.go:92-156): ``GET {base}/ipfs/{cid}?dag-scope=all``
    with ``Accept: application/vnd.ipld.car;version=1`` returns the same
    CAR v1 bytes a lassie fetch materializes, which the existing CAR
    reader extracts and multihash-verifies.

    ``transport`` is the provider-layer seam (ProviderRequest ->
    ProviderResponse, sources/provider.py): a real HTTP client in
    production, a fake in tests — so the exact request shape is pinned
    without a network, the same discipline as every provider verb."""
    from basin_cli_spark.sources.provider import ProviderRequest

    def resolve(cid: str) -> str | None:
        req = ProviderRequest(
            method="GET",
            url=f"{gateway_base.rstrip('/')}/ipfs/{cid}",
            headers={"Accept": "application/vnd.ipld.car;version=1"},
            query={"dag-scope": "all"},
            timeout_s=timeout_s,
        )
        # Resolver contract is path-or-None: a gateway that is down,
        # times out, or returns a CAR missing the requested block is a
        # MISS (fall through to the next resolver in the chain), not a
        # crash — matching the reference's cold-store fallback behaviour.
        import http.client

        try:
            resp = transport(req)
        except OSError:  # URLError / socket.timeout / ConnectionError
            return None
        except http.client.HTTPException:
            # BadStatusLine / LineTooLong etc. from a transport that
            # doesn't normalize protocol errors itself (the in-repo
            # http_transport does; this guards any other Transport impl)
            return None
        if resp.status != 200:
            return None
        try:
            return _materialize_block(resp.body, cid, scratch_dir, "gwx_")
        except OSError:
            # NOT a gateway problem: the only OSError inside
            # _materialize_block is the local scratch write (mkdir/open/
            # write — the parse is pure byte-slicing).  A full or
            # read-only disk must surface as itself, not masquerade as
            # "content not resolvable".
            raise
        except Exception as e:
            # An UNTRUSTED gateway can return arbitrary bytes; carv1
            # parsing of truncated/garbage input surfaces IndexError/
            # AttributeError as readily as ValueError, and every parse
            # failure is the same event under the resolver contract: a
            # miss, never a crash of the whole retrieve() chain.  The
            # swallowed type IS recorded (warning log) so a programming
            # error from a future carv1 refactor shows up as a stream of
            # same-typed warnings instead of a silent 100% miss rate.
            _LOG.warning(
                "gateway resolver: treating %s as a miss for cid=%s (%s)",
                type(e).__name__, cid, e,
            )
            return None

    return resolve


def retrieve(spark, events: DataFrame, cid: str, resolvers=None) -> DataFrame:
    """Content-addressed retrieval (A13, reference
    internal/app/retriever.go:26-233) as a resolver CHAIN, mirroring the
    reference's cache -> cold-store fallback: each resolver maps
    cid -> local parquet path or None; the first hit is scanned.  Default
    chain is the warm manifest only; callers append cache_dir_resolver /
    car_store_resolver (or a live lassie-backed resolver outside this
    sandbox) to extend it — the fallback order is the caller's policy,
    exactly like the reference's coldStore wrapping its cacheStore."""
    chain = [manifest_resolver(events)] + list(resolvers or [])
    for resolve in chain:
        path = resolve(cid)
        if path is not None:
            return read_parquet(spark, path)
    raise KeyError(
        f"cid not resolvable by any of {len(chain)} resolver(s): {cid}"
    )


def create_vault(
    out_dir: str, vault: str, cache_minutes: int | None = None
) -> dict:
    """Register a vault (reference `vaults create`, cmd/vaults/commands.go:
    34-133): validates the ``namespace.relation`` name and appends a
    registration row with the optional cache TTL (minutes) to the vault
    registry.  Re-creating an existing vault updates its TTL, mirroring
    the provider's upsert behavior."""
    import json
    import os
    import time

    parse_vault_name(vault)
    os.makedirs(out_dir, exist_ok=True)
    row = {
        "vault": vault,
        "cache": cache_minutes,
        "created_at": int(time.time()),
    }
    with open(os.path.join(out_dir, "vaults.jsonl"), "a") as f:
        f.write(json.dumps(row) + "\n")
    return row


def registered_vaults(spark, out_dir: str) -> DataFrame:
    """The vault registry as a DataFrame (latest registration per vault
    wins, so TTL updates supersede earlier rows).

    The schema is explicit: inference scans the file once more before
    the real read, and types ``cache`` as string when every vault was
    created without a TTL."""
    import os

    schema = "vault string, cache long, created_at long"
    path = os.path.join(out_dir, "vaults.jsonl")
    if not os.path.exists(path):
        return spark.createDataFrame([], schema)
    reg = spark.read.json(path, schema=schema)
    w_latest = F.max(F.struct("created_at", "cache")).alias("_last")
    return (
        reg.groupBy("vault")
        .agg(w_latest)
        .select(
            "vault",
            F.col("_last.cache").alias("cache"),
            F.col("_last.created_at").alias("created_at"),
        )
    )
