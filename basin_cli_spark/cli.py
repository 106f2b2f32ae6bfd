"""CLI — the reference's verb surface (`vaults <cmd>`, reference
cmd/vaults/commands.go) on the Spark engine, so a basin-cli user can run
the same workflows:

    python -m basin_cli_spark account create
    python -m basin_cli_spark account address --private-key <hex>
    python -m basin_cli_spark stream  --vault ns.rel --wal-dir D --out-dir O
    python -m basin_cli_spark write   --vault ns.rel --file f.parquet \\
                                      --private-key <hex> --out-dir O
    python -m basin_cli_spark events  --vault ns.rel --out-dir O \\
                                      [--latest N | --before T --after T | --at T]
    python -m basin_cli_spark retrieve --cid 0x.. --out-dir O [--output f]
    python -m basin_cli_spark vaults  --out-dir O
    python -m basin_cli_spark query   --name q1_pricing_summary [--sf-dir D]

Timestamps accept the reference's tri-format (unix seconds | YYYY-MM-DD |
RFC3339, reference internal/app/timestamp.go:30-48).  Output is
table-formatted (`df.show`) or JSON with --json (reference A11).
"""

from __future__ import annotations

import argparse
import json
import os
import secrets
import sys


def _spark(app: str):
    from basin_cli_spark.session import get_spark

    return get_spark(app_name=app)


def _ts(v: str | None) -> str | None:
    if v is None:
        return None
    from basin_cli_spark.functions.timestamps import parse_timestamp

    parsed = parse_timestamp(v)
    return None if parsed is None else parsed.strftime("%Y-%m-%d %H:%M:%S")


def _epoch(v: str | None) -> int:
    """Tri-format timestamp -> unix seconds (manifest rows store epochs,
    matching the reference's WriteVaultEventParams timestamp)."""
    import time as _time

    from basin_cli_spark.functions.timestamps import parse_timestamp

    if v is None:
        return int(_time.time())
    return int(parse_timestamp(v).timestamp())


def _render(df, as_json: bool) -> None:
    if as_json:
        for line in df.toJSON().collect():
            print(line)
    else:
        df.show(50, truncate=False)


def cmd_account(args) -> int:
    from basin_cli_spark.functions.signing import derive_address

    if args.account_cmd == "create":
        priv = secrets.token_hex(32)
        print(json.dumps({"private_key": priv, "address": derive_address(priv)}))
    else:
        print(json.dumps({"address": derive_address(args.private_key)}))
    return 0


def cmd_stream(args) -> int:
    from basin_cli_spark.operators.events import parse_vault_name
    from basin_cli_spark.streaming.window_sink import WindowedVaultSink, run_stream

    parse_vault_name(args.vault)
    schemas = json.loads(args.schemas) if args.schemas else {}
    schemas = {t: [tuple(c) for c in cols] for t, cols in schemas.items()}
    sink = WindowedVaultSink(
        args.out_dir, schemas, vault=args.vault,
        private_key_hex=args.private_key,
    )
    q = run_stream(
        _spark("vaults-stream"), args.wal_dir, sink,
        os.path.join(args.out_dir, "_checkpoint"),
        processing_time=args.window_size,
    )
    q.awaitTermination(args.timeout if args.timeout else None)
    return 0


def cmd_write(args) -> int:
    """Direct file publish (reference `vaults write`, commands.go:250-343)."""
    from basin_cli_spark.operators.events import parse_vault_name

    _, relation = parse_vault_name(args.vault)
    sink = _sink(args.out_dir, vault=args.vault, private_key_hex=args.private_key)
    row = sink.publish_file(relation, args.file, _epoch(args.timestamp))
    print(json.dumps({"cid": row["cid"], "signature": row["signature"]}))
    return 0


def _sink(out_dir: str, **kwargs):
    """The vault at ``out_dir``, which owns its manifest format."""
    from basin_cli_spark.streaming.window_sink import WindowedVaultSink

    return WindowedVaultSink(out_dir, {}, **kwargs)


def cmd_events(args) -> int:
    from basin_cli_spark.operators.events import list_events, parse_vault_name

    _, relation = parse_vault_name(args.vault)
    spark = _spark("vaults-events")
    ev = _sink(args.out_dir).events(spark).where(f"table = '{relation}'")
    from pyspark.sql import functions as F

    # manifest timestamps are unix seconds (sink + write verb)
    ev = ev.withColumn(
        "ts", F.timestamp_seconds("timestamp").cast("timestamp_ntz")
    )
    out = list_events(
        ev, ts_col="ts", key_col="cid",
        before=_ts(args.before), after=_ts(args.after), at=_ts(args.at),
        latest=args.latest, limit=args.limit, offset=args.offset,
    ).select("cid", "timestamp", "path", "signature", "is_archived")
    # cache expiry per event, like the reference's event table (cmd/vaults/
    # commands.go:558-571): registered vault TTL (minutes) + event time.
    from basin_cli_spark.operators.events import registered_vaults

    reg = registered_vaults(spark, args.out_dir).where(
        F.col("vault") == args.vault
    )
    cache = [r.cache for r in reg.collect()]
    ttl_min = cache[0] if cache else None
    expiry = (
        F.timestamp_seconds(F.col("timestamp") + int(ttl_min) * 60)
        .cast("timestamp_ntz").cast("string")
        if ttl_min is not None
        else F.lit(None).cast("string")
    )
    out = out.withColumn("cache_expiry", expiry)
    _render(out, args.json)
    return 0


def cmd_retrieve(args) -> int:
    """Resolver chain mirrors the reference's cache -> cold-store order
    (retriever.go:26-233): warm manifest, then --cache-dir blocks, then
    --car-dir CAR v1 archives (the shape a lassie fetch materializes),
    then --gateway-url as the networked last resort (public IPFS
    trustless-gateway fetch over the stdlib HTTP transport — the
    lassie-role client)."""
    from basin_cli_spark.operators.events import (
        cache_dir_resolver,
        car_store_resolver,
        gateway_resolver,
        retrieve,
    )

    spark = _spark("vaults-retrieve")
    extra = []
    if args.cache_dir:
        extra.append(cache_dir_resolver(args.cache_dir))
    if args.car_dir:
        extra.append(car_store_resolver(args.car_dir))
    if args.gateway_url:
        from basin_cli_spark.sources.provider import http_transport

        extra.append(gateway_resolver(http_transport(), args.gateway_url))
    df = retrieve(
        spark, _sink(args.out_dir).events(spark), args.cid, resolvers=extra
    )
    if args.output:
        df.coalesce(1).write.mode("overwrite").parquet(args.output)
        print(args.output)
    else:
        _render(df, args.json)
    return 0


def cmd_vaults(args) -> int:
    """List vaults: the registry full-outer-joined with the event log, so
    registered-but-empty vaults appear with zero events (the reference
    lists vaults from the provider whether or not they have uploads)."""
    from pyspark.sql import functions as F

    from basin_cli_spark.operators.events import list_vaults, registered_vaults

    spark = _spark("vaults-list")
    from_events = list_vaults(_sink(args.out_dir).events(spark), "table")
    reg = registered_vaults(spark, args.out_dir).select(
        F.split("vault", "[.]")[1].alias("table"), "cache"
    )
    out = (
        from_events.join(reg, "table", "full")
        .select(
            "table",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "last_published",
            "cache",
        )
        .orderBy("table")
    )
    _render(out, args.json)
    return 0


def cmd_query(args) -> int:
    from basin_cli_spark.queries import load_all

    registry = load_all()
    if args.name not in registry:
        print(f"unknown query {args.name!r}; known: {sorted(registry)}",
              file=sys.stderr)
        return 2
    df = registry[args.name].fn(_spark("vaults-query"), args.sf_dir)
    if getattr(args, "explain", False):
        print(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        return 0
    _render(df, args.json)
    return 0


def cmd_create(args) -> int:
    """Create/register a vault (reference `vaults create` with --cache TTL)."""
    from basin_cli_spark.operators.events import create_vault

    row = create_vault(args.out_dir, args.vault, args.cache)
    print(json.dumps(row))
    return 0


def cmd_sign(args) -> int:
    """Sign a file, print the hex signature (reference `vaults sign`,
    cmd/vaults/commands.go:588-631)."""
    from basin_cli_spark.functions.signing import sign_file

    print(sign_file(args.file, args.private_key).hex())
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over the fixture tables (registered as temp views) —
    the full Catalyst SQL surface next to the named-query registry, the
    way the reference's users run ad-hoc SQL against their published
    Parquet through DuckDB."""
    from basin_cli_spark.sources import register_views

    spark = _spark("vaults-sql")
    register_views(spark, args.sf_dir)
    _render(spark.sql(args.query), args.json)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="basin_cli_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    acc = sub.add_parser("account")
    accsub = acc.add_subparsers(dest="account_cmd", required=True)
    accsub.add_parser("create")
    addr = accsub.add_parser("address")
    addr.add_argument("--private-key", required=True)
    acc.set_defaults(fn=cmd_account)

    st = sub.add_parser("stream")
    st.add_argument("--vault", required=True)
    st.add_argument("--wal-dir", required=True)
    st.add_argument("--out-dir", required=True)
    st.add_argument("--schemas", help='JSON {"table": [["col","pg_type"], ...]}')
    st.add_argument("--private-key")
    st.add_argument("--window-size", help='e.g. "3600 seconds"; default: drain once')
    st.add_argument("--timeout", type=int)
    st.set_defaults(fn=cmd_stream)

    wr = sub.add_parser("write")
    wr.add_argument("--vault", required=True)
    wr.add_argument("--file", required=True)
    wr.add_argument("--private-key", required=True)
    wr.add_argument("--out-dir", required=True)
    wr.add_argument("--timestamp")
    wr.set_defaults(fn=cmd_write)

    ev = sub.add_parser("events")
    ev.add_argument("--vault", required=True)
    ev.add_argument("--out-dir", required=True)
    ev.add_argument("--limit", type=int, default=10)
    ev.add_argument("--offset", type=int, default=0)
    ev.add_argument("--latest", type=int)
    ev.add_argument("--before")
    ev.add_argument("--after")
    ev.add_argument("--at")
    ev.add_argument("--json", action="store_true")
    ev.set_defaults(fn=cmd_events)

    rt = sub.add_parser("retrieve")
    rt.add_argument("--cid", required=True)
    rt.add_argument("--out-dir", required=True)
    rt.add_argument("--output")
    rt.add_argument("--cache-dir")
    rt.add_argument("--car-dir")
    rt.add_argument("--gateway-url")
    rt.add_argument("--json", action="store_true")
    rt.set_defaults(fn=cmd_retrieve)

    vl = sub.add_parser("vaults")
    vl.add_argument("--out-dir", required=True)
    vl.add_argument("--json", action="store_true")
    vl.set_defaults(fn=cmd_vaults)

    q = sub.add_parser("query")
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--json", action="store_true")
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of rows")
    q.set_defaults(fn=cmd_query)

    cr = sub.add_parser("create")
    cr.add_argument("vault")
    cr.add_argument("--out-dir", required=True)
    cr.add_argument("--cache", type=int, help="cache TTL minutes")
    cr.set_defaults(fn=cmd_create)

    sg = sub.add_parser("sign")
    sg.add_argument("file")
    sg.add_argument("--private-key", required=True)
    sg.set_defaults(fn=cmd_sign)

    sq = sub.add_parser("sql")
    sq.add_argument("query", help="SQL over the fixture views (region, nation, ...)")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--json", action="store_true")
    sq.set_defaults(fn=cmd_sql)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
