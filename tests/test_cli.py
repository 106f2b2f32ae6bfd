"""CLI verb tests — the reference's `vaults` workflows end to end through
the argparse surface (in-process; the Spark session is the shared test
fixture via the module's session factory)."""

from __future__ import annotations

import json

import pytest

from basin_cli_spark.cli import main
from tests.test_streaming import PRIV, SCHEMAS, TX1, _write_tx


def test_account_create_and_address(capsys):
    assert main(["account", "create"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert len(out["private_key"]) == 64 and out["address"].startswith("0x")

    assert main(["account", "address", "--private-key", PRIV]) == 0
    addr = json.loads(capsys.readouterr().out)["address"]
    assert addr.startswith("0x") and len(addr) == 42


def test_stream_events_retrieve_roundtrip(spark, tmp_path, capsys):
    wal_dir, out_dir = str(tmp_path / "wal"), str(tmp_path / "out")
    _write_tx(wal_dir, "tx1.jsonl", TX1)
    schemas = json.dumps({t: [list(c) for c in cols] for t, cols in SCHEMAS.items()})

    assert main([
        "stream", "--vault", "ns.t", "--wal-dir", wal_dir,
        "--out-dir", out_dir, "--schemas", schemas, "--private-key", PRIV,
    ]) == 0

    assert main([
        "events", "--vault", "ns.t", "--out-dir", out_dir, "--json",
    ]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l]
    assert len(rows) == 1 and rows[0]["cid"].startswith("0x")

    assert main([
        "retrieve", "--cid", rows[0]["cid"], "--out-dir", out_dir, "--json",
    ]) == 0
    got = sorted(
        (json.loads(l)["id"], json.loads(l)["name"])
        for l in capsys.readouterr().out.splitlines() if l
    )
    assert got == [(200232, "100"), (200242, "400")]

    assert main(["vaults", "--out-dir", out_dir, "--json"]) == 0
    vaults = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l]
    assert vaults[0]["table"] == "t" and vaults[0]["n_events"] == 1


def test_write_direct_publish(tmp_path, capsys, spark, sf_dir):
    import os

    out_dir = str(tmp_path / "out")
    src = os.path.join(sf_dir, "region.parquet")
    assert main([
        "write", "--vault", "ns.region", "--file", src,
        "--private-key", PRIV, "--out-dir", out_dir,
        "--timestamp", "2024-01-02",
    ]) == 0
    pub = json.loads(capsys.readouterr().out)
    assert pub["cid"].startswith("0x") and len(pub["signature"]) >= 130
    manifest = [
        json.loads(l)
        for l in open(os.path.join(out_dir, "manifest.jsonl"))
    ]
    assert manifest[0]["cid"] == pub["cid"]


def test_query_verb(capsys, sf_dir):
    assert main([
        "query", "--name", "q_distinct", "--sf-dir", sf_dir, "--json",
    ]) == 0
    assert capsys.readouterr().out.strip()


def test_invalid_vault_name_rejected(tmp_path):
    with pytest.raises(ValueError):
        main([
            "events", "--vault", "not-a-vault", "--out-dir", str(tmp_path),
        ])


def test_sql_verb(capsys, sf_dir):
    assert main([
        "sql", "SELECT r_name FROM region ORDER BY r_name", "--sf-dir",
        sf_dir, "--json",
    ]) == 0
    out = capsys.readouterr().out
    assert "AFRICA" in out


def test_create_sign_and_empty_vault_listing(tmp_path, capsys, sf_dir):
    out = str(tmp_path / "vault_out")
    assert main(["create", "ns.newtable", "--out-dir", out, "--cache", "30"]) == 0
    created = json.loads(capsys.readouterr().out)
    assert created["vault"] == "ns.newtable" and created["cache"] == 30

    # registered-but-empty vault appears in the listing with 0 events
    assert main(["vaults", "--out-dir", out, "--json"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l]
    assert any(r["table"] == "newtable" and r["n_events"] == 0 for r in rows)

    # sign verb: byte parity with the library signer
    from basin_cli_spark.functions.signing import sign_file

    f = tmp_path / "payload.bin"
    f.write_bytes(b"spark vaults sign test")
    key = "a" * 64
    assert main(["sign", str(f), "--private-key", key]) == 0
    assert capsys.readouterr().out.strip() == sign_file(str(f), key).hex()

    with pytest.raises(ValueError):
        main(["create", "not-a-vault", "--out-dir", out])


def test_registry_without_ttls_types_cache_long(spark, tmp_path, capsys):
    """Vaults created without --cache leave every registry row's cache
    null; the registry still types cache as bigint (inference would say
    string), and the listing shows both vaults with no cache."""
    from pyspark.sql import types as T

    from basin_cli_spark.operators.events import registered_vaults

    out = str(tmp_path / "vault_out")
    for vault in ("ns.b", "ns.a"):
        assert main(["create", vault, "--out-dir", out]) == 0
    capsys.readouterr()
    reg = registered_vaults(spark, out)
    assert reg.schema["cache"].dataType == T.LongType()
    assert sorted(r.vault for r in reg.collect()) == ["ns.a", "ns.b"]

    assert main(["vaults", "--out-dir", out, "--json"]) == 0
    assert [json.loads(l) for l in capsys.readouterr().out.splitlines() if l] == [
        {"table": "a", "n_events": 0},
        {"table": "b", "n_events": 0},
    ]


def test_events_cache_expiry_from_vault_ttl(spark, tmp_path, capsys):
    """The events table carries cache_expiry = event time + the vault's
    registered TTL (reference commands.go:558-571); without a TTL the
    column is null."""
    import json

    from basin_cli_spark import cli

    out_dir = tmp_path / "v"
    out_dir.mkdir()
    # one manifest event at a known unix second
    (out_dir / "manifest.jsonl").write_text(
        json.dumps(
            {"batch_id": 0, "table": "rel", "path": "/x.parquet",
             "cid": "0xabc", "signature": None, "timestamp": 1_700_000_000,
             "is_archived": False}
        ) + "\n"
    )
    assert cli.main(["create", "ns.rel", "--out-dir",
                     str(out_dir), "--cache", "60"]) == 0
    capsys.readouterr()
    assert cli.main(["events", "--vault", "ns.rel", "--out-dir",
                     str(out_dir), "--json"]) == 0
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert row["cid"] == "0xabc"
    # 1_700_000_000 + 3600 s = 2023-11-14T23:13:20
    assert row["cache_expiry"].startswith("2023-11-14 23:13:20")
