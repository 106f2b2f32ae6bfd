"""Cold-store retrieval seam + provider transport:
CAR v1 parse/extract against hand-built archives, the resolver chain
fallback order, and golden request shapes for every provider verb
(metadata 10 s client vs unlimited-timeout upload client)."""

from __future__ import annotations

import hashlib
import os

import pytest

from basin_cli_spark.sources import carv1 as C
from basin_cli_spark.sources import provider as PV


def test_uvarint_roundtrip():
    for n in (0, 1, 127, 128, 300, 2**32, 2**63 - 1):
        buf = C.write_uvarint(n)
        got, pos = C.read_uvarint(buf, 0)
        assert got == n and pos == len(buf)


def test_cid_text_roundtrip_and_known_prefix():
    data = b"hello parquet"
    cid = C.cid_for_raw(data)
    text = cid.text()
    # CIDv1 raw sha2-256 always starts with bafkrei... in base32 multibase
    assert text.startswith("bafkrei")
    back = C.parse_cid_text(text)
    assert back == cid
    assert back.digest == hashlib.sha256(data).digest()


def test_car_v1_write_iter_extract():
    payload = b"PAR1 fake parquet bytes PAR1"
    cid = C.cid_for_raw(payload)
    other = C.cid_for_raw(b"unrelated block")
    car = C.write_car_v1(
        [(other, b"unrelated block"), (cid, payload)], roots=[cid]
    )
    # explicit cid
    assert C.extract_root_block(car, cid.text()) == payload
    # root from header
    assert C.extract_root_block(car) == payload
    # corrupted payload fails the multihash check
    bad = car.replace(b"fake", b"f4ke")
    with pytest.raises(ValueError):
        C.extract_root_block(bad, cid.text())
    with pytest.raises(KeyError):
        C.extract_root_block(car, C.cid_for_raw(b"missing").text())


def test_resolver_chain_warm_then_cold(spark, sf_dir, tmp_path):
    """Manifest miss -> CAR cold store hit, end to end through
    spark.read.parquet."""
    from basin_cli_spark.operators import events as EV

    # a real parquet payload: one row, written then re-read via the chain
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame([(1, "x")], "id long, s string").coalesce(
        1
    ).write.parquet(src)
    part = next(
        p for p in os.listdir(src) if p.endswith(".parquet")
    )
    payload = open(os.path.join(src, part), "rb").read()
    cid = C.cid_for_raw(payload)
    car_dir = tmp_path / "cars"
    car_dir.mkdir()
    (car_dir / f"{cid.text()}.car").write_bytes(
        C.write_car_v1([(cid, payload)], roots=[cid])
    )
    # an event manifest that does NOT know our cid (forces the cold path)
    events = spark.createDataFrame(
        [("bafyother", "/nonexistent.parquet")], "cid string, path string"
    )
    got = EV.retrieve(
        spark,
        events,
        cid.text(),
        resolvers=[EV.car_store_resolver(str(car_dir), str(tmp_path / "x"))],
    )
    assert [(r.id, r.s) for r in got.collect()] == [(1, "x")]
    with pytest.raises(KeyError):
        EV.retrieve(spark, events, "bafkreimissing")


def test_provider_request_shapes():
    """Golden request shapes per reference verb (provider.go:39-186)."""
    base = "https://basin.example"
    r = PV.create_vault_request(base, "ns.t", "0xabc", 10)
    assert (r.method, r.url) == ("POST", f"{base}/vaults/ns.t")
    assert r.body == b"account=0xabc&cache=10"
    assert r.headers["Content-Type"] == "application/x-www-form-urlencoded"
    assert r.timeout_s == 10.0 and r.expect_status == 201

    r = PV.list_vaults_request(base, "0xabc")
    assert (r.method, r.url) == ("GET", f"{base}/v2/vaults/")
    assert r.query == {"account": "0xabc"}

    r = PV.list_vault_events_request(base, "ns.t", 50, 10, 111, 222)
    assert r.url.endswith("/vaults/ns.t/events")
    assert r.query == {
        "limit": "50", "offset": "10", "before": "111", "after": "222",
    }

    r = PV.write_vault_event_request(base, "ns.t", "f.parquet", 7, "sig", b"x")
    assert r.headers == {"filename": "f.parquet"}
    assert r.query == {"timestamp": "7", "signature": "sig"}
    assert r.timeout_s is None  # the unlimited-timeout upload client
    assert r.expect_status == 201

    r = PV.retrieve_event_request(base, "bafy123", 33.0)
    assert r.url == f"{base}/events/bafy123"
    assert r.timeout_s == 33.0


def test_provider_roundtrip_over_fake_transport():
    sent = []

    def fake(req: PV.ProviderRequest) -> PV.ProviderResponse:
        sent.append(req)
        if req.url.endswith("/events/bafygone"):
            return PV.ProviderResponse(404, {}, b"")
        if "/events/" in req.url and req.method == "GET":
            return PV.ProviderResponse(
                200,
                {"content-disposition": 'attachment; filename="ns.t-f.parquet"'},
                b"DATA",
            )
        if req.method == "POST":
            return PV.ProviderResponse(201, {}, b"")
        return PV.ProviderResponse(200, {}, b'[{"vault": "ns.t", "cache": 5}]')

    p = PV.VaultsProvider("https://basin.example", fake)
    p.create_vault("ns.t", "0xabc", 5)
    assert p.list_vaults("0xabc") == [{"vault": "ns.t", "cache": 5}]
    p.write_vault_event("ns.t", "f.parquet", 7, "sig", b"x")
    assert p.retrieve_event("bafyhit") == b"DATA"
    with pytest.raises(PV.NotFoundInCache):
        p.retrieve_event("bafygone")
    assert len(sent) == 5


def test_content_disposition_parse_matches_reference():
    vault, rest = PV.parse_content_disposition_filename(
        'attachment; filename="ns.t-2024-01-file.parquet"'
    )
    assert vault == "ns.t" and rest == "2024-01-file.parquet"
    with pytest.raises(ValueError):
        PV.parse_content_disposition_filename("attachment")
    with pytest.raises(ValueError):
        PV.parse_content_disposition_filename('attachment; filename="nodash"')


def test_cli_retrieve_cold_path(spark, tmp_path, capsys):
    """CLI retrieve falls through the manifest to --car-dir and renders
    the extracted parquet."""
    from basin_cli_spark import cli

    src = str(tmp_path / "cli_src.parquet")
    spark.createDataFrame([(7, "y")], "id long, s string").coalesce(
        1
    ).write.parquet(src)
    part = next(p for p in os.listdir(src) if p.endswith(".parquet"))
    payload = open(os.path.join(src, part), "rb").read()
    cid = C.cid_for_raw(payload)
    car_dir = tmp_path / "cars"
    car_dir.mkdir()
    (car_dir / f"{cid.text()}.car").write_bytes(
        C.write_car_v1([(cid, payload)], roots=[cid])
    )
    out_dir = tmp_path / "vault_out"
    out_dir.mkdir()
    (out_dir / "events.jsonl").write_text("")  # empty manifest
    rc = cli.main(
        [
            "retrieve",
            "--cid", cid.text(),
            "--out-dir", str(out_dir),
            "--car-dir", str(car_dir),
            "--json",
        ]
    )
    assert rc == 0
    assert '"id":7' in capsys.readouterr().out.replace(" ", "")


def test_gateway_resolver_trustless_car_fetch(spark, sf_dir, tmp_path):
    """The networked cold store, sandbox-tested: the gateway resolver
    issues the public trustless-gateway request (GET /ipfs/{cid},
    Accept CAR v1, dag-scope=all) through the pluggable Transport, and
    the returned CAR bytes flow through the SAME multihash-verified
    extract as the on-disk cold path — a fake gateway pins the request
    shape; a wrong-cid response fails verification, a 404 falls through
    the chain."""
    from basin_cli_spark.operators.events import gateway_resolver, retrieve
    from basin_cli_spark.sources import load_table
    from basin_cli_spark.sources.provider import ProviderResponse

    df = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    pq = tmp_path / "payload.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(pq))
    import glob

    part = glob.glob(str(pq / "part-*.parquet"))[0]
    payload = open(part, "rb").read()
    cid = C.cid_for_raw(payload)
    car = C.write_car_v1([(cid, payload)], roots=[cid])

    seen = []

    def fake_gateway(req):
        seen.append(req)
        if req.url.endswith(f"/ipfs/{cid.text()}"):
            return ProviderResponse(200, {}, car)
        return ProviderResponse(404, {}, b"")

    events = spark.createDataFrame(
        [("unrelated", "nowhere")], "cid string, path string"
    )
    got = retrieve(
        spark,
        events,
        cid.text(),
        resolvers=[
            gateway_resolver(
                fake_gateway, "http://gw.example", scratch_dir=str(tmp_path)
            )
        ],
    )
    assert got.count() == df.count()
    (req,) = seen
    assert req.method == "GET"
    assert req.url == f"http://gw.example/ipfs/{cid.text()}"
    assert req.headers["Accept"].startswith("application/vnd.ipld.car")
    assert req.query == {"dag-scope": "all"}

    # 404 falls through to a chain miss
    import pytest as _pytest

    with _pytest.raises(KeyError):
        retrieve(
            spark, events, C.cid_for_raw(b"absent").text(),
            resolvers=[gateway_resolver(fake_gateway, "http://gw.example",
                                        scratch_dir=str(tmp_path))],
        )

    # resolver contract is path-or-None: an unreachable gateway (network
    # error) and a 200-CAR missing the requested block are both MISSES —
    # the chain raises its clean KeyError, not a raw transport traceback
    import urllib.error as _ue

    def down_gateway(req):
        raise _ue.URLError("connection refused")

    def wrong_car_gateway(req):
        return ProviderResponse(200, {}, car)  # valid CAR, wrong cid

    # an UNTRUSTED gateway can return arbitrary garbage: truncated bytes
    # (IndexError in the CAR varint scan), junk headers (AttributeError),
    # and a mid-stream protocol error from the transport itself must all
    # register as misses of the resolver, never crash retrieve()
    import http.client as _hc

    def garbage_gateway(req):
        return ProviderResponse(200, {}, b"\x00")

    def junk_gateway(req):
        return ProviderResponse(200, {}, b"not a car at all" * 4)

    def badline_gateway(req):
        raise _hc.BadStatusLine("garbage")

    def badline_via_transport(req):
        # the real transport turns HTTPException into a status-0 miss
        from basin_cli_spark.sources.provider import ProviderResponse as PR

        try:
            raise _hc.BadStatusLine("garbage")
        except _hc.HTTPException:
            return PR(status=0, headers={}, body=b"")

    for bad in (down_gateway, wrong_car_gateway, garbage_gateway,
                junk_gateway, badline_gateway, badline_via_transport):
        with _pytest.raises(KeyError, match="not resolvable"):
            retrieve(
                spark, events, C.cid_for_raw(b"absent").text(),
                resolvers=[gateway_resolver(bad, "http://gw.example",
                                            scratch_dir=str(tmp_path))],
            )


def test_http_transport_loopback_server(tmp_path):
    """The real urllib Transport against an in-process http.server on
    127.0.0.1: method, path, query, headers, and body round-trip; a 404
    comes back as a ProviderResponse (policy stays in the caller)."""
    import http.server
    import threading

    from basin_cli_spark.sources.provider import (
        ProviderRequest,
        http_transport,
    )

    seen = {}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            seen["path"] = self.path
            seen["accept"] = self.headers.get("Accept")
            if self.path.startswith("/ipfs/ok"):
                body = b"car-bytes"
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        send = http_transport()
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        ok = send(
            ProviderRequest(
                method="GET",
                url=f"{base}/ipfs/ok",
                headers={"Accept": "application/vnd.ipld.car;version=1"},
                query={"dag-scope": "all"},
                timeout_s=5.0,
            )
        )
        assert ok.status == 200 and ok.body == b"car-bytes"
        assert seen["path"] == "/ipfs/ok?dag-scope=all"
        assert seen["accept"].startswith("application/vnd.ipld.car")
        missing = send(
            ProviderRequest(method="GET", url=f"{base}/ipfs/missing",
                            timeout_s=5.0)
        )
        assert missing.status == 404
    finally:
        srv.shutdown()
        t.join(timeout=5)


def test_cli_retrieve_via_loopback_gateway(spark, tmp_path, capsys):
    """`retrieve --gateway-url` end-to-end over a real 127.0.0.1 HTTP
    server serving CAR v1 bytes: CLI -> urllib transport -> trustless-
    gateway request -> multihash-verified extract -> parquet scan."""
    import http.server
    import threading

    from basin_cli_spark import cli

    df = spark.range(3).selectExpr("id", "id * 2 AS v")
    pq = tmp_path / "pay.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(pq))
    import glob

    payload = open(glob.glob(str(pq / "part-*.parquet"))[0], "rb").read()
    cid = C.cid_for_raw(payload)
    car = C.write_car_v1([(cid, payload)], roots=[cid])

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path.startswith(f"/ipfs/{cid.text()}"):
                self.send_response(200)
                self.send_header("Content-Length", str(len(car)))
                self.end_headers()
                self.wfile.write(car)
            else:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    out_dir = tmp_path / "vault"
    out_dir.mkdir()
    (out_dir / "events.jsonl").write_text("")
    try:
        rc = cli.main(
            [
                "retrieve",
                "--cid", cid.text(),
                "--out-dir", str(out_dir),
                "--gateway-url",
                f"http://127.0.0.1:{srv.server_address[1]}",
                "--json",
            ]
        )
    finally:
        srv.shutdown()
    assert rc == 0
    assert '"v":4' in capsys.readouterr().out
