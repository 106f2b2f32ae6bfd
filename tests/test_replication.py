"""Golden wire-format tests for the logical-replication protocol layer:
exact frame bytes, spelled as literal hex so a struct-packing bug can't
hide behind symmetric encode/decode.

Layouts under test are the public Postgres walsender protocol (docs
§55.4); behaviors under test mirror the reference's replicator
(/root/reference/pkg/pgrepl/replicator.go:61-133,212-284).
"""

from __future__ import annotations

from basin_cli_spark.sources import replication as R

# LSN 16/B374D848 -> 0x16B374D848; timestamps: 2026-01-01T00:00:00Z is
# 1767225600000000 us (Unix) = 820540800000000 us (PG epoch) = 0x2EA470AE86000.
LSN_TEXT = "16/B374D848"
LSN_INT = 0x16B374D848
T_UNIX_US = 1_767_225_600_000_000
T_PG_HEX = "0002ea470ae86000"


def test_lsn_text_roundtrip():
    assert R.parse_lsn(LSN_TEXT) == LSN_INT
    assert R.format_lsn(LSN_INT) == LSN_TEXT
    assert R.parse_lsn("0/0") == 0
    assert R.format_lsn(0) == "0/0"
    assert R.parse_lsn("FFFFFFFF/FFFFFFFF") == 2**64 - 1


def test_keepalive_parse_golden():
    frame = bytes.fromhex("6b" + "00000016b374d848" + T_PG_HEX + "01")
    msg = R.parse_copydata(frame)
    assert isinstance(msg, R.PrimaryKeepalive)
    assert msg.server_wal_end == LSN_INT
    assert msg.server_time_us == T_UNIX_US
    assert msg.reply_requested is True
    frame_no_reply = bytes.fromhex("6b" + "00000016b374d848" + T_PG_HEX + "00")
    assert R.parse_copydata(frame_no_reply).reply_requested is False


def test_xlogdata_parse_golden():
    payload = b'{"action":"B","xid":7}'
    frame = (
        bytes.fromhex(
            "77"  # 'w'
            + "00000016b374d848"  # wal_start
            + "00000016b374d850"  # server_wal_end
            + T_PG_HEX
        )
        + payload
    )
    msg = R.parse_copydata(frame)
    assert isinstance(msg, R.XLogData)
    assert msg.wal_start == LSN_INT
    assert msg.server_wal_end == LSN_INT + 8
    assert msg.server_time_us == T_UNIX_US
    assert msg.payload == payload


def test_standby_status_update_encode_golden():
    """flush/apply default to the write position (pglogrepl semantics the
    reference relies on: Commit acks one LSN for all three)."""
    got = R.encode_standby_status_update(LSN_INT)
    want = bytes.fromhex(
        "72"  # 'r'
        + "00000016b374d848" * 3  # write = flush = apply
        + "0000000000000000"  # no clock
        + "00"  # no reply requested
    )
    assert got == want
    # explicit clock converts Unix us -> PG epoch us
    with_clock = R.encode_standby_status_update(
        LSN_INT, client_time_us=T_UNIX_US, reply_requested=True
    )
    assert with_clock == bytes.fromhex(
        "72" + "00000016b374d848" * 3 + T_PG_HEX + "01"
    )


def test_slot_lifecycle_strings():
    slot = R.slot_name("pub_a")
    assert slot == "basin_pub_a"
    assert R.create_slot_command(slot) == (
        "CREATE_REPLICATION_SLOT basin_pub_a LOGICAL wal2json NOEXPORT_SNAPSHOT"
    )
    assert "confirmed_flush_lsn" in R.confirmed_flush_lsn_sql(slot)
    assert "slot_name = 'basin_pub_a'" in R.confirmed_flush_lsn_sql(slot)
    assert "pg_publication_tables" in R.publication_tables_sql("pub_a")


def test_start_replication_wal2json_options():
    """The full option list the reference passes to wal2json v2
    (replicator.go:144-153), table filter included."""
    cmd = R.start_replication_command(
        "basin_pub_a", LSN_INT, ["public.t1", "public.t2"]
    )
    assert cmd.startswith(
        "START_REPLICATION SLOT basin_pub_a LOGICAL 16/B374D848 ("
    )
    for opt in (
        "\"format-version\" '2'",
        "\"include-transaction\" 'true'",
        "\"include-lsn\" 'true'",
        "\"include-pk\" 'true'",
        "\"include-xids\" 'true'",
        "\"add-tables\" 'public.t1,public.t2'",
    ):
        assert opt in cmd


def test_session_keepalive_autoreply_and_commit():
    s = R.ReplicationSession(commit_lsn=LSN_INT, committed_lsn=LSN_INT)
    # keepalive without reply request: no outbox traffic
    quiet = bytes.fromhex("6b" + "00000016b374d848" + T_PG_HEX + "00")
    assert s.feed(quiet) is None and s.drain() == []
    # reply requested: acks the last committed LSN (replicator.go:263-270)
    ping = bytes.fromhex("6b" + "00000016b374d848" + T_PG_HEX + "01")
    assert s.feed(ping) is None
    (ack,) = s.drain()
    assert ack == R.encode_standby_status_update(LSN_INT)
    # XLogData yields the wal2json payload for sources/cdc.py
    payload = b'{"action":"I"}'
    frame = (
        bytes.fromhex("77" + "00000016b374d848" + "00000016b374d850" + T_PG_HEX)
        + payload
    )
    assert s.feed(frame) == payload
    # commit advances the ack watermark like the reference's Commit
    s.commit(LSN_INT + 8)
    (ack2,) = s.drain()
    assert ack2 == R.encode_standby_status_update(LSN_INT + 8)
    assert s.committed_lsn == LSN_INT + 8


# -- scripted end-to-end session -----------------------------------------------
#
# A bytes-level fake walsender drives the full ordered
# connect -> slot -> stream -> ack session the way the reference's
# integration test does against a real server
# (/root/reference/pkg/pgrepl/replicator_test.go:37-94), without a
# database: scripted query results, literal CopyData frames, and golden
# StandbyStatusUpdate byte assertions on everything the client sends.

import json
import struct


def _xlogdata(wal_start: int, payload: bytes) -> bytes:
    return (
        struct.pack(
            ">BQQq", 0x77, wal_start, wal_start + len(payload), 0
        )
        + payload
    )


def _keepalive(wal_end: int, reply: bool) -> bytes:
    return struct.pack(">BQqb", 0x6B, wal_end, 0, 1 if reply else 0)


def _ssu_hex(lsn: int) -> str:
    """Golden StandbyStatusUpdate: write=flush=apply=lsn, no clock, no
    reply request — spelled as hex, independent of the encoder."""
    return "72" + f"{lsn:016x}" * 3 + "0" * 16 + "00"


class ScriptedWalsender:
    """In-memory transport replaying a fixed server script."""

    def __init__(self, resume_lsn: str | None, frames: list[bytes]):
        self.executed: list[str] = []
        self.sent: list[bytes] = []
        self._resume = resume_lsn
        self._frames = list(frames)

    def exec_query(self, sql: str) -> list[tuple]:
        self.executed.append(sql)
        if sql.startswith("SELECT confirmed_flush_lsn"):
            return [(self._resume,)] if self._resume else []
        if sql.startswith("SELECT schemaname"):
            return [("public", "t"), ("public", "t2")]
        raise AssertionError(f"unexpected query: {sql}")

    def exec_command(self, cmd: str) -> None:
        self.executed.append(cmd)

    def recv(self) -> bytes | None:
        return self._frames.pop(0) if self._frames else None

    def send(self, frame: bytes) -> None:
        self.sent.append(frame)


def _wal_lines() -> list[bytes]:
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "wal.jsonl",
    )
    with open(path, "rb") as f:
        return [ln for ln in f.read().splitlines() if ln]


def test_session_end_to_end_fresh_slot():
    """Fresh slot: resume lookup comes back empty -> CREATE_REPLICATION_SLOT
    -> table discovery -> START_REPLICATION from 0/0; wal2json payloads
    come out in order; every commit acks the tx's commit_lsn; a
    reply-requested keepalive echoes the latest committed LSN."""
    lines = _wal_lines()[:2]
    tx = [json.loads(ln) for ln in lines]
    frames = [
        _keepalive(100, reply=False),   # quiet keepalive: no traffic
        _xlogdata(900, lines[0]),
        _keepalive(1001, reply=True),   # must echo commit #1's LSN
        _xlogdata(950, lines[1]),
    ]
    server = ScriptedWalsender(resume_lsn=None, frames=frames)
    session, tables = R.start_replication_session(server, "pub")

    assert tables == ["public.t", "public.t2"]
    # exact handshake order, exact strings (replicator.go:61-133)
    assert server.executed == [
        "SELECT confirmed_flush_lsn FROM pg_replication_slots "
        "WHERE slot_name = 'basin_pub'",
        "CREATE_REPLICATION_SLOT basin_pub LOGICAL wal2json "
        "NOEXPORT_SNAPSHOT",
        "SELECT schemaname, tablename FROM pg_publication p "
        "JOIN pg_publication_tables pt ON p.pubname = pt.pubname "
        "WHERE p.pubname = 'pub'",
        R.start_replication_command("basin_pub", 0, ["public.t", "public.t2"]),
    ]
    assert "START_REPLICATION SLOT basin_pub LOGICAL 0/0 (" in server.executed[3]

    got = []
    for payload in R.pump(session, server):
        rec = json.loads(payload)
        got.append(rec)
        session.commit(rec["commit_lsn"])  # the reference's Commit cadence
    assert got == tx

    # golden ack byte sequence: commit #1, keepalive echo of #1, commit #2
    expected = [
        _ssu_hex(tx[0]["commit_lsn"]),
        _ssu_hex(tx[0]["commit_lsn"]),
        _ssu_hex(tx[1]["commit_lsn"]),
    ]
    assert [f.hex() for f in server.sent] == expected


def test_session_end_to_end_resume():
    """Existing slot: confirmed_flush_lsn resumes the stream — no
    CREATE_REPLICATION_SLOT, START_REPLICATION from the stored LSN, and a
    pre-commit keepalive reply echoes the RESUME point (nothing consumed
    yet), mirroring the reference's restart behavior (conn.go:47-56)."""
    resume = "0/3910B898"
    frames = [_keepalive(parse := R.parse_lsn(resume), reply=True)]
    server = ScriptedWalsender(resume_lsn=resume, frames=frames)
    session, _ = R.start_replication_session(
        server, "pub", tables=["public.t"]
    )
    assert not any(
        c.startswith("CREATE_REPLICATION_SLOT") for c in server.executed
    )
    assert (
        f"START_REPLICATION SLOT basin_pub LOGICAL {resume} ("
        in server.executed[-1]
    )
    assert list(R.pump(session, server)) == []
    assert [f.hex() for f in server.sent] == [_ssu_hex(parse)]


def test_session_payloads_reach_spark_cdc(spark, tmp_path):
    """The pumped payloads are byte-for-byte what sources/cdc.py consumes:
    write them to a file and materialize through the SAME batch reader the
    CDC queries use — record counts and intra-tx order survive."""
    from basin_cli_spark.sources.cdc import read_wal_batch

    lines = _wal_lines()
    frames = [_xlogdata(900 + i, ln) for i, ln in enumerate(lines)]
    server = ScriptedWalsender(resume_lsn="0/0", frames=frames)
    session, _ = R.start_replication_session(server, "pub", tables=["public.t"])
    out = tmp_path / "wal.jsonl"
    out.write_bytes(b"\n".join(R.pump(session, server)) + b"\n")

    recs = read_wal_batch(spark, str(out))
    n_fixture = sum(len(json.loads(ln)["records"]) for ln in lines)
    assert recs.count() == n_fixture
    first = recs.orderBy("_commit_lsn", "_tx_pos").first()
    ref = json.loads(lines[0])["records"][0]
    assert first["_table"] == ref["table"]
    assert first["_action"] == ref["action"]


def test_full_pipeline_walsender_to_signed_vault(spark, tmp_path):
    """The reference's whole `vaults stream` flow, end to end with no
    database: scripted walsender frames -> protocol session pump ->
    wal2json file channel -> Structured Streaming (read_wal_stream) ->
    WindowedVaultSink -> signed parquet windows + manifest events.
    Mirrors internal/app/streamer.go's replicate->buffer->flush pipeline
    with every seam exercised: the ack LSN sequence on the wire side and
    the materialized typed rows on the vault side."""
    from basin_cli_spark.functions.signing import derive_address
    from basin_cli_spark.sources.cdc import materialize_table
    from basin_cli_spark.streaming.window_sink import (
        WindowedVaultSink,
        run_stream,
    )

    lines = _wal_lines()
    frames = []
    for i, ln in enumerate(lines):
        frames.append(_xlogdata(900 + i, ln))
    frames.append(_keepalive(2000, reply=True))

    server = ScriptedWalsender(resume_lsn=None, frames=frames)
    session, _ = R.start_replication_session(
        server, "pub", tables=["public.t"]
    )
    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()
    received = []
    for payload in R.pump(session, server):
        rec = json.loads(payload)
        received.append(rec)
        # one file per tx, the reference's channel->buffer handoff
        (wal_dir / f"tx_{rec['commit_lsn']}.jsonl").write_bytes(
            payload + b"\n"
        )
        session.commit(rec["commit_lsn"])

    # every tx acked in commit order; final keepalive echoes the last LSN
    acks = [f.hex() for f in server.sent]
    expected = [_ssu_hex(r["commit_lsn"]) for r in received]
    expected.append(_ssu_hex(received[-1]["commit_lsn"]))
    assert acks == expected

    key = "01" * 32
    sink = WindowedVaultSink(
        str(tmp_path / "out"),
        {"t": [("id", "integer"), ("name", "text")]},
        vault="ns.t",
        private_key_hex=key,
    )
    q = run_stream(spark, str(wal_dir), sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    events = sink.events(spark)
    rows = events.collect()
    assert len(rows) >= 1
    assert all(r.signature for r in rows)
    # replay the raw WAL through the batch path: the streamed vault must
    # contain exactly the same typed insert rows
    from basin_cli_spark.sources.cdc import read_wal_batch

    batch = materialize_table(
        read_wal_batch(spark, str(wal_dir)),
        "t",
        [("id", "integer"), ("name", "text")],
    )
    streamed = spark.read.parquet(
        *[r.path for r in rows if r.table == "t"]
    ).select("id", "name")
    assert sorted(streamed.collect()) == sorted(batch.collect())
    assert derive_address(key).startswith("0x")  # signing identity resolves


# -- loopback-TCP walsender session -------------------------------------------
#
# The scripted-transport tests above pin the protocol state machine; this
# one pins the BYTE CARRIER: a real socket client
# (sources/pgwire.PgWireReplicationClient) speaking the public Postgres v3
# wire protocol against an in-process fake walsender server on 127.0.0.1 —
# the Python analogue of the reference's socket-level integration test
# (/root/reference/pkg/pgrepl/replicator_test.go:37-94) with no database.

import socket
import threading

from basin_cli_spark.sources import pgwire as W


def _encode_data_row(cols: tuple) -> bytes:
    body = struct.pack(">h", len(cols))
    for c in cols:
        if c is None:
            body += struct.pack(">i", -1)
        else:
            b = str(c).encode()
            body += struct.pack(">i", len(b)) + b
    return W.encode_message(W.DATA_ROW, body)


class LoopbackWalsender(threading.Thread):
    """One-connection fake walsender over a real 127.0.0.1 socket: trust
    auth, scripted simple-query results, CopyBoth streaming of the given
    frames, then CopyDone; records every executed command and every
    StandbyStatusUpdate the client ships back."""

    def __init__(self, resume_lsn, frames, stream_error=None,
                 scram_password=None, tamper_server_sig=False,
                 skip_server_final=False, replace_nonce=False):
        super().__init__(daemon=True)
        self._resume = resume_lsn
        self._frames = list(frames)
        self._stream_error = stream_error
        self._scram_password = scram_password
        self._tamper_server_sig = tamper_server_sig
        self._skip_server_final = skip_server_final
        self._replace_nonce = replace_nonce
        self.executed = []
        self.received_acks = []
        self.startup_params = None
        self.auth_result = None  # "trust" | "scram-ok" | "scram-fail"
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.port = self._srv.getsockname()[1]

    def _ready(self, conn):
        conn.sendall(W.encode_message(W.READY_FOR_QUERY, b"I"))

    def _auth(self, conn) -> bool:
        """Trust, or the full server half of SCRAM-SHA-256 when
        scram_password is set.  Returns False when auth failed (the
        connection is then torn down like a real server's FATAL)."""
        if self._scram_password is None:
            conn.sendall(
                W.encode_message(W.AUTHENTICATION, struct.pack(">i", 0))
            )
            self.auth_result = "trust"
            return True
        verifier = W.ScramVerifier(self._scram_password)
        conn.sendall(W.encode_message(
            W.AUTHENTICATION,
            struct.pack(">i", W.AUTH_SASL)
            + W.SCRAM_MECHANISM.encode() + b"\0\0",
        ))
        msg = W.recv_message(conn)
        if msg is None:
            # client aborted the handshake — the expected path in the
            # rejection tests; without this guard the unpack raises in
            # the server thread (PytestUnhandledThreadExceptionWarning)
            self.auth_result = "client-aborted"
            return False
        t, payload = msg
        assert t == W.SASL_RESPONSE
        mech, rest = payload.split(b"\0", 1)
        assert mech.decode() == W.SCRAM_MECHANISM
        (ln,) = struct.unpack_from(">i", rest, 0)
        client_first = rest[4:4 + ln].decode()
        server_first = verifier.server_first(client_first, "SrvNonceExt")
        if self._replace_nonce:
            # a MITM substituting its own nonce: r= no longer extends
            # the client's nonce (RFC 5802 §5.1 requires the client to
            # detect this and abort)
            attrs = dict(p.split("=", 1) for p in server_first.split(","))
            server_first = (
                f"r=EvilNonce,s={attrs['s']},i={attrs['i']}"
            )
        conn.sendall(W.encode_message(
            W.AUTHENTICATION,
            struct.pack(">i", W.AUTH_SASL_CONTINUE) + server_first.encode(),
        ))
        if self._replace_nonce:
            # the client must have aborted; nothing more to read
            self.auth_result = "scram-nonce-replaced"
            return False
        msg = W.recv_message(conn)
        if msg is None:
            self.auth_result = "client-aborted"
            return False
        t, payload = msg
        assert t == W.SASL_RESPONSE
        server_final = verifier.verify_client_final(payload.decode())
        if server_final is None:
            self.auth_result = "scram-fail"
            conn.sendall(W.encode_message(
                W.ERROR_RESPONSE,
                b"SFATAL\x00C28P01\x00M"
                b"password authentication failed\x00\x00",
            ))
            return False
        if self._tamper_server_sig:
            server_final = "v=" + "A" * 44
        self.auth_result = "scram-ok"
        if self._skip_server_final:
            # impostor behavior: jump straight to AuthenticationOk
            # without ever proving the verifier via SASLFinal
            conn.sendall(
                W.encode_message(W.AUTHENTICATION, struct.pack(">i", 0))
            )
            return False
        conn.sendall(W.encode_message(
            W.AUTHENTICATION,
            struct.pack(">i", W.AUTH_SASL_FINAL) + server_final.encode(),
        ))
        conn.sendall(
            W.encode_message(W.AUTHENTICATION, struct.pack(">i", 0))
        )
        return True

    def run(self):
        conn, _ = self._srv.accept()
        with conn:
            self.startup_params = W.recv_startup(conn)
            if not self._auth(conn):
                self._srv.close()
                return
            self._ready(conn)
            while True:
                msg = W.recv_message(conn)
                if msg is None:
                    break
                t, payload = msg
                if t == W.TERMINATE:
                    break
                if t == W.COPY_DATA:
                    self.received_acks.append(payload)
                    continue
                if t != W.QUERY:
                    continue
                sql = payload.rstrip(b"\0").decode()
                self.executed.append(sql)
                if sql.startswith("SELECT confirmed_flush_lsn"):
                    conn.sendall(W.encode_message(W.ROW_DESCRIPTION, b"\x00\x00"))
                    if self._resume:
                        conn.sendall(_encode_data_row((self._resume,)))
                    conn.sendall(W.encode_message(W.COMMAND_COMPLETE, b"SELECT\x00"))
                    self._ready(conn)
                elif sql.startswith("SELECT schemaname"):
                    conn.sendall(W.encode_message(W.ROW_DESCRIPTION, b"\x00\x00"))
                    conn.sendall(_encode_data_row(("public", "t")))
                    conn.sendall(_encode_data_row(("public", "t2")))
                    conn.sendall(W.encode_message(W.COMMAND_COMPLETE, b"SELECT\x00"))
                    self._ready(conn)
                elif sql.startswith("CREATE_REPLICATION_SLOT"):
                    conn.sendall(
                        W.encode_message(W.COMMAND_COMPLETE, b"CREATE_REPLICATION_SLOT\x00")
                    )
                    self._ready(conn)
                elif sql.startswith("START_REPLICATION"):
                    # CopyBothResponse: int8 overall format 0, int16 0 cols
                    conn.sendall(W.encode_message(W.COPY_BOTH_RESPONSE, b"\x00\x00\x00"))
                    for fr in self._frames:
                        conn.sendall(W.encode_message(W.COPY_DATA, fr))
                    if self._stream_error is not None:
                        conn.sendall(
                            W.encode_message(W.ERROR_RESPONSE, self._stream_error)
                        )
                    else:
                        conn.sendall(W.encode_message(W.COPY_DONE, b""))
                else:
                    conn.sendall(W.encode_message(W.COMMAND_COMPLETE, b"OK\x00"))
                    self._ready(conn)
        self._srv.close()


def test_loopback_tcp_session_fresh_slot_golden_acks():
    """The fresh-slot session over an ACTUAL 127.0.0.1 socket: same
    handshake command order and same golden StandbyStatusUpdate byte
    sequence as the scripted-transport test — the wire carrier adds
    nothing and loses nothing."""
    lines = _wal_lines()[:2]
    tx = [json.loads(ln) for ln in lines]
    frames = [
        _keepalive(100, reply=False),
        _xlogdata(900, lines[0]),
        _keepalive(1001, reply=True),
        _xlogdata(950, lines[1]),
    ]
    server = LoopbackWalsender(resume_lsn=None, frames=frames)
    server.start()

    client = W.PgWireReplicationClient("127.0.0.1", server.port)
    try:
        session, tables = R.start_replication_session(client, "pub")
        assert tables == ["public.t", "public.t2"]
        got = []
        for payload in R.pump(session, client):
            rec = json.loads(payload)
            got.append(rec)
            session.commit(rec["commit_lsn"])
        assert got == tx
    finally:
        client.close()
    server.join(timeout=10)
    assert not server.is_alive()

    assert server.startup_params["replication"] == "database"
    assert server.executed == [
        R.confirmed_flush_lsn_sql("basin_pub"),
        R.create_slot_command("basin_pub"),
        R.publication_tables_sql("pub"),
        R.start_replication_command("basin_pub", 0, ["public.t", "public.t2"]),
    ]
    # golden ack-LSN byte sequence, identical to the scripted-transport
    # session (test_session_end_to_end_fresh_slot): commit #1, keepalive
    # echo of #1, commit #2 — pump flushes the last commit's ack before
    # observing end-of-stream, so nothing is left queued
    assert [a.hex() for a in server.received_acks] == [
        _ssu_hex(tx[0]["commit_lsn"]),
        _ssu_hex(tx[0]["commit_lsn"]),
        _ssu_hex(tx[1]["commit_lsn"]),
    ]


def test_loopback_tcp_session_resume():
    """Existing slot over the socket: no CREATE_REPLICATION_SLOT, stream
    starts from the stored confirmed_flush_lsn."""
    resume = "0/3910B898"
    server = LoopbackWalsender(
        resume_lsn=resume, frames=[_keepalive(R.parse_lsn(resume), reply=True)]
    )
    server.start()
    client = W.PgWireReplicationClient("127.0.0.1", server.port)
    try:
        session, _ = R.start_replication_session(
            client, "pub", tables=["public.t"]
        )
        assert list(R.pump(session, client)) == []
    finally:
        client.close()
    server.join(timeout=10)
    assert not any(
        c.startswith("CREATE_REPLICATION_SLOT") for c in server.executed
    )
    assert f"START_REPLICATION SLOT basin_pub LOGICAL {resume} (" in server.executed[-1]
    assert [a.hex() for a in server.received_acks] == [
        _ssu_hex(R.parse_lsn(resume))
    ]


def test_loopback_tcp_stream_error_raises_not_truncates():
    """A server-side ErrorResponse mid-stream (slot conflict, WAL
    removed) must RAISE, never read as a clean end-of-stream: a swallowed
    error would let the consumer believe the truncated stream was
    complete (reference: the Go replicator surfaces walsender errors to
    its retry loop, pkg/pgrepl/replicator.go)."""
    import pytest as _pytest

    lines = _wal_lines()[:1]
    server = LoopbackWalsender(
        resume_lsn=None,
        frames=[_xlogdata(900, lines[0])],
        stream_error=b"SERROR\x00C55000\x00Mrequested WAL segment removed\x00\x00",
    )
    server.start()
    client = W.PgWireReplicationClient("127.0.0.1", server.port)
    try:
        session, _ = R.start_replication_session(
            client, "pub", tables=["public.t"]
        )
        with _pytest.raises(RuntimeError, match="replication stream error"):
            for payload in R.pump(session, client):
                json.loads(payload)  # first frame still delivered
    finally:
        client.close()
    server.join(timeout=10)


def test_loopback_tcp_reconnect_resumes_from_acked_lsn():
    """Connection-drop recovery round-trip (the reference replicator's
    restart path): session 1 consumes and acks two transactions, the
    server goes away; session 2 connects to a fresh walsender whose
    slot's confirmed_flush_lsn is what session 1 acked — and must START_
    REPLICATION exactly there, with its first keepalive echo acking the
    resume point."""
    lines = _wal_lines()[:2]
    tx = [json.loads(ln) for ln in lines]
    server1 = LoopbackWalsender(
        resume_lsn=None,
        frames=[_xlogdata(900, lines[0]), _xlogdata(950, lines[1])],
    )
    server1.start()
    client1 = W.PgWireReplicationClient("127.0.0.1", server1.port)
    try:
        session1, _ = R.start_replication_session(
            client1, "pub", tables=["public.t"]
        )
        for payload in R.pump(session1, client1):
            session1.commit(json.loads(payload)["commit_lsn"])
    finally:
        client1.close()
    server1.join(timeout=10)

    # the slot's confirmed_flush_lsn is the last StandbyStatusUpdate's
    # write position — parse it from the ack bytes the server recorded
    last_ack = server1.received_acks[-1]
    acked = int.from_bytes(last_ack[1:9], "big")
    assert acked == tx[1]["commit_lsn"]

    resume_text = R.format_lsn(acked)
    server2 = LoopbackWalsender(
        resume_lsn=resume_text, frames=[_keepalive(acked, reply=True)]
    )
    server2.start()
    client2 = W.PgWireReplicationClient("127.0.0.1", server2.port)
    try:
        session2, _ = R.start_replication_session(
            client2, "pub", tables=["public.t"]
        )
        assert session2.commit_lsn == acked
        assert list(R.pump(session2, client2)) == []
    finally:
        client2.close()
    server2.join(timeout=10)
    assert not any(
        c.startswith("CREATE_REPLICATION_SLOT") for c in server2.executed
    )
    assert (
        f"START_REPLICATION SLOT basin_pub LOGICAL {resume_text} ("
        in server2.executed[-1]
    )
    # nothing re-consumed; the keepalive echo acks the resume point
    assert [a.hex() for a in server2.received_acks] == [_ssu_hex(acked)]


def test_full_pipeline_over_real_socket(spark, tmp_path):
    """The COMPLETE live path, every carrier real: fake walsender on a
    127.0.0.1 socket -> Postgres v3 wire client -> protocol pump ->
    wal2json file channel -> Structured Streaming -> signed vault.  The
    socket-carried run must produce byte-identical vault rows to the
    scripted-transport pipeline test above — the carrier adds nothing."""
    from basin_cli_spark.sources.cdc import materialize_table, read_wal_batch
    from basin_cli_spark.streaming.window_sink import (
        WindowedVaultSink,
        run_stream,
    )

    lines = _wal_lines()
    frames = [_xlogdata(900 + i, ln) for i, ln in enumerate(lines)]
    server = LoopbackWalsender(resume_lsn=None, frames=frames)
    server.start()

    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()
    client = W.PgWireReplicationClient("127.0.0.1", server.port)
    try:
        session, _ = R.start_replication_session(
            client, "pub", tables=["public.t"]
        )
        for payload in R.pump(session, client):
            rec = json.loads(payload)
            (wal_dir / f"tx_{rec['commit_lsn']}.jsonl").write_bytes(
                payload + b"\n"
            )
            session.commit(rec["commit_lsn"])
    finally:
        client.close()
    server.join(timeout=10)
    assert len(server.received_acks) == len(lines)

    sink = WindowedVaultSink(
        str(tmp_path / "out"),
        {"t": [("id", "integer"), ("name", "text")]},
        vault="ns.t",
        private_key_hex="01" * 32,
    )
    q = run_stream(spark, str(wal_dir), sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    rows = sink.events(spark).collect()
    assert len(rows) >= 1 and all(r.signature for r in rows)
    batch = materialize_table(
        read_wal_batch(spark, str(wal_dir)),
        "t",
        [("id", "integer"), ("name", "text")],
    )
    streamed = spark.read.parquet(
        *[r.path for r in rows if r.table == "t"]
    ).select("id", "name")
    assert sorted(streamed.collect()) == sorted(batch.collect())


# -- SCRAM-SHA-256 auth (RFC 5802/7677 over AuthenticationSASL) --------------
#
# Reference parity: the Go side delegates auth to pgconn
# (/root/reference/pkg/pgrepl/conn.go:18-56), whose default server
# contract since PG 10 is scram-sha-256.  Both halves here are the
# repo's own stdlib implementation (sources/pgwire.py), pinned first to
# the RFC 7677 published test vector, then driven end-to-end over a real
# loopback socket — success, wrong password, and a server that cannot
# prove IT knows the verifier (mutual-auth tamper).


def test_scram_rfc7677_known_answer():
    """The RFC 7677 §3 example exchange, byte-for-byte: password
    'pencil', client nonce 'rOprNGfwEbeRWgbNEkqO', the published salt/
    iteration-count/server-nonce — our client must reproduce the
    published proof, and our verifier must accept it and emit the
    published server signature."""
    client_first, bare = W.scram_client_first("rOprNGfwEbeRWgbNEkqO")
    assert client_first == "n,,n=,r=rOprNGfwEbeRWgbNEkqO"
    server_first = (
        "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    )
    final, server_sig = W.scram_client_final("pencil", bare, server_first)
    # RFC 7677 publishes the vector with n=user; the username slot is
    # outside AuthMessage's proof inputs only via client-first-bare, so
    # recompute the vector's bare form to compare against the RFC bytes.
    rfc_final, rfc_sig = W.scram_client_final(
        "pencil", "n=user,r=rOprNGfwEbeRWgbNEkqO", server_first
    )
    assert rfc_final == (
        "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
    )
    import base64 as _b64

    assert _b64.b64encode(rfc_sig).decode() == (
        "6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4="
    )
    # our own verifier round-trips our own client (n= empty form)
    v = W.ScramVerifier(
        "pencil", salt=_b64.b64decode("W22ZaJ0SNY7soEsUEjb6gQ=="), iterations=4096
    )
    sf = v.server_first(client_first, "%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0")
    f2, sig2 = W.scram_client_final("pencil", bare, sf)
    assert v.verify_client_final(f2) == "v=" + _b64.b64encode(sig2).decode()
    # and rejects a wrong-password proof
    bad, _ = W.scram_client_final("pENcil", bare, sf)
    assert v.verify_client_final(bad) is None


def test_scram_rejects_non_extending_server_nonce():
    """RFC 5802 §5.1: the combined nonce must START WITH and be STRICTLY
    LONGER than the client nonce — a substituted nonce severs session
    binding, and a bare echo adds no server freshness (libpq rejects
    both)."""
    import pytest as _pytest

    _, bare = W.scram_client_first("ClientNonce")
    for r in ("EvilNonce", "ClientNonce"):  # substituted / echoed
        server_first = f"r={r},s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
        with _pytest.raises(ValueError, match="nonce"):
            W.scram_client_final("pencil", bare, server_first)


def test_loopback_scram_auth_success_streams():
    """Full walsender session over the socket with a SCRAM challenge in
    the startup: same golden ack as the trust-auth resume test — auth is
    transparent to the protocol layer above it."""
    resume = "0/3910B898"
    server = LoopbackWalsender(
        resume_lsn=resume,
        frames=[_keepalive(R.parse_lsn(resume), reply=True)],
        scram_password="pencil",
    )
    server.start()
    client = W.PgWireReplicationClient(
        "127.0.0.1", server.port, password="pencil"
    )
    try:
        session, _ = R.start_replication_session(
            client, "pub", tables=["public.t"]
        )
        assert list(R.pump(session, client)) == []
    finally:
        client.close()
    server.join(timeout=10)
    assert server.auth_result == "scram-ok"
    assert [a.hex() for a in server.received_acks] == [
        _ssu_hex(R.parse_lsn(resume))
    ]


def test_loopback_scram_wrong_password_rejected():
    """A wrong password must fail the proof server-side and surface as a
    startup error client-side — never a half-authenticated session."""
    import pytest as _pytest

    server = LoopbackWalsender(
        resume_lsn=None, frames=[], scram_password="pencil"
    )
    server.start()
    with _pytest.raises(ConnectionError, match="startup error"):
        W.PgWireReplicationClient(
            "127.0.0.1", server.port, password="wrong-password"
        )
    server.join(timeout=10)
    assert server.auth_result == "scram-fail"


def test_loopback_scram_bad_server_signature_rejected():
    """Mutual auth: a server that passes the client's proof but cannot
    produce the real server signature (it never knew the verifier —
    a MITM replaying a captured challenge) must be refused by the
    CLIENT."""
    import pytest as _pytest

    server = LoopbackWalsender(
        resume_lsn=None, frames=[], scram_password="pencil",
        tamper_server_sig=True,
    )
    server.start()
    with _pytest.raises(ConnectionError, match="server signature"):
        W.PgWireReplicationClient(
            "127.0.0.1", server.port, password="pencil"
        )
    server.join(timeout=10)


def test_loopback_scram_skipped_server_final_rejected():
    """An impostor that accepts the proof but never sends
    AuthenticationSASLFinal (it cannot — it doesn't hold the verifier)
    and jumps straight to AuthenticationOk must be refused: Ok during a
    started-but-unverified SCRAM exchange proves nothing."""
    import pytest as _pytest

    server = LoopbackWalsender(
        resume_lsn=None, frames=[], scram_password="pencil",
        skip_server_final=True,
    )
    server.start()
    with _pytest.raises(ConnectionError, match="before the SCRAM server"):
        W.PgWireReplicationClient(
            "127.0.0.1", server.port, password="pencil"
        )
    server.join(timeout=10)


def test_loopback_scram_replaced_nonce_rejected():
    """RFC 5802 §5.1: the client MUST abort when the server-first nonce
    does not extend the client nonce — a substituted nonce severs the
    session binding, so no proof may be sent over it."""
    import pytest as _pytest

    server = LoopbackWalsender(
        resume_lsn=None, frames=[], scram_password="pencil",
        replace_nonce=True,
    )
    server.start()
    with _pytest.raises(ConnectionError, match="nonce"):
        W.PgWireReplicationClient(
            "127.0.0.1", server.port, password="pencil"
        )
    server.join(timeout=10)
    assert server.auth_result == "scram-nonce-replaced"


def test_loopback_scram_requires_password():
    """A SCRAM challenge with no password configured is a clear
    ConnectionError, not a NotImplementedError or a hang."""
    import pytest as _pytest

    server = LoopbackWalsender(
        resume_lsn=None, frames=[], scram_password="pencil"
    )
    server.start()
    with _pytest.raises(ConnectionError, match="no\\s+password"):
        W.PgWireReplicationClient("127.0.0.1", server.port)
