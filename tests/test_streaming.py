"""Streaming window-sink tests — ports of the reference's streamer
scenarios (reference internal/app/streamer_test.go:32-130, 134-201):
txs arriving across window boundaries produce per-window parquet files in
WAL order, U/D records never materialize, and recovery/replay is
idempotent."""

import json
import os

import pytest

from basin_cli_spark.streaming.window_sink import WindowedVaultSink, run_stream
from tests.conftest import SF_DIR

TX1 = {
    "commit_lsn": 957398296,
    "records": [
        {"action": "I", "xid": 1058, "lsn": "0/3910B898", "nextlsn": "",
         "timestamp": "2023-08-22 14:44:02.043586-03", "schema": "public",
         "table": "t",
         "columns": [{"name": "id", "type": "integer", "value": 200232},
                     {"name": "name", "type": "text", "value": "100"}],
         "pk": [{"name": "id", "type": "integer"}]},
        {"action": "I", "xid": 1058, "lsn": "0/3910B8D8", "nextlsn": "",
         "timestamp": "2023-08-22 14:44:02.043586-03", "schema": "public",
         "table": "t",
         "columns": [{"name": "id", "type": "integer", "value": 200242},
                     {"name": "name", "type": "text", "value": "400"}],
         "pk": [{"name": "id", "type": "integer"}]},
    ],
}
TX2 = {
    "commit_lsn": 957398300,
    "records": [
        {"action": "U", "xid": 1059, "lsn": "0/3910B918", "nextlsn": "",
         "timestamp": "2023-08-22 14:44:10.000000-03", "schema": "public",
         "table": "t",
         "columns": [{"name": "id", "type": "integer", "value": 200242},
                     {"name": "name", "type": "text", "value": "999"}],
         "pk": [{"name": "id", "type": "integer"}]},
        {"action": "I", "xid": 1059, "lsn": "0/3910B958", "nextlsn": "",
         "timestamp": "2023-08-22 14:44:10.000000-03", "schema": "public",
         "table": "t",
         "columns": [{"name": "id", "type": "integer", "value": 200233},
                     {"name": "name", "type": "text", "value": "200"}],
         "pk": [{"name": "id", "type": "integer"}]},
    ],
}
SCHEMAS = {"t": [("id", "integer"), ("name", "text")]}
PRIV = "59c6995e998f97a5a0044966f0945389dc9e86dae88c7a8412f4603b6b78690d"


def _write_tx(wal_dir, name, tx):
    os.makedirs(wal_dir, exist_ok=True)
    with open(os.path.join(wal_dir, name), "w") as f:
        f.write(json.dumps(tx) + "\n")


def _drain(spark, wal_dir, sink, ckpt):
    q = run_stream(spark, wal_dir, sink, ckpt)
    assert q.awaitTermination(120), "stream did not terminate within 120s"


def _manifest(sink):
    with open(sink.manifest_path) as f:
        return [json.loads(line) for line in f]


def _window_rows(spark, path):
    df = spark.read.parquet(path)
    return [(r.id, r.name) for r in df.orderBy("id").collect()]


@pytest.fixture
def dirs(tmp_path):
    return str(tmp_path / "wal"), str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_tx_window_tx_close(spark, dirs):
    """T1, W, T2, C: each window exports its own parquet file."""
    wal_dir, out_dir, ckpt = dirs
    sink = WindowedVaultSink(out_dir, SCHEMAS, private_key_hex=PRIV)

    _write_tx(wal_dir, "tx1.jsonl", TX1)
    _drain(spark, wal_dir, sink, ckpt)
    _write_tx(wal_dir, "tx2.jsonl", TX2)
    _drain(spark, wal_dir, sink, ckpt)

    published = [m for m in _manifest(sink) if m["table"] == "t"]
    assert len(published) == 2
    w1, w2 = published
    assert sorted(_window_rows(spark, w1["path"])) == [(200232, "100"), (200242, "400")]
    # U record from tx2 is filtered — only the insert materializes
    assert _window_rows(spark, w2["path"]) == [(200233, "200")]
    for m in published:
        assert m["cid"].startswith("0x") and len(m["signature"]) >= 130


def test_txs_one_window(spark, dirs):
    """T1, T2, W, C: both txs land in a single window file."""
    wal_dir, out_dir, ckpt = dirs
    sink = WindowedVaultSink(out_dir, SCHEMAS, private_key_hex=PRIV)
    _write_tx(wal_dir, "tx1.jsonl", TX1)
    _write_tx(wal_dir, "tx2.jsonl", TX2)
    _drain(spark, wal_dir, sink, ckpt)

    published = [m for m in _manifest(sink) if m["table"] == "t"]
    assert len(published) == 1
    assert sorted(_window_rows(spark, published[0]["path"])) == [
        (200232, "100"), (200233, "200"), (200242, "400"),
    ]


def test_recovery_idempotent(spark, dirs):
    """Re-draining with the same checkpoint publishes nothing new
    (at-least-once upstream, exactly-once manifest)."""
    wal_dir, out_dir, ckpt = dirs
    sink = WindowedVaultSink(out_dir, SCHEMAS, private_key_hex=PRIV)
    _write_tx(wal_dir, "tx1.jsonl", TX1)
    _drain(spark, wal_dir, sink, ckpt)
    before = _manifest(sink)
    _drain(spark, wal_dir, sink, ckpt)  # no new data, same checkpoint
    assert _manifest(sink) == before
    # direct re-publish of an already-published batch id is a no-op
    from basin_cli_spark.sources.cdc import read_wal_batch

    sink.process_batch(read_wal_batch(spark, wal_dir), batch_id=0)
    assert _manifest(sink) == before


def test_events_metadata_surface(spark, dirs):
    wal_dir, out_dir, ckpt = dirs
    sink = WindowedVaultSink(out_dir, SCHEMAS, private_key_hex=PRIV)
    _write_tx(wal_dir, "tx1.jsonl", TX1)
    _drain(spark, wal_dir, sink, ckpt)
    ev = sink.events(spark)
    rows = ev.where(ev.table == "t").collect()
    assert len(rows) == 1 and rows[0].cid.startswith("0x")


def test_events_before_first_publish_is_empty(spark, dirs):
    """A new vault has no manifest yet: events() is an empty table with
    the manifest schema, not a missing-path error."""
    _, out_dir, _ = dirs
    sink = WindowedVaultSink(out_dir, SCHEMAS)
    ev = sink.events(spark)
    assert ev.collect() == []
    assert ev.columns == [
        "batch_id", "table", "path", "cid", "signature", "timestamp",
        "is_archived",
    ]


TWO_TABLES = {"t": [("id", "integer"), ("name", "text")],
              "u": [("id", "integer"), ("name", "text")]}


def _tx(lsn, *records):
    """A wal2json transaction of (action, table, id, name) records."""
    return {"commit_lsn": lsn, "records": [
        {"action": action, "xid": lsn, "lsn": f"0/{lsn:X}", "nextlsn": "",
         "timestamp": "2023-08-22 14:44:02.043586-03", "schema": "public",
         "table": table,
         "columns": [{"name": "id", "type": "integer", "value": rid},
                     {"name": "name", "type": "text", "value": name}],
         "pk": [{"name": "id", "type": "integer"}]}
        for action, table, rid, name in records
    ]}


def _publish(spark, sink, wal_dir, batch_id, tx):
    from basin_cli_spark.sources.cdc import read_wal_batch

    name = f"tx{batch_id}.jsonl"
    _write_tx(wal_dir, name, tx)
    sink.process_batch(read_wal_batch(spark, os.path.join(wal_dir, name)), batch_id=batch_id)


def test_empty_table_guard(spark, dirs):
    """A table whose window holds only U/D records publishes nothing: no
    parquet directory and no manifest row.  A window with no insert at
    all writes only the empty-batch marker."""
    wal_dir, out_dir, _ = dirs
    sink = WindowedVaultSink(out_dir, TWO_TABLES, private_key_hex=PRIV)

    _publish(spark, sink, wal_dir, 0, _tx(10, ("I", "t", 1, "a"), ("U", "u", 2, "b")))
    assert [(m["batch_id"], m["table"]) for m in _manifest(sink)] == [(0, "t")]
    assert not [d for d in os.listdir(out_dir) if d.startswith("u-")]

    _publish(spark, sink, wal_dir, 1, _tx(11, ("U", "t", 1, "c"), ("D", "u", 2, "b")))
    marker = _manifest(sink)[1:]
    assert [(m["batch_id"], m["table"], m["path"], m["cid"]) for m in marker] == [
        (1, None, None, None)
    ]
    published = {os.path.basename(m["path"]) for m in _manifest(sink) if m["path"]}
    assert {d for d in os.listdir(out_dir) if d != "manifest.jsonl"} == published


def test_sink_without_schemas_marks_batches_empty(spark, dirs):
    """`vaults stream` without --schemas gives a sink with no tables:
    each batch still gets its empty-batch marker."""
    wal_dir, out_dir, _ = dirs
    sink = WindowedVaultSink(out_dir, {})
    _publish(spark, sink, wal_dir, 0, _tx(10, ("I", "t", 1, "a")))
    assert [(m["batch_id"], m["table"]) for m in _manifest(sink)] == [(0, None)]


def test_window_parts_hashed_once(spark, dirs, monkeypatch):
    """Publishing a window sends each part file through keccak exactly
    once (the cid digest is the one signed), and every 65-byte signature
    chunk verifies against its part's keccak256 under SECP256K1 with the
    ``cryptography`` package, independently of the engine's signer."""
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import ec, utils

    import basin_cli_spark.functions.signing as signing
    import basin_cli_spark.streaming.window_sink as window_sink
    from basin_cli_spark.functions.hashing import keccak256, keccak256_file

    hashed = []

    def counted(path, *args, **kwargs):
        hashed.append(os.path.getsize(path))
        return keccak256_file(path, *args, **kwargs)

    monkeypatch.setattr(window_sink, "keccak256_file", counted)
    monkeypatch.setattr(signing, "keccak256_file", counted)
    wal_dir, out_dir, _ = dirs
    sink = WindowedVaultSink(out_dir, TWO_TABLES, private_key_hex=PRIV)
    _publish(spark, sink, wal_dir, 0, _tx(
        10, ("I", "t", 1, "a"), ("I", "t", 2, "b"), ("I", "u", 3, "c")))

    published = _manifest(sink)
    assert sorted(m["table"] for m in published) == ["t", "u"]
    parts = {
        m["cid"]: sorted(os.path.join(m["path"], p) for p in os.listdir(m["path"])
                         if p.endswith(".parquet"))
        for m in published
    }
    assert sum(hashed) == sum(os.path.getsize(p) for ps in parts.values() for p in ps)

    pub = ec.derive_private_key(int(PRIV, 16), ec.SECP256K1()).public_key()
    for m in published:
        sig = bytes.fromhex(m["signature"])
        assert len(sig) == 65 * len(parts[m["cid"]])
        for i, part in enumerate(parts[m["cid"]]):
            with open(part, "rb") as f:
                digest = keccak256(f.read())
            chunk = sig[65 * i: 65 * (i + 1)]
            der = utils.encode_dss_signature(int.from_bytes(chunk[:32], "big"),
                                             int.from_bytes(chunk[32:64], "big"))
            pub.verify(der, digest, ec.ECDSA(utils.Prehashed(hashes.SHA256())))


def _cid(path):
    """The manifest cid recomputed from a window's part files."""
    from basin_cli_spark.functions.hashing import keccak256, keccak256_file

    digests = [keccak256_file(os.path.join(path, p))
               for p in sorted(os.listdir(path)) if p.endswith(".parquet")]
    return "0x" + (digests[0] if len(digests) == 1 else keccak256(b"".join(digests))).hex()


def _two_table_tx(i):
    return _tx(10 + i, ("I", "t", 2 * i, "a"), ("I", "u", 2 * i + 1, "b"))


def test_manifest_read_once_per_sink(spark, dirs, monkeypatch):
    """A sink reads the manifest from disk once and then serves its
    published set from memory, however many batches it publishes."""
    import builtins

    import basin_cli_spark.streaming.window_sink as window_sink

    wal_dir, out_dir, _ = dirs
    _publish(spark, WindowedVaultSink(out_dir, TWO_TABLES), wal_dir, 0, _two_table_tx(0))
    reads = []

    def counting_open(path, mode="r", *args, **kwargs):
        if path == os.path.join(out_dir, "manifest.jsonl") and "r" in mode:
            reads.append(mode)
        return builtins.open(path, mode, *args, **kwargs)

    monkeypatch.setattr(window_sink, "open", counting_open, raising=False)
    sink = WindowedVaultSink(out_dir, TWO_TABLES)
    for b in (1, 2, 3, 1):  # the repeated id is a no-op
        _publish(spark, sink, wal_dir, b, _two_table_tx(b))
    assert len(reads) <= 1
    assert [(m["batch_id"], m["table"]) for m in _manifest(sink)] == [
        (b, t) for b in range(4) for t in ("t", "u")
    ]


@pytest.mark.parametrize("keep", [0.5, 1.0], ids=["half", "no_newline"])
def test_torn_last_line_skipped_on_restart(spark, dirs, caplog, keep):
    """A crash mid-append leaves the first row of a batch at the end of
    the manifest without its newline, torn or whole.  A restarted sink
    cuts it with one warning, publishes both tables of that batch again,
    and leaves a manifest whose every line parses."""
    import logging

    wal_dir, out_dir, _ = dirs
    sink = WindowedVaultSink(out_dir, TWO_TABLES, private_key_hex=PRIV)
    _publish(spark, sink, wal_dir, 0, _two_table_tx(0))
    line = json.dumps(_manifest(sink)[0] | {"batch_id": 1})
    with open(sink.manifest_path, "a") as f:
        f.write(line[: int(len(line) * keep)])

    restarted = WindowedVaultSink(out_dir, TWO_TABLES, private_key_hex=PRIV)
    with caplog.at_level(logging.WARNING, logger="basin_cli_spark.streaming.window_sink"):
        _publish(spark, restarted, wal_dir, 1, _two_table_tx(1))
        _publish(spark, restarted, wal_dir, 2, _two_table_tx(2))
    assert sum("torn" in r.getMessage() for r in caplog.records) == 1
    published = _manifest(restarted)
    assert [(m["batch_id"], m["table"]) for m in published] == [
        (b, t) for b in range(3) for t in ("t", "u")
    ]
    assert all(m["cid"] == _cid(m["path"]) for m in published)


def test_torn_middle_line_raises(dirs):
    """Only the last line can be torn by a crash; damage anywhere else
    is not skipped."""
    _, out_dir, _ = dirs
    os.makedirs(out_dir)
    with open(os.path.join(out_dir, "manifest.jsonl"), "w") as f:
        f.write('{"batch_id": 0}\n{"batch_id": \n{"batch_id": 2}\n')
    with pytest.raises(ValueError):
        WindowedVaultSink(out_dir, TWO_TABLES)._published_batches()


@pytest.mark.parametrize("tail, published", [
    ('{"batch_id": 1, "table": "t"', {-1, 0}),
    ('{"batch_id": 1}', {-1, 0}),
    ('{"batch_id": -1, "ta', {-1, 0}),
    ('{"batch_id": 0, "table": "u"', None),  # its sibling row is whole
    ('{"batch_id": 1', None),  # the id may be cut short
    ('{"batch_', None),
])
def test_unterminated_last_line(dirs, tail, published):
    """An unterminated last line is cut only when its batch id reads
    whole and no complete line holds that batch; otherwise the batch may
    be half published and the reader raises."""
    _, out_dir, _ = dirs
    os.makedirs(out_dir)
    path = os.path.join(out_dir, "manifest.jsonl")
    head = '{"batch_id": -1, "table": "t"}\n{"batch_id": 0, "table": "t"}\n'
    with open(path, "w") as f:
        f.write(head + tail)
    sink = WindowedVaultSink(out_dir, TWO_TABLES)
    if published is None:
        with pytest.raises(ValueError, match="half published"):
            sink._published_batches()
        with open(path) as f:
            assert f.read() == head + tail
    else:
        assert sink._published_batches() == published
        sink._append_manifest([{"batch_id": 1, "table": "t"}])
        with open(path) as f:
            assert f.read() == head + '{"batch_id": 1, "table": "t"}\n'


def test_torn_second_row_of_batch_raises_on_restart(spark, dirs):
    """A crash that leaves one table's row whole and its sibling's torn
    must not pass for a published window: replaying that batch raises on
    every restart, and the manifest stays as the crash left it."""
    wal_dir, out_dir, _ = dirs
    _publish(spark, WindowedVaultSink(out_dir, TWO_TABLES), wal_dir, 0, _two_table_tx(0))
    path = os.path.join(out_dir, "manifest.jsonl")
    with open(path) as f:
        t_row, u_row = f.readlines()
    with open(path, "w") as f:
        f.write(t_row + u_row[: len(u_row) // 2])
    for _ in range(2):
        with pytest.raises(ValueError, match="half published"):
            _publish(spark, WindowedVaultSink(out_dir, TWO_TABLES), wal_dir, 0, _two_table_tx(0))
    with open(path) as f:
        assert f.read() == t_row + u_row[: len(u_row) // 2]


def test_window_jobs_carry_stream_job_group(spark, dirs):
    """The per-table exports run on threads of their own, yet every job
    they submit carries the streaming query's runId as its job group,
    and a two-table window still runs exactly 2 jobs."""
    import math
    import time

    wal_dir, out_dir, ckpt = dirs
    sink = WindowedVaultSink(out_dir, TWO_TABLES, private_key_hex=PRIV)
    spans = []
    process = sink.process_batch

    def timed(df, batch_id):
        start = time.time()
        process(df, batch_id)
        spans.append((math.floor(start * 1000), math.ceil(time.time() * 1000)))

    sink.process_batch = timed
    sc = spark.sparkContext._jsc.sc()
    for i in range(2):
        _write_tx(wal_dir, f"tx{i}.jsonl", _two_table_tx(i))
        q = run_stream(spark, wal_dir, sink, ckpt)
        assert q.awaitTermination(120), "stream did not terminate within 120s"
        sc.listenerBus().waitUntilEmpty()
        start, end = spans[-1]
        jobs = sc.statusStore().jobsList(None)
        groups = []
        for k in range(jobs.size()):
            job = jobs.apply(k)
            sub = job.submissionTime()
            if sub.isDefined() and start <= sub.get().getTime() <= end:
                group = job.jobGroup()
                groups.append(group.get() if group.isDefined() else None)
        assert groups == [str(q.runId)] * 2
    assert [(m["batch_id"], m["table"]) for m in _manifest(sink)] == [
        (0, "t"), (0, "u"), (1, "t"), (1, "u")]


def test_failed_table_write_replays_once(spark, dirs, monkeypatch):
    """One table's write fails on its first attempt: the batch fails
    and writes no manifest row.  Restarted from the same checkpoint,
    every window is published exactly once, in schema order, with cids
    that recompute from the part files."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    wal_dir, out_dir, ckpt = dirs
    write, failed = DataFrameWriter.parquet, []

    def flaky(self, path, *args, **kwargs):
        if os.path.basename(path).startswith("u-") and not failed:
            failed.append(path)
            raise OSError("injected write failure")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky)
    _write_tx(wal_dir, "tx0.jsonl", _two_table_tx(0))
    with pytest.raises(StreamingQueryException, match="injected write failure"):
        _drain(spark, wal_dir, WindowedVaultSink(out_dir, TWO_TABLES, private_key_hex=PRIV), ckpt)
    assert failed and not os.path.exists(os.path.join(out_dir, "manifest.jsonl"))

    sink = WindowedVaultSink(out_dir, TWO_TABLES, private_key_hex=PRIV)
    _drain(spark, wal_dir, sink, ckpt)
    _write_tx(wal_dir, "tx1.jsonl", _two_table_tx(1))
    _drain(spark, wal_dir, sink, ckpt)
    published = _manifest(sink)
    assert [(m["batch_id"], m["table"]) for m in published] == [
        (0, "t"), (0, "u"), (1, "t"), (1, "u")]
    assert all(m["cid"] == _cid(m["path"]) for m in published)
    assert sorted(_window_rows(spark, published[1]["path"])) == [(1, "b")]


def test_cdc_apply_stream_state_survives_restarts(spark, tmp_path):
    """cdc_apply_stream keeps per-key state across restarts on one
    checkpoint (the reference's confirmed_flush_lsn durability,
    reference pkg/pgrepl/conn.go:47-56): drain TX1, restart and drain
    TX2's update of key 200242, then restart and drain a re-delivered
    copy of TX1.  The key keeps TX2's commit LSN and name; with its state
    lost, the older TX1 row would win again."""
    from basin_cli_spark.sources.cdc import read_wal_stream
    from basin_cli_spark.streaming.stateful import cdc_apply_stream

    wal_dir = str(tmp_path / "wal")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        # foreachBatch (not memory sink): the memory sink cannot resume
        # from a checkpoint, and resumption is exactly what's under test.
        got: dict[int, tuple] = {}

        def collect(df, _bid):
            for r in df.collect():
                got[int(r.key)] = (r.commit_lsn, dict(json.loads(r.columns_json))["name"])

        q = (
            cdc_apply_stream(read_wal_stream(spark, wal_dir), "t", "id")
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(collect)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not terminate within 120s"
        return got

    _write_tx(wal_dir, "b1.jsonl", TX1)
    assert drain()[200242] == (TX1["commit_lsn"], "400")

    _write_tx(wal_dir, "b2.jsonl", TX2)
    assert drain()[200242] == (TX2["commit_lsn"], "999")

    _write_tx(wal_dir, "b3.jsonl", TX1)
    assert drain() == {
        200232: (TX1["commit_lsn"], "100"),
        200242: (TX2["commit_lsn"], "999"),
    }


def test_watermark_drops_late_data(spark, tmp_path):
    """Event-time watermark semantics (SURVEY.md §2.B streaming): in append
    mode a 10-min watermark finalizes windows as event time advances; a
    record arriving after its window's watermark has passed is dropped,
    never re-opening the emitted window."""
    import json as _json

    from pyspark.sql import functions as F

    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    emitted = []

    def drain():
        stream = (
            spark.readStream.schema("ts timestamp, k string")
            .json(str(src))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda df, _b: emitted.extend(
                    (str(r["w"]["start"]), r["n"]) for r in df.collect()
                )
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not terminate within 120s"

    def write(name, *rows):
        with open(src / name, "w") as f:
            for ts, k in rows:
                f.write(_json.dumps({"ts": ts, "k": k}) + "\n")

    # batch 1: two rows in window [10:00, 10:10); one at 11:00 pushes the
    # watermark to 10:50, finalizing the first window.
    write("b1.jsonl",
          ("2024-01-01 10:00:00", "a"),
          ("2024-01-01 10:05:00", "b"),
          ("2024-01-01 11:00:00", "c"))
    drain()
    assert ("2024-01-01 10:00:00", 2) in emitted

    # batch 2: a late row for the finalized window (dropped) plus a row at
    # 12:00 advancing the watermark past 11:10, finalizing [11:00, 11:10).
    write("b2.jsonl",
          ("2024-01-01 10:02:00", "late"),
          ("2024-01-01 12:00:00", "d"))
    drain()
    assert ("2024-01-01 11:00:00", 1) in emitted  # late row NOT counted
    assert sum(n for s, n in emitted if s == "2024-01-01 10:00:00") == 2


def test_retrieve_by_cid_and_vault_listing(spark, dirs):
    """A13/A15: manifest cid resolves back to the exact window rows; vault
    listing aggregates the event log."""
    from basin_cli_spark.operators.events import list_vaults, retrieve

    wal_dir, out_dir, ckpt = dirs
    sink = WindowedVaultSink(out_dir, SCHEMAS, private_key_hex=PRIV)
    _write_tx(wal_dir, "tx1.jsonl", TX1)
    _drain(spark, wal_dir, sink, ckpt)

    ev = sink.events(spark).withColumnRenamed("table", "vault")
    published = [m for m in _manifest(sink) if m["table"] == "t"]
    got = retrieve(spark, ev, published[0]["cid"])
    assert sorted((r.id, r.name) for r in got.collect()) == [
        (200232, "100"), (200242, "400"),
    ]
    with pytest.raises(KeyError):
        retrieve(spark, ev, "0xdeadbeef")

    vaults = {r["vault"]: r["n_events"] for r in list_vaults(ev).collect()}
    assert vaults["t"] == 1



def test_quality_gate_state_is_o_gates_across_batches(spark, tmp_path):
    """The q_stream_quality_gate docstring claims state is O(gates), not
    O(documents).  Pin it functionally: shard the sf0.001 documents into
    4 files, drain the same plan shape with maxFilesPerTrigger=1 (4
    micro-batches, so state survives batch boundaries), and assert the
    final progress reports exactly one state row per gate.  The measured
    10x row is in SCALE.md (scripts/stream_scale_smoke.py)."""
    import pyspark.sql.functions as F

    from basin_cli_spark.operators.text import quality_score

    shard_dir = str(tmp_path / "docs")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .repartition(4)
        .write.parquet(shard_dir)
    )
    docs = (
        spark.readStream.schema(spark.read.parquet(shard_dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(shard_dir)
    )
    agg = quality_score(docs).groupBy("gate").agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("qgate_state_pin")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate within 120s"
    progresses = [p for p in q.recentProgress if p and p.get("stateOperators")]
    assert len(progresses) >= 2, "expected a multi-batch drain"
    last = progresses[-1]["stateOperators"]
    n_gates = spark.table("qgate_state_pin").count()
    assert sum(op["numRowsTotal"] for op in last) == n_gates
    assert n_gates <= 3


def _stream_scale_smoke():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "stream_scale_smoke",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "stream_scale_smoke.py"),
    )
    sm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sm)
    return sm


@pytest.fixture(scope="module")
def timed_docs(spark, tmp_path_factory):
    """The sf0.001 documents in 8 time-ordered shards
    (stream_scale_smoke._shard_documents_timed)."""
    timed_dir = str(tmp_path_factory.mktemp("timed") / "timed_docs")
    sf0001 = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    _stream_scale_smoke()._shard_documents_timed(spark, sf0001, timed_dir)
    return timed_dir


def test_near_dedup_watermark_expires_state(spark, timed_docs):
    """The windowed near-dedup's state must be bounded by the ACTIVE
    event-time windows, not the corpus — i.e. the watermark actually
    evicts finalized windows as it advances.  Uses the smoke script's own
    plan and timed shards (event time spread across 8 files, replayed
    oldest-first) so the pinned shape is the measured shape; the measured
    10x rows live in SCALE.md (scripts/stream_scale_smoke.py)."""
    sm = _stream_scale_smoke()
    timed_dir = timed_docs
    m = sm._drain_measured(
        sm.near_dedup_windowed_plan(sm._docs_stream(spark, timed_dir)),
        "append", spark,
    )
    assert m["batches"] >= 2, "expected a multi-batch drain"
    assert m["rows_out"] > 0, "watermark never finalized a window"
    total_groups = m["rows_out"] + m["state_rows"]
    # no-expiry (complete-mode) state would be total_groups; the windowed
    # plan's peak must plateau well below it (measured ~0.28x at sf0.001,
    # pinned with slack)
    assert max(m["state_series"]) <= 0.6 * total_groups, m
    # the trailing flush batch applies the final watermark: state drops
    assert m["state_series"][-1] < max(m["state_series"]), m


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def test_drain_restores_no_data_batch_conf(spark):
    """streaming_queries._drain disables the watermark-finalize
    no-data micro-batch for the bounded drain (it cannot change the
    sink) and must restore the session conf afterwards — including when
    the caller had overridden it.  The checkpoint manager key, which has
    no default, stays unset when it was unset and comes back when it
    was set."""
    from pyspark.sql import functions as F

    from basin_cli_spark.queries.streaming_queries import _drain

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    for preset, manager in (("true", None), ("false", _FC_MANAGER)):
        spark.conf.set(key, preset)
        if manager is not None:
            spark.conf.set(_MANAGER_KEY, manager)
        stream = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "1")
            .load()
            .select(F.col("value"))
        )
        try:
            out = _drain(stream, "append")
            assert spark.conf.get(key) == preset
            assert spark.conf.get(_MANAGER_KEY, None) == manager
        finally:
            spark.conf.unset(_MANAGER_KEY)
        out.count()  # sink table is readable
    spark.conf.set(key, "true")


def _rate_stream(spark):
    from pyspark.sql import functions as F

    return spark.readStream.format("rate").option("rowsPerSecond", "1").load().select(F.col("value"))


def test_concurrent_drains_restore_no_data_batch_conf(spark, monkeypatch):
    """Two drains from two threads leave the session conf at its original
    value, when the second starts while the first is still draining and
    ends after it: each drain restores the conf right after its own
    start(), not after its drain."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.streaming.query import StreamingQuery

    from basin_cli_spark.queries.streaming_queries import _drain

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "true")
    first_draining, second_draining, first_done = (threading.Event() for _ in range(3))
    role = threading.local()
    real_await = StreamingQuery.awaitTermination

    def await_termination(self, timeout=None):
        out = real_await(self, timeout)
        if role.name == "first":
            first_draining.set()
            assert second_draining.wait(120)
        else:
            second_draining.set()
            assert first_done.wait(120)
        return out

    def drain(name):
        role.name = name
        out = _drain(_rate_stream(spark), "append")
        if name == "first":
            first_done.set()
        return out

    monkeypatch.setattr(StreamingQuery, "awaitTermination", await_termination)
    with ThreadPoolExecutor(2) as pool:
        first = pool.submit(drain, "first")
        assert first_draining.wait(120)
        second = pool.submit(drain, "second")
        outs = [first.result(), second.result()]
    assert spark.conf.get(key) == "true"
    assert spark.conf.get(_MANAGER_KEY, None) is None
    for out in outs:
        out.count()


def test_drain_restores_conf_when_start_raises(spark):
    from pyspark.errors import AnalysisException

    from basin_cli_spark.queries.streaming_queries import _drain

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "true")
    for manager in (None, _FC_MANAGER):
        if manager is not None:
            spark.conf.set(_MANAGER_KEY, manager)
        try:
            with pytest.raises(AnalysisException):
                _drain(_rate_stream(spark), "complete")  # complete mode needs an aggregation
            assert spark.conf.get(key) == "true"
            assert spark.conf.get(_MANAGER_KEY, None) == manager
        finally:
            spark.conf.unset(_MANAGER_KEY)


def test_drain_restores_confs_and_records_sized_partitions(spark, sf_dir, monkeypatch):
    """A registry drain sizes its shuffle partitions to its input (the
    0.2 MB sf0.01 events file gives 1) for its own query only: the
    session's confs are back after the call, and the query's offset log
    records the sized count."""
    from basin_cli_spark.queries import streaming_queries as SQ

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.streaming.noDataMicroBatches.enabled", _MANAGER_KEY)
    before = {k: spark.conf.get(k, None) for k in keys}
    assert int(before["spark.sql.shuffle.partitions"]) > 1
    assert before[_MANAGER_KEY] is None
    # the drain removes its checkpoint: read the offset log just before
    metas = []
    real_rmtree = SQ.shutil.rmtree

    def rmtree(path, *args, **kwargs):
        with open(os.path.join(path, "offsets", "0")) as f:
            metas.append(json.loads(f.read().splitlines()[1]))
        real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(SQ.shutil, "rmtree", rmtree)
    ev = SQ._read_events_stream(spark, sf)
    out = SQ._drain(ev.groupBy("event_type").count(), "complete",
                    os.path.join(sf, "events.parquet"))
    assert {k: spark.conf.get(k, None) for k in keys} == before
    assert out.count() > 0
    (meta,) = metas
    assert meta["conf"]["spark.sql.shuffle.partitions"] == "1"


def test_drains_leave_no_checkpoint_behind(spark, sf_dir, tmp_path, monkeypatch):
    """A registry drain checkpoints to a temporary directory of its own
    and removes it once the query ends: with the session's
    checkpointLocation set, nothing lands there, and the drain's own
    directory is gone too."""
    from basin_cli_spark.queries import streaming_queries as SQ

    made = []
    real_mkdtemp = SQ.tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(SQ.tempfile, "mkdtemp", mkdtemp)
    location = tmp_path / "session_ckpt"
    location.mkdir()
    key = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(key, str(location))
    try:
        for fn in (SQ.q_stream_dedup, SQ.q_stream_tumbling_agg):
            assert fn(spark, sf_dir).count() > 0
    finally:
        spark.conf.unset(key)
    assert os.listdir(location) == []
    assert len(made) == 2 and not any(map(os.path.exists, made)), made


def test_drain_partitions_follow_decoded_bytes(spark, tmp_path):
    """ceil(decoded bytes / advisory size) within [1, shuffle.partitions]:
    a parquet source counts its uncompressed row-group bytes, any other
    file its size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from basin_cli_spark.queries import streaming_queries as SQ

    path = str(tmp_path / "z.parquet")
    pq.write_table(pa.table({"a": [0] * 100_000}), path, use_dictionary=False)
    decoded = pq.read_metadata(path).row_group(0).total_byte_size
    assert SQ._decoded_bytes(path) == decoded > 10 * os.path.getsize(path)
    wal = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures", "wal.jsonl")
    assert SQ._decoded_bytes(wal) == os.path.getsize(wal)
    advisory = 16 << 20  # get_spark's advisoryPartitionSizeInBytes
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sized = [SQ._drain_partitions(spark, n) for n in (0, advisory, advisory + 1, 100 * advisory)]
    assert sized == [1, 1, 2, cap]


def test_drain_query_session_uses_filesystem_checkpoint_manager(spark, sf_dir, monkeypatch, caplog):
    """The drain's query, started on its own temporary checkpoint, keeps
    the FileSystem checkpoint manager in its cloned session, while the
    session itself is left without one.  One structured record names
    every override."""
    import logging

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from basin_cli_spark.queries import streaming_queries as SQ

    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    ev = SQ._read_events_stream(spark, sf_dir)
    with caplog.at_level(logging.INFO, logger=SQ.__name__):
        assert SQ._drain(ev.groupBy("event_type").count(), "complete").count() > 0
    (q,) = started
    query_conf = q._jsq.streamingQuery().lastExecution().sparkSession().conf()
    assert query_conf.get(_MANAGER_KEY) == SQ._FS_CHECKPOINT_MANAGER
    assert spark.conf.get(_MANAGER_KEY, None) is None
    (rec,) = [r for r in caplog.records if getattr(r, "decision", None) == "drain_confs"]
    fields = (rec.input_bytes, rec.shuffle_partitions, rec.checkpoint_manager, rec.finalize_batch)
    assert fields == (0, 1, SQ._FS_CHECKPOINT_MANAGER, False)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_drain_keeps_finalize_batch_for_append_window_aggregation(spark, timed_docs, monkeypatch):
    """An append-mode windowed aggregation emits a window only once the
    watermark passes its end.  Through _drain it keeps every window that
    the final watermark (max event time - 10 minutes) closes, with the
    rows its batch form gives; with the finalize batch skipped, the
    windows the last data batch closes are lost."""
    from pyspark.sql import functions as F

    from basin_cli_spark.queries import streaming_queries as SQ

    sm = _stream_scale_smoke()
    batch = sm.near_dedup_windowed_plan(spark.read.parquet(timed_docs))
    max_ts = spark.read.parquet(timed_docs).agg(F.max("ts")).first()[0]
    closed = F.col("w_start") + F.expr("INTERVAL 40 MINUTES") <= F.lit(max_ts)
    expected = _rows(batch.where(closed))
    assert 0 < len(expected) < batch.count()

    stream = sm.near_dedup_windowed_plan(sm._docs_stream(spark, timed_docs))
    assert SQ._finalize_batch_needed(stream, "append")
    assert _rows(SQ._drain(stream, "append")) == expected

    monkeypatch.setattr(SQ, "_finalize_batch_needed", lambda df, mode: False)
    stream = sm.near_dedup_windowed_plan(sm._docs_stream(spark, timed_docs))
    assert set(_rows(SQ._drain(stream, "append"))) < set(expected)


def _count_until_quiet(key, pdfs, state):
    """Count a key's rows; emit the count once the watermark passes 30
    minutes after the key's last row (an event-time timeout)."""
    import pandas as pd

    if state.hasTimedOut:
        (n,) = state.get
        state.remove()
        yield pd.DataFrame({"key": [key[0]], "n": [n]})
        return
    n, last_ms = (state.get[0] if state.exists else 0), 0
    for pdf in pdfs:
        n += len(pdf)
        last_ms = max(last_ms, int(pdf["ts"].max().value // 1_000_000))
    state.update((n,))
    state.setTimeoutTimestamp(last_ms + 30 * 60 * 1000)


def test_drain_keeps_finalize_batch_for_event_time_timeout(spark, tmp_path, monkeypatch):
    """applyInPandasWithState with GroupStateTimeout.EventTimeTimeout
    emits a key only when its timeout fires, which in a one-file drain
    happens in the finalize batch: keys whose last row is 30 minutes
    before the final watermark (max ts - 10 minutes) come out with their
    batch-form counts, and with the finalize batch skipped none does."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from basin_cli_spark.queries import streaming_queries as SQ

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0), ("a", t0 + dt.timedelta(minutes=1)), ("b", t0 + dt.timedelta(minutes=5)),
            ("c", t0 + dt.timedelta(hours=2))]
    src = str(tmp_path / "ticks")
    spark.createDataFrame(rows, "key string, ts timestamp").coalesce(1).write.parquet(src)
    data = spark.read.parquet(src)
    final_wm = data.agg(F.max("ts")).first()[0] - dt.timedelta(minutes=10)
    expected = _rows(
        data.groupBy("key").agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("last"))
        .where(F.col("last") + F.expr("INTERVAL 30 MINUTES") < F.lit(final_wm))
        .select("key", "n")
    )
    assert expected == [("a", 2), ("b", 1)]

    def plan():
        return (
            spark.readStream.schema(data.schema).parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy("key")
            .applyInPandasWithState(
                _count_until_quiet, outputStructType="key string, n long",
                stateStructType="n long", outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    assert SQ._finalize_batch_needed(plan(), "append")
    assert _rows(SQ._drain(plan(), "append")) == expected
    monkeypatch.setattr(SQ, "_finalize_batch_needed", lambda df, mode: False)
    assert _rows(SQ._drain(plan(), "append")) == []


def test_registry_drains_skip_finalize_batch(spark, sf_dir, monkeypatch):
    """None of the 11 q_stream_* drains holds an operator that waits for
    the watermark, so each keeps skipping the no-data batch.  The plans
    are built and checked, not run."""
    from basin_cli_spark.queries import QUERIES
    from basin_cli_spark.queries import streaming_queries as SQ

    class Built(Exception):
        pass

    needed = {}

    def check(df, mode, *sources):
        needed[name] = SQ._finalize_batch_needed(df, mode)
        raise Built

    monkeypatch.setattr(SQ, "_drain", check)
    names = [n for n in QUERIES if n.startswith("q_stream_")]
    for name in names:
        with pytest.raises(Built):
            QUERIES[name].fn(spark, sf_dir)
    assert len(names) == 11
    assert needed == dict.fromkeys(names, False)
