"""Windowed signed-Parquet sink — the Spark face of the reference's core
pipeline (reference internal/app/db.go:83-101, 128-212, 291-322):

reference                                   this engine
---------                                   -----------
per-window embedded DuckDB file             micro-batch DataFrame
ticker fires every windowInterval           trigger(processingTime=...)
export: COPY t TO '<t>-<ns>.db.parquet'     batch.write.parquet(<t>-<ns>), one
                                            thread per table, run concurrently
empty-table guard (count(1) LIMIT 1)        row count in the written footers
sign (keccak256 + secp256k1)                functions/signing.sign_file
upload + EventInfo row                      manifest JSONL row (cid-style
                                            content hash, ts, signature)
LSN ack / crash recovery (UploadAll)        checkpointLocation + batch-id
                                            idempotence; no startup sweep
                                            yet removes the window dir of a
                                            batch that crashed unpublished

Delivery is at-least-once with idempotent re-publish, the same boundary the
reference has (duplicate upload possible between upload and cleanup,
reference internal/app/db.go:303-314) — re-running a batch id is a no-op
because the manifest is keyed on it.

A manifest row carries no multiset digest of the window's rows: the
reference ships ECMH as a library with no consumer, and the registry's
digest entries (q_ecmh_digest, q_muhash_digest and their by-group forms)
are where the engine runs it.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

from basin_cli_spark.functions.hashing import keccak256, keccak256_file
from basin_cli_spark.functions.signing import sign_file
from basin_cli_spark.sources.cdc import materialize_table
from basin_cli_spark.sources.tables import footer

_LOG = logging.getLogger(__name__)

MANIFEST_SCHEMA = (
    "batch_id long, table string, path string, cid string, "
    "signature string, timestamp long, is_archived boolean"
)


def _written_rows(parts: list[str]) -> int:
    """Rows in the parquet ``parts`` an export wrote, from their footers.
    An unreadable footer raises, so it never passes for an empty window."""
    metas = [footer(p) for p in parts]
    if None in metas:
        raise OSError(f"cannot read the parquet footer of {parts[metas.index(None)]}")
    return sum(m.num_rows for m in metas)


class WindowedVaultSink:
    """foreachBatch target: per table, export the batch's inserts to a
    parquet window file, sign it, and append a manifest event row."""

    def __init__(
        self,
        out_dir: str,
        schemas: dict[str, list[tuple[str, str]]],
        vault: str = "ns.relation",
        private_key_hex: str | None = None,
    ) -> None:
        self.out_dir = out_dir
        self.schemas = schemas
        self.vault = vault
        self.private_key_hex = private_key_hex
        self.manifest_path = os.path.join(out_dir, "manifest.jsonl")
        self._published: set[int] | None = None
        self._torn_at: int | None = None  # byte offset of a torn last line
        os.makedirs(out_dir, exist_ok=True)

    # -- manifest ------------------------------------------------------------

    def _published_batches(self) -> set[int]:
        """Batch ids in the manifest, read from disk once per sink; the
        sink is the manifest's one writer, so `_append_manifest` keeps the
        set current.

        A crash mid-append can leave the last line without its newline,
        torn or whole.  That line is cut before the next append, and its
        batch published again, only when its batch id is readable and on
        no complete line.  One batch's rows leave in one append, so a
        sibling row on a complete line means the batch is half published,
        and this raises.  Direct publishes (id -1) are one row each.  A bad
        line anywhere else raises too."""
        if self._published is not None:
            return self._published
        done: set[int] = set()
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path, "rb") as f:
                lines = f.readlines()
            torn = lines.pop() if lines and not lines[-1].endswith(b"\n") else None
            for line in lines:
                done.add(json.loads(line)["batch_id"])
            if torn is not None:
                # json.dumps writes the row's batch id first, and the
                # delimiter after it shows the number is whole
                m = re.match(rb'\{"batch_id": (-?\d+)[,}]', torn)
                if m is None or int(m[1]) in done - {-1}:
                    raise ValueError(
                        f"{self.manifest_path}: unterminated last line of a "
                        f"batch that may be half published: {torn[:40]!r}"
                    )
                _LOG.warning("%s: cutting the torn last line of batch %s",
                             self.manifest_path, int(m[1]))
                self._torn_at = sum(map(len, lines))
        self._published = done
        return done

    def _append_manifest(self, rows: list[dict]) -> None:
        published = self._published_batches()
        with open(self.manifest_path, "a") as f:
            if self._torn_at is not None:
                f.truncate(self._torn_at)
                self._torn_at = None
            for row in rows:
                f.write(json.dumps(row) + "\n")
        published.update(row["batch_id"] for row in rows)

    # -- the sink ------------------------------------------------------------

    def process_batch(self, records: DataFrame, batch_id: int) -> None:
        """Export/sign/publish one micro-batch of parsed WAL records.
        Idempotent on batch_id (at-least-once upstream => exactly-once
        manifest).

        Tables export concurrently, one thread each, so one table's
        parquet write overlaps another's.  The threads inherit the
        stream's job group and local properties.  Manifest rows keep
        schema order, and if any table raises, the batch raises before
        a manifest row is written."""
        if batch_id in self._published_batches():
            return
        # `vaults stream` without --schemas gives a sink with no tables
        with ThreadPoolExecutor(len(self.schemas) or 1) as pool:
            # one wrap per table: each wrap clones the stream's local
            # properties, and a write sets its SQL execution id in them
            futures = [
                pool.submit(
                    inheritable_thread_target(records.sparkSession)(self._export),
                    records, table, columns, batch_id,
                )
                for table, columns in self.schemas.items()
            ]
        rows = [row for f in futures if (row := f.result()) is not None]
        if not rows:
            # record the empty batch so recovery does not replay it forever
            rows = [{"batch_id": batch_id, "table": None, "path": None,
                     "cid": None, "signature": None, "timestamp": int(time.time()),
                     "is_archived": False}]
        self._append_manifest(rows)

    def _export(
        self, records: DataFrame, table: str, columns: list[tuple[str, str]], batch_id: int
    ) -> dict | None:
        """Write one table's inserts as a parquet window and return its
        event row, or None when the window holds no insert for it."""
        tdf = materialize_table(records, table, columns)
        path = os.path.join(self.out_dir, f"{table}-{time.time_ns()}.parquet")
        tdf.write.mode("overwrite").parquet(path)
        parts = sorted(
            os.path.join(path, p) for p in os.listdir(path) if p.endswith(".parquet")
        )
        # reference's empty-export guard (db.go:155-166), read from the
        # footers just written rather than by a Spark job of its own
        if not _written_rows(parts):
            shutil.rmtree(path)
            return None
        return self._event_row(table, path, batch_id, parts)

    def publish_file(self, table: str, file: str, timestamp: int) -> dict:
        """Publish one existing parquet file as an event of ``table``
        (the reference's direct `vaults write`), outside any batch."""
        file = os.path.abspath(file)
        row = {**self._event_row(table, file, -1, [file]), "timestamp": timestamp}
        self._append_manifest([row])
        return row

    def _event_row(self, table: str, path: str, batch_id: int, parts: list[str]) -> dict:
        # content id: keccak over the part files (the parquet parts under
        # path, sorted for determinism); signature over the same digests
        # when a key is set, so each part is read and hashed once.
        # Single-part exports hash the file directly (byte-parity with the
        # reference's whole-file keccak cid, signing.go:34-56); multi-part
        # exports hash the concatenation of per-part digests so every part
        # contributes to the content id.
        part_digests = [keccak256_file(p) for p in parts]
        cid_bytes = (
            part_digests[0]
            if len(part_digests) == 1
            else keccak256(b"".join(part_digests))
        )
        cid = "0x" + cid_bytes.hex()
        signature = (
            b"".join(
                sign_file(p, self.private_key_hex, digest=d)
                for p, d in zip(parts, part_digests)
            ).hex()
            if self.private_key_hex
            else None
        )
        return {
            "batch_id": batch_id,
            "table": table,
            "path": path,
            "cid": cid,
            "signature": signature,
            "timestamp": int(time.time()),
            "is_archived": False,
        }

    def events(self, spark) -> DataFrame:
        """The vault-events metadata table (reference EventInfo,
        internal/app/models.go:41-46) as a DataFrame.

        Empty-batch marker rows (table/path/cid all null, written by
        process_batch for recovery bookkeeping) are filtered out so library
        consumers and the CLI see the same event list.

        The schema is explicit: schema inference re-reads every manifest
        file before the real scan (2x I/O on what grows to millions of
        lines), and an all-marker manifest would otherwise infer
        all-null types and break downstream filters.  Before the first
        publish there is no manifest, and the table is empty."""
        if not os.path.exists(self.manifest_path):
            return spark.createDataFrame([], MANIFEST_SCHEMA)
        return spark.read.json(self.manifest_path, schema=MANIFEST_SCHEMA).where(
            "table IS NOT NULL"
        )


def run_stream(
    spark,
    wal_dir: str,
    sink: WindowedVaultSink,
    checkpoint_dir: str,
    processing_time: str | None = None,
):
    """Wire the CDC stream into the sink.

    ``processing_time=None`` runs one availableNow drain (used by tests and
    recovery sweeps); otherwise the trigger cadence is the reference's
    ``--window-size`` (default 3600 s, reference cmd/vaults/config.go:18).
    """
    from basin_cli_spark.sources.cdc import read_wal_stream

    records = read_wal_stream(spark, wal_dir)
    writer = (
        records.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda df, bid: sink.process_batch(df, bid))
    )
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
