"""Correctness gates.  All run outside the timed regions.

* ``rows_digest``: an order-independent digest of a row multiset, used to
  compare a published window with its ledger entry and a retrieved
  window with what was published.
* ``part_digests`` and ``cid_from`` recompute a window's content id from
  its part files.
* ``verify_signature`` checks one 65-byte r||s||v chunk with the
  ``cryptography`` package's SECP256K1 ECDSA, independently of the
  engine's own signer.
* ``keccak_known_answers`` checks the engine's keccak256 against
  published vectors before any cid is trusted.
* ``Collected`` holds a collected registry result in the shape the
  DuckDB oracle comparison (``basin_cli_spark.oracle.compare``) reads.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

from pyspark.sql import Row

KECCAK_VECTORS = {
    b"": "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470",
    b"abc": "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45",
}


def canon(v):
    """A hashable, engine-neutral form of one cell (pyarrow, Spark Row or
    generator values all map to the same form)."""
    if v is None:
        return None
    if isinstance(v, Row):
        return tuple(sorted((k, canon(x)) for k, x in v.asDict().items()))
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("bytes", bytes(v).hex())
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return canon(v.tolist())
    return v


def rows_digest(rows) -> str:
    """sha256 over the sorted per-row digests: equal for equal multisets,
    whatever the row order."""
    per_row = sorted(
        hashlib.sha256(repr(tuple(canon(c) for c in r)).encode()).hexdigest()
        for r in rows
    )
    return hashlib.sha256("".join(per_row).encode()).hexdigest()


def parquet_rows(path: str, columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=columns)
    cols = [t.column(c).to_pylist() for c in columns]
    return list(zip(*cols))


def part_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, p) for p in os.listdir(path) if p.endswith(".parquet")
    )


def keccak_known_answers() -> bool:
    from basin_cli_spark.functions.hashing import keccak256

    return all(keccak256(m).hex() == h for m, h in KECCAK_VECTORS.items())


def part_digests(path: str) -> list[bytes]:
    """keccak256 of each part file of a published window, in part order."""
    from basin_cli_spark.functions.hashing import keccak256_file

    return [keccak256_file(p) for p in part_files(path)]


def cid_from(digests: list[bytes]) -> str:
    """The content id the sink documents: the single part's digest, or the
    digest of the concatenated part digests."""
    from basin_cli_spark.functions.hashing import keccak256

    return "0x" + (digests[0] if len(digests) == 1 else keccak256(b"".join(digests))).hex()


def public_key(private_key_hex: str):
    from cryptography.hazmat.primitives.asymmetric import ec

    return ec.derive_private_key(int(private_key_hex, 16), ec.SECP256K1()).public_key()


def verify_signature(pub, digest: bytes, sig: bytes) -> bool:
    from cryptography.exceptions import InvalidSignature
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import ec, utils

    if len(sig) != 65 or sig[64] > 3:
        return False
    der = utils.encode_dss_signature(
        int.from_bytes(sig[:32], "big"), int.from_bytes(sig[32:64], "big"))
    try:
        pub.verify(der, digest, ec.ECDSA(utils.Prehashed(hashes.SHA256())))
    except InvalidSignature:
        return False
    return True


def signatures_ok(pub, digests: list[bytes], signature_hex: str | None) -> bool:
    """Every part file's 65-byte chunk verifies on its own."""
    if not signature_hex:
        return False
    sig = bytes.fromhex(signature_hex)
    if len(sig) != 65 * len(digests):
        return False
    return all(
        verify_signature(pub, d, sig[65 * i: 65 * (i + 1)])
        for i, d in enumerate(digests)
    )


class Collected:
    """A collected result in the shape ``oracle.compare`` reads (schema
    plus pandas frame), so a result is compared without running the query
    a second time."""

    def __init__(self, schema, pdf) -> None:
        self.schema = schema
        self._pdf = pdf

    def toPandas(self):
        return self._pdf
