"""secp256k1 file signing — the engine-side analogue of the reference's
upload signer (reference pkg/signing/signing.go:34-124): keccak256 the
content, produce a 65-byte recoverable ECDSA signature r||s||v.

Pure Python over the published secp256k1 parameters with RFC 6979
deterministic nonces and low-s normalization — byte-identical to the
reference's signatures (golden parity test in tests/test_crypto.py uses
the fixed key/content/signature triple from the reference's
signing_test.go:12-41).

This is a driver-side post-write step, not a Spark operator (signing
happens once per exported file, reference internal/app/uploader.go:36-75).
"""

from __future__ import annotations

import hashlib
import hmac

from basin_cli_spark.functions.hashing import keccak256, keccak256_file

# secp256k1 domain parameters (public).
P = 0xFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFEFFFFFC2F
N = 0xFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFEBAAEDCE6AF48A03BBFD25E8CD0364141
GX = 0x79BE667EF9DCBBAC55A06295CE870B07029BFCDB2DCE28D959F2815B16F81798
GY = 0x483ADA7726A3C4655DA4FBFC0E1108A8FD17B448A68554199C47D08FFB10D4B8


def _inv(a: int, m: int) -> int:
    return pow(a, -1, m)


def _point_add(p1, p2):
    if p1 is None:
        return p2
    if p2 is None:
        return p1
    x1, y1 = p1
    x2, y2 = p2
    if x1 == x2 and (y1 + y2) % P == 0:
        return None
    if p1 == p2:
        lam = (3 * x1 * x1) * _inv(2 * y1, P) % P
    else:
        lam = (y2 - y1) * _inv(x2 - x1, P) % P
    x3 = (lam * lam - x1 - x2) % P
    y3 = (lam * (x1 - x3) - y1) % P
    return (x3, y3)


def _point_mul(k: int, point=(GX, GY)):
    result = None
    addend = point
    while k:
        if k & 1:
            result = _point_add(result, addend)
        addend = _point_add(addend, addend)
        k >>= 1
    return result


def _rfc6979_nonce(digest: bytes, priv: int) -> int:
    """Deterministic nonce per RFC 6979 (HMAC-SHA256)."""
    x = priv.to_bytes(32, "big")
    # bits2octets: reduce the digest mod N before keying the HMAC (RFC 6979
    # §2.3.4); only differs from the raw digest when bits2int(h1) >= N.
    h1 = (int.from_bytes(digest, "big") % N).to_bytes(32, "big")
    v = b"\x01" * 32
    k = b"\x00" * 32
    k = hmac.new(k, v + b"\x00" + x + h1, hashlib.sha256).digest()
    v = hmac.new(k, v, hashlib.sha256).digest()
    k = hmac.new(k, v + b"\x01" + x + h1, hashlib.sha256).digest()
    v = hmac.new(k, v, hashlib.sha256).digest()
    while True:
        v = hmac.new(k, v, hashlib.sha256).digest()
        t = int.from_bytes(v, "big")
        if 1 <= t < N:
            return t
        k = hmac.new(k, v + b"\x00", hashlib.sha256).digest()
        v = hmac.new(k, v, hashlib.sha256).digest()


def sign_digest(digest: bytes, private_key_hex: str) -> bytes:
    """ECDSA over secp256k1; returns 65 bytes r||s||v with v in {0,1}
    (the recovery id, low-s normalized)."""
    priv = int(private_key_hex, 16)
    z = int.from_bytes(digest, "big")
    k = _rfc6979_nonce(digest, priv)
    x, y = _point_mul(k)
    r = x % N
    s = _inv(k, N) * (z + r * priv) % N
    # Standard recovery-id encoding: bit 0 = y parity, bit 1 set when the
    # nonce point's x overflowed N (recid 2/3, probability ~2^-128).
    recid = (y & 1) | (2 if x >= N else 0)
    if s > N // 2:  # low-s normalization flips only the parity bit
        s = N - s
        recid ^= 1
    return r.to_bytes(32, "big") + s.to_bytes(32, "big") + bytes([recid])


def sign_bytes(content: bytes, private_key_hex: str) -> bytes:
    return sign_digest(keccak256(content), private_key_hex)


def sign_file(path: str, private_key_hex: str, digest: bytes | None = None) -> bytes:
    """Streaming keccak256 then sign — reference signing.go:59-108
    semantics, including the empty-file error.  A caller that already
    holds the file's keccak256 passes it as ``digest``, and the file is
    not read again."""
    import os

    if os.path.getsize(path) == 0:
        raise ValueError(f"cannot sign empty file: {path}")
    if digest is None:
        digest = keccak256_file(path)
    return sign_digest(digest, private_key_hex)


def derive_address(private_key_hex: str) -> str:
    """Ethereum-style address from the public key (reference
    `vaults account address`, cmd/vaults/commands.go:692-772)."""
    priv = int(private_key_hex, 16)
    x, y = _point_mul(priv)
    pub = x.to_bytes(32, "big") + y.to_bytes(32, "big")
    return "0x" + keccak256(pub)[-20:].hex()
