"""Golden crypto parity (reference pkg/signing/signing_test.go:12-41),
public keccak vectors, both keccak kernels (native and the unrolled
Python sponge) against a slow loop-form oracle, the kernel's fallback,
and the signer against a pure-Python elliptic-curve oracle."""

import ast
import logging
import os
import pathlib
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from basin_cli_spark.functions import hashing
from basin_cli_spark.functions.hashing import Keccak256, keccak256, keccak256_file
from basin_cli_spark.functions.signing import (
    N,
    P,
    _rfc6979_nonce,
    derive_address,
    sign_bytes,
    sign_digest,
    sign_file,
)

PRIV = "59c6995e998f97a5a0044966f0945389dc9e86dae88c7a8412f4603b6b78690d"
GOLDEN_SIG = (
    "6ddb61a19b9df71136b48c80b2e86e7e20313d5eec0de9210802335b300ba8df"
    "6c332d35a5d753a028d703769fd9b66d7ce5902d80369750cf55118b1679d84900"
)


def test_keccak_empty():
    assert keccak256(b"").hex() == (
        "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
    )


def test_keccak_abc():
    assert keccak256(b"abc").hex() == (
        "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
    )


def test_keccak_quick_brown_fox():
    assert keccak256(b"The quick brown fox jumps over the lazy dog").hex() == (
        "4d741b6f1eb29cb2a9b9911c82f56fa8d73b04959d3d9d222895df6c0b28aa15"
    )


def test_keccak_multiblock():
    # > rate (136 bytes) exercises the streaming absorb path
    data = b"x" * 1000
    assert keccak256(data) == keccak256_chunks(data)


def keccak256_chunks(data: bytes):
    h = Keccak256()
    for i in range(0, len(data), 7):
        h.update(data[i : i + 7])
    return h.digest()


# The loop form of Keccak-f[1600] the unrolled sponge replaced: slow, but
# each step reads straight off the specification's round definition.
_RC = [
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A,
    0x8000000080008000, 0x000000000000808B, 0x0000000080000001,
    0x8000000080008081, 0x8000000000008009, 0x000000000000008A,
    0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089,
    0x8000000000008003, 0x8000000000008002, 0x8000000000000080,
    0x000000000000800A, 0x800000008000000A, 0x8000000080008081,
    0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
]
_ROTC = [1, 3, 6, 10, 15, 21, 28, 36, 45, 55, 2, 14,
         27, 41, 56, 8, 25, 43, 62, 18, 39, 61, 20, 44]
_PILN = [10, 7, 11, 17, 18, 3, 5, 16, 8, 21, 24, 4,
         15, 23, 19, 13, 12, 2, 20, 14, 22, 9, 6, 1]
_MASK = (1 << 64) - 1


def _rotl(x: int, n: int) -> int:
    return ((x << n) | (x >> (64 - n))) & _MASK


def _oracle_keccak_f(st: list[int]) -> None:
    for rnd in range(24):
        # theta
        bc = [st[i] ^ st[i + 5] ^ st[i + 10] ^ st[i + 15] ^ st[i + 20] for i in range(5)]
        for i in range(5):
            t = bc[(i + 4) % 5] ^ _rotl(bc[(i + 1) % 5], 1)
            for j in range(0, 25, 5):
                st[j + i] ^= t
        # rho + pi
        t = st[1]
        for i in range(24):
            j = _PILN[i]
            bc[0] = st[j]
            st[j] = _rotl(t, _ROTC[i])
            t = bc[0]
        # chi
        for j in range(0, 25, 5):
            row = st[j:j + 5]
            for i in range(5):
                st[j + i] = row[i] ^ ((~row[(i + 1) % 5]) & row[(i + 2) % 5] & _MASK)
        # iota
        st[0] ^= _RC[rnd]


def _oracle_keccak256(data: bytes) -> bytes:
    rate = 136
    block = bytearray(data) + bytes(rate - len(data) % rate)
    block[len(data)] |= 0x01
    block[-1] |= 0x80
    st = [0] * 25
    for off in range(0, len(block), rate):
        for i in range(rate // 8):
            st[i] ^= int.from_bytes(block[off + 8 * i:off + 8 * i + 8], "little")
        _oracle_keccak_f(st)
    return b"".join(x.to_bytes(8, "little") for x in st[:4])


# lengths 0-1,000, drawn often at the one- and two-block rate edges
_LENGTHS = st.one_of(
    st.sampled_from([0, 1, 135, 136, 137, 271, 272, 273]),
    st.integers(min_value=0, max_value=1000),
)


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_keccak_matches_loop_oracle(data):
    """Both kernels, called directly, equal the loop-form oracle for any
    input length, and so does ``Keccak256`` however ``update`` is fed."""
    n = data.draw(_LENGTHS)
    msg = data.draw(st.binary(min_size=n, max_size=n))
    cuts = sorted(data.draw(st.lists(st.integers(min_value=0, max_value=n), max_size=6)))
    h = Keccak256()
    for a, b in zip([0, *cuts], [*cuts, n]):
        h.update(msg[a:b])
    want = _oracle_keccak256(msg)
    assert h.digest() == keccak256(msg) == want
    assert hashing._sponge(hashing._py_absorb, msg) == want
    assert hashing._sponge(_native_kernel(), msg) == want


def _native_kernel():
    native = hashing._native_absorb()
    assert native is not None, "the native keccak kernel did not build here"
    return native


def _rebuild(monkeypatch, caplog):
    """Drop the process's kernel, build it again, and return the warnings
    the build logged."""
    monkeypatch.setattr(hashing, "_native", None)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=hashing.__name__):
        hashing._native_absorb()
    return [r for r in caplog.records if r.levelno >= logging.WARNING]


def _assert_python_fallback(monkeypatch, caplog, tmp_path):
    warnings = _rebuild(monkeypatch, caplog)
    assert hashing._native is False
    assert [r.fallback for r in warnings] == ["keccak_python_sponge"]
    p = tmp_path / "part.bin"
    p.write_bytes(bytes(range(256)) * 40)
    for msg in (b"", b"abc", b"x" * 1000):
        assert keccak256(msg) == _oracle_keccak256(msg)
    assert keccak256_file(str(p)) == _oracle_keccak256(p.read_bytes())
    assert hashing._native_absorb() is None  # built once: no second warning
    assert len(caplog.records) == len(warnings)


def test_native_kernel_builds_without_warning(monkeypatch, caplog):
    assert _rebuild(monkeypatch, caplog) == []
    assert hashing._native_absorb() is not None


def test_concurrent_first_hashes_build_once(monkeypatch):
    """Threads that hash at once in a fresh process build the kernel once
    and all get the oracle's digests."""
    import sys
    import threading

    builds = []
    real_build = hashing._build_native
    monkeypatch.setattr(hashing, "_native", None)
    monkeypatch.setattr(hashing, "_build_native", lambda: builds.append(1) or real_build())
    msgs = [bytes([i]) * (100 * i) for i in range(12)]
    got = [None] * len(msgs)

    def work(i):
        got[i] = keccak256(msgs[i])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(len(msgs))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert builds == [1]
    assert got == [_oracle_keccak256(m) for m in msgs]


def test_native_kernel_rejects_a_partial_block():
    with pytest.raises(ValueError, match="whole-block"):
        _native_kernel()(hashing._State(), bytes(200), 272)


def test_missing_compiler_falls_back(monkeypatch, caplog, tmp_path):
    """No compiler: one warning naming the fallback, the same digests."""
    monkeypatch.setattr(hashing, "_COMPILERS", (str(tmp_path / "no-such-cc"),))
    _assert_python_fallback(monkeypatch, caplog, tmp_path)


def test_kernel_failing_known_answers_is_never_used(monkeypatch, caplog, tmp_path):
    """A kernel that compiles but hashes wrong (one round constant
    changed) fails its check and is never called."""
    src = pathlib.Path(hashing._SRC).read_text()
    broken = tmp_path / "_keccak.c"
    broken.write_text(src.replace("0x0000000000008082ULL", "0x0000000000008083ULL", 1))
    monkeypatch.setattr(hashing, "_SRC", str(broken))
    _assert_python_fallback(monkeypatch, caplog, tmp_path)


def test_functions_read_no_environment():
    """The kernel choice has no knob: no module under functions/ reads
    ``os.environ`` or ``os.getenv``."""
    pkg = pathlib.Path(hashing.__file__).parent
    for path in sorted(pkg.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                assert (node.value.id, node.attr) not in {
                    ("os", "environ"), ("os", "getenv"), ("os", "environb"),
                }, f"{path.name}:{node.lineno} reads the environment"


# Pure-Python secp256k1 point arithmetic: affine double-and-add, the form
# the signer used before the nonce point moved to OpenSSL.  Slow, but each
# step is the textbook group law.
GX = 0x79BE667EF9DCBBAC55A06295CE870B07029BFCDB2DCE28D959F2815B16F81798
GY = 0x483ADA7726A3C4655DA4FBFC0E1108A8FD17B448A68554199C47D08FFB10D4B8


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
        lam = (3 * x1 * x1) * pow(2 * y1, -1, P) % P
    else:
        lam = (y2 - y1) * pow(x2 - x1, -1, P) % P
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


def _oracle_sign_digest(digest: bytes, private_key_hex: str) -> bytes:
    priv = int(private_key_hex, 16)
    z = int.from_bytes(digest, "big")
    k = _rfc6979_nonce(digest, priv)
    x, y = _point_mul(k)
    r = x % N
    s = pow(k, -1, N) * (z + r * priv) % N
    recid = (y & 1) | (2 if x >= N else 0)
    if s > N // 2:
        s = N - s
        recid ^= 1
    return r.to_bytes(32, "big") + s.to_bytes(32, "big") + bytes([recid])


def test_sign_digest_matches_ec_oracle():
    rng = random.Random(7)
    for _ in range(40):
        digest = rng.randbytes(32)
        key = f"{rng.randrange(1, N):064x}"
        assert sign_digest(digest, key) == _oracle_sign_digest(digest, key)


def test_derive_address_matches_ec_oracle():
    rng = random.Random(11)
    for priv in [1, 2, N - 1, *(rng.randrange(1, N) for _ in range(20))]:
        x, y = _point_mul(priv)
        pub = x.to_bytes(32, "big") + y.to_bytes(32, "big")
        assert derive_address(f"{priv:064x}") == "0x" + _oracle_keccak256(pub)[-20:].hex()


@pytest.mark.parametrize("key", ["0", f"{N:x}", f"{N + 5:x}", "f" * 64])
def test_out_of_range_key_rejected(key):
    """A key outside [1, n-1] is a clear ValueError, never a raw error
    from ``cryptography`` nor a signature under no valid key."""
    with pytest.raises(ValueError, match="out of range"):
        derive_address(key)
    with pytest.raises(ValueError, match="out of range"):
        sign_digest(bytes(32), key)


def test_golden_signature():
    """Exact signature parity with the reference's golden fixture."""
    assert sign_bytes(b"data to be signed", PRIV).hex() == GOLDEN_SIG


def test_sign_file(tmp_path):
    p = tmp_path / "content.txt"
    p.write_bytes(b"data to be signed")
    assert sign_file(str(p), PRIV).hex() == GOLDEN_SIG


def test_sign_file_with_digest(tmp_path):
    """A caller-held digest signs to the same bytes as hashing the file."""
    p = tmp_path / "content.bin"
    p.write_bytes(os.urandom(1000))
    assert sign_file(str(p), PRIV, digest=keccak256_file(str(p))) == sign_file(str(p), PRIV)


def test_sign_empty_file_rejected(tmp_path):
    p = tmp_path / "empty.txt"
    p.write_bytes(b"")
    with pytest.raises(ValueError):
        sign_file(str(p), PRIV)
    with pytest.raises(ValueError):
        sign_file(str(p), PRIV, digest=keccak256(b""))


def test_sign_missing_file_rejected(tmp_path):
    with pytest.raises(OSError):
        sign_file(str(tmp_path / "nope.txt"), PRIV)


def test_derive_address():
    # public well-known test key => its published address
    assert derive_address(PRIV) == "0x70997970c51812dc3a010c7d01b50e0d17dc79c8"


def test_file_hash_chunking(tmp_path):
    p = tmp_path / "big.bin"
    data = os.urandom(10000)
    p.write_bytes(data)
    assert keccak256_file(str(p)) == keccak256(data)
