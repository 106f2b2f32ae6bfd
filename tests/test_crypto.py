"""Golden crypto parity (reference pkg/signing/signing_test.go:12-41),
public keccak vectors, and the unrolled keccak sponge against a slow
loop-form oracle."""

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from basin_cli_spark.functions.hashing import Keccak256, keccak256, keccak256_file
from basin_cli_spark.functions.signing import derive_address, sign_bytes, sign_file

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
    """The unrolled sponge equals the loop-form oracle for any input
    length, however ``update`` is fed."""
    n = data.draw(_LENGTHS)
    msg = data.draw(st.binary(min_size=n, max_size=n))
    cuts = sorted(data.draw(st.lists(st.integers(min_value=0, max_value=n), max_size=6)))
    h = Keccak256()
    for a, b in zip([0, *cuts], [*cuts, n]):
        h.update(msg[a:b])
    assert h.digest() == keccak256(msg) == _oracle_keccak256(msg)


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
