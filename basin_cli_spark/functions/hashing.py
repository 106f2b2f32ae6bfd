"""Keccak-256 (pure Python, from the public Keccak/FIPS-202 specification)
and file hashing.

The reference hashes every upload with keccak256 before signing
(reference pkg/signing/signing.go:34-108).  Python's hashlib sha3 uses the
FIPS-202 padding (0x06); Ethereum-style keccak256 uses the original Keccak
padding (0x01), so it is implemented here directly — permutation and
constants are from the published spec.

The sponge is unrolled: ``_absorb`` keeps the 25 state lanes in locals,
XORs each 136-byte block in through one ``struct`` unpack of 17
little-endian words, and runs the 24 rounds with every lane index,
rotation and chi neighbour written out, so no list indexing, ``% 5`` or
per-lane call is left in the round.  It takes every whole block of a
buffer in one call: ``Keccak256.update`` hands it all whole blocks at
once, and ``keccak256_file`` reads in chunks that are a multiple of the
rate, so a file streams through with bounded memory and no partial block
is carried between reads.
"""

from __future__ import annotations

import struct

RATE = 136  # bytes: 1600-bit state minus the 512-bit capacity
_MASK = (1 << 64) - 1
_LANES = struct.Struct("<17Q")  # one block as the 17 rate lanes

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


def _absorb(st: list[int], buf, end: int) -> None:
    """XOR each block of ``buf[:end]`` (``end`` a multiple of RATE) into
    the state ``st`` (25 lanes, lane (x, y) at x + 5y) and apply
    Keccak-f[1600] after each."""
    (a0, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12,
     a13, a14, a15, a16, a17, a18, a19, a20, a21, a22, a23, a24) = st
    M = _MASK
    unpack = _LANES.unpack_from
    for off in range(0, end, RATE):
        (w0, w1, w2, w3, w4, w5, w6, w7, w8,
         w9, w10, w11, w12, w13, w14, w15, w16) = unpack(buf, off)
        a0 ^= w0
        a1 ^= w1
        a2 ^= w2
        a3 ^= w3
        a4 ^= w4
        a5 ^= w5
        a6 ^= w6
        a7 ^= w7
        a8 ^= w8
        a9 ^= w9
        a10 ^= w10
        a11 ^= w11
        a12 ^= w12
        a13 ^= w13
        a14 ^= w14
        a15 ^= w15
        a16 ^= w16
        for rc in _RC:
            # theta
            c0 = a0 ^ a5 ^ a10 ^ a15 ^ a20
            c1 = a1 ^ a6 ^ a11 ^ a16 ^ a21
            c2 = a2 ^ a7 ^ a12 ^ a17 ^ a22
            c3 = a3 ^ a8 ^ a13 ^ a18 ^ a23
            c4 = a4 ^ a9 ^ a14 ^ a19 ^ a24
            d0 = c4 ^ ((c1 << 1 | c1 >> 63) & M)
            d1 = c0 ^ ((c2 << 1 | c2 >> 63) & M)
            d2 = c1 ^ ((c3 << 1 | c3 >> 63) & M)
            d3 = c2 ^ ((c4 << 1 | c4 >> 63) & M)
            d4 = c3 ^ ((c0 << 1 | c0 >> 63) & M)
            # rho and pi: lane (x, y) moves to (y, 2x + 3y), rotated
            b0 = a0 ^ d0
            t = a1 ^ d1
            b10 = (t << 1 | t >> 63) & M
            t = a2 ^ d2
            b20 = (t << 62 | t >> 2) & M
            t = a3 ^ d3
            b5 = (t << 28 | t >> 36) & M
            t = a4 ^ d4
            b15 = (t << 27 | t >> 37) & M
            t = a5 ^ d0
            b16 = (t << 36 | t >> 28) & M
            t = a6 ^ d1
            b1 = (t << 44 | t >> 20) & M
            t = a7 ^ d2
            b11 = (t << 6 | t >> 58) & M
            t = a8 ^ d3
            b21 = (t << 55 | t >> 9) & M
            t = a9 ^ d4
            b6 = (t << 20 | t >> 44) & M
            t = a10 ^ d0
            b7 = (t << 3 | t >> 61) & M
            t = a11 ^ d1
            b17 = (t << 10 | t >> 54) & M
            t = a12 ^ d2
            b2 = (t << 43 | t >> 21) & M
            t = a13 ^ d3
            b12 = (t << 25 | t >> 39) & M
            t = a14 ^ d4
            b22 = (t << 39 | t >> 25) & M
            t = a15 ^ d0
            b23 = (t << 41 | t >> 23) & M
            t = a16 ^ d1
            b8 = (t << 45 | t >> 19) & M
            t = a17 ^ d2
            b18 = (t << 15 | t >> 49) & M
            t = a18 ^ d3
            b3 = (t << 21 | t >> 43) & M
            t = a19 ^ d4
            b13 = (t << 8 | t >> 56) & M
            t = a20 ^ d0
            b14 = (t << 18 | t >> 46) & M
            t = a21 ^ d1
            b24 = (t << 2 | t >> 62) & M
            t = a22 ^ d2
            b9 = (t << 61 | t >> 3) & M
            t = a23 ^ d3
            b19 = (t << 56 | t >> 8) & M
            t = a24 ^ d4
            b4 = (t << 14 | t >> 50) & M
            # chi and iota (M ^ b is the 64-bit complement of b, cheaper
            # than ~b, whose negative result slows the following &)
            a0 = b0 ^ ((M ^ b1) & b2) ^ rc
            a1 = b1 ^ ((M ^ b2) & b3)
            a2 = b2 ^ ((M ^ b3) & b4)
            a3 = b3 ^ ((M ^ b4) & b0)
            a4 = b4 ^ ((M ^ b0) & b1)
            a5 = b5 ^ ((M ^ b6) & b7)
            a6 = b6 ^ ((M ^ b7) & b8)
            a7 = b7 ^ ((M ^ b8) & b9)
            a8 = b8 ^ ((M ^ b9) & b5)
            a9 = b9 ^ ((M ^ b5) & b6)
            a10 = b10 ^ ((M ^ b11) & b12)
            a11 = b11 ^ ((M ^ b12) & b13)
            a12 = b12 ^ ((M ^ b13) & b14)
            a13 = b13 ^ ((M ^ b14) & b10)
            a14 = b14 ^ ((M ^ b10) & b11)
            a15 = b15 ^ ((M ^ b16) & b17)
            a16 = b16 ^ ((M ^ b17) & b18)
            a17 = b17 ^ ((M ^ b18) & b19)
            a18 = b18 ^ ((M ^ b19) & b15)
            a19 = b19 ^ ((M ^ b15) & b16)
            a20 = b20 ^ ((M ^ b21) & b22)
            a21 = b21 ^ ((M ^ b22) & b23)
            a22 = b22 ^ ((M ^ b23) & b24)
            a23 = b23 ^ ((M ^ b24) & b20)
            a24 = b24 ^ ((M ^ b20) & b21)
    st[:] = (a0, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12,
             a13, a14, a15, a16, a17, a18, a19, a20, a21, a22, a23, a24)


class Keccak256:
    """Streaming Keccak-256 (rate 136, capacity 512, pad 0x01||...||0x80)."""

    def __init__(self) -> None:
        self._state = [0] * 25
        self._buf = b""

    def update(self, data: bytes) -> "Keccak256":
        buf = self._buf + data if self._buf else data
        whole = len(buf) - len(buf) % RATE
        if whole:
            _absorb(self._state, buf, whole)
        self._buf = bytes(buf[whole:])
        return self

    def digest(self) -> bytes:
        block = bytearray(self._buf) + bytes(RATE - len(self._buf))
        block[len(self._buf)] |= 0x01
        block[-1] |= 0x80
        st = list(self._state)
        _absorb(st, block, RATE)
        return struct.pack("<4Q", *st[:4])

    def hexdigest(self) -> str:
        return self.digest().hex()


def keccak256(data: bytes) -> bytes:
    return Keccak256().update(data).digest()


def keccak256_file(path: str, chunk_size: int = RATE * 480) -> bytes:
    """Streaming file hash in rate-multiple chunks (~64 KB), bounded
    memory like the reference's chunked read (signing.go:77-100)."""
    h = Keccak256()
    with open(path, "rb") as f:
        while chunk := f.read(chunk_size):
            h.update(chunk)
    return h.digest()
