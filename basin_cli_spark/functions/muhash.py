"""MuHash multiset hash — the multiplicative-group scale path for content
digests.

The reference's digest primitive is ECMH over an elliptic-curve group
(/root/reference/pkg/ecmh/ecmh.go) — re-expressed in functions/ecmh.py
with the same algebra (insert/remove/union/difference, order- and
partition-independent).  ECMH's per-row cost in pure CPython is an
irreducible ~130 us modular sqrt (hash-to-curve), which caps a digest
job at ~4K rows/s/core (see SCALE.md).  MuHash is the publicly
documented alternative with the SAME multiset-hash API but a
multiplicative group Z_p^* instead of a curve: hash each element to a
group element, multiply; removal divides.  One 3072-bit mulmod per row
(~30 us) instead of a modular sqrt — measured ~30K rows/s/core here,
7.5x ECMH.  The design is Maxwell/Wuille's "rolling UTXO set hash"
(MuHash3072), deployed in Bitcoin Core's assumeutxo; security reduces to
discrete log in a 3072-bit prime field (~128-bit).

Same division-free accumulator trick as Bitcoin's implementation: track
numerator and denominator products separately so removals cost one
mulmod, and pay the single modular inverse only at digest() time.

The modulus is the RFC 3526 group-15 prime (a public constant); the
hash-to-group map is SHAKE-256 with 384-byte output reduced mod p
(bias < 2^-64 because p's top 64 bits are all ones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from basin_cli_spark.functions.multiset import fold

# RFC 3526 MODP group 15 prime (3072-bit) — public constant.
MODULUS = int(
    "FFFFFFFFFFFFFFFFC90FDAA22168C234C4C6628B80DC1CD129024E088A67CC74"
    "020BBEA63B139B22514A08798E3404DDEF9519B3CD3A431B302B0A6DF25F1437"
    "4FE1356D6D51C245E485B576625E7EC6F44C42E9A637ED6B0BFF5CB6F406B7ED"
    "EE386BFB5A899FA5AE9F24117C4B1FE649286651ECE45B3DC2007CB8A163BF05"
    "98DA48361C55D39A69163FA8FD24CF5F83655D23DCA3AD961C62F356208552BB"
    "9ED529077096966D670C354E4ABC9804F1746C08CA18217C32905E462E36CE3B"
    "E39E772C180E86039B2783A2EC07A28FB5C55DF06F4C52C9DE2BCBF695581718"
    "3995497CEA956AE515D2261898FA051015728E5A8AAAC42DAD33170D04507A33"
    "A85521ABDF1CBA64ECFB850458DBEF0A8AEA71575D060C7DB3970F85A6E1E4C7"
    "ABF5AE8CDB0933D71E8C94E04A25619DCEE3D2261AD2EE6BF12FFA06D98A0864"
    "D87602733EC86A64521F2B18177B200CBBE117577A615D6C770988C0BAD946E2"
    "08E24FA074E5AB3143DB5BFCE0FD108E4B82D120A93AD2CAFFFFFFFFFFFFFFFF",
    16,
)

_BYTES = 384  # 3072 bits


def hash_to_group(data: bytes) -> int:
    """SHAKE-256 -> 384 bytes -> int mod p.  Never returns 0 in practice
    (probability 2^-3072); guarded anyway because 0 absorbs the product."""
    import hashlib

    v = int.from_bytes(hashlib.shake_256(data).digest(_BYTES), "big") % MODULUS
    return v if v else 1


class MulMultisetHash:
    """Multiset hash over Z_p^*: insert multiplies the numerator, remove
    multiplies the denominator; digest() = sha256(num * den^-1 mod p).
    Multiplication commutes, so any insertion order / partitioning / union
    tree yields the same digest — the property that makes one digest per
    Spark partition + a driver combine exact."""

    __slots__ = ("num", "den")

    def __init__(self, num: int = 1, den: int = 1):
        self.num = num
        self.den = den

    def insert(self, data: bytes) -> "MulMultisetHash":
        self.num = (self.num * hash_to_group(data)) % MODULUS
        return self

    def remove(self, data: bytes) -> "MulMultisetHash":
        self.den = (self.den * hash_to_group(data)) % MODULUS
        return self

    def union(self, other: "MulMultisetHash") -> "MulMultisetHash":
        self.num = (self.num * other.num) % MODULUS
        self.den = (self.den * other.den) % MODULUS
        return self

    def difference(self, other: "MulMultisetHash") -> "MulMultisetHash":
        """Remove other's multiset from this one (the reference's
        Difference, ecmh.go:45-48)."""
        self.num = (self.num * other.den) % MODULUS
        self.den = (self.den * other.num) % MODULUS
        return self

    def _value(self) -> int:
        return (self.num * pow(self.den, -1, MODULUS)) % MODULUS

    def digest(self) -> str:
        """sha256 of the canonical group element ('empty' for identity),
        mirroring MuHash3072's finalized-hash serialization."""
        import hashlib

        v = self._value()
        if v == 1:
            return "empty"
        return hashlib.sha256(v.to_bytes(_BYTES, "big")).hexdigest()

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, MulMultisetHash)
            and self._value() == other._value()
        )

    def to_hex(self) -> str:
        """The group element in hex: the partial functions/multiset.fold
        ships between tasks."""
        return f"{int(self._value()):x}"

    @classmethod
    def from_hex(cls, s: str) -> "MulMultisetHash":
        return cls(num=int(s, 16))


def muhash_accumulate(df: DataFrame, col: str) -> MulMultisetHash:
    """Distributed MuHash fold of a column into an accumulator: one
    partial product per partition, multiplied on the driver
    (functions/multiset.fold).  Returning the accumulator (not just the
    hex digest) lets callers compose digests algebraically — union two
    corpora, or difference an erasure batch out of a stored digest
    (q_corpus_delete_digest)."""
    return fold(df, col, MulMultisetHash)


def muhash_digest(df: DataFrame, col: str) -> str:
    """Distributed MuHash digest of a column — the hex face of
    muhash_accumulate; same shape as ecmh.ecmh_digest (the map side
    moves one 384-byte hex row per partition regardless of corpus
    size)."""
    return muhash_accumulate(df, col).digest()


def muhash_digest_by_group(df: DataFrame, key_col: str, col: str) -> DataFrame:
    """Per-group MuHash digests: (key, digest).  Partial products fold per
    (partition, group) at full parallelism, so the per-row SHAKE-256 +
    3072-bit mulmod is not serialized onto one task per group
    (functions/multiset.fold)."""
    return fold(df, col, MulMultisetHash, key_col)
