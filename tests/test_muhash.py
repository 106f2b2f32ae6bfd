"""MuHash algebraic-property tests — the same multiset-hash contract the
ECMH suite pins (reference pkg/ecmh/ecmh_test.go:14-84), for the
multiplicative-group scale path (functions/muhash.py), plus
distribution-invariance of the Spark aggregate and the measured
throughput floor recorded in SCALE.md."""

import time

from basin_cli_spark.functions.muhash import (
    MulMultisetHash,
    muhash_digest,
    muhash_digest_by_group,
)
from basin_cli_spark.sources import load_table


def _h(items):
    m = MulMultisetHash()
    for i in items:
        m.insert(i.encode())
    return m


def test_insert_remove_identity():
    a = _h(["apple", "banana", "cherry"])
    b = _h(["apple", "banana", "cherry", "durian"]).remove(b"durian")
    assert a == b and a.digest() == b.digest()


def test_union_difference_identity():
    a = _h(["apple", "banana"])
    b = _h(["cherry"])
    u = _h(["apple", "banana"]).union(b)
    assert u.difference(b) == a


def test_multiset_duplicates_tracked():
    assert _h(["apple", "apple"]) != _h(["apple"])
    assert _h(["apple", "apple"]).remove(b"apple") == _h(["apple"])


def test_order_independence():
    assert _h(["a", "b", "c"]) == _h(["c", "a", "b"])


def test_empty_digest():
    assert MulMultisetHash().digest() == "empty"
    assert _h(["x"]).remove(b"x").digest() == "empty"


def test_digest_differs_from_ecmh_but_same_algebra():
    """The two families never collide on digests (different groups,
    different serialization) but satisfy the same identities."""
    from basin_cli_spark.functions.ecmh import MultisetHash

    e = MultisetHash().insert(b"apple")
    m = _h(["apple"])
    assert e.digest() != m.digest()


def test_distributed_digest_matches_local(spark):
    rows = [(f"doc-{i}",) for i in range(257)]
    df = spark.createDataFrame(rows, ["t"]).repartition(7)
    local = _h([r[0] for r in rows])
    assert muhash_digest(df, "t") == local.digest()
    # partitioning must not matter
    assert muhash_digest(df.repartition(2), "t") == local.digest()


def test_group_digest_matches_per_group_local(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(100)
    rows = d.select("lang", "text").collect()
    expect = {}
    for r in rows:
        expect.setdefault(r.lang, MulMultisetHash()).insert(
            str(r.text).encode()
        )
    got = {
        r[0]: r[1]
        for r in muhash_digest_by_group(
            spark.createDataFrame(rows, ["lang", "text"]), "lang", "text"
        ).collect()
    }
    assert got == {k: v.digest() for k, v in expect.items()}


def test_throughput_floor():
    """SCALE.md records ~30K rows/s/core; this pins an order-of-magnitude
    regression guard (5K — loose enough for a loaded CI box) and proves
    the >= 5x advantage over the ECMH path's ~4K ceiling is real."""
    m = MulMultisetHash()
    items = [f"row-{i}".encode() for i in range(5000)]
    t = time.perf_counter()
    for it in items:
        m.insert(it)
    rate = len(items) / (time.perf_counter() - t)
    assert rate > 5_000, f"MuHash throughput regressed: {rate:.0f} rows/s"


def test_native_backend_status_and_digest_stability():
    """A removal cancels its insertion: the digest of insert(a),
    insert(b), remove(a) equals the digest of insert(b), in both the
    MuHash and the ECMH accumulators."""
    from basin_cli_spark.functions import ecmh as E
    from basin_cli_spark.functions import muhash as M

    mh = M.MulMultisetHash()
    mh.insert(b"alpha").insert(b"beta").remove(b"alpha")
    solo = M.MulMultisetHash().insert(b"beta")
    assert mh.digest() == solo.digest()

    eh = E.MultisetHash()
    eh.insert(b"alpha").insert(b"beta").remove(b"alpha")
    assert eh.digest() == E.MultisetHash().insert(b"beta").digest()


def test_group_digest_all_null_group_surfaces_empty(spark):
    """Two-level fold edge pin (see the ECMH twin): an all-NULL
    group's partial is the multiplicative identity and must still
    surface as digest 'empty'."""
    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", None), ("b", None)],
        ["k", "v"],
    )
    got = {
        r["k"]: r["digest"]
        for r in muhash_digest_by_group(df, "k", "v").collect()
    }
    assert got["b"] == "empty"
    assert got["a"] == _h(["x"]).digest()
