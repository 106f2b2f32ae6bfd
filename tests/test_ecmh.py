"""ECMH algebraic-property tests (reference pkg/ecmh/ecmh_test.go:14-84)
plus distribution-invariance of the Spark aggregate."""

from basin_cli_spark.functions.ecmh import MultisetHash, ecmh_digest


def _h(items):
    return MultisetHash().insert_all([i.encode() for i in items])


def test_insert_remove_identity():
    a = _h(["apple", "banana", "cherry"])
    b = _h(["apple", "banana", "cherry", "durian"]).remove(b"durian")
    assert a == b and a.digest() == b.digest()


def test_union_difference_identity():
    a = _h(["apple", "banana"])
    b = _h(["cherry"])
    u = _h(["apple", "banana"]).union(b)
    back = u.difference(b)
    assert back == a


def test_multiset_duplicates_tracked():
    assert _h(["apple", "apple"]) != _h(["apple"])
    assert _h(["apple", "apple"]).remove(b"apple") == _h(["apple"])


def test_order_independence():
    assert _h(["a", "b", "c"]) == _h(["c", "a", "b"])


def test_empty_digest():
    assert MultisetHash().digest() == "empty"
    assert _h(["x"]).remove(b"x").digest() == "empty"


def test_distributed_digest_matches_local(spark):
    rows = [(f"item-{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, ["v"])
    local = _h([r[0] for r in rows]).digest()
    assert ecmh_digest(df, "v") == local
    # partitioning must not change the digest (commutative merge)
    assert ecmh_digest(df.repartition(7), "v") == local


def test_group_digest_matches_per_group_local(spark, sf_dir):
    """Per-group digests equal locally-computed ones regardless of
    partitioning (commutativity distributes through the shuffle)."""
    from basin_cli_spark.functions.ecmh import MultisetHash, ecmh_digest_by_group
    from basin_cli_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").where("doc_id < 120")
    got = {
        r["lang"]: r["digest"]
        for r in ecmh_digest_by_group(d.repartition(7), "lang", "text").collect()
    }
    local: dict[str, MultisetHash] = {}
    for r in d.select("lang", "text").collect():
        local.setdefault(r["lang"], MultisetHash()).insert(r["text"].encode())
    assert got == {k: v.digest() for k, v in local.items()}


def test_group_digest_all_null_group_surfaces_empty(spark):
    """Two-level fold edge pin: a group whose every value is NULL
    must still surface with digest 'empty' (the one-level applyInPandas
    fold emitted it; the partial fold must not drop identity partials)."""
    from basin_cli_spark.functions.ecmh import ecmh_digest_by_group

    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", None), ("b", None)],
        ["k", "v"],
    )
    got = {r["k"]: r["digest"] for r in ecmh_digest_by_group(df, "k", "v").collect()}
    assert got["b"] == "empty"
    assert got["a"] == MultisetHash().insert(b"x").digest()
