"""Property-based tests (hypothesis) — the generative extension of the
reference's hand-rolled algebraic checks (SURVEY.md §5).

Strategy sizes are kept small because each Spark round-trip costs ~100 ms;
the properties (round-trip fidelity, algebraic identities, parser/oracle
agreement) are what matter, not example volume.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from basin_cli_spark.functions.ecmh import MultisetHash
from basin_cli_spark.functions.hashing import keccak256
from basin_cli_spark.functions.timestamps import parse_timestamp

# ---------------------------------------------------------------------------
# ECMH algebra (pure Python — generous example counts)

items = st.lists(st.binary(min_size=0, max_size=32), min_size=0, max_size=12)


@given(items)
@settings(max_examples=50, deadline=None)
def test_ecmh_insert_remove_roundtrip(xs):
    acc = MultisetHash().insert_all(xs)
    base = acc.digest()
    acc.insert(b"probe").remove(b"probe")
    assert acc.digest() == base


@given(items, items)
@settings(max_examples=50, deadline=None)
def test_ecmh_order_and_union_consistency(a, b):
    """digest(a ++ b) == digest(b ++ a) == union(digest(a), digest(b))."""
    ab = MultisetHash().insert_all(a + b)
    ba = MultisetHash().insert_all(b + a)
    un = MultisetHash().insert_all(a).union(MultisetHash().insert_all(b))
    assert ab.digest() == ba.digest() == un.digest()


@given(items, items)
@settings(max_examples=50, deadline=None)
def test_ecmh_union_difference_identity(a, b):
    other = MultisetHash().insert_all(b)
    acc = MultisetHash().insert_all(a).union(other).difference(other)
    assert acc.digest() == MultisetHash().insert_all(a).digest()


# ---------------------------------------------------------------------------
# keccak256 vs known-good streaming/chunking behavior


@given(st.binary(min_size=0, max_size=600), st.integers(min_value=1, max_value=64))
@settings(max_examples=50, deadline=None)
def test_keccak_chunking_invariant(data, chunk):
    """Hashing in arbitrary chunk sizes equals one-shot hashing (the
    reference streams files in 4 KB chunks, signing.go:79)."""
    from basin_cli_spark.functions.hashing import Keccak256

    h = Keccak256()
    for i in range(0, len(data), chunk):
        h.update(data[i : i + chunk])
    assert h.digest() == keccak256(data)


# ---------------------------------------------------------------------------
# Tri-format timestamps (reference internal/app/timestamp.go:30-48)


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_unix_seconds_roundtrip(sec):
    got = parse_timestamp(str(sec))
    assert got == dt.datetime.fromtimestamp(sec, dt.timezone.utc)


@given(st.datetimes(
    min_value=dt.datetime(1970, 1, 1), max_value=dt.datetime(2100, 1, 1)
))
@settings(max_examples=50, deadline=None)
def test_rfc3339_always_utc(ts):
    got = parse_timestamp(ts.isoformat() + "Z")
    assert got.tzinfo == dt.timezone.utc
    assert got.replace(tzinfo=None) == ts


# ---------------------------------------------------------------------------
# PG array literal parser vs a DuckDB-style reference parse (Spark involved:
# module-scoped examples to bound runtime)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=-10**6, max_value=10**6)),
        min_size=0,
        max_size=6,
    )
)
def test_pg_array_literal_roundtrip(spark, xs):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from basin_cli_spark.types.literals import parse_pg_array

    lit = "{" + ",".join("NULL" if x is None else str(x) for x in xs) + "}"
    df = spark.createDataFrame([(lit,)], "s string").select(
        parse_pg_array(F.col("s"), T.IntegerType()).alias("a")
    )
    assert df.collect()[0]["a"] == xs


# ---------------------------------------------------------------------------
# Interval parse/format inverse (reference db_test.go:379-390 vectors
# generalize: any (months, days, micros) formats to text that parses back)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=0, max_value=500),   # months
    st.integers(min_value=0, max_value=10000), # days
    st.integers(min_value=-10**12, max_value=10**12),  # micros (± clock)
)
def test_interval_format_parse_roundtrip(spark, months, days, micros):
    from pyspark.sql import functions as F

    from basin_cli_spark.types.literals import (
        format_pg_interval,
        parse_pg_interval,
    )

    df = spark.createDataFrame(
        [(months, days, micros)], "months int, days int, micros long"
    ).select(F.struct("months", "days", "micros").alias("iv"))
    back = df.select(
        parse_pg_interval(format_pg_interval(F.col("iv"))).alias("iv2")
    ).collect()[0]["iv2"]
    assert (back["months"], back["days"], back["micros"]) == (
        months, days, micros
    )


# -- replication wire format (sources/replication.py) -----------------------


@given(st.integers(min_value=0, max_value=2**64 - 1))
@settings(deadline=None)
def test_lsn_text_roundtrip_prop(lsn):
    from basin_cli_spark.sources import replication as R

    assert R.parse_lsn(R.format_lsn(lsn)) == lsn


@given(
    st.integers(min_value=0, max_value=2**64 - 1),
    st.integers(min_value=0, max_value=2**64 - 1),
    st.integers(min_value=946_684_800_000_000, max_value=4_000_000_000_000_000),
    st.binary(max_size=200),
)
@settings(deadline=None)
def test_xlogdata_parse_total(wal_start, wal_end, t_us, payload):
    """parse(encode) is identity for any XLogData frame."""
    import struct

    from basin_cli_spark.sources import replication as R

    frame = struct.pack(
        ">BQQq", R.XLOG_DATA_BYTE, wal_start, wal_end, t_us - R.PG_EPOCH_OFFSET_US
    ) + payload
    msg = R.parse_copydata(frame)
    assert (msg.wal_start, msg.server_wal_end, msg.server_time_us, msg.payload) == (
        wal_start, wal_end, t_us, payload
    )


# -- CAR v1 (sources/carv1.py) ---------------------------------------------


@given(st.lists(st.binary(min_size=1, max_size=300), min_size=1, max_size=8))
@settings(deadline=None, max_examples=30)
def test_car_v1_roundtrip_any_blocks(payloads):
    """write -> extract returns the root payload for arbitrary block sets,
    and every non-root block stays addressable by its own CID."""
    from basin_cli_spark.sources import carv1 as C

    blocks = [(C.cid_for_raw(p), p) for p in payloads]
    root = blocks[0][0]
    car = C.write_car_v1(blocks, roots=[root])
    assert C.extract_root_block(car) == payloads[0]
    for cid, p in blocks:
        assert C.extract_root_block(car, cid.text()) == p


@given(st.integers(min_value=0, max_value=2**63 - 1))
@settings(deadline=None)
def test_uvarint_roundtrip_prop(n):
    from basin_cli_spark.sources import carv1 as C

    got, pos = C.read_uvarint(C.write_uvarint(n), 0)
    assert got == n


# -- connected components (operators/dedup.py) ------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(deadline=None, max_examples=15)
def test_connected_components_match_union_find(spark, raw_edges):
    """The iterative min-label propagation must agree with a driver-side
    union-find on arbitrary small graphs (chains, cycles, self-loops,
    duplicates) — the shapes that break naive propagation."""
    from unittest import mock

    from basin_cli_spark.operators import dedup

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    # reference: union-find with path compression
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    # exercise BOTH paths: the driver union-find fast path and the
    # distributed min-label loop (forced via a threshold of 0)
    threshold = 0 if len(edges) % 2 == 0 else 5_000_000
    with mock.patch.object(dedup, "_DRIVER_THRESHOLD", threshold):
        got = {
            r.id: r.lab
            for r in dedup.connected_components(df, "doc_a", "doc_b").collect()
        }
    # min-label find: normalize union-find roots to component minimum
    comp_min: dict[int, int] = {}
    for x, r in want.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    assert got == {x: comp_min[find(x)] for x in want}


# -- boilerplate scrub (operators/curation.py) ------------------------------

_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
_doc_texts = st.lists(
    st.lists(_words, min_size=1, max_size=9).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(_doc_texts, st.integers(1, 3), st.integers(2, 3))
@settings(deadline=None, max_examples=15)
def test_boilerplate_scrub_matches_pure_python(spark, texts, W, min_docs):
    """boilerplate_scrub agrees with a direct driver-side implementation
    on arbitrary tiny corpora: identical segmentation, hot-list, removal,
    reassembly order, and counts — including all-hot docs collapsing to
    the empty string and repeated identical documents."""
    from basin_cli_spark.operators.curation import boilerplate_scrub

    def segs_of(t):
        w = [x for x in t.split(" ") if x]
        return [
            " ".join(w[i * W : i * W + W])
            for i in range((len(w) + W - 1) // W)
        ]

    by_doc = {i: segs_of(t) for i, t in enumerate(texts)}
    from collections import Counter

    df_counts = Counter()
    for segs in by_doc.values():
        for s in set(segs):
            df_counts[s] += 1
    hot = {s for s, c in df_counts.items() if c >= min_docs}
    want = {
        i: (
            " ".join(s for s in segs if s not in hot),
            len(segs),
            sum(1 for s in segs if s in hot),
        )
        for i, segs in by_doc.items()
    }

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_segs"], r["n_removed"])
        for r in boilerplate_scrub(df, seg_words=W, min_docs=min_docs).collect()
    }
    assert got == want


# -- hard-negative mining (operators/similarity.py) --------------------------


@given(
    st.lists(
        st.tuples(
            st.lists(
                st.integers(-3, 3).map(float), min_size=3, max_size=3
            ),
            st.integers(0, 2),
        ),
        min_size=4,
        max_size=12,
    )
)
@settings(deadline=None, max_examples=10)
def test_hard_negatives_match_numpy_bruteforce(spark, rows):
    """mine_hard_negatives (the production operator the registry query
    wraps) agrees with a numpy brute-force reference on arbitrary tiny
    embedding tables (anchor = vec_id < 2): same positive-or-NULL (a
    singleton-label anchor keeps its negatives with a NULL positive),
    same negative ranking, same rounded scores and margins."""
    import numpy as np

    from pyspark.sql import functions as F

    from basin_cli_spark.operators.similarity import mine_hard_negatives

    # drop zero vectors (cosine undefined); need >1 label for negatives
    rows = [(i, v, l) for i, (v, l) in enumerate(rows) if any(v)]
    labels = {l for _, _, l in rows}
    if len(rows) < 4 or len(labels) < 2:
        return

    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    got = [
        (
            r["p_id"], r["pos_id"], r["pos_score"],
            r["neg_id"], r["neg_score"], r["neg_rank"], r["margin"],
        )
        for r in mine_hard_negatives(e, F.col("vec_id") < 2, k=3)
        .orderBy("p_id", "neg_rank")
        .collect()
    ]

    by_id = {i: (np.array(v), l) for i, v, l in rows}

    def cos(a, b):
        return round(
            float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    want = []
    for p_id in sorted(i for i in by_id if i < 2):
        pv, pl = by_id[p_id]
        pos = [
            (cos(v, pv), vid)
            for vid, (v, l) in by_id.items()
            if vid != p_id and l == pl
        ]
        pos.sort(key=lambda x: (-x[0], x[1]))
        pos_id, pos_score = (pos[0][1], pos[0][0]) if pos else (None, None)
        negs = [
            (cos(v, pv), vid)
            for vid, (v, l) in by_id.items()
            if vid != p_id and l != pl
        ]
        negs.sort(key=lambda x: (-x[0], x[1]))
        for rank, (sc, vid) in enumerate(negs[:3], 1):
            margin = round(pos_score - sc, 6) if pos else None
            want.append((p_id, pos_id, pos_score, vid, sc, rank, margin))
    assert got == want


# -- SCRAM-SHA-256 exchange (sources/pgwire.py) ------------------------------

_scram_text = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126,
                           exclude_characters=",="),
    min_size=1, max_size=40,
)


@given(password=_scram_text, cnonce=_scram_text, snonce=_scram_text,
       salt=st.binary(min_size=1, max_size=32),
       iterations=st.integers(min_value=1, max_value=4096))
@settings(max_examples=25, deadline=None)
def test_scram_roundtrip_any_password(password, cnonce, snonce, salt,
                                      iterations):
    """For ANY password/nonces/salt/iteration-count: the client's proof
    verifies against the verifier derived from the same password, the
    returned server-final carries exactly the signature the client
    expects (mutual auth closes), and a one-character password change on
    either side fails the proof."""
    import base64

    from basin_cli_spark.sources import pgwire as W

    _, bare = W.scram_client_first(cnonce)
    v = W.ScramVerifier(password, salt=salt, iterations=iterations)
    sf = v.server_first(W._GS2_HEADER + bare, snonce)
    final, expected_sig = W.scram_client_final(password, bare, sf)
    assert v.verify_client_final(final) == (
        "v=" + base64.b64encode(expected_sig).decode()
    )
    bad_final, _ = W.scram_client_final(password + "x", bare, sf)
    assert v.verify_client_final(bad_final) is None
    v2 = W.ScramVerifier(password + "x", salt=salt, iterations=iterations)
    v2.server_first(W._GS2_HEADER + bare, snonce)
    assert v2.verify_client_final(final) is None


# ---------------------------------------------------------------------------
# UniMax water-filling closed form (pure Python — mirrors q_corpus_unimax)

_lang_counts = st.lists(
    st.integers(min_value=1, max_value=10**9), min_size=1, max_size=20
)


@given(_lang_counts, st.integers(min_value=1, max_value=5),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=200, deadline=None)
def test_unimax_closed_form_matches_sequential_greedy(counts, n_epochs,
                                                      budget_halves):
    """The closed form q_corpus_unimax evaluates in SQL — capped iff
    ``N * (c_i * (L - i) + P_i) <= B`` over the ascending prefix sum,
    capped keep ``N * c_i``, the rest share ``(B - N * P_K) / (L - K)``
    — must allocate EXACTLY what the paper's sequential greedy (UniMax
    Algorithm 1: smallest language first, min(cap, even share of the
    remaining budget)) allocates, for any counts, epoch cap, and budget.
    Fractions make the equality exact, so a formula error cannot hide
    inside float tolerance."""
    from fractions import Fraction

    cs = sorted(counts)
    L = len(cs)
    N = n_epochs
    B = Fraction(budget_halves * sum(cs), 2)

    # the paper's greedy, verbatim
    remaining = B
    greedy = []
    for i, c in enumerate(cs):
        share = remaining / (L - i)
        alloc = min(Fraction(N * c), share)
        greedy.append(alloc)
        remaining -= alloc

    # the closed form shipped in corpus_ops.q_corpus_unimax
    prefix = 0
    capped = []
    for i, c in enumerate(cs, start=1):
        prefix += c
        capped.append(N * (c * (L - i) + prefix) <= B)
    K = sum(capped)
    pk = sum(c for c, f in zip(cs, capped) if f)
    closed = [
        Fraction(N * c) if f else (B - N * pk) / (L - K)
        for c, f in zip(cs, capped)
    ]

    assert closed == greedy


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "d", "ee"]),
            min_size=0, max_size=24,
        ),
        min_size=1, max_size=12,
    ),
    k=st.integers(min_value=2, max_value=5),
)
@settings(max_examples=10, deadline=None)
def test_gram_coverage_fold_matches_counter_replay(spark, docs, k):
    """gram_coverage_fold (best, dup, top) and run_lnrun_fold (the
    entropy numerator over tokens) agree with a driver-side Counter
    replay on arbitrary small-alphabet token lists — exercising empty
    docs, all-identical docs, and every run boundary shape the
    hand-written cases can't enumerate."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from basin_cli_spark.operators.dedup import (
        gram_coverage_fold, run_lnrun_fold, shingles,
    )

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)],
        "doc_id long, toks array<string>",
    )
    rows = df.select(
        "doc_id",
        gram_coverage_fold(shingles(F.col("toks"), k)).alias("f"),
        run_lnrun_fold(F.col("toks")).alias("s"),
    ).collect()
    got = {r.doc_id: (r.f["best"], r.f["dup"], r.f["top"], r.s) for r in rows}
    for i, toks in enumerate(docs):
        grams = [
            " ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)
        ]
        cnt = Counter(grams)
        best = max((c * len(g) for g, c in cnt.items()), default=0)
        dup = sum(c * len(g) for g, c in cnt.items() if c >= 2)
        top = max(cnt.values(), default=0)
        s = sum(c * math.log(c) for c in Counter(toks).values())
        gb, gd, gt, gs = got[i]
        assert (gb, gd, gt) == (best, dup, top), (i, toks)
        assert abs(gs - s) < 1e-9, (i, toks, gs, s)


@given(
    st.lists(
        st.floats(
            min_value=-2.0, max_value=2.0,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=30, deadline=None)
def test_vec_str_spark_duckdb_differential(spark, xs):
    """_helpers.vec_str and sql_vec_str must agree bit-for-bit on any
    double vector that went through round(·, 6) first (the helper's
    documented precondition) — including negatives, near-zero values
    that round to -0.0, and values whose x*1e6 sits a ULP off an
    integer.  This is the seam where Spark's truncating double->long
    cast and DuckDB's rounding one diverge if ROUND is skipped."""
    import duckdb

    from basin_cli_spark.queries._helpers import sql_vec_str, vec_str

    from pyspark.sql import functions as F

    rounded = [round(x, 6) for x in xs]
    sdf = spark.createDataFrame(
        [(rounded,)], "v array<double>"
    ).select(vec_str("v").alias("s"))
    got_spark = sdf.collect()[0]["s"]

    con = duckdb.connect()
    lit = "[" + ", ".join(repr(x) for x in rounded) + "]"
    got_duck = con.execute(
        f"SELECT {sql_vec_str(f'CAST({lit} AS DOUBLE[])')} AS s"
    ).fetchone()[0]
    assert got_spark == got_duck, (rounded, got_spark, got_duck)
