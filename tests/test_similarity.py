"""Unit tests for the similarity/LSH machinery.

Covers the properties the oracle diff can't see: the corpus-sizing curve
(band_bits_for), version-stable plane derivation (SHA-256 counter mode,
pinned golden values), and bit-for-bit agreement between the Arrow dot
kernel and the declarative HOF fold.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from basin_cli_spark.operators import similarity as S


def test_band_bits_sizing_curve():
    # bench fixture: 500 vectors -> minimum width (16 buckets/band)
    assert S.band_bits_for(500) == 4
    # sf0.1 fixture: 2000 vectors -> 32 buckets/band
    assert S.band_bits_for(2000) == 5
    # a 10^9-vector corpus -> ~60-row buckets, NOT 16 corpus-wide ones
    assert S.band_bits_for(10**9) == 24
    # clamps
    assert S.band_bits_for(0) == 4
    assert S.band_bits_for(10**12) == 30


def test_planes_are_version_stable():
    """Planes derive from SHA-256, not a library RNG: the exact values are
    pinned so ANY drift (numpy version, platform, refactor) fails here —
    persisted signatures and the DuckDB oracle depend on them."""
    planes = S.random_planes(n_planes=2)
    assert [len(p) for p in planes] == [8, 8]
    for p in planes:
        dims = [d for d, _ in p]
        assert len(set(dims)) == len(dims)
        assert all(0 <= d < 64 for d in dims)
        assert all(s in (-1, 1) for _, s in p)
    # golden: first plane for the default (seed=42) construction
    expected = S.random_planes(1)[0]
    assert planes[0] == expected  # determinism across calls
    h = __import__("hashlib").sha256(repr(planes).encode()).hexdigest()
    assert h == PLANES_GOLDEN_SHA, (
        f"plane derivation changed: {h} — persisted LSH signatures and "
        "oracle bucketing would silently diverge"
    )


# sha256(repr(random_planes(2))) at the time the derivation was
# frozen; recompute ONLY on a deliberate, versioned scheme change.
PLANES_GOLDEN_SHA = (
    "60bdf2c181ce8a4e69e2bc66adb9b7643545b5300b182a64d43f0b115e957f5e"
)


def test_dot_arrow_matches_hof_fold(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(np.float32(x)) for x in rng.normal(size=16)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    pair = df.alias("a").join(
        df.alias("b"), F.col("a.id") < F.col("b.id")
    ).select(
        F.col("a.v").alias("x"), F.col("b.v").alias("y")
    )
    got = pair.select(
        S.dot(F.col("x"), F.col("y")).alias("hof"),
        S.dot_arrow(F.col("x"), F.col("y")).alias("arrow"),
    ).collect()
    assert len(got) == 200 * 199 // 2
    for r in got:
        # bit-for-bit: same IEEE ops in the same order
        assert r.hof == r.arrow


def test_dot_arrow_null_propagation_matches_fold(spark):
    """Degenerate pairs behave like the zip_with/aggregate fold: a NULL
    vector cell, a NULL element, or a ragged-length pair all yield NULL
    (never a crash, never a truncated partial dot), so a crawl-edge
    embedding can't outrank a real score in the desc rank windows."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [3.0, 4.0]),   # clean        -> 11.0
            (2, None, [3.0, 4.0]),          # NULL cell    -> NULL
            (3, [1.0, 2.0], None),          # NULL cell    -> NULL
            (4, [1.0, None], [3.0, 4.0]),   # NULL element -> NULL
            (5, [1.0], [3.0, 4.0]),         # ragged pair  -> NULL
            (6, [2.0, 0.5], [1.0, 8.0]),    # clean        -> 6.0
            # genuine NaN double (not NULL): dot()'s nanvl guard and the
            # Arrow serializer's NaN->NULL must agree — a raw JVM fold
            # would return NaN, which sorts ABOVE every double desc,
            # the opposite ranking of dot_arrow's NULL
            (7, [1.0, float("nan")], [3.0, 4.0]),  # NaN element -> NULL
            (8, [], []),                    # empty pair -> fold seed 0.0
            # self-consistent pairs of a DIFFERENT dim in the same batch:
            # the grouped fallback must still score them, not NULL them
            (9, [1.0, 2.0, 3.0], [1.0, 1.0, 1.0]),  # clean d=3 -> 6.0
        ],
        "id int, x array<double>, y array<double>",
    )
    got = {
        r.id: (r.hof, r.arrow)
        for r in df.select(
            "id",
            S.dot(F.col("x"), F.col("y")).alias("hof"),
            S.dot_arrow(F.col("x"), F.col("y")).alias("arrow"),
        ).collect()
    }
    assert got == {
        1: (11.0, 11.0),
        2: (None, None),
        3: (None, None),
        4: (None, None),
        5: (None, None),
        6: (6.0, 6.0),
        7: (None, None),
        8: (0.0, 0.0),
        9: (6.0, 6.0),
    }


def test_dot_batch_mixed_batch_stays_vectorized():
    """One degenerate row must not send the whole Arrow batch down a
    per-element Python loop: on a 1%-NULL batch the
    grouped fallback stacks and column-sweeps the clean subset, so its
    throughput stays within a small factor of the dense fast path (the
    old per-row loop was ~100x slower on this shape)."""
    import time

    from basin_cli_spark.operators.similarity import _dot_batch

    rng = np.random.default_rng(11)
    n, d = 20_000, 64
    A = rng.normal(size=(n, d))
    B = rng.normal(size=(n, d))
    clean_x = pd.Series(list(A))
    clean_y = pd.Series(list(B))
    mixed_x = pd.Series(list(A))
    for i in range(0, n, 100):  # 1% NULL cells
        mixed_x.iat[i] = None
    mixed_y = pd.Series(list(B))

    # correctness: NULL rows NULL out, clean rows bit-match the fast path
    dense = _dot_batch(clean_x, clean_y)
    mixed = _dot_batch(mixed_x, mixed_y)
    assert mixed.isna().sum() == n // 100
    keep = [i for i in range(n) if i % 100 != 0]
    assert (mixed.iloc[keep].to_numpy() == dense.iloc[keep].to_numpy()).all()

    def best_of(f, reps=3):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            f()
            ts.append(time.perf_counter() - t0)
        return min(ts)

    t_dense = best_of(lambda: _dot_batch(clean_x, clean_y))
    t_mixed = best_of(lambda: _dot_batch(mixed_x, mixed_y))
    # ~1.5x is the design target; 3x is the test bound so sandbox load
    # noise can't flake it while the ~100x interpreted path still fails
    assert t_mixed <= 3.0 * t_dense + 0.01, (t_mixed, t_dense)


def test_mine_hard_negatives_null_embedding_rows_dropped(spark):
    """A NULL-embedding row can be neither an anchor nor a candidate —
    the pair path must survive it (np.stack on a None cell once killed
    the whole job) and exclude it from the mined output."""
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.0, 1.0], 1),
        (3, None, 1),        # crawl edge: no vector
        (4, [0.1, 0.9], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = S.mine_hard_negatives(df, F.col("vec_id") == 0, k=5).collect()
    ids = {r.neg_id for r in out} | {r.pos_id for r in out}
    assert 3 not in ids
    assert len(out) == 2  # negatives 2 and 4; never a crash


def test_ivf_stub_codebook_is_constant_size(spark):
    """The stride codebook caps at 256 rows, so the codebook collected to
    the driver is constant no matter the corpus size."""
    n = 25 * 300  # corpus large enough that the cap binds (300 > 256)
    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 11)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = S.stride_codebook(df)
    assert cents.shape == (256, 2)
    # descending cent_id order: the first row is vec_id 25 * 255
    assert cents[0].tolist() == [float(6375 % 7), float(6375 % 11)]
    # end-to-end: the capped codebook still answers, and the zero query
    # (vec 0) probes without a NaN score
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = S.cosine_topk_ivf(df, cents, 0, 3, 2)
    assert out.count() <= 3


def test_ivf_ties_go_to_lower_codebook_index(spark):
    """Two identical codebook rows: assign_ids and the probe both pick
    the lower index, so the probed cell is the one the vectors sit in.
    A probe that picked the higher index would find its cell empty."""
    from basin_cli_spark.operators import kmeans as KM

    cents = np.array([[1.0, 0.0], [0.0, 1.0], [0.0, 1.0]])
    df = spark.createDataFrame(
        [(0, [0.0, 2.0]), (1, [0.1, 1.0]), (2, [0.2, 1.0]), (3, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cells = {
        r.vec_id: r.cent_id for r in KM.assign_ids(df, cents).collect()
    }
    assert cells == {0: 1, 1: 1, 2: 1, 3: 0}
    got = [r.vec_id for r in S.cosine_topk_ivf(df, cents, 0, 5, 1).collect()]
    assert got == [1, 2]


def test_ivf_stride_tie_matches_oracle(spark, sf_dir, tmp_path):
    """Identical stride centroids (vec 50 := vec 25): the stride
    codebook's descending order makes the shared kernel's lower-index
    ties replay the oracle's ``cent_id DESC`` rule, end to end.  The
    query (vec 0, itself a centroid) is set equal to them too, so the
    three-way tie decides the probe as well as the assignment: a probe
    that broke it the other way would visit empty cells."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from basin_cli_spark.oracle import compare, duckdb_connect
    from basin_cli_spark.queries import load_all

    d = tmp_path / "sf"
    shutil.copytree(sf_dir, d, copy_function=shutil.copyfile)
    d.chmod(0o755)
    path = d / "embeddings.parquet"
    t = pq.read_table(path)
    embs = t.column("embedding").to_pylist()
    ids = t.column("vec_id").to_pylist()
    embs[ids.index(50)] = embs[ids.index(0)] = embs[ids.index(25)]
    t = t.set_column(
        t.schema.get_field_index("embedding"), "embedding",
        pa.array(embs, type=t.schema.field("embedding").type),
    )
    pq.write_table(t, path)
    spec = load_all()["q_similarity_ann_ivf"]
    ok, msg = compare(
        spec.fn(spark, str(d)), duckdb_connect(str(d)).execute(spec.oracle).arrow()
    )
    assert ok, msg


def test_sign_lsh_bands_match_oracle_sql(spark):
    """The pandas_udf band signatures equal DuckDB's replay of
    sign_lsh_band_sql on the same vectors."""
    import duckdb

    rng = np.random.default_rng(11)
    vecs = [
        [float(np.float32(x)) for x in rng.normal(size=64)] for _ in range(64)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<float>"
    )
    got = {
        r.id: list(r.bands)
        for r in df.select(
            "id", S.sign_lsh_bands(F.col("v"), 4).alias("bands")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {vecs[i]!r})" for i in range(len(vecs)))
        + ") AS x(id, v)"
    )
    band_exprs = ", ".join(
        S.sign_lsh_band_sql("v", b, band_bits=4) + f" AS b{b}"
        for b in range(4)
    )
    want = {
        row[0]: list(row[1:])
        for row in con.execute(f"SELECT id, {band_exprs} FROM t").fetchall()
    }
    assert got == want


def test_multiprobe_beats_single_probe(spark, sf_dir):
    """The point of multi-probe: 1-bit-flip probes recover near-misses.
    On the fixture, multiprobe top-5 must contain at least 3 of the
    brute-force top-5 and strictly dominate the single-probe hit count."""
    from basin_cli_spark.queries import load_all

    reg = load_all()
    brute = {
        r.vec_id
        for r in reg["q_similarity_bruteforce"].fn(spark, sf_dir).collect()[:5]
    }
    single = {
        r.vec_id
        for r in reg["q_similarity_ann_lsh"].fn(spark, sf_dir).collect()
    }
    multi = {
        r.vec_id
        for r in reg["q_similarity_ann_multiprobe"].fn(spark, sf_dir).collect()
    }
    assert len(multi & brute) >= 3
    assert len(multi & brute) >= len(single & brute)


def test_hot_cell_guard_caps_semantic_ivf_blowup(spark):
    """A duplicate-heavy crawl collapses into one giant centroid cell;
    drop_hot_cells must remove it before the within-cell |cell|^2
    self-join while leaving normal cells untouched."""
    import pyspark.sql.functions as F

    rows = (
        [(i, 3) for i in range(500)]            # hot cell: 500 vectors
        + [(1000 + i, 10 + i) for i in range(20)]  # 20 singleton cells
        + [(2000, 7), (2001, 7)]                 # one normal pair cell
    )
    assigned = spark.createDataFrame(rows, "vec_id long, cent_id int")
    kept = S.drop_hot_cells(assigned, max_cell=64)
    got = {r.cent_id for r in kept.select("cent_id").distinct().collect()}
    assert 3 not in got                          # hot cell gone
    assert 7 in got and 10 in got                # others intact
    assert kept.count() == 22
    a, b = kept.alias("a"), kept.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cent_id") == F.col("b.cent_id"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).count()
    assert pairs == 1


def test_semantic_ivf_fixture_cells_below_default_cap(spark, sf_dir):
    """The fixture embeddings' widest IVF cell sits far below the
    kmeans.MAX_CELL cap, so the capped query is byte-identical to the
    uncapped oracle — pin that precondition so a fixture change can't
    silently turn the cap into an oracle divergence."""
    from basin_cli_spark.operators import kmeans as KM
    from basin_cli_spark.sources import load_table
    import pyspark.sql.functions as F

    e = load_table(spark, sf_dir, "embeddings")
    cents = KM.frozen_codebook(e, "ivf")
    widest = (
        KM.assign_ids(e, cents)
        .groupBy("cent_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert widest < KM.MAX_CELL


def test_hard_negative_mining_triplet_semantics(spark, sf_dir):
    """Every mined triplet is well-formed: the negative's label differs
    from the anchor's, negatives rank by descending similarity, the
    positive shares the anchor's label, and margin = pos - neg."""
    from basin_cli_spark.queries import load_all

    reg = load_all()
    rows = reg["q_similarity_hard_negatives"].fn(spark, sf_dir).collect()
    assert rows, "probe set must mine at least one triplet"
    e = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    by_anchor = {}
    for r in rows:
        assert e[r["neg_id"]] != r["anchor_label"]
        assert e[r["pos_id"]] == r["anchor_label"]
        assert abs(r["margin"] - round(r["pos_score"] - r["neg_score"], 6)) < 1e-9
        by_anchor.setdefault(r["p_id"], []).append(r)
    for anchor, rs in by_anchor.items():
        rs.sort(key=lambda r: r["neg_rank"])
        scores = [r["neg_score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert len({r["pos_id"] for r in rs}) == 1


def test_hard_negative_mining_singleton_anchor_edges(spark):
    """The two label-cardinality edges of the miner's documented contract
    (operators/similarity.py mine_hard_negatives docstring):
    * a SINGLETON-LABEL anchor (no same-label positive) still emits its
      negatives, with NULL pos_id/pos_score/margin (LEFT join);
    * an anchor with ZERO different-label candidates (single-label corpus
      slice) emits no rows at all — no negative => no triplet."""
    from basin_cli_spark.operators.similarity import mine_hard_negatives
    import pyspark.sql.functions as F

    # vec 0 is the only 'a'; vecs 1-3 are 'b'
    df = spark.createDataFrame(
        [
            (0, "a", [1.0, 0.0]),
            (1, "b", [0.9, 0.1]),
            (2, "b", [0.0, 1.0]),
            (3, "b", [0.5, 0.5]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    rows = mine_hard_negatives(
        df, probe_filter=F.col("vec_id") == 0, k=2,
    ).collect()
    assert rows, "singleton-label anchor must still emit its negatives"
    assert all(r["p_id"] == 0 for r in rows)
    assert all(r["pos_id"] is None for r in rows)
    assert all(r["pos_score"] is None and r["margin"] is None for r in rows)
    assert {r["neg_id"] for r in rows} <= {1, 2, 3}

    # single-label corpus: anchor 0 has no different-label candidate
    mono = df.withColumn("label", F.lit("a"))
    assert (
        mine_hard_negatives(
            mono, probe_filter=F.col("vec_id") == 0, k=2,
        ).count()
        == 0
    )


def test_hard_negative_mining_require_all_anchors(spark):
    """require_all_anchors=True drives the output from the anchor set: a
    zero-negative anchor (single-label corpus slice) surfaces as one row
    with NULL neg_id/neg_score/neg_rank/margin instead of vanishing, and
    its hardest positive is still mined; anchors WITH negatives emit the
    identical triplets the default (negatives-driven) variant emits."""
    import pyspark.sql.functions as F

    from basin_cli_spark.operators.similarity import mine_hard_negatives

    mono = spark.createDataFrame(
        [
            (0, "a", [1.0, 0.0]),
            (1, "a", [0.9, 0.1]),
            (2, "a", [0.0, 1.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    rows = mine_hard_negatives(
        mono, probe_filter=F.col("vec_id") == 0, k=2,
        require_all_anchors=True,
    ).collect()
    assert len(rows) == 1, "zero-negative anchor must surface exactly once"
    r = rows[0]
    assert r["p_id"] == 0 and r["anchor_label"] == "a"
    assert r["neg_id"] is None and r["neg_score"] is None
    assert r["neg_rank"] is None and r["margin"] is None
    assert r["pos_id"] == 1  # hardest same-label neighbor still mined

    # with negatives present, both variants agree row-for-row
    mixed = spark.createDataFrame(
        [
            (0, "a", [1.0, 0.0]),
            (1, "a", [0.9, 0.1]),
            (2, "b", [0.0, 1.0]),
            (3, "b", [0.5, 0.5]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    kw = dict(
        probe_filter=F.col("vec_id") == 0, k=2,
    )
    default = sorted(
        mine_hard_negatives(mixed, **kw).collect(),
        key=lambda r: (r["p_id"], r["neg_rank"]),
    )
    required = sorted(
        mine_hard_negatives(mixed, require_all_anchors=True, **kw).collect(),
        key=lambda r: (r["p_id"], r["neg_rank"]),
    )
    assert default == required


def test_prototype_prune_drops_least_prototypical(spark, sf_dir):
    """Per label: ~10% of vectors are dropped, and every dropped vector
    scores at most the minimum kept similarity for that label."""
    from collections import Counter

    from basin_cli_spark.queries import load_all

    reg = load_all()
    kept = reg["q_embedding_prototype_prune"].fn(spark, sf_dir).collect()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_by_label = Counter(r["label"] for r in e.select("label").collect())
    kept_by_label = Counter(r["label"] for r in kept)
    min_kept = {}
    for r in kept:
        lab = r["label"]
        min_kept[lab] = min(min_kept.get(lab, 1.0), r["proto_sim"])
    for lab, n in n_by_label.items():
        k = kept_by_label[lab]
        assert 0 < k < n  # something kept, something dropped
        assert abs(k / n - 0.9) < 0.05


def test_kcenter_select_maximizes_spread(spark, sf_dir):
    """Greedy FPS invariants: picks are unique, far_cos is monotone
    non-decreasing (each admitted point is nearer the chosen set than
    its predecessors were), and every pick's far_cos is genuinely the
    minimum max-cosine among unchosen vectors at its step (spot-checked
    against a numpy replay)."""
    import numpy as np

    from basin_cli_spark.operators.similarity import kcenter_select

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    picks = kcenter_select(e, k=5)
    ids = [v for _, v, _ in picks]
    assert len(set(ids)) == 5
    fars = [c for _, _, c in picks[1:]]
    assert fars == sorted(fars)

    # numpy replay of the same greedy (round-before-rank, min-id ties)
    rows = e.select("vec_id", "embedding").collect()
    vid = np.array([r[0] for r in rows])
    M = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    order = np.argsort(vid)
    vid, Mn = vid[order], Mn[order]
    chosen = [0]  # index of min vec_id after sort
    replay = [(0, int(vid[0]), None)]
    for step in range(1, 5):
        mc = np.round(Mn @ Mn[chosen].T, 6).max(axis=1)
        mc[chosen] = np.inf
        j = int(np.argmin(mc))  # argmin takes first occurrence = min id
        chosen.append(j)
        replay.append((step, int(vid[j]), float(mc[j])))
    assert [(s, v) for s, v, _ in picks] == [(s, v) for s, v, _ in replay]


def test_kcenter_select_edge_guards(spark):
    """k past the usable row count stops early with every row selected;
    NULL-embedding rows never win a pick; an empty table raises."""
    import pytest

    from basin_cli_spark.operators.similarity import kcenter_select

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    picks = kcenter_select(df, k=10)
    assert [v for _, v, _ in picks] == [1, 2]  # early stop, no NULL pick

    empty = df.where("vec_id < 0")
    with pytest.raises(ValueError):
        kcenter_select(empty, k=2)


def test_kcenter_step_plan_size_constant(spark):
    """The per-step FPS expression tree must not grow with the chosen-set
    size: the chosen ids and vectors ride as two single-node array
    literals, so the optimized plan at |chosen|=20 has the same NODE
    structure as at |chosen|=2 — same line count, one array_contains,
    one transform, no isin (the old formulation baked an `isin` list
    plus k*dim float literal nodes into the plan, so Catalyst analysis
    cost grew with every step).  The plan *string* may grow — a Literal
    prints its data — so the assertion counts structure, not bytes."""
    from basin_cli_spark.operators.similarity import _kcenter_step

    src = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    vec2 = [(i, [float(i), 1.0]) for i in range(2)]
    vec20 = [(i, [float(i), 1.0]) for i in range(20)]
    plan2 = _kcenter_step(src, vec2)._jdf.queryExecution().optimizedPlan().toString()
    plan20 = _kcenter_step(src, vec20)._jdf.queryExecution().optimizedPlan().toString()
    for plan in (plan2, plan20):
        assert "isin" not in plan.lower()
        assert plan.count("array_contains") == 1
        assert plan.count("transform(") == 1
    assert len(plan20.splitlines()) == len(plan2.splitlines())


def test_anisotropy_exact_on_constructed_cones(spark, tmp_path):
    """A fully collapsed label (identical vectors) has mean pairwise
    cosine exactly 1.0; an antipodal pair exactly -1.0; an orthogonal
    pair exactly 0.0; a singleton label has no pairs (NULL)."""
    from basin_cli_spark.queries import load_all

    rows = [
        (1, 0, [3.0, 0.0, 0.0, 4.0] + [0.0] * 60),
        (2, 0, [3.0, 0.0, 0.0, 4.0] + [0.0] * 60),
        (3, 0, [3.0, 0.0, 0.0, 4.0] + [0.0] * 60),
        (4, 1, [1.0, 1.0] + [0.0] * 62),
        (5, 1, [-1.0, -1.0] + [0.0] * 62),
        (6, 2, [1.0, 0.0] + [0.0] * 62),
        (7, 2, [0.0, 1.0] + [0.0] * 62),
        (8, 3, [5.0] + [0.0] * 63),
    ]
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.label: r
        for r in load_all()["q_embedding_anisotropy"]
        .fn(spark, str(tmp_path)).collect()
    }
    assert got[0].mean_pairwise_cos == 1.0 and got[0].n_vecs == 3
    assert got[1].mean_pairwise_cos == -1.0
    assert got[2].mean_pairwise_cos == 0.0
    assert got[3].mean_pairwise_cos is None and got[3].n_vecs == 1


def _zero_norm_corpus(spark):
    return spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )


def test_pair_scorer_zero_norm_is_null(spark):
    """A zero-norm vector has no cosine: its pairs score NULL (sorting
    last) instead of raising DIVIDE_BY_ZERO and killing the job."""
    e = _zero_norm_corpus(spark)
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "vec_a long, vec_b long")
    got = {
        (r.vec_a, r.vec_b): r.score
        for r in S.cosine_pair_scores(pairs, e).collect()
    }
    assert got == {(0, 1): None, (1, 2): 0.707107}


def test_probe_scorer_zero_norm_is_null(spark):
    e = _zero_norm_corpus(spark)
    probes = e.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("p_id"), F.col("embedding").alias("p_emb")
    )
    got = {
        (r.p_id, r.vec_id): r.score
        for r in S.cosine_probe_scores(e, probes, ["p_id", "vec_id"]).collect()
    }
    # self-pairs excluded; the zero vector scores NULL on either side
    assert got == {(0, 1): None, (0, 2): None, (1, 0): None, (1, 2): 0.707107}


def test_keep_one_keeps_every_row_without_edges(spark):
    from basin_cli_spark.operators.dedup import keep_one

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 5)], "doc_id long, text string"
    )
    no_edges = spark.createDataFrame([], "doc_a long, doc_b long")
    kept = keep_one(docs, no_edges, "doc_id", "doc_a", "doc_b")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3, 4]
    # and with a 2-3-4 chain only its min-id representative survives
    chain = spark.createDataFrame([(2, 3), (3, 4)], "doc_a long, doc_b long")
    kept = keep_one(docs, chain, "doc_id", "doc_a", "doc_b")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]
