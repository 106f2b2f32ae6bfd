"""Curation-operator tests (operators/curation.py): chunk boundary
arithmetic, split determinism/append-stability, normalization unicode
safety, decontamination overlap semantics, and PQ self-coding."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from basin_cli_spark.operators import curation as C
from basin_cli_spark.sources import load_table


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, n_chars long",
    )


# -- chunking -----------------------------------------------------------------

def test_chunk_boundaries(spark):
    d = _docs(spark, ["", "x" * 150, "x" * 151, "a" * 200 + "b" * 200])
    out = {
        (r.doc_id, r.chunk_id): r.chunk_text
        for r in C.chunk_documents(d).collect()
    }
    # empty doc -> exactly one empty chunk
    assert out[(0, 0)] == ""
    assert (0, 1) not in out
    # 150 chars: one chunk (next start at 151 > n_chars)
    assert out[(1, 0)] == "x" * 150
    assert (1, 1) not in out
    # 151 chars: second chunk starts inside the doc
    assert out[(2, 1)] == "x"
    # overlap: chunk 1 of the 400-char doc spans chars 151..350
    assert out[(3, 1)] == "a" * 50 + "b" * 150


def test_chunk_covers_document(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    chunks = C.chunk_documents(d)
    got = (
        chunks.groupBy("doc_id")
        .agg(F.max(F.col("chunk_id") * 150 + F.length("chunk_text")).alias("end"))
        .join(d, "doc_id")
        .where(F.col("end") < F.col("n_chars"))
        .count()
    )
    assert got == 0  # every document's tail is inside some chunk


# -- split assignment ---------------------------------------------------------

def test_split_deterministic_and_append_stable(spark):
    d1 = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    d2 = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    a1 = {r.doc_id: r.s for r in d1.select("doc_id", C.split_assign().alias("s")).collect()}
    a2 = {r.doc_id: r.s for r in d2.select("doc_id", C.split_assign().alias("s")).collect()}
    # appending ids never migrates existing assignments
    assert all(a2[k] == v for k, v in a1.items())
    # all three splits appear, in roughly 13/1/2 proportion
    n = len(a2)
    frac_train = sum(v == "train" for v in a2.values()) / n
    assert 0.7 < frac_train < 0.9
    assert {"train", "val", "test"} == set(a2.values())


# -- normalization ------------------------------------------------------------

def test_normalize_text(spark):
    d = _docs(spark, ["  Hello,   WORLD!!  ", "tab\tand\nnewline", "中文 text."])
    got = [r.n for r in d.select(C.normalize_text("text").alias("n")).orderBy("doc_id").collect()]
    assert got[0] == "hello world"
    assert got[1] == "tab and newline"
    assert got[2] == "中文 text"  # non-ASCII untouched by the POSIX class


# -- decontamination ----------------------------------------------------------

def test_decontaminate_counts_shared_trigrams(spark):
    train = _docs(spark, ["the quick brown fox jumps", "totally unrelated words here"])
    ev = spark.createDataFrame(
        [(100, "quick brown fox", 15)], "doc_id long, text string, n_chars long"
    )
    got = {r.doc_id: r.n_shared_shingles for r in C.decontaminate(train, ev).collect()}
    assert got == {0: 1}  # only 'quick brown fox' overlaps; doc 1 clean


def test_bloom_decontaminate_matches_exact(spark, sf_dir):
    """The Bloom layer is a prefilter only — the exact verify join must
    make the result bit-identical to plain decontaminate(), including at
    a deliberately terrible fpp where nearly everything passes the bloom."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    train, ev = d.where(F.col("doc_id") % 20 != 0), d.where(F.col("doc_id") % 20 == 0)
    exact = sorted(map(tuple, C.decontaminate(train, ev).collect()))
    for fpp in (0.01, 0.5):
        bloom = sorted(map(tuple, C.bloom_decontaminate(train, ev, fpp=fpp).collect()))
        assert bloom == exact


def test_bloom_decontaminate_empty_eval(spark):
    train = _docs(spark, ["the quick brown fox jumps"])
    ev = _docs(spark, []).where(F.lit(False))
    assert C.bloom_decontaminate(train, ev).count() == 0


def test_bloom_params_sizing():
    m, k = C._bloom_params(10_000, 0.01)
    assert 9 <= m / 10_000 <= 10.5  # ~9.6 bits/element at 1% fpp
    assert k == 7
    # degenerate inputs stay well-formed
    assert C._bloom_params(0, 0.01)[0] >= 64


def test_shard_pack_positions_dense(spark, sf_dir):
    """Every shard's positions must be exactly 0..n_i-1 and the same doc
    must land on the same shard under re-runs (content-keyed, no RNG)."""
    from basin_cli_spark.queries import load_all

    reg = load_all()
    out = reg["q_corpus_shard_pack"].fn(spark, sf_dir).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.position)
    assert set(by_shard) <= set(range(8))
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(len(pos)))
    again = reg["q_corpus_shard_pack"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_incremental_dedup_verdicts(spark):
    """A new batch checked against a corpus: an exact copy is 'exact', a
    one-token extension (shares nearly all shingles, so some LSH band
    collides — deterministic given md5) is 'near', fresh text is 'keep'."""
    from basin_cli_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = _docs(spark, [base, "completely different corpus material here"])
    new = spark.createDataFrame(
        [(100, base, len(base)),
         (101, base + " tonight", len(base) + 8),
         (102, "utterly novel never seen content words", 38)],
        "doc_id long, text string, n_chars long",
    )
    got = {r.doc_id: r.verdict for r in incremental_dedup(new, corpus).collect()}
    assert got == {100: "exact", 101: "near", 102: "keep"}


def test_quality_score_monotone_in_stopword_ratio(spark):
    """More stopwords (holding punctuation ~fixed) must not lower the
    quality probability — the probe's sign contract."""
    from basin_cli_spark.operators.text import quality_score

    d = _docs(spark, [
        "zzz qqq vvv kkk xxx www yyy mmm nnn ppp",
        "the and of to a the and of to a",
    ])
    got = {r.doc_id: r.quality_p for r in quality_score(d).collect()}
    assert got[1] > got[0]


def test_rebalance_moves_mix_toward_parity(spark, sf_dir):
    """After rebalancing, the max/min per-language share must be closer
    to 1 than before, and no language may be upsampled (rate <= 1)."""
    from basin_cli_spark.queries import load_all
    from basin_cli_spark.sources import load_table

    reg = load_all()
    before = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out = reg["q_corpus_rebalance"].fn(spark, sf_dir).collect()
    after = {}
    for r in out:
        after[r.lang] = after.get(r.lang, 0) + 1
        assert r.rate <= 1.0
    for lang, n in after.items():
        assert n <= before[lang]
    ratio = lambda d: max(d.values()) / min(d.values())  # noqa: E731
    assert ratio(after) < ratio(before)


# -- PQ self-coding sanity ----------------------------------------------------

def test_pq_codebook_vectors_code_to_themselves(spark, sf_dir):
    from basin_cli_spark.queries import load_all

    reg = load_all()
    # the full query at the smallest fixture; its codebook is vec_id 0..15
    res = reg["q_similarity_pq_adc"].fn(spark, sf_dir).collect()
    assert len(res) == 10
    dists = [r.adc_dist for r in res]
    assert dists == sorted(dists)
    assert all(d >= 0 for d in dists)


# -- feature-hashed embedding norm --------------------------------------------

def test_hash_embedding_aggregated_norm_matches_dense_vector(spark):
    """The L2 norm is an exact integer sum of w^2 inside the assembly hash-agg.
    Pin the equivalence on a corpus with repeated tokens (multi-count
    cells) and the mined sign-cancelling pair: every emitted embedding is
    unit-norm under the sum-of-squares of its own components, and the
    zero-vector doc is still dropped by the _n2 > 0 guard."""
    from basin_cli_spark.operators.text import hash_embedding

    rows = [
        (1, "alpha beta gamma delta alpha alpha beta"),
        (2, "one two three four five six seven eight nine ten " * 5),
        (3, "w3 w12"),  # cancels to the exact zero vector (mined pair)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.embedding
           for r in hash_embedding(df).collect()}
    assert set(out) == {1, 2}
    for vec in out.values():
        assert len(vec) == 64
        norm = math.sqrt(sum(x * x for x in vec))
        assert abs(norm - 1.0) < 1e-3  # rounded components, loose bound


# -- center/normalize ---------------------------------------------------------

def test_center_normalize_unit_norm(spark, sf_dir):
    from basin_cli_spark.queries import load_all

    reg = load_all()
    rows = reg["q_embedding_center_normalize"].fn(spark, sf_dir).collect()
    for r in rows[:20]:
        # unit_vec surfaces via vec_str (scaled-by-1e6 ints joined with ',')
        # per the no-raw-container registry rule
        vec = [int(s) / 1e6 for s in r.unit_vec.split(",")]
        norm = math.sqrt(sum(x * x for x in vec))
        assert abs(norm - 1.0) < 1e-3  # rounded components, loose bound


def test_compression_ratio_orders_text_quality(spark):
    """The signal's whole point: repetitive boilerplate << natural prose
    << incompressible noise."""
    from basin_cli_spark.operators.text import compression_ratio

    rows = [
        (1, "buy now " * 200),
        (2, "The quick brown fox jumps over the lazy dog while the engine "
            "reads a hundred terabytes of text and keeps only what helps."),
        (3, "k9!Xq#7vLm@2Zr$8pW%4tYc^6nJd&1bVf*5hGs(3eKa)0uNx-QzMoPiRlTw"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.compression_ratio
           for r in compression_ratio(df).collect()}
    assert got[1] < 0.2 < got[2] < got[3]
    # empty text -> null, not a crash
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    assert compression_ratio(empty).collect()[0][1] is None


def test_per_source_capped_window_on_skewed_source(spark):
    """A 97%-skewed source through the capped window: the answer is the
    per-source top-k regardless of how the giant source is partitioned,
    and the plan's native WindowGroupLimit(Partial) (pinned separately in
    test_plans) is what keeps the shuffle bounded."""
    from pyspark.sql import Window

    rows = [(i, "giant", f"t{i:05d}") for i in range(2000)] + [
        (10000 + i, f"small{i % 5}", f"s{i:03d}") for i in range(50)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).repartition(16)
    slim = d.select("doc_id", "source", F.md5("text").alias("_mk"))

    k = 7
    w = Window.partitionBy("source").orderBy("_mk", "doc_id")
    got = (
        slim.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= k)
        .groupBy("source")
        .count()
        .collect()
    )
    counts = {r["source"]: r["count"] for r in got}
    assert counts["giant"] == k
    assert all(counts[f"small{i}"] == k for i in range(5))


def test_mad_prune_zero_mad_floor(spark, tmp_path):
    """A source where >50% of docs share one length has MAD=0; the
    floored threshold must keep the near-median docs instead of
    discarding everything not exactly median-length."""
    from basin_cli_spark.queries import load_all

    rows = (
        [(i, "uniform", "x" * 100, 100) for i in range(10)]
        + [(100, "uniform", "x" * 101, 101)]   # within floor of 1
        + [(101, "uniform", "x" * 500, 500)]   # genuine outlier
        + [(200 + i, "varied", "y" * (50 + 10 * i), 50 + 10 * i)
           for i in range(7)]
    )
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.doc_id
        for r in load_all()["q_corpus_mad_prune"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(range(10)) <= got       # median-length docs kept
    assert 100 in got                  # 1-char-off doc kept by the floor
    assert 101 not in got              # real outlier still pruned


def test_boilerplate_scrub_removes_hot_segments_in_order(spark):
    """A footer shared by 3 docs is cut from all of them; unique text
    survives with its original word order; a doc that is pure
    boilerplate collapses to the empty string."""
    footer = "all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {footer}"),
            (2, f"delta epsilon zeta {footer}"),
            (3, f"eta theta iota {footer}"),
            (4, "kappa lambda mu nu xi omicron"),
            (5, footer),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in C.boilerplate_scrub(docs, seg_words=3, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert out[1]["n_segs"] == 2 and out[1]["n_removed"] == 1
    assert out[4]["clean_text"] == "kappa lambda mu nu xi omicron"
    assert out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 1


def test_boilerplate_scrub_preserves_empty_and_null_docs(spark):
    """A rewrite stage must never lose rows: empty, whitespace-only and
    NULL texts come back as (id, '', 0, 0) instead of vanishing."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_segs"], r["n_removed"])
        for r in C.boilerplate_scrub(docs, min_docs=3).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    for d in (2, 3, 4):
        assert out[d] == ("", 0, 0)
    assert out[1] == ("a b c", 1, 0)


def test_boilerplate_scrub_reassembly_preserves_order(spark):
    """Many segments per doc: surviving segments come back in document
    order, not collection order."""
    words = " ".join(f"w{i:02d}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, words)] + [(10 + i, "shared seg here") for i in range(3)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in C.boilerplate_scrub(docs, seg_words=3, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == words
    assert out[1]["n_segs"] == 10 and out[1]["n_removed"] == 0
    for d in (10, 11, 12):
        assert out[d]["clean_text"] == "" and out[d]["n_removed"] == 1


def test_dsir_weight_table_dense_with_smoothed_default(spark):
    """The trained DSIR weight table must cover ALL 256 buckets: a
    serving-time scorer can meet vocabulary the training corpus never
    produced, and an unseen bucket's weight is the Laplace prior
    ln((0+1)/(tt+256)) - ln((0+1)/(tr+256)), not 0.0."""
    import math

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma delta"), (2, "beta beta")],
        "doc_id long, text string",
    )
    rows = {r["b"]: r["w"] for r in C.dsir_weight_table(docs).collect()}
    assert len(rows) == 256
    # exact totals from the tiny corpus: doc 0 is the target slice
    tt, tr = 2, 5
    seen = {
        r["b"]
        for r in spark.createDataFrame(
            [("alpha",), ("beta",), ("gamma",), ("delta",)], "tok string"
        ).select(C.dsir_bucket("tok").alias("b")).collect()
    }
    expected_default = math.log(1.0 / (tt + 256)) - math.log(
        1.0 / (tr + 256)
    )
    unseen = set(range(256)) - seen
    assert unseen, "test corpus unexpectedly covers all buckets"
    for b in unseen:
        assert abs(rows[b] - expected_default) < 1e-12


def test_unimax_apply_materializes_the_allocated_budget(spark):
    """The mixture manifest must spend what the allocation granted:
    per language, sum(n_copies * doc_tokens) equals the UniMax budget
    exactly for capped languages (whole epochs, no draw) and within the
    hash-draw tolerance for fractional ones."""
    from basin_cli_spark.queries import load_all

    src = "/root/testdata/sf0.001"
    reg = load_all()
    alloc = {
        r["lang"]: r
        for r in reg["q_corpus_unimax"].fn(spark, src).collect()
    }
    manifest = reg["q_corpus_unimax_apply"].fn(spark, src)
    docs = spark.read.parquet(f"{src}/documents.parquet")
    from basin_cli_spark.operators.dedup import tokens
    from pyspark.sql import functions as F

    toks = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    spent = {
        r["lang"]: r["spent"]
        for r in manifest.join(toks, "doc_id")
        .groupBy("lang")
        .agg(F.sum(F.col("n_copies") * F.col("n_tok")).alias("spent"))
        .collect()
    }
    for lang, a in alloc.items():
        budget = a["budget_tokens"]
        if a["epochs"] == 3.0:  # capped: exact (3 whole copies, no draw)
            assert spent[lang] == budget, (lang, spent[lang], budget)
        else:  # fractional epoch part is a hash draw over doc tokens
            assert abs(spent[lang] - budget) / budget < 0.25, (
                lang, spent[lang], budget,
            )


def test_gram_coverage_fold_counts_runs_exactly(spark):
    """The narrow fold agrees with a hand count: best = max count*len
    over grams, dup = sum of count*len over grams seen >= 2 times —
    including the last run (the finish-lambda close) and the degenerate
    empty/short-doc cases."""
    from collections import Counter

    from basin_cli_spark.operators import dedup as D

    docs = [
        "a b a b a b c",          # 'a b' x3 overlapping-adjacent repeats
        "x y z",                  # every 2-gram unique -> dup = 0
        "w w w w",                # single repeated token, 'w w' x3
        "solo",                   # shorter than any 2-gram -> zeros
        "",                       # empty -> zeros
    ]
    df = _docs(spark, docs)
    from basin_cli_spark.operators.dedup import gram_coverage_fold, shingles

    got = {
        r.doc_id: (r.f["best"], r.f["dup"], r.f["top"])
        for r in df.select(
            "doc_id",
            gram_coverage_fold(
                shingles(D.tokens(F.col("text")), 2)
            ).alias("f"),
        ).collect()
    }
    for i, text in enumerate(docs):
        toks = [t for t in text.lower().split(" ") if t]
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        cnt = Counter(grams)
        best = max((c * len(g) for g, c in cnt.items()), default=0)
        dup = sum(c * len(g) for g, c in cnt.items() if c >= 2)
        top = max(cnt.values(), default=0)
        assert got[i] == (best, dup, top), (i, got[i], (best, dup, top))


def test_domain_kl_zero_iff_source_matches_mix(spark, tmp_path):
    """Two sources with identical token distributions both sit exactly
    at the corpus mix (every p_st/q_t ratio is 1, terms are exactly 0);
    a third, skewed source diverges with kl_nats > 0 — and its presence
    must not perturb the matched pair's zero."""
    from basin_cli_spark.queries import load_all

    balanced = "alpha beta gamma delta"
    rows = (
        [(i, "mirror_a", balanced, len(balanced)) for i in range(5)]
        + [(10 + i, "mirror_b", balanced, len(balanced)) for i in range(5)]
    )
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    q = load_all()["q_corpus_domain_kl"].fn
    got = {r.source: r for r in q(spark, str(tmp_path)).collect()}
    assert got["mirror_a"].kl_nats == 0.0
    assert got["mirror_b"].kl_nats == 0.0
    assert got["mirror_a"].vocab == 4 and got["mirror_a"].n_tokens == 20

    rows.append((20, "drift", "alpha alpha alpha alpha", 23))
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in q(spark, str(tmp_path)).collect()}
    assert got["drift"].kl_nats > 0.1
    # the mirrored sources now differ from the (drift-shifted) mix too,
    # but only slightly — and symmetrically
    assert got["mirror_a"].kl_nats == got["mirror_b"].kl_nats > 0.0


def test_zipf_slope_exact_on_constructed_sources(spark, tmp_path):
    """A source whose token counts follow count(r) = 60/r exactly is
    perfectly ln-linear, so the least-squares slope is exactly -1.0; a
    uniform source (all counts equal) has constant ln(count), slope
    exactly 0.0.  Integer counts keep both fits residual-free, so no
    tolerance is needed beyond the query's own 6-dp rounding."""
    from basin_cli_spark.queries import load_all

    def doc_stream(doc_id, source, counts):
        # one doc per token occurrence keeps every count exact
        words = []
        for r, c in enumerate(counts, start=1):
            words += [f"{source}tok{r:02d}"] * c
        text = " ".join(words)
        return (doc_id, source, text, len(text))

    rows = [
        doc_stream(0, "zipfian", [60 // r for r in (1, 2, 3, 4, 5, 6)]),
        doc_stream(1, "uniform", [7, 7, 7, 7, 7]),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: r
        for r in load_all()["q_corpus_zipf_slope"]
        .fn(spark, str(tmp_path)).collect()
    }
    assert got["zipfian"].zipf_slope == -1.0
    assert got["zipfian"].n_ranked == 6
    assert got["uniform"].zipf_slope == 0.0


def test_dup_ngram_stats_empty_doc_matches_oracle(spark, tmp_path):
    """An empty document must survive to the output with NULL fractions
    in BOTH engines (DuckDB's x/0 is NULL; unguarded Spark 0/0.0 would
    be NaN and hash-mismatch), and whitespace-only text (n_chars > 0,
    zero tokens) yields exact 0.0 coverage."""
    import duckdb

    from basin_cli_spark.queries import load_all

    rows = [
        (0, "src", "a b a b a b", 11),
        (1, "src", "", 0),
        (2, "src", "   ", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spec = load_all()["q_corpus_dup_ngram_stats"]
    got = {r.doc_id: r for r in spec.fn(spark, str(tmp_path)).collect()}
    assert got[1].top2_frac is None and got[1].dup5_frac is None
    assert got[2].top2_frac == 0.0 and got[2].dup5_frac == 0.0
    assert got[0].dup5_frac is not None and got[0].top2_frac > 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    ora = {
        r[0]: r for r in con.execute(spec.oracle).fetchall()
    }
    for i in (0, 1, 2):
        g = got[i]
        assert (g.top2_frac, g.top3_frac, g.top4_frac, g.dup5_frac) == (
            ora[i][2], ora[i][3], ora[i][4], ora[i][5]
        ), (i, g, ora[i])
