"""Corpus-curation operators a production training-data pipeline runs
between raw ingest and tokenization: text normalization, deterministic
split assignment, train/eval decontamination, chunking, and the
selection steps several registry entries share (the 2pass kept-count
check, the MAD prune, the per-group cap and DSIR scoring).

These extend the reference's surface per the north star
(/root/repo/BASELINE.json); the reference itself stops at publishing
Parquet (reference internal/app/db.go:168-175) — everything here consumes
that published corpus.

Scale shapes:
* normalization / chunking are per-row narrow ops (no shuffle);
* split assignment is a pure hash of the id (no RNG, no shuffle, stable
  under re-runs and appends — the property a 100 TB corpus needs so a
  re-ingest doesn't migrate documents between splits);
* decontamination broadcasts the *eval* shingle set (benchmark suites are
  KBs-to-MBs against a 100 TB train corpus) so the train side streams
  through a broadcast semi-join with no corpus shuffle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from basin_cli_spark.operators.dedup import shingle_rows, tokens
from basin_cli_spark.operators.layout import spread
from basin_cli_spark.session import persist_once

# Java \p{Punct} and RE2 [[:punct:]] are the identical POSIX ASCII set;
# an explicit whitespace class avoids the Java-\s-vs-RE2-\s difference
# (\x0B is whitespace only in Java).
_PUNCT_RE_SPARK = r"\p{Punct}"
_WS_RE = "[ \t\n\r\f]+"
# chunk_documents: 200-char chunks starting every 150 chars (50 overlap).
_CHUNK_SIZE = 200
_CHUNK_STRIDE = 150


def normalize_text(c: Column | str) -> Column:
    """Lowercase, punctuation -> space, whitespace collapsed, trimmed —
    the canonical form exact-dedup and shingling run on."""
    col = F.col(c) if isinstance(c, str) else c
    no_punct = F.regexp_replace(F.lower(col), _PUNCT_RE_SPARK, " ")
    return F.trim(F.regexp_replace(no_punct, _WS_RE, " "))


def split_bucket() -> Column:
    """Deterministic bucket in [0, 16) from the first md5 nibble of the
    ``doc_id``'s decimal string — reproducible in any engine, stable under
    appends."""
    nibble = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (F.instr(F.lit("0123456789abcdef"), nibble) - 1).cast("int")


def split_assign() -> Column:
    """train/val/test = 13/1/2 of the 16 md5-nibble buckets (~81/6/13%)."""
    b = split_bucket()
    return (
        F.when(b < 13, F.lit("train"))
        .when(b == 13, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def decontaminate(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Per train-document count of distinct word-3-gram shingles shared
    with the eval set — the n-gram-overlap decontamination check run
    before training so benchmark answers don't leak into the corpus.

    The eval shingle set is deduped then broadcast; the train corpus
    streams through the broadcast inner join and aggregates per doc with
    map-side partials.  The corpus itself is never shuffled."""
    train_sh = shingle_rows(docs)
    eval_sh = shingle_rows(eval_docs).select("shingle").distinct()
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared_shingles"))
    )


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n·ln p / ln²2 bits, k = (m/n)·ln 2
    probes.  Floors keep degenerate inputs (empty eval set) well-formed."""
    n = max(n, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _bloom_set_bits(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray,
                    m: int, k: int) -> None:
    """Set the k double-hash positions (h1 + i·h2 mod m) for each element.
    Must mirror the probe loop in bloom_decontaminate exactly."""
    a = h1.astype(np.int64).view(np.uint64)
    b = h2.astype(np.int64).view(np.uint64)
    for i in range(k):
        idx = (a + np.uint64(i) * b) % np.uint64(m)
        np.bitwise_or.at(
            bits,
            (idx >> np.uint64(3)).astype(np.int64),
            (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
        )


def bloom_decontaminate(
    docs: DataFrame, eval_docs: DataFrame, fpp: float = 0.01
) -> DataFrame:
    """decontaminate() with a Bloom prefilter — the 100 TB scale path.

    Exact decontamination broadcasts the full eval shingle *strings*; at
    1e7 eval shingles that's GBs of broadcast and every train shingle
    probes a hash relation.  Here the driver builds a Bloom filter over
    the eval shingles' xxhash64 pairs (~10 bits/element at fpp=0.01, so
    ~12 MB for 1e7 shingles), broadcasts only the bit array, and the
    train side drops ~99% of its shingles in an Arrow-batched membership
    test before the exact broadcast join kills the false positives.  The
    result is bit-identical to decontaminate() — the Bloom layer can only
    let extra rows *through* to the exact join, never drop a true hit —
    so both share one oracle.

    Both hash columns are computed JVM-side (xxhash64 with two distinct
    seeds via the extra literal argument); the Python kernel only does
    vectorized numpy bit tests on int64 batches — no per-row Python."""
    spark = docs.sparkSession
    h1c = F.xxhash64("shingle")
    h2c = F.xxhash64(F.lit(1), F.col("shingle"))
    # ONE snapshot feeds both the Bloom bits and the exact-verify relation:
    # if the bloom were built eagerly here while the exact join lazily
    # re-read a growing eval source at execution time, fresh eval shingles
    # would pass the exact join but miss the stale bloom — a silent break
    # of the 'bit-identical to decontaminate()' contract.  The snapshot is
    # a PERSISTED distributed table (shingle + both hashes); only the two
    # int64 hash columns ever cross to the driver (~16 B/shingle, so
    # ~160 MB at the docstring's 1e7-shingle scale) — never the shingle
    # strings, which at that scale are GBs and would otherwise be embedded
    # in the plan as a LocalRelation shipped with every job.
    eval_sh = persist_once(
        shingle_rows(eval_docs)
        .select("shingle")
        .distinct()
        .withColumn("h1", h1c)
        .withColumn("h2", h2c)
    )
    hashed = eval_sh.select("h1", "h2").toPandas()
    m, nk = _bloom_params(len(hashed), fpp)
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    if len(hashed):
        _bloom_set_bits(
            bits, hashed["h1"].to_numpy(np.int64),
            hashed["h2"].to_numpy(np.int64), m, nk,
        )
    bc = spark.sparkContext.broadcast((bits, m, nk))

    @pandas_udf("boolean")
    def maybe_in_bloom(h1: pd.Series, h2: pd.Series) -> pd.Series:
        fbits, fm, fk = bc.value
        a = h1.to_numpy(np.int64).view(np.uint64)
        b = h2.to_numpy(np.int64).view(np.uint64)
        ok = np.ones(len(a), dtype=bool)
        for i in range(fk):
            idx = (a + np.uint64(i) * b) % np.uint64(fm)
            byte = fbits[(idx >> np.uint64(3)).astype(np.int64)]
            bit = (idx & np.uint64(7)).astype(np.uint8)
            ok &= ((byte >> bit) & np.uint8(1)) == 1
        return pd.Series(ok)

    train_sh = shingle_rows(docs)
    survivors = train_sh.withColumn("_h1", h1c).withColumn(
        "_h2", h2c
    ).where(maybe_in_bloom("_h1", "_h2")).select("doc_id", "shingle")
    # exact verify against the SAME persisted snapshot the bloom's hashes
    # were collected from (the toPandas above materialized the cache, so
    # the exact join reads cached partitions, not a re-read of the eval
    # source).  persist_once keeps re-invocations quiet; the per-query
    # cache scope (drive_contract/bench) reclaims it.
    return (
        survivors.join(F.broadcast(eval_sh.select("shingle")), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared_shingles"))
    )


def contamination_score(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """GRADED contamination: the fraction of each train document's
    distinct shingles that appear anywhere in the eval set — the number a
    pipeline thresholds (e.g. drop > 0.8, flag > 0.2) instead of
    decontaminate()'s raw hit count.  Same broadcast shape: the corpus
    streams once, left-joins the broadcast eval shingle set, and the
    score is shared/total per doc (0.0 when nothing overlaps)."""
    train_sh = shingle_rows(docs).distinct()
    eval_sh = (
        shingle_rows(eval_docs)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
    )


def segment_rows(docs: DataFrame, seg_words: int = 3) -> DataFrame:
    """(doc_id, seg_idx, seg) rows: the ``text`` cut into consecutive
    ``seg_words``-word segments (the last may be shorter).

    Fixed-width word windows are the segmentation fallback production
    line-dedup uses when line boundaries are unreliable or absent (CCNet
    dedups paragraphs, RefinedWeb lines; both degrade to fixed windows
    on boundary-free text).  Built entirely with JVM higher-order
    functions — split/filter/transform/slice — then ONE explode; no
    Python, no shuffle.

    Empty, whitespace-only, and NULL texts yield a single
    (id, NULL, NULL) row (explode_outer) so rewrite operators can
    preserve the document instead of silently dropping it; callers that
    want segments only should filter ``seg IS NOT NULL``."""
    w = F.filter(
        F.split(F.col("text"), " "), lambda t: F.length(t) > F.lit(0)
    )
    n_seg = F.ceil(F.size(w) / F.lit(float(seg_words)))
    segs = F.when(
        F.size(w) > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_seg - 1),
            lambda i: F.struct(
                i.alias("seg_idx"),
                F.array_join(
                    F.slice(w, (i * seg_words + 1).cast("int"), seg_words),
                    " ",
                ).alias("seg"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<seg_idx:long,seg:string>>"))
    return docs.select(
        F.col("doc_id"), F.explode_outer(segs).alias("_s")
    ).select("doc_id", "_s.seg_idx", "_s.seg")


def boilerplate_scrub(
    docs: DataFrame, seg_words: int = 3, min_docs: int = 3
) -> DataFrame:
    """Corpus-level boilerplate removal (CCNet §4.1 / RefinedWeb line-wise
    dedup, public): drop every segment that occurs in >= ``min_docs``
    DISTINCT documents, reassemble each document from its surviving
    segments in order.  Returns (id, clean_text, n_segs, n_removed).

    Unlike document-level dedup (which keeps or drops whole docs), this
    REWRITES text — the stage that strips navigation chrome, cookie
    banners, and license footers that repeat across a crawl.

    Empty/whitespace/NULL-text documents are PRESERVED as
    (id, '', 0, 0) — a rewrite stage must never lose rows (segment_rows'
    explode_outer carries them as a null-segment row; null never joins
    the hot list and count("seg") excludes it).

    Scale shape: segment rows are built shuffle-free (segment_rows), the
    hot-segment list is one groupBy with map-side partial combine, and
    the rewrite is a left join KEYED ON ``xxhash64(seg)`` — an 8-byte
    key — plus one groupBy(id) over surviving segments.  Keying the
    rewrite join on the hash matters past broadcast size: a string-keyed
    join would shuffle every text-carrying segment row partitioned by
    its own multi-word content (double text movement); the hash key
    ships 8 bytes of key per row instead.  Hash collisions cannot
    corrupt the rewrite: hot segments are collected into ONE row per
    hash (an array of the hot segment strings sharing it), so the left
    join never duplicates a segment row, and hotness is the exact
    post-join string test ``array_contains(_hotsegs, seg)`` — bit-
    identical semantics to the string join, same oracle.  Beyond what
    AQE can broadcast, the decontamination Bloom doctrine
    (bloom_decontaminate above) extends this shape: a Bloom over the hot
    hashes pre-drops definitely-cold segments map-side so only candidate
    rows reach the join at all.

    The segmentation lineage is DELIBERATELY evaluated twice (hot-list
    branch + rewrite branch) rather than persisted: the exploded rows
    carry the full corpus text, and caching corpus-scale text trades a
    cheap narrow re-scan for executor storage pressure at 100 TB — the
    opposite call from the slim signature/assignment tables this repo
    does persist.  The hot list is corpus-dependent (NOT constant-size),
    so no broadcast hint: AQE sizes that join at runtime.

    Measured dead end (don't retry): rewriting clean_text from
    the ORIGINAL doc row — shuffling only hot (id, seg_idx) pairs and
    replaying the segmentation as a narrow expression — is 1.8-2.2x
    SLOWER at sf0.1 than this shape.  CollapseProject copies the
    segmentation expression into every referencing output column (9-11
    split() calls in the optimized plan across two variants, including
    an ints-first kept-index form), so the "shuffle-free" rewrite pays
    3-4 segmentation passes of per-row CPU, which costs more than one
    segmentation pass plus the text shuffle it was meant to remove.

    Measured wash (fixture-bound): the remaining lever — a left_semi
    probe on hot segment hashes so docs with ZERO hot segments bypass
    the reassembly shuffle as a narrow passthrough — cannot help on
    this fixture: ALL 5,000 sf0.1 documents own at least one hot
    segment (dirty fraction 1.000; 0.724 at sf0.01), so the probe
    diverts nothing and the full bypass variant measured 4.66 s vs
    2.26 s baseline (row-identical output, min of 2) — a 2.1x
    regression from the third segmentation pass + ids-distinct shuffle
    + doc-splitting joins.  On a real crawl where most docs are
    template-free the same probe is the right first move (it composes
    with the Bloom doctrine above); on this fixture it does not pay."""
    segs = segment_rows(docs, seg_words).withColumn(
        "_segh", F.xxhash64("seg")
    )
    hot = (
        segs.where(F.col("seg").isNotNull())
        .groupBy("_segh", "seg")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .groupBy("_segh")
        .agg(F.collect_list("seg").alias("_hotsegs"))
    )
    j = segs.join(hot, "_segh", "left")
    is_hot = F.col("_hotsegs").isNotNull() & F.array_contains(
        "_hotsegs", F.col("seg")
    )
    return j.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~is_hot & F.col("seg").isNotNull(),
                            F.struct(F.col("seg_idx"), F.col("seg")),
                        )
                    )
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("seg").alias("n_segs"),
        F.sum(is_hot.cast("int")).alias("n_removed"),
    )


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Overlapping fixed-size character chunks of ``text`` (context-window
    prep).  Chunk i covers [1 + i*_CHUNK_STRIDE, 1 + i*_CHUNK_STRIDE +
    _CHUNK_SIZE); every chunk start lies inside the document.
    Row-multiplying but narrow — no shuffle, and chunk count is derived
    from the stored ``n_chars`` column so both engines index identically."""
    # greatest(...,0): Spark's sequence(0, -1) would count *down*; an empty
    # document still yields exactly one (empty) chunk.
    n_chunks = F.greatest(
        F.floor((F.col("n_chars") - 1) / _CHUNK_STRIDE).cast("int"), F.lit(0)
    )
    chunked = docs.select(
        F.col("doc_id"),
        F.col("text"),
        F.posexplode(F.sequence(F.lit(0), n_chunks)).alias("chunk_id", "_i"),
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.substring(
            F.col("text"), F.col("chunk_id") * _CHUNK_STRIDE + 1, _CHUNK_SIZE
        ).alias("chunk_text"),
    )


def sketch_kept_ok(
    rows: DataFrame, th: DataFrame, group: str, n: str, keep: Column,
    lo: float, hi: float | None,
) -> DataFrame:
    """The check of a 2pass per-group prune: ``(group, n, kept_ok)``.

    The 2pass doctrine: an exact per-group prune (a percent_rank window
    or an exact median) moves every row of a group to one task, so a
    group holding 10^10 rows sorts on one core.  The 2pass form takes
    its thresholds from percentile sketches instead, in ONE hash
    aggregation that partial-aggregates map-side; the caller builds that
    table as ``th``, one row per group with the thresholds and the group
    size ``n``.  Here the group-sized ``th`` broadcasts back and ``rows``
    streams through the stateless ``keep`` predicate, so no row is
    sorted and a giant group costs the same per row as a small one.

    The output is tolerance-as-boolean: Spark's GK percentile_approx and
    DuckDB's quantile_disc may pick adjacent order statistics, so each
    engine asserts that its own kept count lies in ``[lo * n, hi * n]``
    (``>= lo * n`` when ``hi`` is None), and the per-group sizes ``n``
    must match bit for bit.  The exact form of each prune pins the gate
    itself."""
    kept = (
        rows.join(F.broadcast(th), group)
        .groupBy(group)
        .agg(
            F.max(n).alias(n),
            F.sum(F.when(keep, 1).otherwise(0)).alias("_kept"),
        )
    )
    k, size = F.col("_kept"), F.col(n)
    ok = k >= lo * size if hi is None else k.between(lo * size, hi * size)
    return kept.select(group, n, ok.alias("kept_ok"))


def mad_prune(df: DataFrame) -> DataFrame:
    """``df``'s rows whose ``n_chars`` lies within ``GREATEST(3 * mad, 1)``
    of its ``source``'s median, with the ``med`` and ``mad`` columns
    added: the robust per-source outlier gate (median and MAD have a 50%
    breakdown point, mean and stddev 0%).

    The floor matters when >50% of a source share one length: MAD is 0
    there, and a bare ``3 * mad`` gate would keep only the exactly-median
    rows.  Two source-keyed exact-median aggs over the slim
    ``(source, n_chars)`` projection build a sources-sized table that
    joins back as a filter; the rest of the row never moves."""
    slim = df.select("source", "n_chars")
    med = slim.groupBy("source").agg(F.median("n_chars").alias("med"))
    mad = (
        slim.join(med, "source")
        .groupBy("source", "med")
        .agg(F.median(F.abs(F.col("n_chars") - F.col("med"))).alias("mad"))
    )
    return df.join(mad, "source").where(
        F.abs(F.col("n_chars") - F.col("med"))
        <= F.greatest(3.0 * F.col("mad"), F.lit(1.0))
    )


def cap_per_group(
    df: DataFrame, cols: list[str], group: str, order: list, k: int
) -> DataFrame:
    """``cols`` of the first ``k`` rows of each ``group`` by ``order``.

    The filter on ``row_number() <= k`` is the skew escape: Catalyst's
    InferWindowGroupLimit (SPARK-37099) plants ``WindowGroupLimit(...,
    Partial)`` below the group-keyed Exchange, so the shuffle moves at
    most map_partitions x k rows per group, never a dominant group's
    share.  A hand-written Arrow partial top-k was measured equivalent
    and removed.  tests/test_plans.py pins the partial limit."""
    w = Window.partitionBy(group).orderBy(*order)
    return (
        df.select(*cols, F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= k)
        .select(*cols)
    )


# -- DSIR importance resampling (Xie et al. 2023, arXiv 2302.03169) ----------


def dsir_bucket(col: Column | str) -> Column:
    """The DSIR bucket of a token: md5's first 4 hex digits mod 256.  The
    one Spark form of the bucketing (the DuckDB twin is
    corpus_ops._dsir_ctes), so the weight table and every scorer bucket
    alike."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("long") % 256


def _dsir_bucketed(d: DataFrame) -> DataFrame:
    """``(doc_id, is_target, b)``: one row per token of ``d``'s ``text``,
    with the target slice (``doc_id % 20 == 0``) flagged.  The exploded
    relation is bigger than the corpus, so it is never cached: the weight
    table and the scorer each run this pass."""
    is_target = F.col("doc_id") % 20 == 0
    return spread(d, "doc_id").select(
        "doc_id",
        is_target.alias("is_target"),
        F.explode(tokens("text")).alias("tok"),
    ).select("doc_id", "is_target", dsir_bucket("tok").alias("b"))


def dsir_weight_table(d: DataFrame) -> DataFrame:
    """The DENSE 256-row DSIR weight table ``(b, w)`` of ``d`` (doc_id,
    text): ``w = ln((ct+1)/(tt+256)) - ln((cr+1)/(tr+256))`` over the
    target and raw bucket counts, four LNs of exact integers.  It is the
    method's trained artifact: broadcast for batch scoring, or collected
    as a literal array for stateless streaming scoring.  A bucket unseen
    in training still gets its Laplace-smoothed weight, because a
    serving-time scorer may meet vocabulary the training corpus never
    produced; batch scoring inner-joins on seen buckets, so densifying
    changes nothing there."""
    seen = _dsir_bucketed(d).groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("cr"),
    )
    # persisted: totals and the weight projection both consume the
    # 256-row model, and each would otherwise re-run the corpus
    # tokenize+agg lineage beneath it
    model = persist_once(
        d.sparkSession.range(256)
        .select(F.col("id").alias("b"))
        .join(seen, "b", "left")
        .select(
            "b",
            F.coalesce("ct", F.lit(0)).cast("long").alias("ct"),
            F.coalesce("cr", F.lit(0)).cast("long").alias("cr"),
        )
    )
    totals = model.agg(
        F.sum("ct").cast("long").alias("tt"),
        F.sum("cr").cast("long").alias("tr"),
    )
    return model.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1).cast("double"))
            - F.log((F.col("tt") + 256).cast("double"))
            - F.log((F.col("cr") + 1).cast("double"))
            + F.log((F.col("tr") + 256).cast("double"))
        ).alias("w"),
    )


def dsir_scores(d: DataFrame) -> DataFrame:
    """``(doc_id, n_tokens, s)`` for every raw (non-target) document of
    ``d``: ``s`` folds ``n_b * w_b`` over the document's buckets sorted by
    bucket id (the sorted-fold determinism convention), unrounded.  Two
    corpus passes (model build, scoring) and a 256-row broadcast; no
    shuffle is keyed on anything larger than (doc_id, bucket)."""
    lw = dsir_weight_table(d)
    per_doc_bucket = (
        _dsir_bucketed(d).where(~F.col("is_target"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per_doc_bucket.join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("b"), (F.col("n") * F.col("w")).alias("t"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["t"],
            ).alias("s"),
        )
    )
