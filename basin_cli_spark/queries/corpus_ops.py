"""Corpus-curation queries (SURVEY.md §2.B LLM-pipeline extensions):
normalization, deterministic splits, train/eval decontamination, chunking,
dedup provenance.  Oracle SQL replays the identical formulas in DuckDB
(md5-nibble buckets, trigram shingles, POSIX regex classes) so results
hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from basin_cli_spark.operators import curation as C
from basin_cli_spark.operators import dedup as D
from basin_cli_spark.operators.layout import spread
from basin_cli_spark.queries import register
from basin_cli_spark.queries._helpers import vec_str
from basin_cli_spark.session import persist_once
from basin_cli_spark.queries.llm_ops import (
    _MINHASH_BANDS,
    _MINHASH_MINS,
    _shingle_cte,
)
from basin_cli_spark.sources import load_table

# -- text normalization -------------------------------------------------------

_NORMALIZE_ORACLE = r"""
SELECT doc_id,
       TRIM(REGEXP_REPLACE(
         REGEXP_REPLACE(LOWER(text), '[[:punct:]]', ' ', 'g'),
         '[ \t\n\r\f]+', ' ', 'g')) AS norm_text
FROM documents
"""


@register("q_text_normalize", _NORMALIZE_ORACLE)
def q_text_normalize(spark, sf_dir):
    """Canonical text form (lower, punct->space, whitespace collapse) —
    the narrow per-row pass every dedup/shingle stage keys on.  Java
    \\p{Punct} and RE2 [[:punct:]] are the same POSIX ASCII set; the
    whitespace class is explicit because Java's \\s and RE2's \\s
    disagree on \\x0B."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", C.normalize_text("text").alias("norm_text")
    )


# -- corpus-level boilerplate removal ----------------------------------------

_BOILERPLATE_ORACLE = """
WITH words AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(text, ' '), t -> LENGTH(t) > 0) AS w
  FROM documents
),
segs AS (
  SELECT doc_id, z.seg_idx, z.seg FROM (
    SELECT doc_id, UNNEST(LIST_TRANSFORM(
      RANGE(0, CAST(CEIL(LEN(w) / 3.0) AS BIGINT)),
      i -> {'seg_idx': i,
            'seg': ARRAY_TO_STRING(w[i*3+1 : i*3+3], ' ')})) AS z
    FROM words)
),
hot AS (
  SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3
)
SELECT d.doc_id,
       COALESCE(STRING_AGG(CASE WHEN h.seg IS NULL THEN s.seg END,
                           ' ' ORDER BY s.seg_idx), '') AS clean_text,
       COUNT(s.seg) AS n_segs,
       COUNT(h.seg) AS n_removed
FROM documents d
LEFT JOIN segs s ON s.doc_id = d.doc_id
LEFT JOIN hot h ON s.seg = h.seg
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@register("q_corpus_boilerplate_scrub", _BOILERPLATE_ORACLE)
def q_corpus_boilerplate_scrub(spark, sf_dir):
    """Corpus-level boilerplate removal (CCNet paragraph dedup /
    RefinedWeb line-wise dedup over fixed 3-word segments): any segment
    appearing in >= 3 distinct documents is template content and is cut
    from every document; the text is REWRITTEN from the surviving
    segments in order.  The reference has no analytics of this kind
    (basin-cli is CDC plumbing); this is the LLM-pipeline extension
    surface.  At fixture scale ~9% of segments are removed, so the
    rewrite path is genuinely exercised."""
    # the interpreted segmentation HOFs are evaluated in BOTH branches
    # of the scrub lineage; one reusable spread exchange fans both out
    # (5.4 s -> 1.5 s at sf0.1)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return C.boilerplate_scrub(
        d, "text", "doc_id", seg_words=3, min_docs=3
    ).orderBy("doc_id")


# -- deterministic split assignment ------------------------------------------

_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT source, n_chars,
         CASE
           WHEN STRPOS('0123456789abcdef',
                       SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 13
             THEN 'train'
           WHEN STRPOS('0123456789abcdef',
                       SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 = 13
             THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
)
SELECT split, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned
GROUP BY split, source
"""


@register("q_corpus_split", _SPLIT_ORACLE)
def q_corpus_split(spark, sf_dir):
    """Deterministic train/val/test assignment from an md5-nibble bucket of
    the document id (13/1/2 of 16).  No RNG and no shuffle to assign:
    membership is a pure function of the id, so re-runs and corpus appends
    never migrate documents between splits — the reproducibility property
    a 100 TB training corpus needs.  The summary is a plain hash-agg."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            C.split_assign("doc_id").alias("split"), "source", "n_chars"
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# -- train/eval decontamination ----------------------------------------------

_DECON_ORACLE = f"""
WITH {_shingle_cte()},
eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
),
train_sh AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0
)
SELECT t.doc_id, COUNT(DISTINCT t.shingle) AS n_shared_shingles
FROM train_sh t JOIN eval_sh e USING (shingle)
GROUP BY t.doc_id
"""


_CONTAM_SCORE_ORACLE = f"""
WITH {_shingle_cte()},
eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
),
train_sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0
)
SELECT t.doc_id,
       COUNT(*) AS n_shingles,
       COUNT(e.shingle) AS n_shared,
       ROUND(CAST(COUNT(e.shingle) AS DOUBLE) / COUNT(*), 6) AS contamination
FROM train_sh t LEFT JOIN eval_sh e USING (shingle)
GROUP BY t.doc_id
"""


@register("q_contamination_score", _CONTAM_SCORE_ORACLE)
def q_contamination_score(spark, sf_dir):
    """Graded contamination: per train document, the FRACTION of its
    distinct shingles found in the eval set — the thresholdable form of
    q_decontaminate (drop > 0.8, flag > 0.2, keep the rest).  Same
    broadcast shape: one corpus pass against the broadcast eval shingle
    set; zero-overlap docs surface with contamination 0.0 (left join),
    which the boolean variant silently omits."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 20 == 0
    return C.contamination_score(d.where(~is_eval), d.where(is_eval))


@register("q_decontaminate", _DECON_ORACLE)
def q_decontaminate(spark, sf_dir):
    """N-gram-overlap decontamination: per train document, the number of
    distinct word-trigram shingles it shares with the eval set (here the
    doc_id % 20 == 0 slice standing in for a benchmark suite).  The eval
    shingle set is broadcast — benchmarks are MBs against a 100 TB corpus
    — so the train side streams through the broadcast join and aggregates
    with map-side partials; the corpus is never shuffled."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 20 == 0
    return C.decontaminate(d.where(~is_eval), d.where(is_eval))


@register("q_decontaminate_bloom", _DECON_ORACLE)
def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination — same result as
    q_decontaminate (they share the oracle), different 100 TB plan: the
    driver builds a ~10-bits/element Bloom filter over the eval shingle
    hashes, broadcasts the bit array instead of the shingle strings, and
    the train side drops non-members in an Arrow-batched numpy bit test
    before the exact broadcast join removes false positives."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 20 == 0
    return C.bloom_decontaminate(d.where(~is_eval), d.where(is_eval))


# -- robust (MAD) outlier pruning ---------------------------------------------

_MAD_PRUNE_ORACLE = """
WITH med AS (
  SELECT source, MEDIAN(n_chars) AS med FROM documents GROUP BY source
),
mad AS (
  SELECT d.source, m.med, MEDIAN(ABS(d.n_chars - m.med)) AS mad
  FROM documents d JOIN med m USING (source)
  GROUP BY d.source, m.med
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN mad USING (source)
WHERE ABS(d.n_chars - mad.med) <= GREATEST(3.0 * mad.mad, 1.0)
"""


@register("q_corpus_mad_prune", _MAD_PRUNE_ORACLE)
def q_corpus_mad_prune(spark, sf_dir):
    """Robust per-source outlier pruning: keep documents within 3 MADs
    (median absolute deviations) of their source's median length — the
    outlier gate that, unlike the quantile prune, does not move when a
    crawl dumps a tail of garbage into one source (median and MAD have a
    50% breakdown point; mean/stddev have 0%).

    Scale shape: two source-keyed exact-median aggs over a slim
    (source, n_chars) projection, producing a sources-sized thresholds
    table that joins back as a filter; the document text never moves.
    Both engines interpolate medians over sorted values identically.
    At 100 TB with a skewed giant source, the medians switch to
    percentile sketches — IMPLEMENTED as q_corpus_mad_prune_2pass
    (two sketch aggregations, broadcast thresholds, stateless filter).

    Degenerate-MAD floor: when >50% of a source's docs share one length,
    MAD is 0 and a bare 3*mad gate would keep only exactly-median-length
    docs — silently discarding nearly the whole source.  The threshold is
    floored at 1 char (GREATEST(3*mad, 1)), so a zero-spread source keeps
    its near-median docs; pinned in tests/test_curation.py."""
    d = load_table(spark, sf_dir, "documents")
    slim = d.select("source", "n_chars")
    med = slim.groupBy("source").agg(F.median("n_chars").alias("med"))
    mad = (
        slim.join(med, "source")
        .groupBy("source", "med")
        .agg(F.median(F.abs(F.col("n_chars") - F.col("med"))).alias("mad"))
    )
    thresh = F.greatest(3.0 * F.col("mad"), F.lit(1.0))
    return (
        d.join(mad, "source")
        .where(F.abs(F.col("n_chars") - F.col("med")) <= thresh)
        .select("doc_id", "source", "n_chars")
    )


_MAD_2PASS_ORACLE = """
WITH med AS (
  SELECT source, QUANTILE_DISC(n_chars, 0.5) AS med, COUNT(*) AS n_docs
  FROM documents GROUP BY source
),
mad AS (
  SELECT d.source, MAX(m.med) AS med,
         QUANTILE_DISC(ABS(d.n_chars - m.med), 0.5) AS mad,
         MAX(m.n_docs) AS n_docs
  FROM documents d JOIN med m USING (source)
  GROUP BY d.source
)
SELECT d.source, MAX(mad.n_docs) AS n_docs,
       COUNT(*) FILTER (
         WHERE ABS(d.n_chars - mad.med) <= GREATEST(3.0 * mad.mad, 1.0)
       ) >= 0.5 * MAX(mad.n_docs) AS kept_ok
FROM documents d JOIN mad USING (source)
GROUP BY d.source
"""


@register("q_corpus_mad_prune_2pass", _MAD_2PASS_ORACLE)
def q_corpus_mad_prune_2pass(spark, sf_dir):
    """The skewed-giant-source escape for the robust MAD prune — the
    third member of the exact-per-group-rank family rebuilt on the
    2pass doctrine.  MAD needs two dependent medians, so this is two
    sketch rounds, each a hash aggregation with map-side partial
    percentile sketches and a sources-sized broadcast back: (1) sketch
    each source's median length; (2) sketch each source's median
    absolute deviation FROM that median; (3) stream the corpus through
    the stateless ``|n_chars - med| <= greatest(3*mad, 1)`` filter.  No
    per-source sort anywhere — a source holding 10^10 docs costs the
    same per-row as a uniform one, where the exact form's per-source
    MEDIAN buffers the whole group in one task.

    Oracle is tolerance-as-boolean (the 2pass convention): approx vs
    exact medians may sit one order statistic apart, so each engine
    asserts its own kept count is >= 50% of the source (the floored
    exact gate keeps 72-100% per source; an unfloored degenerate gate
    would keep only exactly-median-length docs) and per-source doc
    counts match bit-for-bit.  Exactness of the gate itself is covered
    by q_corpus_mad_prune."""
    d = load_table(spark, sf_dir, "documents")
    slim = d.select("source", "n_chars")
    med = slim.groupBy("source").agg(
        F.percentile_approx("n_chars", 0.5, 100000).alias("med"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    mad = (
        slim.join(F.broadcast(med), "source")
        .groupBy("source")
        .agg(
            F.max("med").alias("med"),
            F.percentile_approx(
                F.abs(F.col("n_chars") - F.col("med")), 0.5, 100000
            ).alias("mad"),
            F.max("n_docs").alias("n_docs"),
        )
    )
    kept = (
        slim.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.sum(
                F.when(
                    F.abs(F.col("n_chars") - F.col("med"))
                    <= F.greatest(3.0 * F.col("mad"), F.lit(1.0)),
                    1,
                ).otherwise(0)
            ).alias("_kept"),
        )
    )
    return kept.select(
        "source",
        "n_docs",
        (F.col("_kept") >= 0.5 * F.col("n_docs")).alias("kept_ok"),
    )


_QPRUNE_2PASS_ORACLE = """
WITH th AS (
  SELECT source,
         QUANTILE_DISC(n_chars, 0.1) AS lo,
         QUANTILE_DISC(n_chars, 0.9) AS hi,
         COUNT(*) AS n_docs
  FROM documents GROUP BY source
)
SELECT d.source,
       MAX(th.n_docs) AS n_docs,
       COUNT(*) FILTER (WHERE d.n_chars BETWEEN th.lo AND th.hi)
         BETWEEN 0.70 * MAX(th.n_docs) AND 0.92 * MAX(th.n_docs) AS kept_ok
FROM documents d JOIN th USING (source)
GROUP BY d.source
"""


@register("q_corpus_quantile_prune_2pass", _QPRUNE_2PASS_ORACLE)
def q_corpus_quantile_prune_2pass(spark, sf_dir):
    """The skewed-giant-source escape the exact quantile prune documents —
    implemented, not promised: per-source p10/p90 come from ONE hash
    aggregation whose percentile sketches partial-aggregate map-side
    (no per-source sort, no single reducer owning a giant source), the
    sources-sized threshold table broadcasts back, and the corpus streams
    through a stateless range filter — document text never shuffles at
    all, where the percent_rank window must move every row of a source
    to one task.

    Oracle is tolerance-as-boolean (the q_approx_count_distinct
    convention): Spark's GK percentile_approx and DuckDB's quantile_disc
    may pick adjacent order statistics, so each engine asserts its own
    kept fraction lands in [0.70, 0.92] of the source (the exact-window
    answer keeps ~80%); the per-source doc counts must match
    bit-for-bit.  Exactness of the quantile gate itself is covered by
    q_corpus_quantile_prune."""
    d = load_table(spark, sf_dir, "documents")
    slim = d.select("source", "n_chars")
    th = slim.groupBy("source").agg(
        F.percentile_approx("n_chars", 0.1, 100000).alias("lo"),
        F.percentile_approx("n_chars", 0.9, 100000).alias("hi"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    kept = (
        slim.join(F.broadcast(th), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_chars").between(F.col("lo"), F.col("hi")), 1
                ).otherwise(0)
            ).alias("_kept"),
        )
    )
    return kept.select(
        "source",
        "n_docs",
        F.col("_kept")
        .between(0.70 * F.col("n_docs"), 0.92 * F.col("n_docs"))
        .alias("kept_ok"),
    )


# -- Gopher-rules composite quality gate --------------------------------------

_GOPHER_STOPWORDS = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"

# shared CTE fragment: per-doc Gopher rule signals (toks -> m), reused by
# the standalone gate and the composed v3 pipeline oracle
_GOPHER_SIGNALS_CTE = f"""
toks AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tokens
  FROM documents
),
m AS (
  SELECT doc_id,
         LEN(tokens) AS n_words,
         LIST_REDUCE(LIST_TRANSFORM(tokens, t -> LENGTH(t)), (x, y) -> x + y)
           AS sum_len,
         LEN(LIST_FILTER(tokens, t -> t LIKE '%#%' OR t LIKE '%...%'))
           AS n_symbol,
         LEN(LIST_FILTER(tokens, t -> REGEXP_MATCHES(t, '[a-z]')))
           AS n_alpha,
         LEN(LIST_FILTER(tokens, t -> LIST_CONTAINS({_GOPHER_STOPWORDS}, t)))
           AS n_stop
  FROM toks WHERE LEN(tokens) > 0
)
"""

_GOPHER_PASS_SQL = """n_words BETWEEN 50 AND 100000
         AND CAST(sum_len AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
         AND CAST(n_symbol AS DOUBLE) / n_words < 0.1
         AND CAST(n_alpha AS DOUBLE) / n_words > 0.8
         AND n_stop >= 2"""

def _gopher_signals(d, extra_cols=()):
    """Spark builder for the per-doc Gopher rule signals, mirroring
    _GOPHER_SIGNALS_CTE expression-for-expression; extra_cols carry
    passthrough columns (source, n_chars, text) for composed pipelines."""
    from basin_cli_spark.operators.dedup import tokens as tok_expr

    stop = [s.strip("'") for s in _GOPHER_STOPWORDS.strip("[]").split(", ")]
    toks = d.select("doc_id", *extra_cols, tok_expr("text").alias("_t"))
    return toks.where(F.size("_t") > 0).select(
        "doc_id",
        *extra_cols,
        F.size("_t").alias("n_words"),
        F.aggregate(
            F.transform("_t", lambda t: F.length(t)), F.lit(0),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.size(
            F.filter("_t", lambda t: t.contains("#") | t.contains("..."))
        ).alias("n_symbol"),
        F.size(F.filter("_t", lambda t: t.rlike("[a-z]"))).alias("n_alpha"),
        F.size(
            F.filter(
                "_t",
                lambda t: F.array_contains(
                    F.array(*[F.lit(s) for s in stop]), t
                ),
            )
        ).alias("n_stop"),
    )


def _gopher_passes():
    mwl = F.col("sum_len").cast("double") / F.col("n_words")
    return (
        F.col("n_words").between(50, 100000)
        & mwl.between(3.0, 10.0)
        & ((F.col("n_symbol").cast("double") / F.col("n_words")) < 0.1)
        & ((F.col("n_alpha").cast("double") / F.col("n_words")) > 0.8)
        & (F.col("n_stop") >= 2)
    )


_GOPHER_ORACLE = f"""
WITH {_GOPHER_SIGNALS_CTE}
SELECT doc_id, n_words,
       ROUND(CAST(sum_len AS DOUBLE) / n_words, 6) AS mean_word_len,
       n_stop,
       {_GOPHER_PASS_SQL}
       AS passes
FROM m
"""


@register("q_corpus_gopher_rules", _GOPHER_ORACLE)
def q_corpus_gopher_rules(spark, sf_dir):
    """Gopher-rules composite quality gate (Rae et al. 2021 Appendix A,
    public): word-count bounds, mean-word-length band, symbol-to-word
    ratio, alphabetic-word fraction, and minimum stopword evidence,
    combined into one per-document pass/fail — the classic rule stack
    between raw crawl and dedup.

    Emits the per-rule signals plus the verdict (not a filtered subset)
    so the oracle pins every rule's arithmetic, not just the survivors.

    Scale shape: one narrow pass — tokenize once, fold counts with
    higher-order array functions entirely in the JVM (no UDF, no
    shuffle); the gate composes with q_corpus_split/q_llm_prep_pipeline
    the way the stub-threshold quality score does.  Uses the same
    whitespace tokenization as the dedup family (operators/dedup.tokens
    / _SQL_TOKENS) so rule counts and shingle counts agree."""
    # five interpreted HOF folds per row (spread: 0.61 s -> 0.44 s at sf0.1)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    m = _gopher_signals(d)
    mwl = F.col("sum_len").cast("double") / F.col("n_words")
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.col("n_stop").cast("long").alias("n_stop"),
        _gopher_passes().alias("passes"),
    )


_PIPELINE_V3_ORACLE = f"""
WITH {_GOPHER_SIGNALS_CTE},
gated AS (
  SELECT d.doc_id, d.source, d.n_chars, d.text
  FROM documents d JOIN m USING (doc_id)
  WHERE {_GOPHER_PASS_SQL}
),
med AS (SELECT source, MEDIAN(n_chars) AS med FROM gated GROUP BY source),
madt AS (
  SELECT g.source, m2.med, MEDIAN(ABS(g.n_chars - m2.med)) AS mad
  FROM gated g JOIN med m2 USING (source) GROUP BY g.source, m2.med
),
pruned AS (
  SELECT g.doc_id, g.source, g.n_chars, g.text
  FROM gated g JOIN madt USING (source)
  WHERE ABS(g.n_chars - madt.med) <= GREATEST(3.0 * madt.mad, 1.0)
)
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY MD5(text), doc_id) AS rn
  FROM pruned
) WHERE rn <= 30
"""


@register("q_llm_prep_pipeline_v3", _PIPELINE_V3_ORACLE)
def q_llm_prep_pipeline_v3(spark, sf_dir):
    """The round-6 curation recipe composed end to end and hash-verified
    as one query: Gopher rule gate -> per-source MAD outlier prune
    (floored threshold) -> per-source cap (k=30, content-hash order).
    Each stage is the registered operator a user runs standalone
    (q_corpus_gopher_rules, q_corpus_mad_prune, q_sample_per_source_cap);
    this entry pins that they COMPOSE.

    Scale shape, stage by stage: the gate is one narrow JVM pass
    (higher-order array folds, no shuffle) whose slim gated output
    (doc_id, source, n_chars, md5 sort key — text reduced to its key at
    the gate, never carried further) is PERSISTED, because three
    consumers (median, MAD, the filter+cap) would otherwise each re-run
    the tokenize+fold gate over the corpus; the MAD thresholds are two
    source-keyed aggs over that cached projection joined back as a
    filter; the cap window rides the native WindowGroupLimit(Partial)
    pre-filter below its Exchange, moving only the slim columns."""
    d = load_table(spark, sf_dir, "documents")
    sig = _gopher_signals(d, extra_cols=("source", "n_chars", "text"))
    gated = persist_once(
        sig.where(_gopher_passes()).select(
            "doc_id", "source", "n_chars", F.md5("text").alias("_mk")
        )
    )
    slim = gated.select("source", "n_chars")
    med = slim.groupBy("source").agg(F.median("n_chars").alias("med"))
    madt = (
        slim.join(med, "source")
        .groupBy("source", "med")
        .agg(F.median(F.abs(F.col("n_chars") - F.col("med"))).alias("mad"))
    )
    thresh = F.greatest(3.0 * F.col("mad"), F.lit(1.0))
    pruned = gated.join(madt, "source").where(
        F.abs(F.col("n_chars") - F.col("med")) <= thresh
    )
    w = Window.partitionBy("source").orderBy("_mk", "doc_id")
    return (
        pruned.select(
            "doc_id", "source", "n_chars",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 30)
        .select("doc_id", "source", "n_chars")
    )


# -- split leakage detection --------------------------------------------------

_LEAK_ORACLE = f"""
WITH {_shingle_cte()},
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_MINHASH_BANDS}
),
split AS (
  SELECT doc_id,
         STRPOS('0123456789abcdef',
                SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 13
           AS is_train
  FROM documents
)
SELECT tb.doc_id, COUNT(DISTINCT hb.doc_id) AS n_leak_partners
FROM bands tb
JOIN split ts ON ts.doc_id = tb.doc_id AND ts.is_train
JOIN bands hb ON hb.band_id = tb.band_id AND hb.sig = tb.sig
JOIN split hs ON hs.doc_id = hb.doc_id AND NOT hs.is_train
GROUP BY tb.doc_id
"""


@register("q_split_leakage", _LEAK_ORACLE)
def q_split_leakage(spark, sf_dir):
    """Split-leakage audit: train documents that near-duplicate a
    val/test document (any shared MinHash-LSH band) with the count of
    distinct held-out partners — the check a pipeline runs AFTER split
    assignment, because hash-based splits separate exact copies'
    provenance but happily put two near-identical crawls of one page on
    opposite sides of the train/eval fence.

    Scale shape: band signatures are per-document, computed once over
    the full corpus and split AFTERWARD, so the join is the standard
    LSH bucket join (never all-pairs) with a band-key shuffle — the
    same plan family as q_dedup_minhash, plus a doc-keyed count."""
    d = load_table(spark, sf_dir, "documents")
    bands = D.minhash_bands(d, "text", "doc_id").withColumn(
        "is_train", C.split_bucket("doc_id") < 13
    )
    tb = bands.where(F.col("is_train")).select("doc_id", "band_id", "sig")
    hb = bands.where(~F.col("is_train")).select(
        F.col("doc_id").alias("h_id"), "band_id", "sig"
    )
    return (
        tb.join(hb, ["band_id", "sig"])
        .groupBy("doc_id")
        .agg(F.count_distinct("h_id").alias("n_leak_partners"))
    )


# -- corpus mixture rebalancing ----------------------------------------------

_REBALANCE_ORACLE = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_langs FROM counts),
rates AS (
  SELECT c.lang, LEAST(1.0, (t.total / t.n_langs) / c.n) AS rate
  FROM counts c CROSS JOIN tot t
)
SELECT d.doc_id, d.lang, ROUND(r.rate, 9) AS rate
FROM documents d JOIN rates r USING (lang)
WHERE (CAST(('0x' || SUBSTRING(MD5(d.text), 1, 8)) AS BIGINT) % 10000)
      < r.rate * 10000
"""


@register("q_corpus_rebalance", _REBALANCE_ORACLE)
def q_corpus_rebalance(spark, sf_dir):
    """Mixture rebalancing toward a target (here: equal share per
    language): measure the current per-language counts, derive a keep
    rate capped at 1.0, and downsample each over-represented language
    deterministically by content-hash bucket — the static form of the
    mixture-reweighting step (DoReMi-style targets plug in as a weights
    table in place of the uniform target).

    Scale shape: pass 1 is a languages-sized hash-agg (map-side
    partials); the rates table is bounded by language cardinality, so
    the broadcast hint is safe at any corpus size; pass 2 is a streamed
    filter — the corpus is never shuffled, and the hash-bucket draw
    makes the sample reproducible across runs and appends.  The draw is
    8 md5 hex chars (32 bits) mod 10000 — uniform to ~2.3e-6 relative;
    16 bits would over-keep low buckets by up to ~6.8% at small rates."""
    d = load_table(spark, sf_dir, "documents")
    # persisted: tot and rates both consume the languages-sized counts,
    # each otherwise re-scanning the corpus for a few-row relation
    counts = persist_once(
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1.0), (F.col("total") / F.col("n_langs")) / F.col("n")
        ).alias("rate"),
    )
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 10000
    return (
        d.join(F.broadcast(rates), "lang")
        .where(bucket < F.col("rate") * 10000)
        .select("doc_id", "lang", F.round("rate", 9).alias("rate"))
    )


# -- deterministic shard packing ---------------------------------------------

_SHARD_PACK_ORACLE = """
WITH s AS (
  SELECT doc_id, MD5(text) AS h,
         CAST(('0x' || SUBSTRING(MD5(text), 1, 8)) AS BIGINT) % 8 AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) - 1 AS position
FROM s
"""


@register("q_corpus_shard_pack", _SHARD_PACK_ORACLE)
def q_corpus_shard_pack(spark, sf_dir):
    """Deterministic shuffle-and-shard for training output: every document
    gets a shard in [0, 8) from its content md5 (content-keyed, so
    re-ingesting the same corpus reproduces the same shards — no RNG) and
    a dense position within the shard ordered by (md5, doc_id), which is
    a cheap uniform scramble of the source order so each shard is an
    unbiased sample of the corpus.

    Scale shape: one shuffle, partitioned BY the shard key — exactly what
    `repartition(n, "shard").sortWithinPartitions("h", "doc_id")` feeds a
    per-shard writer; the row_number window reuses that same hash
    partitioning so assignment and numbering are a single exchange."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text"))
    s = d.select(
        "doc_id", h.alias("h"),
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 8)
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return s.select(
        "doc_id", "shard",
        (F.row_number().over(w).cast("long") - 1).alias("position"),
    )


# -- document chunking --------------------------------------------------------

_CHUNK_ORACLE = """
WITH idx AS (
  SELECT doc_id, text,
         UNNEST(RANGE(0, GREATEST(CAST(FLOOR((n_chars - 1) / 150) AS INT), 0) + 1))
           AS chunk_id
  FROM documents
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       SUBSTRING(text, chunk_id * 150 + 1, 200) AS chunk_text
FROM idx
"""


@register("q_chunk_documents", _CHUNK_ORACLE)
def q_chunk_documents(spark, sf_dir):
    """Overlapping 200-char / 150-stride chunks (context-window prep).
    Row-multiplying but narrow — no shuffle; chunk count derives from the
    stored n_chars so Spark and the oracle index identically."""
    d = load_table(spark, sf_dir, "documents")
    return C.chunk_documents(d)


# -- dedup provenance ---------------------------------------------------------

_PROVENANCE_ORACLE = f"""
WITH RECURSIVE {_shingle_cte()},
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_MINHASH_BANDS}
),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS id FROM edges),
-- w.lab < e.v: the min-label walk prune (see llm_ops._EMB_KEEP_ONE_ORACLE)
walk(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.v, w.lab FROM walk w JOIN edges e ON e.u = w.id AND w.lab < e.v
),
cc AS (SELECT id, MIN(lab) AS cluster_id FROM walk GROUP BY id)
SELECT c.id AS dropped_id, c.cluster_id AS kept_id, d.source
FROM cc c JOIN documents d ON d.doc_id = c.id
WHERE c.id <> c.cluster_id
"""


@register("q_dedup_provenance", _PROVENANCE_ORACLE)
def q_dedup_provenance(spark, sf_dir):
    """Dedup lineage: every dropped near-duplicate mapped to the kept
    representative of its cluster (plus its source) — the audit trail a
    curated corpus ships so filtering decisions stay reversible.  The
    drop-map join carries no broadcast hint — at low dup rates AQE
    broadcasts it; at web-crawl dup rates (30-50%) the map is
    corpus-scale and must be allowed to shuffle."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, "text", "doc_id", n_hashes=8, band_size=2)
    cc = D.connected_components(pairs, "doc_a", "doc_b")
    drop_map = cc.where(F.col("id") != F.col("lab")).select(
        F.col("id").alias("dropped_id"), F.col("lab").alias("kept_id")
    )
    return d.join(
        drop_map, F.col("doc_id") == F.col("dropped_id")
    ).select("dropped_id", "kept_id", "source")


# -- corpus vocabulary --------------------------------------------------------

_VOCAB_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tokens
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(tokens) AS token FROM toks)
SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM tok
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 50
"""


@register("q_vocab_topk", _VOCAB_ORACLE)
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary head: top-50 tokens by occurrence (ties broken on
    the token) with document frequency — the first pass of any tokenizer /
    stopword audit.  Hash-agg with map-side partials on the token key;
    the top-k is TakeOrderedAndProject (per-partition heaps, only 50 rows
    move to the driver)."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        spread(d, "doc_id")
        .select("doc_id", D.tokens("text").alias("_toks"))
        .select("doc_id", F.explode("_toks").alias("token"))
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(50)
    )


# -- TF-IDF top terms ---------------------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tokens
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(tokens) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * (LN(CAST(n.n_docs AS DOUBLE)) - LN(CAST(df.df AS DOUBLE))), 9)
           AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank
FROM (SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
WHERE rank <= 3
"""


@register("q_tfidf_topterms", _TFIDF_ORACLE)
def q_tfidf_topterms(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (tf * ln(N/df), ties on the
    term) — the classic keyword-extraction / topic-fingerprint pass.
    tf is a (doc, term) hash-agg; df a term hash-agg; the scalar corpus
    count is a 1-row broadcast.  The tf->df join keys on the term —
    at 100 TB both sides are term-partitioned so the join co-locates;
    the final top-3 is a per-doc window over at most |doc vocab| rows.

    df DERIVES FROM tf (one row per (doc, term), so COUNT(*) per term
    IS the distinct-doc count) and tf is persisted: the corpus is
    tokenized+exploded once, where computing df from the raw token
    relation would run the explode a second time for the same number."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        spread(d, "doc_id")
        .select("doc_id", D.tokens("text").alias("_toks"))
        .select("doc_id", F.explode("_toks").alias("term"))
    )
    tf = persist_once(
        tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log(F.col("n_docs").cast("double"))
                    - F.log(F.col("df").cast("double"))
                ),
                9,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


# -- corpus bigram LM scoring -------------------------------------------------

_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tokens
  FROM documents
),
bg AS (
  SELECT doc_id, UNNEST(
    CASE WHEN LEN(tokens) >= 2 THEN
      LIST_TRANSFORM(RANGE(1, LEN(tokens)), i -> tokens[i] || ' ' || tokens[i+1])
    ELSE [] END) AS gram
  FROM toks
),
b AS (SELECT gram, COUNT(*) AS c2 FROM bg GROUP BY gram),
l AS (SELECT STRING_SPLIT(gram, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
      FROM b GROUP BY 1),
lp AS (
  SELECT bg.doc_id, bg.gram,
         LN(CAST(b.c2 AS DOUBLE)) - LN(CAST(l.c1 AS DOUBLE)) AS lp
  FROM bg
  JOIN b USING (gram)
  JOIN l ON l.w1 = STRING_SPLIT(bg.gram, ' ')[1]
),
folded AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         LIST_REDUCE(LIST(lp ORDER BY gram, lp), (x, y) -> x + y) AS s
  FROM lp GROUP BY doc_id
)
SELECT doc_id, n_bigrams, ROUND(s / n_bigrams, 9) AS avg_logprob
FROM folded
"""


def _bigram_logprob_scores(spark, sf_dir):
    """Shared builder: (doc_id, n_bigrams, avg_logprob) under the
    corpus's own MLE bigram model — used by q_text_bigram_logprob (the
    raw signal) and q_corpus_lm_prune (the CCNet-style filter)."""
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", D.tokens("text").alias("_toks")
    )
    bg = toks.select(
        "doc_id", F.explode(D.shingles(F.col("_toks"), 2)).alias("gram")
    )
    # b feeds both the left-context rollup and the model join; persisted
    # it is VOCAB-sized (distinct bigrams), so caching it removes a full
    # corpus tokenize+explode+agg recompute for the price of a small
    # table.  bg itself is deliberately NOT cached: at 100 TB the
    # exploded gram relation is larger than the corpus, so the honest
    # plan is two corpus passes (model build, scoring) over a cached
    # vocab-sized model.  persist_once keeps re-invocations warning-free;
    # the cache is scoped by the harness — bench.py and drive_contract.py
    # clearCache() per query, so nothing leaks across registry runs.
    b = persist_once(bg.groupBy("gram").agg(F.count(F.lit(1)).alias("c2")))
    left = (
        b.groupBy(F.split("gram", " ")[0].alias("w1"))
        .agg(F.sum("c2").alias("c1"))
    )
    # fold the model into one vocab-sized (gram -> lp) table first, so
    # the corpus-sized bg relation joins ONCE instead of twice — at
    # 100 TB the doc-level join is the expensive one, the model join is
    # vocab-sized
    lp_model = b.join(
        left, F.split(F.col("gram"), " ")[0] == F.col("w1")
    ).select(
        "gram",
        (
            F.log(F.col("c2").cast("double"))
            - F.log(F.col("c1").cast("double"))
        ).alias("lp"),
    )
    lp = bg.join(lp_model, "gram").select("doc_id", "gram", "lp")
    folded = lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("gram", "lp"))),
            F.lit(0.0),
            lambda acc, x: acc + x["lp"],
        ).alias("s"),
    )
    return folded.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("s") / F.col("n_bigrams"), 9).alias("avg_logprob"),
    )


@register("q_text_bigram_logprob", _BIGRAM_ORACLE)
def q_text_bigram_logprob(spark, sf_dir):
    """Statistical-LM fluency signal: per-document mean bigram log
    probability under the corpus's own MLE bigram model,
    ln c(w1 w2) - ln c(w1 ·) — the perplexity-proxy filter for
    gibberish/boilerplate.  Two hash-aggs build the model (bigram and
    left-context counts); scoring is a join back keyed on the gram.
    The per-doc sum folds in gram-sorted order on both engines so the
    doubles match bit-for-bit before rounding."""
    return _bigram_logprob_scores(spark, sf_dir)


_LM_PRUNE_ORACLE = _BIGRAM_ORACLE.replace(
    """SELECT doc_id, n_bigrams, ROUND(s / n_bigrams, 9) AS avg_logprob
FROM folded
""",
    """scored AS (
  SELECT f.doc_id, d.lang, f.avg_logprob,
         PERCENT_RANK() OVER (
           PARTITION BY d.lang ORDER BY f.avg_logprob, f.doc_id
         ) AS pr
  FROM (SELECT doc_id, ROUND(s / n_bigrams, 9) AS avg_logprob
        FROM folded) f
  JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, avg_logprob, ROUND(pr, 6) AS pr
FROM scored WHERE pr >= 0.1
""",
).replace(
    """FROM lp GROUP BY doc_id
)""",
    """FROM lp GROUP BY doc_id
),""",
)


@register("q_corpus_lm_prune", _LM_PRUNE_ORACLE)
def q_corpus_lm_prune(spark, sf_dir):
    """CCNet-style LM fluency pruning: score every document by mean
    bigram log probability under the corpus's own model, then drop the
    least-fluent decile PER LANGUAGE (per-language thresholds are the
    CCNet design — absolute logprob is not comparable across languages).
    percent_rank over (avg_logprob, doc_id) is a total order, identical
    IEEE arithmetic in both engines.

    Scale shape: the model build is two hash-aggs; scoring joins on the
    gram; the prune window is per-language sort-within-partition — EXACT
    by design, the parity form.  The implemented skew escape is
    q_corpus_lm_prune_2pass (sketch -> broadcast thresholds -> stateless
    filter) for when one language dwarfs the cluster.  Docs
    with fewer than two tokens carry no bigram evidence and are not
    scored (both engines drop them)."""
    from pyspark.sql import Window

    scores = _bigram_logprob_scores(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("avg_logprob", "doc_id")
    pr = F.percent_rank().over(w)
    return (
        scores.join(d, "doc_id")
        .select("doc_id", "lang", "avg_logprob", pr.alias("pr"))
        .where(F.col("pr") >= 0.1)
        .select(
            "doc_id", "lang", "avg_logprob", F.round("pr", 6).alias("pr")
        )
    )


_LM_PRUNE_2PASS_ORACLE = _BIGRAM_ORACLE.replace(
    """SELECT doc_id, n_bigrams, ROUND(s / n_bigrams, 9) AS avg_logprob
FROM folded
""",
    """scored AS (
  SELECT f.doc_id, d.lang, f.avg_logprob
  FROM (SELECT doc_id, ROUND(s / n_bigrams, 9) AS avg_logprob
        FROM folded) f
  JOIN documents d USING (doc_id)
),
th AS (
  SELECT lang, QUANTILE_DISC(avg_logprob, 0.1) AS lo, COUNT(*) AS n_docs
  FROM scored GROUP BY lang
)
SELECT s.lang,
       MAX(th.n_docs) AS n_docs,
       COUNT(*) FILTER (WHERE s.avg_logprob >= th.lo)
         BETWEEN 0.85 * MAX(th.n_docs) AND 0.97 * MAX(th.n_docs) AS kept_ok
FROM scored s JOIN th USING (lang)
GROUP BY s.lang
""",
).replace(
    """FROM lp GROUP BY doc_id
)""",
    """FROM lp GROUP BY doc_id
),""",
)


@register("q_corpus_lm_prune_2pass", _LM_PRUNE_2PASS_ORACLE)
def q_corpus_lm_prune_2pass(spark, sf_dir):
    """The skewed-giant-language escape for CCNet-style LM pruning —
    implemented on the q_corpus_quantile_prune_2pass doctrine: the
    per-language bottom-decile logprob threshold comes from ONE hash
    aggregation whose percentile sketches partial-aggregate map-side (no
    per-language sort, no single reducer owning a 10^10-row language),
    the languages-sized threshold table broadcasts back, and the scored
    corpus streams through a stateless ``avg_logprob >= lo`` filter —
    where the exact form's percent_rank window must move every row of a
    language to one task.

    Oracle is tolerance-as-boolean (the q_corpus_quantile_prune_2pass
    convention): Spark's GK percentile_approx and DuckDB's quantile_disc
    may pick adjacent order statistics, so each engine asserts its own
    kept fraction lands in [0.85, 0.97] of the language (the
    exact-window answer keeps ~90%); per-language scored-doc counts must
    match bit-for-bit.  Exactness of the prune itself is covered by
    q_corpus_lm_prune.

    The scored table is persisted: both passes (threshold sketch +
    stateless filter) consume it, and unlike the raw-column quantile
    2pass its lineage is EXPENSIVE (bigram explode + model join).  At 3
    slim columns x n_docs rows it is exactly the signature/assignment
    class this repo persists — not the corpus text, which never enters
    the lineage past the tokenizer."""
    scores = _bigram_logprob_scores(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = persist_once(
        scores.join(d, "doc_id").select("doc_id", "lang", "avg_logprob")
    )
    th = scored.groupBy("lang").agg(
        F.percentile_approx("avg_logprob", 0.1, 100000).alias("lo"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    kept = (
        scored.join(F.broadcast(th), "lang")
        .groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.sum(
                F.when(F.col("avg_logprob") >= F.col("lo"), 1).otherwise(0)
            ).alias("_kept"),
        )
    )
    return kept.select(
        "lang",
        "n_docs",
        F.col("_kept")
        .between(0.85 * F.col("n_docs"), 0.97 * F.col("n_docs"))
        .alias("kept_ok"),
    )


# -- DSIR importance-resampling selection -------------------------------------

def _dsir_ctes(base: str) -> str:
    """The DSIR scoring lineage as a CTE chain over any documents-shaped
    base relation (needs doc_id, text) — shared by the standalone query
    and the composed pipeline so both replay the identical formula."""
    return f"""ds_toks AS (
  SELECT doc_id, doc_id % 20 = 0 AS is_target,
         UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                            t -> LENGTH(t) > 0)) AS tok
  FROM {base}
),
ds_bucketed AS (
  SELECT doc_id, is_target,
         CAST(('0x' || SUBSTRING(MD5(tok), 1, 4)) AS BIGINT) % 256 AS b
  FROM ds_toks
),
ds_model AS (
  SELECT b,
         CAST(COUNT(*) FILTER (WHERE is_target) AS BIGINT) AS ct,
         CAST(COUNT(*) FILTER (WHERE NOT is_target) AS BIGINT) AS cr
  FROM ds_bucketed GROUP BY b
),
ds_lw AS (
  SELECT b,
         LN(CAST(ct + 1 AS DOUBLE)) - LN(CAST(tt + 256 AS DOUBLE))
         - LN(CAST(cr + 1 AS DOUBLE)) + LN(CAST(tr + 256 AS DOUBLE)) AS w
  FROM (SELECT b, ct, cr,
               CAST(SUM(ct) OVER () AS BIGINT) AS tt,
               CAST(SUM(cr) OVER () AS BIGINT) AS tr
        FROM ds_model)
),
ds_per_doc_bucket AS (
  SELECT doc_id, b, COUNT(*) AS n
  FROM ds_bucketed WHERE NOT is_target GROUP BY doc_id, b
),
ds_scored AS (
  SELECT p.doc_id,
         CAST(SUM(p.n) AS BIGINT) AS n_tokens,
         LIST_REDUCE(LIST(p.n * ds_lw.w ORDER BY p.b), (x, y) -> x + y) AS s
  FROM ds_per_doc_bucket p JOIN ds_lw USING (b)
  GROUP BY p.doc_id
)"""


_DSIR_ORACLE = f"""
WITH {_dsir_ctes("documents")}
SELECT doc_id, n_tokens, ROUND(s, 6) AS iw
FROM ds_scored
ORDER BY ROUND(s, 6) DESC, doc_id
LIMIT 100
"""


@register("q_corpus_dsir_select", _DSIR_ORACLE)
def q_corpus_dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, 'Data Selection for
    Language Models via Importance Resampling', public arXiv
    2302.03169): score every raw document by how much its hashed-unigram
    distribution looks like the TARGET domain (the doc_id %% 20 == 0
    eval slice, the same stand-in q_decontaminate uses) versus the raw
    corpus, and keep the top of the importance ranking.  This is
    distribution MATCHING to a target — a different axis from
    q_corpus_lm_prune's within-corpus fluency gate.

    Tokens hash into 256 buckets (md5-nibble idiom, replayed exactly in
    DuckDB); both bag-of-bucket models come out of ONE corpus tokenize
    pass as a single 256-row hash-agg with map-side partials; Laplace
    (+1) smoothing over exact integer counts keeps the per-bucket
    log-ratio ``ln((ct+1)/(TT+B)) - ln((cr+1)/(TR+B))`` deterministic in
    both engines (four LNs of exact integers, subtracted in the same
    order).  The 256-row weight table broadcasts back, each raw doc
    folds ``n_b * w_b`` over its buckets sorted by bucket id (the
    sorted-fold determinism convention), and the global top-100 is a
    TakeOrderedAndProject — never a full sort.  Rounds before ranking
    (round-before-rank convention) with doc_id as the total-order tie
    break.

    Scale shape: two corpus passes (model build, scoring) and a
    constant 256-row broadcast — the same honest shape as the bigram LM
    (the exploded token relation is bigger than the corpus, so it is
    never cached); no shuffle is keyed on anything larger than
    (doc_id, bucket)."""
    d = load_table(spark, sf_dir, "documents")
    scored = _dsir_scores(d)
    return (
        scored.select(
            "doc_id", "n_tokens", F.round("s", 6).alias("iw")
        )
        .orderBy(F.desc("iw"), "doc_id")
        .limit(100)
    )


def _dsir_bucket(col):
    """The DSIR md5-nibble bucket of a token column — the ONE Spark
    definition of the bucketing idiom (the DuckDB twin lives inside
    _dsir_ctes); every batch/stream scoring site must use this so the
    trained weight table and any scorer bucket identically."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("long") % 256


def _dsir_weight_table(d):
    """The DENSE 256-row DSIR bucket weight table lw(b, w) from a
    documents-shaped DataFrame — the trainable artifact of the method
    (batch-built, then broadcast for batch scoring or collected as a
    literal array for stateless streaming scoring).  Buckets unseen in
    training still get their Laplace-smoothed weight
    ln((0+1)/(tt+256)) - ln((0+1)/(tr+256)) — a SERVING-time scorer may
    meet vocabulary the training corpus never produced, and an unseen
    bucket's evidence is the smoothing prior, not zero.  (Batch scoring
    inner-joins on seen buckets, so densifying changes nothing there;
    the batch oracle keeps its sparse model CTE for the same reason.)"""
    is_target = F.col("doc_id") % 20 == 0
    toks = spread(d, "doc_id").select(
        "doc_id",
        is_target.alias("is_target"),
        F.explode(D.tokens("text")).alias("tok"),
    )
    bucketed = toks.select(
        "doc_id",
        "is_target",
        _dsir_bucket("tok").alias("b"),
    )
    seen = bucketed.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("cr"),
    )
    spark = d.sparkSession
    # persisted: totals and the weight projection both consume the
    # 256-row model, and each would otherwise re-run the corpus
    # tokenize+agg lineage beneath it
    model = persist_once(
        spark.range(256)
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


def _dsir_scores(d):
    """Spark half of _dsir_ctes over any documents-shaped DataFrame
    (doc_id, text): returns (doc_id, n_tokens, s) with the raw
    importance sum — callers round/rank/limit."""
    is_target = F.col("doc_id") % 20 == 0
    lw = _dsir_weight_table(d)
    bucketed = spread(d, "doc_id").select(
        "doc_id",
        is_target.alias("is_target"),
        F.explode(D.tokens("text")).alias("tok"),
    ).select(
        "doc_id",
        "is_target",
        _dsir_bucket("tok").alias("b"),
    )
    per_doc_bucket = (
        bucketed.where(~F.col("is_target"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = (
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
    return scored


_PIPELINE_V4_ORACLE_TEMPLATE = """
WITH {gopher_cte},
gated AS (
  SELECT d.doc_id, d.text, d.lang
  FROM documents d JOIN m USING (doc_id)
  WHERE {gopher_pass}
),
{dsir_ctes}
SELECT doc_id, lang, n_tokens, iw FROM (
  SELECT s.doc_id, g.lang, s.n_tokens, ROUND(s.s, 6) AS iw,
         ROW_NUMBER() OVER (
           PARTITION BY g.lang
           ORDER BY ROUND(s.s, 6) DESC, s.doc_id) AS rn
  FROM ds_scored s JOIN gated g USING (doc_id)
) WHERE rn <= 30
"""


@register(
    "q_llm_prep_pipeline_v4",
    _PIPELINE_V4_ORACLE_TEMPLATE.format(
        gopher_cte=_GOPHER_SIGNALS_CTE,
        gopher_pass=_GOPHER_PASS_SQL,
        dsir_ctes=_dsir_ctes("gated"),
    ),
)
def q_llm_prep_pipeline_v4(spark, sf_dir):
    """The round-7 selection recipe composed end to end: Gopher rule
    gate -> DSIR importance scoring against the eval-slice target ->
    top-30 most-target-like documents PER LANGUAGE.  The per-language
    quota is the guard DSIR's global top-k lacks — a target skewed
    toward one language would otherwise evict every other language from
    the selection (the concern UniMax answers for epoch budgets, applied
    here to selection counts).  Each stage is a registered standalone
    operator (q_corpus_gopher_rules, q_corpus_dsir_select shares
    _dsir_scores/_dsir_ctes literally); this entry pins that they
    compose, the v3 doctrine.

    Scale shape: the gate is one narrow JVM pass whose verdict is
    PERSISTED as a slim (doc_id, lang) table — DSIR's two tokenize
    passes then re-read the corpus narrowly (column-pruned parquet,
    the boilerplate-scrub doctrine: a narrow re-scan over caching
    corpus text) and semi-join the cached ids instead of re-running
    the HOF gate per pass; the 256-row weight table broadcasts; the
    per-language quota is a rank<=k filter, so Catalyst plants the
    native WindowGroupLimit(..., Partial) below the lang-keyed Exchange
    — a dominant language ships map_partitions x k slim rows, never its
    corpus share.  Document text never shuffles in any stage."""
    d = load_table(spark, sf_dir, "documents")
    # spread only the HOF-heavy gate pass; the gated narrow re-read below
    # stays on the raw scan (its semi-join probe is not CPU-bound) —
    # measured 2.0 s -> 1.4 s at sf0.1
    sig = _gopher_signals(spread(d, "doc_id"), extra_cols=("lang",))
    gated_ids = persist_once(
        sig.where(_gopher_passes()).select("doc_id", "lang")
    )
    gated = d.select("doc_id", "text").join(
        gated_ids.select("doc_id"), "doc_id", "left_semi"
    )
    ranked = _dsir_scores(gated).join(gated_ids, "doc_id").select(
        "doc_id", "lang", "n_tokens", F.round("s", 6).alias("iw")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("iw"), "doc_id")
    return (
        ranked.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 30)
        .select("doc_id", "lang", "n_tokens", "iw")
    )


# -- UniMax language-sampling budget allocation --------------------------------

# the water-filling allocation as a shared CTE chain (alloc holds the
# per-language cap flag + the exact integers the budget/epoch CASE
# expressions need) and the unrounded epoch/budget expressions — shared
# by the allocation query and the mixture-materialization apply query
# per-language token counts — the corpus-sized head every mixture
# query shares (UniMax, its apply, temperature sampling); ONE SQL text
# and ONE Spark builder so tokenization cannot drift between them
_LANG_COUNTS_CTE = """counts AS (
  SELECT lang,
         CAST(SUM(LENGTH(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                     t -> LENGTH(t) > 0))) AS BIGINT) AS n_tok
  FROM documents GROUP BY lang
)"""


def _lang_token_counts(d):
    """Spark twin of _LANG_COUNTS_CTE.  PERSISTED: every caller consumes
    the counts relation from at least two branches (totals + the
    per-language tail), and without the cache each branch re-tokenizes
    the full corpus to rebuild a languages-sized table — the plan audit
    showed the corpus scanned 2-3x for a table of a few rows."""
    return persist_once(
        d.groupBy("lang").agg(
            F.sum(F.size(D.tokens("text"))).cast("long").alias("n_tok")
        )
    )


_UNIMAX_CTES = f"""{_LANG_COUNTS_CTE},
tot AS (
  SELECT CAST(SUM(n_tok) AS BIGINT) AS tt, COUNT(*) AS n_langs FROM counts
),
ranked AS (
  SELECT c.lang, c.n_tok, t.tt, t.n_langs,
         CAST(ROW_NUMBER() OVER (ORDER BY c.n_tok, c.lang) AS BIGINT) AS i,
         CAST(SUM(c.n_tok) OVER (ORDER BY c.n_tok, c.lang
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
  FROM counts c CROSS JOIN tot t
),
flagged AS (
  SELECT *, 6 * (n_tok * (n_langs - i) + p) <= tt AS capped FROM ranked
),
alloc AS (
  SELECT *,
         CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS BIGINT) AS k,
         CAST(COALESCE(SUM(CASE WHEN capped THEN n_tok END) OVER (), 0)
              AS BIGINT) AS pk
  FROM flagged
)"""

_UNIMAX_BUDGET_SQL = """CASE WHEN capped THEN CAST(3 * n_tok AS DOUBLE)
                  ELSE (0.5 * CAST(tt AS DOUBLE) - 3 * CAST(pk AS DOUBLE))
                       / CAST(n_langs - k AS DOUBLE) END"""

_UNIMAX_EPOCHS_SQL = """CASE WHEN capped THEN 3.0
                  ELSE ((0.5 * CAST(tt AS DOUBLE) - 3 * CAST(pk AS DOUBLE))
                        / CAST(n_langs - k AS DOUBLE))
                       / CAST(n_tok AS DOUBLE) END"""

_UNIMAX_ORACLE = f"""
WITH {_UNIMAX_CTES}
SELECT lang, n_tok AS n_tokens,
       ROUND({_UNIMAX_BUDGET_SQL}, 6) AS budget_tokens,
       ROUND({_UNIMAX_EPOCHS_SQL}, 6) AS epochs
FROM alloc
"""


@register("q_corpus_unimax", _UNIMAX_ORACLE)
def q_corpus_unimax(spark, sf_dir):
    """UniMax language-sampling allocation (Chung et al. 2023, 'UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining', public arXiv 2304.09151): given a total
    training-token budget (here half the corpus) and a per-language
    repeat ceiling (here 3 epochs), water-fill the budget uniformly
    across languages — small languages hit the epoch cap and keep their
    full 3x allocation, the rest split what remains evenly — instead of
    temperature sampling's starve-the-tail / over-repeat-the-head
    trade-off.

    The greedy in the paper is sequential over languages, but it has a
    closed form over the ASCENDING token-count order: the capped set is
    always a prefix, and language i is capped iff
    ``N * (c_i * (L - i) + P_i) <= B`` (P_i = ascending prefix sum) —
    with N=3 and B=tt/2 that is the exact-integer test
    ``6 * (c_i * (L - i) + P_i) <= tt``, so the cap decision never
    touches a float.  Budgets follow in one projection: capped keeps
    ``3 * c_i`` (exact), the rest share ``(B - 3 * P_K) / (L - K)``
    computed from exact integers in the same literal order in both
    engines.

    Scale shape: the ONLY corpus-sized work is the per-language token
    count — one hash-agg with map-side partials over a 2-column
    projection; everything after runs on a languages-sized relation
    where the global sort/windows are bounded by language cardinality,
    the same tiny-relation tail as q_corpus_rebalance's rates table."""
    d = load_table(spark, sf_dir, "documents")
    alloc = _unimax_alloc(d)
    share = _unimax_share()
    return alloc.select(
        "lang",
        F.col("n_tok").alias("n_tokens"),
        F.round(
            F.when(F.col("capped"), (3 * F.col("n_tok")).cast("double"))
            .otherwise(share),
            6,
        ).alias("budget_tokens"),
        F.round(_unimax_epochs(), 6).alias("epochs"),
    )


def _unimax_alloc(d):
    """The languages-sized allocation relation (lang, n_tok, tt, n_langs,
    i, p, capped, k, pk) the water-filling CASE expressions evaluate
    over — the Spark half of _UNIMAX_CTES."""
    counts = _lang_token_counts(d)
    tot = counts.agg(
        F.sum("n_tok").cast("long").alias("tt"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    wo = Window.orderBy("n_tok", "lang")
    ranked = counts.crossJoin(F.broadcast(tot)).select(
        "lang", "n_tok", "tt", "n_langs",
        F.row_number().over(wo).cast("long").alias("i"),
        F.sum("n_tok")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("p"),
    )
    flagged = ranked.select(
        "*",
        (
            6 * (F.col("n_tok") * (F.col("n_langs") - F.col("i")) + F.col("p"))
            <= F.col("tt")
        ).alias("capped"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    alloc = flagged.select(
        "*",
        F.sum(F.when(F.col("capped"), 1).otherwise(0))
        .over(wall)
        .cast("long")
        .alias("k"),
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("n_tok"))).over(wall), F.lit(0)
        )
        .cast("long")
        .alias("pk"),
    )
    return alloc


def _unimax_share():
    """Unrounded uncapped-language budget share, exact-integer inputs."""
    return (
        0.5 * F.col("tt").cast("double") - 3 * F.col("pk").cast("double")
    ) / (F.col("n_langs") - F.col("k")).cast("double")


def _unimax_epochs():
    """Unrounded per-language epoch count (the _UNIMAX_EPOCHS_SQL twin)."""
    return F.when(F.col("capped"), F.lit(3.0)).otherwise(
        _unimax_share() / F.col("n_tok").cast("double")
    )


_TEMPERATURE_MIX_ORACLE = f"""
WITH {_LANG_COUNTS_CTE},
tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tt FROM counts),
w AS (
  SELECT lang, n_tok, tt,
         EXP(LN(CAST(n_tok AS DOUBLE) / CAST(tt AS DOUBLE)) / 3.3) AS u
  FROM counts CROSS JOIN tot
  WHERE n_tok > 0
),
z AS (
  SELECT LIST_REDUCE(LIST(u ORDER BY lang), (x, y) -> x + y) AS zsum FROM w
)
SELECT lang, n_tok AS n_tokens,
       ROUND(u / zsum, 6) AS sample_prob,
       ROUND((0.5 * CAST(tt AS DOUBLE) * (u / zsum))
             / CAST(n_tok AS DOUBLE), 6) AS epochs
FROM w CROSS JOIN z
"""


@register("q_corpus_temperature_mix", _TEMPERATURE_MIX_ORACLE)
def q_corpus_temperature_mix(spark, sf_dir):
    """Temperature-based language sampling — the mC4/mT5 baseline (Xue
    et al. 2021, public arXiv 2010.11934, tau=3.3): sampling probability
    q_l proportional to p_l^(1/tau), flattening the language
    distribution so low-resource languages are up-sampled, reported per
    language with the implied epoch count under the same half-corpus
    budget q_corpus_unimax uses — the side-by-side a mixture designer
    compares before picking UniMax (which caps the tail's epoch blowup
    this method is known for).

    p^(1/tau) is spelled EXP(LN(p)/tau) in BOTH engines — exp/ln over
    identical doubles are the float primitives this repo's oracles
    already hash-match (the DSIR weight table) — rather than POWER,
    whose rounding the two engines don't contractually share.  The
    normalizer is a SORTED FOLD over the languages (not a float SUM,
    whose accumulation order differs between engines), and zero-token
    languages are excluded before the LN (their probability limit is 0;
    DuckDB would otherwise raise on ln(0) where Spark yields NULL).

    Scale shape: identical to q_corpus_unimax — one per-language token
    hash-agg over a 2-column projection is the only corpus-sized work;
    the temperature tail is a languages-sized relation with two 1-row
    scalar broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    counts = _lang_token_counts(d)
    tot = counts.agg(F.sum("n_tok").cast("long").alias("tt"))
    w = counts.where(F.col("n_tok") > 0).crossJoin(F.broadcast(tot)).select(
        "lang", "n_tok", "tt",
        F.exp(
            F.log(
                F.col("n_tok").cast("double") / F.col("tt").cast("double")
            )
            / 3.3
        ).alias("u"),
    )
    z = w.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "u"))),
            F.lit(0.0),
            lambda acc, x: acc + x["u"],
        ).alias("zsum")
    )
    q = F.col("u") / F.col("zsum")
    return w.crossJoin(F.broadcast(z)).select(
        "lang",
        F.col("n_tok").alias("n_tokens"),
        F.round(q, 6).alias("sample_prob"),
        F.round(
            (0.5 * F.col("tt").cast("double") * q)
            / F.col("n_tok").cast("double"),
            6,
        ).alias("epochs"),
    )


_UNIMAX_APPLY_ORACLE = f"""
WITH {_UNIMAX_CTES},
eps AS (
  SELECT lang, {_UNIMAX_EPOCHS_SQL} AS e FROM alloc
)
SELECT d.doc_id, d.lang,
       CAST(FLOOR(e) AS BIGINT)
       + CASE WHEN (CAST(('0x' || SUBSTRING(MD5(d.text), 1, 8)) AS BIGINT)
                    % 10000) < (e - FLOOR(e)) * 10000
              THEN 1 ELSE 0 END AS n_copies
FROM documents d JOIN eps USING (lang)
"""


@register("q_corpus_unimax_apply", _UNIMAX_APPLY_ORACLE)
def q_corpus_unimax_apply(spark, sf_dir):
    """Materialize the UniMax mixture: turn each language's epoch count
    into a per-document copy count — the manifest a training writer
    explodes into the actual shuffled dataset.  Whole epochs replicate
    every document of the language; the fractional remainder is a
    deterministic content-hash draw (the q_corpus_rebalance bucket
    idiom), so a language allocated 2.4 epochs keeps 2 copies of every
    doc plus a 3rd copy of a reproducible 40% subset — no RNG state,
    stable across runs and engines.

    Expected-value contract: sum(n_copies * doc_tokens) per language ~=
    the language's UniMax budget (exact for capped languages, a
    hash-draw estimate for the fractional part).  The draw takes 8 md5
    hex chars (32 bits) mod 10000, so the bucket distribution is uniform
    to ~2.3e-6 relative — a 4-char draw (16 bits mod 10000) would
    over-select low buckets by up to ~6.8% relative and bias the
    expected-value contract.

    Scale shape: the allocation tail is the languages-sized relation of
    q_corpus_unimax; the apply is ONE broadcast join of a
    language-count-sized epochs table against the corpus followed by a
    stateless per-row expression — no corpus shuffle anywhere (the
    manifest carries doc_id, not text; the writer's explode happens at
    write time)."""
    d = load_table(spark, sf_dir, "documents")
    eps = _unimax_alloc(d).select("lang", _unimax_epochs().alias("e"))
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 10000
    )
    return d.join(F.broadcast(eps), "lang").select(
        "doc_id",
        "lang",
        (
            F.floor("e").cast("long")
            + F.when(
                bucket < (F.col("e") - F.floor("e")) * 10000, 1
            ).otherwise(0)
        ).alias("n_copies"),
    )


# -- embedding centering + L2 normalization ----------------------------------

_CENTER_NORM_ORACLE = """
WITH v AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent AS (
  SELECT i AS pos, ROUND(AVG(v[CAST(i AS INT)]), 6) AS m
  FROM v, RANGE(1, 65) t(i)
  GROUP BY i
),
carr AS (SELECT LIST(m ORDER BY pos) AS c FROM cent),
centered AS (
  SELECT vec_id,
         LIST_TRANSFORM(RANGE(1, LEN(v) + 1), i -> v[i] - c[i]) AS cv
  FROM v CROSS JOIN carr
)
SELECT vec_id,
       ARRAY_TO_STRING(LIST_TRANSFORM(
         LIST_TRANSFORM(cv, x -> ROUND(x / SQRT(
           LIST_REDUCE(LIST_TRANSFORM(cv, y -> y * y), (a, b) -> a + b)), 6)),
         x -> CAST(ROUND(x * 1000000) AS BIGINT)), ',')
         AS unit_vec
FROM centered
WHERE LIST_REDUCE(LIST_TRANSFORM(cv, y -> y * y), (a, b) -> a + b) > 0
"""


@register("q_embedding_center_normalize", _CENTER_NORM_ORACLE)
def q_embedding_center_normalize(spark, sf_dir):
    """Mean-center then L2-normalize every embedding — the standard prep
    before cosine ANN so the index isn't dominated by the corpus offset.
    The per-dim mean is a posexplode hash-agg (map-side partials, never a
    vector collect), rounded to 6 so both engines subtract the identical
    centroid; the 1-row centroid array is then broadcast and the pass is
    narrow.  Norm folds run dimension-sequential on both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = spread(e, "vec_id").select("vec_id", v.alias("v"))
    cent = (
        base.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
    )
    carr = cent.agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s")
    ).select(F.transform("s", lambda x: x["m"]).alias("c"))
    centered = base.crossJoin(F.broadcast(carr)).select(
        "vec_id", F.zip_with("v", "c", lambda x, c: x - c).alias("cv")
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("cv", lambda y: y * y),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    # vec_str (no-raw-container rule): the unit vector surfaces as a
    # ','-joined scaled-integer string, not an array<double> the driver's
    # canonicalizer cannot hash.  norm > 0: a vector exactly equal to the
    # centroid (guaranteed in a single-vector corpus) centers to zero and
    # has no direction — dropped on both engines instead of an ANSI
    # DIVIDE_BY_ZERO here / a NULL-element list in DuckDB.
    return centered.where(norm > 0).select(
        "vec_id",
        vec_str(F.transform("cv", lambda x: F.round(x / norm, 6))).alias(
            "unit_vec"
        ),
    )


# -- product-quantization ADC similarity --------------------------------------

_PQ_ORACLE = """
WITH v AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sub AS (
  SELECT vec_id, CAST(m AS INT) AS m,
         LIST_TRANSFORM(RANGE(1, 9), i -> v[CAST(m * 8 + i AS INT)]) AS s
  FROM v, RANGE(0, 8) t(m)
),
cb AS (SELECT m, CAST(vec_id AS INT) AS code, s AS cs FROM sub WHERE vec_id < 16),
d AS (
  SELECT sub.vec_id, sub.m, cb.code,
         LIST_REDUCE(
           LIST_TRANSFORM(RANGE(1, 9),
                          i -> (sub.s[i] - cb.cs[i]) * (sub.s[i] - cb.cs[i])),
           (a, b) -> a + b) AS d2
  FROM sub JOIN cb ON cb.m = sub.m
),
codes AS (
  SELECT vec_id, m, code
  FROM (SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, code) AS r
        FROM d)
  WHERE r = 1
),
qd AS (SELECT m, code, d2 AS qd2 FROM d WHERE vec_id = 42),
adc AS (
  SELECT c.vec_id,
         LIST_REDUCE(LIST(qd.qd2 ORDER BY c.m), (a, b) -> a + b) AS dist
  FROM codes c JOIN qd ON qd.m = c.m AND qd.code = c.code
  GROUP BY c.vec_id
)
SELECT vec_id, ROUND(dist, 6) AS adc_dist
FROM adc
WHERE vec_id <> 42
ORDER BY dist, vec_id
LIMIT 10
"""


@register("q_similarity_pq_adc", _PQ_ORACLE)
def q_similarity_pq_adc(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance (ADC): 8
    subspaces x 8 dims, a 16-entry codebook per subspace (deterministic:
    the subvectors of vec_id 0..15 — a k-means codebook would drop in
    unchanged), codes = per-subspace argmin L2^2.  At query time only the
    8x16 query-to-centroid table is computed; every stored vector's
    distance is 8 table lookups — the memory layout that makes
    billion-vector ANN fit in RAM.  The codebook and the 128-row query
    table are broadcast; codes are a (vec_id, m) hash-agg; nothing wide
    ever carries raw vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = spread(e, "vec_id").select("vec_id", v.alias("v"))
    sub = base.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda m: F.slice("v", m * 8 + 1, 8),
            )
        ).alias("m", "s"),
    )
    cb = sub.where(F.col("vec_id") < 16).select(
        F.col("m").alias("cb_m"),
        F.col("vec_id").cast("int").alias("code"),
        F.col("s").alias("cs"),
    )
    d2 = F.aggregate(
        F.zip_with("s", "cs", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    d = sub.join(F.broadcast(cb), F.col("m") == F.col("cb_m")).select(
        "vec_id", "m", "code", d2.alias("d2")
    )
    codes = (
        d.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("best"))
        .select("vec_id", "m", F.col("best.code").alias("code"))
    )
    qd = d.where(F.col("vec_id") == 42).select(
        F.col("m").alias("q_m"), F.col("code").alias("q_code"),
        F.col("d2").alias("qd2"),
    )
    adc = (
        codes.join(
            F.broadcast(qd),
            (F.col("m") == F.col("q_m")) & (F.col("code") == F.col("q_code")),
        )
        .groupBy("vec_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "qd2"))),
                    lambda x: x["qd2"],
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("dist")
        )
    )
    return (
        adc.where(F.col("vec_id") != 42)
        .orderBy("dist", "vec_id")
        .limit(10)
        .select("vec_id", F.round("dist", 6).alias("adc_dist"))
    )


_OOV_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tokens
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(tokens) AS token FROM toks),
vocab AS (
  SELECT token FROM (
    SELECT token,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
    FROM tok GROUP BY token
  ) WHERE rn <= 500
),
per_doc AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id),
oov AS (
  SELECT doc_id, COUNT(*) AS n_oov
  FROM tok WHERE token NOT IN (SELECT token FROM vocab)
  GROUP BY doc_id
)
SELECT p.doc_id, p.n_tokens,
       COALESCE(o.n_oov, 0) AS n_oov,
       ROUND(CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / p.n_tokens, 6)
         AS oov_rate
FROM per_doc p LEFT JOIN oov o USING (doc_id)
"""


@register("q_vocab_oov_rate", _OOV_ORACLE)
def q_vocab_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per document against the corpus's own
    top-500 token vocabulary (ties cut on the token string, so the
    vocabulary boundary is deterministic) — the rare-token/gibberish
    signal tokenizer audits threshold on.

    Scale shape: the top-500 vocabulary is a MODEL PARAMETER, not a
    relation — build it with one token hash-agg plus a distributed
    TakeOrderedAndProject (per-partition top-k heaps, no global sort),
    collect the 500 strings, and carry them back as an array literal.
    The per-doc stats are then ONE narrow pass — n_tokens is the array
    size, n_oov a filter over the token array against the literal —
    with no doc-keyed shuffle, no anti-join, and the corpus tokenized
    twice total (vocab build + scoring; the exploded token relation is
    deliberately never cached, same doctrine as the bigram model).
    Membership is a 500-way JVM scan per token; past V ~ 10^4 the
    literal stops paying and the token-keyed anti-join (this query's
    first form) is the right shape again."""
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", D.tokens("text").alias("_toks")
    )
    tok = toks.select(F.explode("_toks").alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("_c"))
    vocab = [
        r.token
        for r in counts.orderBy(F.col("_c").desc(), "token")
        .limit(500).select("token").collect()
    ]
    vlit = F.array(*[F.lit(t) for t in sorted(vocab)])
    scored = toks.where(F.size("_toks") > 0).select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(
            F.filter(F.col("_toks"), lambda t: ~F.array_contains(vlit, t))
        ).cast("long").alias("n_oov"),
    )
    return scored.select(
        "doc_id", "n_tokens", "n_oov",
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens"), 6
        ).alias("oov_rate"),
    )


@register(
    "q_corpus_delete_digest",
    """
SELECT COUNT(*) AS n_total,
       COUNT(*) FILTER (doc_id % 50 = 0) AS n_removed,
       COUNT(*) FILTER (doc_id % 50 <> 0) AS n_kept,
       TRUE AS digest_consistent
FROM documents
""",
)
def q_corpus_delete_digest(spark, sf_dir):
    """Delete propagation with a verifiable content digest — the
    data-lifecycle operation the reference's multiset Difference exists
    for (pkg/ecmh/ecmh.go:45-48): given a deletion set (here doc_id % 50,
    standing in for a GDPR erasure batch), remove it from the corpus and
    PROVE the removal by algebra: digest(corpus) - digest(removed) must
    equal digest(kept), computed independently from the surviving rows.

    The proof means a vault can certify an erasure without re-reading
    history: the stored corpus digest, minus the digests of the erased
    rows, must equal the digest of what remains — any stale copy or
    missed row breaks the equality.  MuHash is used (the scale path;
    the same identity holds for ECMH).  Each digest is one corpus pass
    (partition partials + driver combine); the tolerance-boolean oracle
    pattern applies: DuckDB cannot compute group digests, but both
    engines agree the identity HOLDS (TRUE) plus the exact partition
    counts."""
    from basin_cli_spark.functions.muhash import muhash_accumulate, muhash_digest

    d = load_table(spark, sf_dir, "documents")
    removed = d.where(F.col("doc_id") % 50 == 0)
    kept = d.where(F.col("doc_id") % 50 != 0)

    total_acc = muhash_accumulate(d, "text")
    removed_acc = muhash_accumulate(removed, "text")
    kept_digest = muhash_digest(kept, "text")
    consistent = (
        total_acc.difference(removed_acc).digest() == kept_digest
    )
    counts = d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("doc_id") % 50 == 0).cast("long")).alias("n_removed"),
        F.sum((F.col("doc_id") % 50 != 0).cast("long")).alias("n_kept"),
    ).collect()[0]
    return spark.createDataFrame(
        [(counts.n_total, counts.n_removed, counts.n_kept, consistent)],
        "n_total long, n_removed long, n_kept long, digest_consistent boolean",
    )


_DATASHEET_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, source, n_chars,
         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0)
           AS tokens,
         LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g'))
           AS n_punct,
         LENGTH(text) AS len_text
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(CAST(SUM(n_chars) AS DECIMAL(18,2)) AS DOUBLE) / COUNT(*)
         AS mean_chars,
       CAST(SUM(LEN(tokens)) AS BIGINT) AS total_tokens,
       CAST(CAST(SUM(LEN(tokens)) AS DECIMAL(18,2)) AS DOUBLE) / COUNT(*)
         AS mean_tokens,
       ROUND(CAST(CAST(SUM(n_punct) AS DECIMAL(18,6)) AS DOUBLE)
             / CAST(CAST(SUM(len_text) AS DECIMAL(18,6)) AS DOUBLE), 9)
         AS punct_ratio
FROM toks
GROUP BY lang
ORDER BY lang
"""


@register("q_corpus_datasheet", _DATASHEET_ORACLE)
def q_corpus_datasheet(spark, sf_dir):
    """The corpus datasheet: one summary row per language — document and
    source counts, size and token totals/means, corpus-level punctuation
    ratio — the first page of the 'datasheets for datasets' report every
    curated corpus ships.  All signals are exact integer/decimal sums
    (order-free), means divide as doubles identically in both engines.
    One token pass, one hash-agg keyed on lang."""
    d = load_table(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "doc_id", "lang", "source", "n_chars",
        F.size(D.tokens("text")).alias("_n_toks"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[.,!?;:]", ""))
        ).alias("_n_punct"),
        F.length("text").alias("_len_text"),
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (
                F.sum("n_chars").cast("decimal(18,2)").cast("double")
                / F.count(F.lit(1))
            ).alias("mean_chars"),
            F.sum("_n_toks").cast("long").alias("total_tokens"),
            (
                F.sum("_n_toks").cast("decimal(18,2)").cast("double")
                / F.count(F.lit(1))
            ).alias("mean_tokens"),
            F.round(
                F.sum("_n_punct").cast("decimal(18,6)").cast("double")
                / F.sum("_len_text").cast("decimal(18,6)").cast("double"),
                9,
            ).alias("punct_ratio"),
        )
        .orderBy("lang")
    )


# -- Gopher repetition signals (dup/top n-gram character coverage) ------------

def _gram_list_sql(n: int) -> str:
    """DuckDB word-n-gram list over the shared `tokens` convention —
    space-joined, same separator as operators/dedup.shingles."""
    joined = " || ' ' || ".join(f"tokens[i+{j}]" if j else "tokens[i]"
                                for j in range(n))
    return (
        f"CASE WHEN LEN(tokens) >= {n} THEN "
        f"LIST_TRANSFORM(RANGE(1, LEN(tokens) - {n} + 2), i -> {joined}) "
        f"ELSE [] END"
    )


_DUP_NGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, LENGTH(text) AS n_chars,
         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0)
           AS tokens
  FROM documents
),
grams AS (
  SELECT doc_id, 2 AS n, UNNEST({_gram_list_sql(2)}) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 3 AS n, UNNEST({_gram_list_sql(3)}) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 4 AS n, UNNEST({_gram_list_sql(4)}) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 5 AS n, UNNEST({_gram_list_sql(5)}) AS gram FROM toks
),
counts AS (
  SELECT doc_id, n, gram, COUNT(*) AS c, LENGTH(gram) AS glen
  FROM grams GROUP BY doc_id, n, gram
),
per_doc AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 2 THEN c * glen END) AS t2,
         MAX(CASE WHEN n = 3 THEN c * glen END) AS t3,
         MAX(CASE WHEN n = 4 THEN c * glen END) AS t4,
         SUM(CASE WHEN n = 5 AND c >= 2 THEN c * glen ELSE 0 END) AS d5
  FROM counts GROUP BY doc_id
)
SELECT t.doc_id, t.n_chars,
       ROUND(COALESCE(p.t2, 0) / CAST(t.n_chars AS DOUBLE), 6) AS top2_frac,
       ROUND(COALESCE(p.t3, 0) / CAST(t.n_chars AS DOUBLE), 6) AS top3_frac,
       ROUND(COALESCE(p.t4, 0) / CAST(t.n_chars AS DOUBLE), 6) AS top4_frac,
       ROUND(COALESCE(p.d5, 0) / CAST(t.n_chars AS DOUBLE), 6) AS dup5_frac
FROM toks t LEFT JOIN per_doc p USING (doc_id)
"""


@register("q_corpus_dup_ngram_stats", _DUP_NGRAM_ORACLE)
def q_corpus_dup_ngram_stats(spark, sf_dir):
    """Gopher repetition signals (Rae et al. 2021 Appendix A, public):
    per document, the fraction of characters covered by the single
    highest-coverage word {2,3,4}-gram and by all word 5-grams that
    occur more than once — the standard 'degenerately repetitive text'
    filters that run beside the q_corpus_gopher_rules quality gate.

    Deterministic variant: 'top' n-gram means max of count*len(gram)
    (character coverage), which needs no tie-break between equally
    frequent grams of different lengths; coverage counts every
    occurrence, so overlapping repeats can push a fraction past 1.0
    (documented Gopher behavior for pathological text).

    Scale shape: a per-doc stat's group key IS the row, so nothing
    needs to shuffle — tokenize once, then one sorted-gram run-length
    fold per gram size (operators/dedup.gram_coverage_fold), all in a
    single narrow JVM pass: no explode, no hash-agg, no join; the text
    and its grams never leave their partition.  (The first cut exploded
    (doc_id, n, gram) rows through two hash-aggs — correct, but 3.8x
    slower at bench scale and two avoidable shuffles at 100 TB.)  The
    one Exchange in the plan is the spread of the raw docs
    (operators/layout.spread), which a well-split scan skips.
    CollapseProject leaves the non-cheap token projection un-inlined
    (verified: one split() in the optimized plan), so the document
    tokenizes once, not once per gram size.  Same tokenizer as the dedup
    family, so these signals compose with shingle counts."""
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        D.tokens("text").alias("__toks"),
    )
    folds = toks.select(
        "doc_id", "n_chars",
        *[
            D.gram_coverage_fold(D.shingles(F.col("__toks"), n)).alias(f"_f{n}")
            for n in (2, 3, 4, 5)
        ],
    )
    # empty docs stay in the output with NULL fractions, matching the
    # oracle's x/0 -> NULL (Spark's 0/0.0 would be NaN, not NULL)
    nc = F.col("n_chars").cast("double")

    def frac(col):
        return F.when(nc > 0, F.round(col / nc, 6))

    return folds.select(
        "doc_id", "n_chars",
        frac(F.col("_f2")["best"]).alias("top2_frac"),
        frac(F.col("_f3")["best"]).alias("top3_frac"),
        frac(F.col("_f4")["best"]).alias("top4_frac"),
        frac(F.col("_f5")["dup"]).alias("dup5_frac"),
    )


# -- domain shift: per-source KL divergence from the corpus mix ---------------

_DOMAIN_KL_ORACLE = """
WITH tok AS (
  SELECT source, UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                    t -> LENGTH(t) > 0)) AS token
  FROM documents
),
cst AS (SELECT source, token, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
ns  AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s,
               COUNT(*) AS vocab FROM cst GROUP BY 1),
ct  AS (SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY 1),
nn  AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ct),
terms AS (
  SELECT cst.source,
         CAST(ROUND(
           (CAST(c_st AS DOUBLE) / n_s)
           * LN((CAST(c_st AS DOUBLE) * n) / (CAST(n_s AS DOUBLE) * c_t)),
           12) AS DECIMAL(38, 12)) AS term
  FROM cst JOIN ns USING (source) JOIN ct USING (token) CROSS JOIN nn
)
SELECT t.source, ns.n_s AS n_tokens, ns.vocab,
       ROUND(CAST(SUM(t.term) AS DOUBLE), 6) AS kl_nats
FROM terms t JOIN ns USING (source)
GROUP BY t.source, ns.n_s, ns.vocab
ORDER BY t.source
"""


@register("q_corpus_domain_kl", _DOMAIN_KL_ORACLE)
def q_corpus_domain_kl(spark, sf_dir):
    """Domain-shift audit: per-source KL divergence (nats) of the
    source's unigram distribution from the whole-corpus mix —
    KL(P_s || Q) = sum_t p_st * ln(p_st / q_t).  The standard
    distribution-distance diagnostic behind domain-similarity data
    weighting (the DSIR/DoReMi family measures exactly this gap between
    a raw source and the target mix); a source drifting from the corpus
    shows up as a rising kl_nats long before downstream evals move.
    Every source token is by construction in the corpus, so q_t > 0 and
    no smoothing is needed; KL >= 0 with equality iff the source matches
    the mix.

    Determinism: each term is one shared double expression
    (p * ln(c_st*N / (n_s*c_t))) spelled identically in both engines,
    rounded to 12 dp and summed as DECIMAL(38,12) — decimal sums are
    exact and order-independent, so no sorted fold is needed and the
    per-source aggregation keeps map-side partials (the sorted-fold
    idiom would collect a vocab-sized list per source).

    Scale shape: one explode -> (source, token) hash-agg is the only
    corpus-sized shuffle, and it moves slim token rows with map-side
    combine.  Everything downstream is vocab-sized: the persisted
    (source, token, c_st) fragment feeds the per-source totals
    (sources-sized broadcast), the per-token totals (token-keyed slim
    join, AQE-broadcast at test scale), and the 1-row corpus total
    (broadcast scalar, registered in the plan-guard allowlist).  Output
    is one row per source."""
    d = load_table(spark, sf_dir, "documents")
    tok = spread(d, "doc_id").select(
        "source", F.explode(D.tokens("text")).alias("token")
    )
    cst = persist_once(
        tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c_st"))
    )
    ns = cst.groupBy("source").agg(
        F.sum("c_st").alias("n_s"), F.count(F.lit(1)).alias("vocab")
    )
    ct = cst.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    nn = ct.agg(F.sum("c_t").alias("n"))
    term = (
        (F.col("c_st").cast("double") / F.col("n_s"))
        * F.log(
            (F.col("c_st").cast("double") * F.col("n"))
            / (F.col("n_s").cast("double") * F.col("c_t"))
        )
    )
    terms = (
        cst.join(F.broadcast(ns), "source")
        .join(ct, "token")
        .crossJoin(F.broadcast(nn))
        .select(
            "source", "n_s", "vocab",
            F.round(term, 12).cast("decimal(38,12)").alias("term"),
        )
    )
    return (
        terms.groupBy("source", F.col("n_s").alias("n_tokens"), "vocab")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("kl_nats"))
        .orderBy("source")
    )


# -- corpus health: per-source Zipf rank-frequency slope ----------------------

_ZIPF_ORACLE = """
WITH tok AS (
  SELECT source, UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                    t -> LENGTH(t) > 0)) AS token
  FROM documents
),
cst AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY c DESC, token) AS r
  FROM cst
),
terms AS (
  SELECT source,
         CAST(ROUND(LN(CAST(r AS DOUBLE)), 12) AS DECIMAL(38, 12)) AS x,
         CAST(ROUND(LN(CAST(c AS DOUBLE)), 12) AS DECIMAL(38, 12)) AS y,
         CAST(ROUND(LN(CAST(r AS DOUBLE)) * LN(CAST(c AS DOUBLE)), 12)
              AS DECIMAL(38, 12)) AS xy,
         CAST(ROUND(LN(CAST(r AS DOUBLE)) * LN(CAST(r AS DOUBLE)), 12)
              AS DECIMAL(38, 12)) AS xx
  FROM ranked WHERE r <= 100
),
sums AS (
  SELECT source, COUNT(*) AS n_ranked,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx
  FROM terms GROUP BY source
)
SELECT source, n_ranked,
       ROUND((n_ranked * sxy - sx * sy)
             / NULLIF(n_ranked * sxx - sx * sx, 0), 6) AS zipf_slope
FROM sums
ORDER BY source
"""


@register("q_corpus_zipf_slope", _ZIPF_ORACLE)
def q_corpus_zipf_slope(spark, sf_dir):
    """Corpus-health diagnostic: per-source Zipf rank-frequency slope —
    the least-squares fit of ln(count) against ln(rank) over each
    source's top-100 tokens.  Natural language sits near -1 (Zipf 1949;
    Piantadosi 2014 reviews the law's robustness, both public);
    machine-generated or template text flattens toward 0, degenerate
    repetition steepens — drift in this slope flags a source whose
    generator changed long before downstream evals notice.

    Determinism: ranks are total ((count DESC, token)); each regression
    term (x, y, xy, x²) is one shared double expression rounded to
    12 dp and summed as DECIMAL(38,12) — exact, order-independent sums
    with map-side partials — and only the final closed-form slope
    divides doubles, rounded to 6.  A source with a single distinct
    rank would zero the denominator (NULLIF -> NULL slope in both
    engines).

    Scale shape: one slim (source, token) hash-agg off the token
    explode, then the per-source top-100 rank filter rides Catalyst's
    native WindowGroupLimit(Partial) BELOW the source-keyed Exchange
    (the q_sample_per_source_cap contract — at most 100 rows per source
    leave each map partition, so a source with 10^8 token types ships
    ~partitions x 100 slim rows, never its vocabulary).  Everything
    after is sources x 100 rows."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = spread(d, "doc_id").select(
        "source", F.explode(D.tokens("text")).alias("token")
    )
    cst = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    r = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("c").desc(), "token")
    )
    ranked = cst.select("source", "c", r.alias("r")).where(F.col("r") <= 100)
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("c").cast("double"))

    def dec12(col):
        return F.round(col, 12).cast("decimal(38,12)")

    sums = ranked.select(
        "source",
        dec12(lx).alias("x"), dec12(ly).alias("y"),
        dec12(lx * ly).alias("xy"), dec12(lx * lx).alias("xx"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_ranked"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    den = F.col("n_ranked") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "source", "n_ranked",
        F.round(
            (F.col("n_ranked") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(den, F.lit(0.0)),
            6,
        ).alias("zipf_slope"),
    ).orderBy("source")
