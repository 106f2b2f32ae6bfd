"""Text-analysis operators: quality stats, language ID, token counting,
document fingerprinting.  All pure Catalyst expressions (JVM-side, inside
whole-stage codegen) — no Python in the hot path."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from basin_cli_spark.operators.dedup import tokens
from basin_cli_spark.operators.layout import spread

# Tiny per-language stopword sets for the n-gram/stopword-hit heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "de", "los"],
}
_PUNCT = "[.,!?;:]"


def _hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def quality_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality features: length, token count, punctuation
    ratio, stopword ratio, mean token length.

    Ratios use try_divide: an empty or whitespace-only document has
    n_chars or n_tokens of 0, and under ANSI mode a plain ``/`` kills the
    whole job with DIVIDE_BY_ZERO (caught by the degenerate-corpus
    differential suite).  NULL ratios match DuckDB, whose ``x / 0`` is
    NULL — degenerate docs then gate to 'drop' in quality_score on both
    engines."""
    toks = tokens(text_col)
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(F.regexp_replace(text_col, _PUNCT, ""))
    n_tokens = F.size(toks)
    n_stop = _hits(toks, STOPWORDS["en"])
    mean_tok_len = F.try_divide(
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        ).cast("double"),
        n_tokens,
    )
    return df.select(
        F.col(id_col),
        # long, not int: DuckDB LENGTH()/LEN() are BIGINT, and registry
        # outputs normalize widths so audit_dtypes stays at zero
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.try_divide(n_punct.cast("double"), n_chars).alias("punct_ratio"),
        F.try_divide(n_stop.cast("double"), n_tokens).alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
    )


# Fixed linear-probe weights for quality_score — a documented stand-in
# for a trained quality classifier (fastText-style): the engine part is
# the feature assembly + vectorized scoring; swapping in learned weights
# changes only these constants.
QUALITY_WEIGHTS = {
    "bias": -10.0,
    "stopword_ratio": 15.0,
    "punct_ratio": -4.0,
    "mean_token_len": 2.0,
}


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality probability: sigmoid of a fixed linear probe
    over the quality_stats features, gated into keep / flag / drop
    (p >= 0.6 / >= 0.4 / below).  Narrow per-row JVM expressions — the
    same no-shuffle shape as quality_stats; at 100 TB this is a pure
    map stage fused into the scan."""
    w = QUALITY_WEIGHTS
    feats = quality_stats(df, text_col, id_col)
    z = (
        F.lit(w["bias"])
        + F.lit(w["stopword_ratio"]) * F.col("stopword_ratio")
        + F.lit(w["punct_ratio"]) * F.col("punct_ratio")
        + F.lit(w["mean_token_len"]) * F.col("mean_token_len")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        id_col,
        F.round(p, 9).alias("quality_p"),
        F.when(p >= 0.6, F.lit("keep"))
        .when(p >= 0.4, F.lit("flag"))
        .otherwise(F.lit("drop"))
        .alias("gate"),
    )


def language_pred(toks: Column) -> Column:
    """Argmax-stopword-hits language prediction over a token array column
    (ties broken by fixed language order, 'und' for no hits at all)."""
    scores = {lang: _hits(toks, words) for lang, words in STOPWORDS.items()}
    pred = F.lit("und")
    best = F.lit(0)
    for lang in sorted(STOPWORDS):  # fixed order => deterministic ties
        s = scores[lang]
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return pred


def language_id(
    df: DataFrame, text_col: str, id_col: str, extra_cols: tuple = ()
) -> DataFrame:
    """Stopword-hit language heuristic as a (id, *extra, pred_lang)
    table.  extra_cols lets a caller carry grouping columns through the
    scoring projection instead of joining the prediction table back to
    the source (which re-scans it and builds a corpus-sized broadcast)."""
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        language_pred(tokens(text_col)).alias("pred_lang"),
    )


def token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace tokens plus a BPE-ish segmentation count (alpha runs,
    digit runs, and single symbol chars each count as one piece)."""
    ws = F.size(tokens(text_col))
    bpe = F.regexp_count(F.lower(text_col), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
    return df.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Polynomial rolling hash (h = h*31 + code mod 1e9+7) over the ASCII
    letters/spaces of the text — an order-sensitive document fingerprint
    (the composition analogue of the reference's streaming content hash,
    reference pkg/signing/signing.go:77-100, as a relational expression).
    Non-[a-z ] chars are stripped first so the fold sees identical
    codepoints in every engine.  The cleaned text is materialized as a
    column so the per-char lambda doesn't re-run the regexp."""
    cleaned = df.withColumn(
        "_clean", F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", "")
    )
    fp = F.expr(
        "aggregate(transform(sequence(1, length(_clean)), i -> ascii(substring(_clean, i, 1))), "
        "0L, (h, c) -> (h * 31 + c) % 1000000007)"
    )
    return cleaned.select(F.col(id_col), fp.alias("fingerprint"))


def compression_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deflate compression ratio per document — the classic cheap proxy
    for repetition/boilerplate (highly repetitive text compresses far
    below ~0.4; natural prose sits ~0.5-0.7; random strings near 1.0).
    Training-data pipelines threshold on this to drop template spam that
    token-level heuristics miss.

    Arrow-batched pandas_udf over stdlib zlib (level 6).  The ratio is a
    quality SIGNAL, not an oracle-checkable value: deflate output length
    is implementation-defined, so the registered query is rows-only and
    the behavioral contract (repetitive << prose << random) is pinned in
    tests/test_curation.py instead."""
    import zlib

    @F.pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        def one(t):
            if not t:
                return None
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    return df.select(
        F.col(id_col),
        F.round(_ratio(F.col(text_col)), 6).alias("compression_ratio"),
    )


def hash_embedding(
    df: DataFrame, text_col: str, id_col: str, dim: int = 64
) -> DataFrame:
    """Feature-hashed bag-of-words document embedding (the hashing trick,
    Weinberger et al. 2009 — public): each token hashes to a dimension
    (md5 nibbles 3-4 mod dim) with a sign bit (nibble 5), signed counts
    accumulate per (doc, dim), and the dense vector is L2-normalized.
    Gives a corpus an embedding column with no model, so the whole
    similarity/dedup family (cosine top-k, LSH, SemDeDup) applies to raw
    text out of the box.

    Determinism: cell weights are exact integer sums (order-free); only
    the final normalize divides doubles, rounded to 6 — so the DuckDB
    oracle replays it value-for-value with the same nibble arithmetic
    the SimHash oracle already uses.  Scale: one token explode, one
    (doc, dim) hash-agg (<= dim rows per doc), one per-doc assembly agg."""
    assert dim <= 256 and dim & (dim - 1) == 0, "dim must be a power of 2 <= 256"
    src = df
    if not df.isStreaming:
        src = spread(df, id_col)
    tok = src.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_tok")
    )
    h = F.md5(F.col("_tok"))

    def nib(i: int):
        return F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1

    d = (nib(3) * 16 + nib(4)) % dim
    sign = F.when(nib(5) % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    cells = (
        tok.select(F.col(id_col), d.alias("_dim"), sign.alias("_s"))
        .groupBy(id_col, "_dim")
        .agg(F.sum("_s").alias("_w"))
    )
    # The squared norm is computed HERE, in the same hash-agg that
    # assembles the cell map, as the exact integer sum of w^2 over the
    # populated cells.  It is the same value as folding x^2 over the
    # dense vector (missing dims contribute 0, every partial sum is an
    # integer well under 2^53 so the double fold was exact), but the fold
    # form re-evaluated the whole 64-element map-lookup reconstruction
    # inside BOTH the filter and the per-element normalize lambda —
    # higher-order functions run interpreted, so the norm fold (itself a
    # pass over the dense array) executed once per ELEMENT: measured
    # 9.75 s -> ~1 s noop at sf0.1 for q_text_hash_embedding.
    assembled = cells.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("_dim", "_w"))
        ).alias("_m"),
        F.sum(F.col("_w") * F.col("_w")).alias("_n2"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("_m", i.cast("int")), F.lit(0)),
    )
    norm = F.sqrt(F.col("_n2").cast("double"))
    unit = F.transform(
        dense, lambda x: F.round(x.cast("double") / norm, 6)
    )
    # _n2 > 0: a document whose signed counts cancel to the zero vector
    # (two tokens on one dim with opposite signs) has no direction to
    # normalize — drop it on BOTH engines rather than ANSI-crash here and
    # emit a NULL-element list in DuckDB (the oracles carry the matching
    # HAVING on the norm)
    return assembled.where(F.col("_n2") > 0).select(
        F.col(id_col), unit.alias("embedding")
    )
