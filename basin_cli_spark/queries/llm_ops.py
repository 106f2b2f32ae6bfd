"""LLM-data-pipeline operators (SURVEY.md §2.B extensions, north star):
dedup (exact / minhash-LSH / simhash / n-gram Jaccard), similarity search
(brute-force + sign-LSH ANN), text analysis, multimodal plumbing.

Oracle SQL is generated from the same formulas the Spark operators use —
minhashes compare md5 hex strings, folds replay in identical order — so
results match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from basin_cli_spark.operators import curation as C
from basin_cli_spark.operators import dedup as D
from basin_cli_spark.operators import kmeans as KM
from basin_cli_spark.operators.layout import spread
from basin_cli_spark.operators import similarity as S
from basin_cli_spark.operators import text as TX
from basin_cli_spark.queries import register
from basin_cli_spark.queries._helpers import sql_vec_str, vec_str
from basin_cli_spark.session import persist_once
from basin_cli_spark.sources import load_table
from basin_cli_spark.sources.tables import footer

# Shared SQL fragments mirroring operators/dedup.py
_SQL_TOKENS = "LIST_FILTER(STRING_SPLIT(LOWER({c}), ' '), t -> LENGTH(t) > 0)"
_SQL_SHINGLES = (
    "CASE WHEN LEN(tokens) >= 3 THEN "
    "LIST_TRANSFORM(RANGE(1, LEN(tokens) - 1), "
    "i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]) "
    "ELSE [] END"
)


def _shingle_cte(where: str = "TRUE") -> str:
    return f"""
toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS tokens
  FROM documents WHERE {where}
),
sh AS (
  SELECT doc_id, UNNEST({_SQL_SHINGLES}) AS shingle FROM toks
)
"""


@register(
    "q_dedup_exact",
    """
SELECT MD5(text) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY MD5(text)
""",
)
def q_dedup_exact(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(d)


@register(
    "q_dedup_exact_events",
    """
SELECT user_id, event_type, MIN(event_id) AS keep_event, COUNT(*) AS n_dups
FROM events
GROUP BY user_id, event_type
""",
)
def q_dedup_exact_events(spark, sf_dir):
    """Key-based exact dedup keeping the first (min-id) row per key — the
    deterministic form of dropDuplicates."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("keep_event"),
        F.count(F.lit(1)).alias("n_dups"),
    )


_MINHASH_MINS = ",\n       ".join(
    f"MIN(MD5('{j}:' || shingle)) AS mh_{j}" for j in range(8)
)
_MINHASH_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, mh_{2 * b} || mh_{2 * b + 1} AS sig FROM mh"
    for b in range(4)
)



def _minhash_walk_ctes(see: str = "_EMB_KEEP_ONE_ORACLE") -> str:
    """CTEs after a `mh` (doc_id, mh_0..mh_7) CTE: its banded MinHash
    pairs, their symmetric edge list and the min-label reachability
    `walk` — the closure every MinHash keep-one oracle replays."""
    return f"""bands AS (
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
-- w.lab < e.v: the min-label walk prune (see {see})
walk(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.v, w.lab FROM walk w JOIN edges e ON e.u = w.id AND w.lab < e.v
)"""


_MINHASH_ORACLE = f"""
WITH {_shingle_cte()},
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_MINHASH_BANDS}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


@register("q_dedup_minhash", _MINHASH_ORACLE)
def q_dedup_minhash(spark, sf_dir):
    """Banded MinHash-LSH candidate pairs (8 hashes, 4 bands x 2 rows)."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d)


_SOURCE_OVERLAP_ORACLE = f"""
WITH {_shingle_cte()},
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_MINHASH_BANDS}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.sig = b.sig
             AND a.doc_id < b.doc_id
),
lab AS (
  SELECT da.source AS s_a, db.source AS s_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT LEAST(s_a, s_b) AS source_a, GREATEST(s_a, s_b) AS source_b,
       COUNT(*) AS n_pairs
FROM lab GROUP BY 1, 2
"""


@register("q_dedup_source_overlap", _SOURCE_OVERLAP_ORACLE)
def q_dedup_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix: near-dup candidate pairs rolled
    up by unordered (source, source) — the datasheet signal that tells a
    pipeline which crawls/snapshot dumps duplicate each other (and how
    much of a 'new' source is recycled from an old one).

    Scale shape: the LSH pair list is the small output of the bucketed
    self-join; labeling joins it against an ids-only (doc_id, source)
    projection — two slim equi-joins and a sources²-bounded rollup, the
    corpus text never moves."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d)
    src = d.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("s_a")),
            "doc_a",
        ).join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("s_b")),
            "doc_b",
        )
    )
    return (
        lab.select(
            F.least("s_a", "s_b").alias("source_a"),
            F.greatest("s_a", "s_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_INCREMENTAL_ORACLE = f"""
WITH {_shingle_cte()},
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_MINHASH_BANDS}
),
corpus_h AS (
  SELECT DISTINCT MD5(text) AS h FROM documents WHERE doc_id % 10 <> 7
),
new_docs AS (
  SELECT doc_id, MD5(text) AS h FROM documents WHERE doc_id % 10 = 7
),
near AS (
  SELECT DISTINCT nb.doc_id
  FROM bands nb
  JOIN bands cb ON nb.band_id = cb.band_id AND nb.sig = cb.sig
              AND cb.doc_id % 10 <> 7
  WHERE nb.doc_id % 10 = 7
)
SELECT n.doc_id,
       CASE WHEN n.h IN (SELECT h FROM corpus_h) THEN 'exact'
            WHEN n.doc_id IN (SELECT doc_id FROM near) THEN 'near'
            ELSE 'keep' END AS verdict
FROM new_docs n
"""


@register("q_dedup_incremental", _INCREMENTAL_ORACLE)
def q_dedup_incremental(spark, sf_dir):
    """Incremental (new-batch-vs-corpus) dedup: the doc_id % 10 == 7
    slice stands in for a fresh crawl checked against the rest of the
    corpus.  Each new doc gets 'exact' (content hash already present),
    'near' (an LSH band bucket collides), or 'keep'.  The asymmetric
    semi-join shape is the point: per ingest the corpus is reduced to
    hashes/band rows and streamed once — never self-joined, never
    shuffled against itself.  Band signatures are per-document, so the
    oracle computes them over the full table and splits afterward."""
    d = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7
    return D.incremental_dedup(d.where(is_new), d.where(~is_new))


def _simhash_oracle(bits: int = 16) -> str:
    vote_cols = []
    for i in range(bits):
        nib = f"(STRPOS('0123456789abcdef', SUBSTRING(MD5(tok), {i // 4 + 1}, 1)) - 1)"
        bit = f"(({nib} >> {i % 4}) & 1)"
        vote_cols.append(f"CAST(SUM({bit} * 2 - 1) AS BIGINT) AS s_{i}")
    fp = " + ".join(
        f"CASE WHEN s_{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
),
tok AS (SELECT doc_id, UNNEST(tokens) AS tok FROM toks),
votes AS (
  SELECT doc_id, {', '.join(vote_cols)}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


@register("q_dedup_simhash", _simhash_oracle())
def q_dedup_simhash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return D.simhash(d)


_JACCARD_ORACLE = f"""
WITH {_shingle_cte('doc_id < 200')},
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5
"""


@register("q_dedup_ngram_jaccard", _JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification (inverted-index join, threshold
    0.5) over a doc_id prefix — the verify stage that follows LSH."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return D.ngram_jaccard_pairs(d, threshold=0.5)


_MINHASH_EST_ORACLE = f"""
WITH {_shingle_cte('doc_id < 200')},
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_MINHASH_BANDS}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       ({' + '.join(f'CASE WHEN ma.mh_{j} = mb.mh_{j} THEN 1 ELSE 0 END' for j in range(8))}) / 8.0
         AS est_jaccard,
       ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
             / (sa.sz + sb.sz - COALESCE(i.n_common, 0)), 6) AS exact_jaccard
FROM pairs p
JOIN mh ma ON p.doc_a = ma.doc_id
JOIN mh mb ON p.doc_b = mb.doc_id
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
"""


@register("q_minhash_jaccard_estimate", _MINHASH_EST_ORACLE)
def q_minhash_jaccard_estimate(spark, sf_dir):
    """Sketch-accuracy diagnostic: for every MinHash-LSH candidate pair,
    the MinHash Jaccard ESTIMATE (matching signature components / 8) next
    to the EXACT shingle Jaccard — the number a pipeline owner reads to
    pick bands x rows before committing a 100 TB dedup run.

    Scale shape: signatures are one hash-agg (8 mins in one pass); the
    exact side reuses the inverted-index intersection join (never
    all-pairs); both join back to the tiny candidate-pair set."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sig = D.minhash_signatures(d)
    pairs = D.minhash_lsh_pairs(d)
    est = sum(
        F.when(F.col(f"ma.mh_{j}") == F.col(f"mb.mh_{j}"), 1).otherwise(0)
        for j in range(8)
    ) / F.lit(8.0)
    shd = D.shingle_rows(d).distinct()
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = shd.alias("sa"), shd.alias("sb")
    inter = (
        a.join(
            b,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("i_a"), F.col("sb.doc_id").alias("i_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
    return (
        pairs.join(sig.alias("ma"), F.col("doc_a") == F.col("ma.doc_id"))
        .join(sig.alias("mb"), F.col("doc_b") == F.col("mb.doc_id"))
        .join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .join(
            inter,
            (F.col("doc_a") == F.col("i_a")) & (F.col("doc_b") == F.col("i_b")),
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            F.round(
                n_common / (F.col("za.sz") + F.col("zb.sz") - n_common), 6
            ).alias("exact_jaccard"),
        )
    )


_DOT_SQL = (
    "LIST_REDUCE(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"SQRT({_DOT_SQL.format(a=a, b=a)} * {_DOT_SQL.format(a=b, b=b)})"
    )


_BRUTE_ORACLE = f"""
SELECT e.vec_id, ROUND({_cosine_sql('e.embedding', 'q.embedding')}, 6) AS score
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id
LIMIT 10
"""


@register("q_similarity_bruteforce", _BRUTE_ORACLE)
def q_similarity_bruteforce(spark, sf_dir):
    """Brute-force cosine top-10 for vec_id=0 (correctness baseline)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk(e, query_vec_id=0, k=10)


def _band_sql(v: str, band: int, band_bits: int = 4) -> str:
    """Per-band sign signature, regenerated from the SAME seeded random
    planes as operators.similarity.sign_lsh_bands (single source of truth)."""
    return S.sign_lsh_band_sql(v, band, band_bits)


def _any_band_or(a: str, b: str, band_bits: int, bands: int = 4) -> str:
    return " OR ".join(
        f"{_band_sql(a, i, band_bits)} = {_band_sql(b, i, band_bits)}"
        for i in range(bands)
    )


# band_bits_for(n) thresholds replayed in SQL.  The arms are GENERATED
# from band_bits_for itself (single source of truth, asserted below), so
# the SQL replay and the Python sizing rule cannot drift: bits = max(4,
# ceil(log2(n/64))), so bits b covers n in (64*2^(b-1), 64*2^b] and each
# arm's threshold is 64*2^b.  Arms run through n=262,144 (bits 12) —
# well past every fixture scale on disk (sf0.1 is n=2,000; a future sf10
# would be n=200,000).  A corpus beyond the last arm raises DuckDB
# error() LOUDLY at oracle time instead of silently replaying stale bits
# while the Spark side keeps growing — the exact drift class the
# hand-written three-arm list reintroduced at every new scale decade.
_BAND_BITS_MAX = 12
_BAND_BITS_ARMS = [(64 * 2 ** b, b) for b in range(4, _BAND_BITS_MAX + 1)]
for _thr, _bits in _BAND_BITS_ARMS:
    assert S.band_bits_for(_thr) == _bits, (_thr, _bits)
    assert S.band_bits_for(_thr + 1) == max(4, _bits + 1), (_thr, _bits)


def _any_band_sql(a: str, b: str, bands: int = 4) -> str:
    n = "(SELECT COUNT(*) FROM embeddings)"
    arms = " ".join(
        f"WHEN {n} <= {thr} THEN ({_any_band_or(a, b, bits, bands)})"
        for thr, bits in _BAND_BITS_ARMS
    )
    return (
        f"(CASE {arms} ELSE error('corpus exceeds the generated "
        f"band-bits arms (n > {_BAND_BITS_ARMS[-1][0]}): raise "
        f"_BAND_BITS_MAX in llm_ops.py') END)"
    )


def _sig_band_sql(v: str, band: int) -> str:
    """One band's signature with the corpus-sized bits selection — the
    single-column form of _any_band_sql's rule (same arms, same
    sign_lsh_band_sql source of truth)."""
    n = "(SELECT COUNT(*) FROM embeddings)"
    arms = " ".join(
        f"WHEN {n} <= {thr} THEN {_band_sql(v, band, bits)}"
        for thr, bits in _BAND_BITS_ARMS
    )
    return (
        f"(CASE {arms} ELSE error('corpus exceeds the generated "
        f"band-bits arms (n > {_BAND_BITS_ARMS[-1][0]}): raise "
        f"_BAND_BITS_MAX in llm_ops.py') END)"
    )


# Banded candidate pairs as a signature EQUI-join — the same rule as
# `a.vec_id < b.vec_id AND _any_band_sql(a, b)` (pairs sharing >= 1 band;
# DISTINCT collapses multi-band collisions), but evaluated the way the
# banding semantics define it: signatures computed once per (vector,
# band) row, candidates found by hash join on (band, sig).  The inline
# predicate form evaluated 32 plane projections per PAIR — O(n^2) work
# that dominated the 10x-corpus replay (q_dedup_embedding's oracle was
# ~18 min of its 1,089 s entry); this form is O(n) signature work plus a
# hash join, leaving the exact cosine verify as the only per-candidate
# cost.  Used by the two corpus-scale self-join oracles; the n-vs-1
# probe oracles (LSH ANN, multiprobe) keep the predicate form, where it
# is linear anyway.
_BANDED_PAIRS_CTES = f"""
sigs AS MATERIALIZED (
  {" UNION ALL ".join(
      f"SELECT vec_id, {b} AS band, {_sig_band_sql('embedding', b)} AS sig FROM embeddings"
      for b in range(4)
  )}
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
norms AS MATERIALIZED (
  SELECT vec_id, embedding,
         {_DOT_SQL.format(a='embedding', b='embedding')} AS n2
  FROM embeddings
),
scored_pairs AS MATERIALIZED (
  SELECT vec_a, vec_b,
         ROUND({_DOT_SQL.format(a='ea.embedding', b='eb.embedding')}
               / SQRT(ea.n2 * eb.n2), 6) AS score
  FROM cand
  JOIN norms ea ON ea.vec_id = vec_a
  JOIN norms eb ON eb.vec_id = vec_b
)"""


_LSH_ANN_ORACLE = f"""
SELECT e.vec_id, ROUND({_cosine_sql('e.embedding', 'q.embedding')}, 6) AS score
FROM embeddings e
JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  ON {_any_band_sql('e.embedding', 'q.embedding')}
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id
LIMIT 5
"""


@register("q_similarity_ann_lsh", _LSH_ANN_ORACLE)
def q_similarity_ann_lsh(spark, sf_dir):
    """Banded sign-LSH ANN (4 bands, corpus-sized band bits): probe
    vectors sharing any band with the query, exact-cosine re-rank.  The
    oracle replays band_bits_for via a COUNT(*)-keyed CASE (4 bits at the
    n=500 fixture SFs, 5 at sf0.1's n=2000 — _any_band_sql), so the
    differential holds at every fixture scale; the Spark plan is the
    scale form — posexplode to (band, sig) and broadcast equi-join, so
    candidate generation is an index probe, not a corpus scan."""
    e = load_table(spark, sf_dir, "embeddings")
    band_bits = S.band_bits_for(_corpus_count(e))
    return S.cosine_topk_lsh(e, query_vec_id=0, k=5, band_bits=band_bits)


def _multiprobe_band_sql(a: str, b: str, bands: int = 4, band_bits: int = 4) -> str:
    """OR-of-bands where each band also matches at Hamming distance 1
    (single-source planes with sign_lsh_band_sql, XOR flips in SQL)."""
    terms = []
    for i in range(bands):
        ea = _band_sql(a, i, band_bits)
        eb = _band_sql(b, i, band_bits)
        probes = [eb] + [f"XOR({eb}, {1 << j})" for j in range(band_bits)]
        terms.append(f"{ea} IN ({', '.join(probes)})")
    return " OR ".join(terms)


_MULTIPROBE_ORACLE = f"""
SELECT e.vec_id, ROUND({_cosine_sql('e.embedding', 'q.embedding')}, 6) AS score
FROM embeddings e
JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  ON {_multiprobe_band_sql('e.embedding', 'q.embedding')}
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id
LIMIT 5
"""


@register("q_similarity_ann_multiprobe", _MULTIPROBE_ORACLE)
def q_similarity_ann_multiprobe(spark, sf_dir):
    """Multi-probe banded sign-LSH ANN: probe each band's signature AND
    its 1-bit-flip neighbors (a sign bit flips exactly when the
    projection is near the hyperplane, so the 1-flip neighborhood
    recovers near-misses) — recall ~ doubling the bands at the cost of a
    wider QUERY-side probe set only; the corpus index stays one row per
    (vector, band).  Oracle replays the same probes via SQL XOR."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_lsh_multiprobe(e, query_vec_id=0, k=5)


from basin_cli_spark.queries._golden import COMPRESSION_RATIO as _CR_GOLD

_CR_ORACLE = (
    "WITH g(key, doc_id, compression_ratio) AS (VALUES "
    + ", ".join(
        f"({k}, {doc_id}, CAST({ratio!r} AS DOUBLE))"
        for k, rows in sorted(_CR_GOLD.items())
        for doc_id, ratio in rows
    )
    + ") SELECT CAST(doc_id AS BIGINT) AS doc_id, compression_ratio FROM g"
    " WHERE key = (SELECT SUM(LENGTH(text)) FROM documents)"
)


@register("q_text_compression_ratio", _CR_ORACLE)
def q_text_compression_ratio(spark, sf_dir):
    """Deflate compression ratio per document (repetition/boilerplate
    proxy).  Deflate output length is implementation-defined, so the
    oracle is a golden per-doc constant pinned per fixture corpus by
    scripts/gen_golden_oracles.py; the behavioral contract (repetitive
    << prose << random ordering) is pinned in tests/test_curation.py."""
    d = load_table(spark, sf_dir, "documents")
    return TX.compression_ratio(d)


_STOP_EN = "['the', 'and', 'of', 'to', 'a']"

_QUALITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
)
SELECT doc_id,
       LENGTH(text) AS n_chars,
       LEN(tokens) AS n_tokens,
       CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
         / LENGTH(text) AS punct_ratio,
       CAST(LEN(LIST_FILTER(tokens, t -> LIST_CONTAINS({_STOP_EN}, t))) AS DOUBLE)
         / LEN(tokens) AS stopword_ratio,
       CAST(LIST_REDUCE(LIST_PREPEND(0, LIST_TRANSFORM(tokens, t -> LENGTH(t))), (a, b) -> a + b) AS DOUBLE)
         / LEN(tokens) AS mean_token_len
FROM toks
"""


@register("q_text_quality_stats", _QUALITY_ORACLE)
def q_text_quality_stats(spark, sf_dir):
    # per-row HOF-fold CPU dominates (spread: 0.40 s -> 0.30 s at sf0.1
    # on 32 cores)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return TX.quality_stats(d)


_QSCORE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
           / LENGTH(text) AS punct_ratio,
         CAST(LEN(LIST_FILTER(tokens, t -> LIST_CONTAINS({_STOP_EN}, t))) AS DOUBLE)
           / LEN(tokens) AS stopword_ratio,
         CAST(LIST_REDUCE(LIST_PREPEND(0, LIST_TRANSFORM(tokens, t -> LENGTH(t))), (a, b) -> a + b) AS DOUBLE)
           / LEN(tokens) AS mean_token_len
  FROM toks
),
scored AS (
  SELECT doc_id,
         1.0 / (1.0 + EXP(-(-10.0 + 15.0 * stopword_ratio - 4.0 * punct_ratio
                            + 2.0 * mean_token_len))) AS p
  FROM feats
)
SELECT doc_id, ROUND(p, 9) AS quality_p,
       CASE WHEN p >= 0.6 THEN 'keep'
            WHEN p >= 0.4 THEN 'flag'
            ELSE 'drop' END AS gate
FROM scored
"""


@register("q_text_quality_score", _QSCORE_ORACLE)
def q_text_quality_score(spark, sf_dir):
    """Quality-classifier gate: sigmoid of a fixed linear probe over the
    quality_stats features, thresholded keep/flag/drop.  The weights are
    a documented stand-in for a trained fastText-style classifier
    (operators/text.py QUALITY_WEIGHTS); the engine part — per-row
    feature assembly and vectorized scoring fused into the scan, no
    shuffle — is what carries to 100 TB unchanged."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return TX.quality_score(d)


def _langid_oracle() -> str:
    hit = (
        "LEN(LIST_FILTER(tokens, t -> LIST_CONTAINS({words}, t)))"
    )
    langs = {
        "en": "['the', 'and', 'of', 'to', 'a']",
        "de": "['der', 'die', 'und', 'das', 'ist']",
        "fr": "['le', 'la', 'et', 'les', 'des']",
        "es": "['el', 'la', 'que', 'de', 'los']",
    }
    score_cols = ", ".join(
        f"{hit.format(words=w)} AS s_{lang}" for lang, w in langs.items()
    )
    pred, best = "'und'", "0"
    for lang in sorted(langs):
        pred = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN s_{lang} > {best} THEN s_{lang} ELSE {best} END"
    return f"""
WITH toks AS (
  SELECT doc_id, lang, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
),
scored AS (SELECT doc_id, lang, {score_cols} FROM toks),
pred AS (SELECT doc_id, lang, {pred} AS pred_lang FROM scored)
SELECT lang, pred_lang, COUNT(*) AS n FROM pred GROUP BY lang, pred_lang
"""


@register("q_text_language_id", _langid_oracle())
def q_text_language_id(spark, sf_dir):
    """Stopword-heuristic language ID, reported as a lang x predicted
    confusion table."""
    # language_id carries lang through the scoring projection instead of
    # joining the prediction table back to documents: the join re-scanned
    # the corpus and broadcast-built the corpus-sized prediction side —
    # measured 2.44 s -> 1.21 s noop at sf0.1 (plan 2 scans + BHJ ->
    # 1 scan); the five stopword-hit HOF folds are then the map cost
    # (spread: 1.21 s -> 0.60 s interleaved A/B)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pred = TX.language_id(d)
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_TOKCOUNT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
)
SELECT doc_id,
       LEN(tokens) AS ws_tokens,
       LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_tokens
FROM toks
"""


@register("q_text_token_count", _TOKCOUNT_ORACLE)
def q_text_token_count(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    out = TX.token_count(d)
    # registry-surface width normalization: DuckDB LEN() is BIGINT
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
    )


_FP_ORACLE = """
WITH cleaned AS (
  SELECT doc_id, REGEXP_REPLACE(LOWER(text), '[^a-z ]', '', 'g') AS c
  FROM documents WHERE lang = 'en'
)
SELECT doc_id,
       LIST_REDUCE(
         LIST_PREPEND(CAST(0 AS BIGINT),
           LIST_TRANSFORM(RANGE(1, LENGTH(c) + 1),
                          i -> CAST(ASCII(SUBSTRING(c, CAST(i AS INT), 1)) AS BIGINT))),
         (h, ch) -> (h * 31 + ch) % 1000000007) AS fingerprint
FROM cleaned
"""


@register("q_text_fingerprint", _FP_ORACLE)
def q_text_fingerprint(spark, sf_dir):
    # the per-char rolling-hash fold is pure interpreted map CPU
    # (spread: 0.96 s -> 0.35 s noop min, interleaved A/B)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return TX.fingerprint(d.where(F.col("lang") == "en"))


@register(
    "q_multimodal_meta",
    """
SELECT doc_id,
       OCTET_LENGTH(ENCODE(text)) AS n_bytes,
       UPPER(HEX(ENCODE(SUBSTRING(text, 1, 4)))) AS magic_hex,
       MD5(text) AS content_hash
FROM documents
WHERE doc_id < 100
""",
)
def q_multimodal_meta(spark, sf_dir):
    """Opaque-binary metadata plumbing: the text column stands in for an
    image/audio blob (the container has no media libs — decode itself is
    stubbed in operators/multimodal.py); byte length, magic bytes, and
    content hash are the real Spark-side schema/partitioning path."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    blob = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        F.upper(F.hex(F.encode(F.substring("text", 1, 4), "UTF-8"))).alias("magic_hex"),
        F.md5("text").alias("content_hash"),
    )


def _corpus_count(df) -> int:
    """Rows of a plain table read, for band_bits_for() (a sizing stat,
    not query data): the sum of ``num_rows`` over the footers of its
    files, read the way a warehouse reads table statistics, with no
    Spark job.  A file rewritten at the same path is read afresh.  Falls
    back to a ``count()`` job when a file is not local or its footer
    cannot be read."""
    footers = [footer(f) for f in df.inputFiles()]
    if not footers or None in footers:
        return df.count()
    return sum(m.num_rows for m in footers)


_EMB_DEDUP_ORACLE = f"""
WITH {_BANDED_PAIRS_CTES}
SELECT vec_a, vec_b, score FROM scored_pairs WHERE score >= 0.40
"""


@register("q_dedup_embedding", _EMB_DEDUP_ORACLE)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: banded sign-LSH self-join
    (any shared band => candidate), exact cosine verification at >= 0.40
    (the fixture embeddings are random, so the threshold sits in the
    upper tail of the actual cosine distribution).

    Physical shape, chosen for the 100 TB case:
    - candidates are similarity.sign_lsh_pairs: SEEDED sparse
      random-projection planes (SHA-256-derived, stable across library
      versions), signatures from a vectorized Arrow pandas_udf (the
      unrolled-expression alternative exceeds janino's generated-method
      limit and silently falls back to interpreted eval), and an
      ids-only self-join on the exploded (band, sig) key, deduped before
      the verify;
    - band_bits is sized to the corpus via band_bits_for(count): expected
      bucket width n/2^bits stays ~constant as n grows, so per-bucket
      pair generation never goes quadratic in the corpus.  The DuckDB
      oracle replays the same rule through a COUNT(*)-keyed CASE
      (_sig_band_sql inside _BANDED_PAIRS_CTES: 4 bits at the n=500
      fixture SFs, 5 at sf0.1's n=2000), so the differential holds at
      every fixture scale.  The count is read from the parquet footers
      (_corpus_count), so the build runs no Spark job for it;
    - the verify is similarity.cosine_pair_scores: norms folded once per
      vector, one Arrow dot per pair;
    - NO broadcast hints anywhere: a hint would override AQE's size logic
      and OOM the driver on a corpus-sized table.  All three joins are
      plain equi-joins; AQE broadcasts them at bench scale because they
      are tiny, and falls back to shuffle hash joins at 100 TB
      (tests/test_plans.py::test_dedup_embedding_shuffle_shape asserts
      the no-broadcast shape: equi-join keys, no cartesian);
    - no hot-bucket guard runs: a duplicate-HEAVY corpus can make one
      band bucket quadratic, and sign_lsh_pairs caps no bucket width;
      the fixture's buckets are narrow."""
    return _embedding_dedup_pairs(spark, sf_dir)


def _embedding_dedup_pairs(spark, sf_dir):
    """Shared pair builder for q_dedup_embedding (pairs as the result)
    and q_dedup_embedding_keep_one (pairs as the dup graph's edges)."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = S.sign_lsh_pairs(e, S.band_bits_for(_corpus_count(e)))
    return S.cosine_pair_scores(pairs, e).where(F.col("score") >= 0.40)


# MATERIALIZED hints matter here beyond the shared pair CTEs: `edges` is
# re-scanned once per fixpoint iteration of `walk` — inlined, DuckDB
# re-evaluates the whole candidate join per reference/iteration, which
# took the 10x-corpus replay past 40 min.  Materialized, the pair work
# runs exactly once and the closure walks a cached edge list.  Results
# are identical either way; this is purely evaluation strategy.  Every
# other walk oracle (_minhash_walk_ctes) carries the same pairs/edges
# hints: un-hinted, the 500k-doc sf10c replay of the v2 form
# re-evaluated its full shingle->decontaminate->minhash chain per
# iteration and exhausted the box (>95 GB + >50 GB spill).
_EMB_KEEP_ONE_ORACLE = f"""
WITH RECURSIVE {_BANDED_PAIRS_CTES},
pairs AS MATERIALIZED (
  SELECT vec_a, vec_b FROM scored_pairs WHERE score >= 0.40
),
edges AS MATERIALIZED (
  SELECT vec_a AS u, vec_b AS v FROM pairs
  UNION ALL
  SELECT vec_b, vec_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS id FROM edges),
-- walk prune (w.lab < e.v): a label can only improve a node whose own
-- id is larger — every node is seeded with (id, id), so a label >= v
-- can never be v's minimum.  The component minimum m still reaches
-- every member (all other ids exceed m), so MIN(lab) per id is
-- unchanged; the guard just stops the walk from materializing every
-- (node, smaller-reachable-label) pair, which is O(|component|^2) on
-- the dense near-dup clusters the 10x perturbed corpus is built from.
walk(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.v, w.lab FROM walk w JOIN edges e ON e.u = w.id AND w.lab < e.v
),
cc AS (SELECT id, MIN(lab) AS cluster_id FROM walk GROUP BY id)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
"""


@register("q_dedup_embedding_keep_one", _EMB_KEEP_ONE_ORACLE)
def q_dedup_embedding_keep_one(spark, sf_dir):
    """End-to-end embedding near-dedup, the workflow a curation pipeline
    ships: verified cosine>=0.40 LSH pairs (q_dedup_embedding's exact
    shape) -> connected components (transitive closure: A~B, B~C collapse
    even when A,C never share a band) -> keep the min-id representative
    per cluster, pass every unclustered vector through untouched
    (dedup.keep_one, as in q_dedup_keep_one).  The DuckDB oracle
    replays the closure as a recursive CTE over the shared
    MATERIALIZED signature-join pair CTEs (_BANDED_PAIRS_CTES) with a
    min-label walk prune — attested hash-identical in 114.9 s at 20k
    noised vectors, vs >40 min for the original inline-predicate form
    that re-evaluated the banded self-join per fixpoint iteration; Spark
    runs the iterative min-label propagation
    (operators/dedup.connected_components) a 10^9-edge graph actually
    needs."""
    pairs = _embedding_dedup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    e = load_table(spark, sf_dir, "embeddings")
    return D.keep_one(e, pairs, "vec_id", "vec_a", "vec_b").select(
        "vec_id", "label"
    )


# -- multimodal plumbing (operators/multimodal.py): mapInPandas kernels with
# deterministic stub decode, so even the Python path is oracle-replayable.

_NIB = "(STRPOS('0123456789abcdef', SUBSTRING({h}, {i}, 1)) - 1)"


def _hexpair_sql(h: str, pos: int) -> str:
    """int value of hex chars [pos, pos+1] (1-based) of expression h."""
    hi = _NIB.format(h=h, i=pos)
    lo = _NIB.format(h=h, i=pos + 1)
    return f"({hi} * 16 + {lo})"


_MM_BASE = (
    "SELECT doc_id AS media_id, text, doc_id % 5 + 1 AS n_frames "
    "FROM documents WHERE doc_id < 200"
)

_MM_DECODE_ORACLE = f"""
WITH media AS ({_MM_BASE}), d AS (SELECT *, sha256(text) AS sha FROM media)
SELECT media_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes,
       sha AS content_sha,
       CAST({_hexpair_sql('sha', 1)} AS INT) AS width,
       CAST({_hexpair_sql('sha', 3)} AS INT) AS height,
       'stub' AS decoder
FROM d
"""


@register("q_multimodal_decode", _MM_DECODE_ORACLE)
def q_multimodal_decode(spark, sf_dir):
    """Arrow-batched mapInPandas decode-metadata kernel.  The fixture's
    synthesized media are UTF-8 text bytes, which no real image decoder
    parses, so the output is the deterministic digest-derived stub path
    in EVERY environment (decoder='stub')."""
    from basin_cli_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return MM.decode_info(MM.synthesize_media(d))


_MM_FRAMES_ORACLE = f"""
WITH media AS ({_MM_BASE})
SELECT media_id,
       CAST(UNNEST(RANGE(0, n_frames, 2)) AS INT) AS frame_idx,
       MD5(text || '#' || UNNEST(RANGE(0, n_frames, 2))) AS frame_hash
FROM media
"""


@register("q_multimodal_frames", _MM_FRAMES_ORACLE)
def q_multimodal_frames(spark, sf_dir):
    """Row-multiplying frame-sampling kernel (1 video -> N frame rows)."""
    from basin_cli_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return MM.sample_frames(MM.synthesize_media(d))


_MM_FEATS_ORACLE = f"""
WITH media AS ({_MM_BASE}), d AS (SELECT media_id, MD5(text) AS h FROM media)
SELECT media_id,
       {sql_vec_str('[' + ', '.join(_hexpair_sql('h', 2 * i + 1) + ' / 255.0' for i in range(4)) + ']')}
         AS features
FROM d
"""


@register("q_multimodal_features", _MM_FEATS_ORACLE)
def q_multimodal_features(spark, sf_dir):
    """Fixed-dim feature vectors via scalar pandas_udf (stub featurizer).
    The vector surfaces through vec_str (no-raw-container rule); the
    operator itself keeps the real array<double> column for downstream
    similarity consumers."""
    from basin_cli_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    feats = MM.extract_features(MM.synthesize_media(d))
    return feats.withColumn("features", vec_str("features"))


_MM_AUDIO_ORACLE = """
SELECT doc_id AS media_id,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
       CAST(8 AS INT) AS bits,
       CAST(100 + doc_id % 50 AS INT) AS n_frames,
       ROUND(CAST(100 + doc_id % 50 AS DOUBLE)
             / (8000 + (doc_id % 4) * 4000), 6) AS duration_s
FROM documents WHERE doc_id < 200
"""


@register("q_multimodal_audio_meta", _MM_AUDIO_ORACLE)
def q_multimodal_audio_meta(spark, sf_dir):
    """REAL audio-container round-trip, no codec libraries: every doc
    becomes a genuine RIFF/WAVE PCM file (stdlib wave writer, params a
    pure function of the id), then audio_meta walks the RIFF chunk
    structure back with struct and reports channels/rate/bits/frames/
    duration.  The oracle replays the synthesis formulas, so a parser
    bug (wrong chunk walk, wrong alignment, wrong frame math) diverges
    from the writer and fails the hash check — the same
    write-then-reparse discipline as the CAR v1 reader tests."""
    from basin_cli_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return MM.audio_meta(MM.synthesize_audio(d))


_MM_VIDEO_ORACLE = """
SELECT doc_id AS media_id,
       'isom' AS brand,
       CAST(600 AS INT) AS timescale,
       CAST(150 * (1 + doc_id % 8) AS INT) AS duration_ticks,
       ROUND(CAST(150 * (1 + doc_id % 8) AS DOUBLE) / 600, 6) AS duration_s
FROM documents WHERE doc_id < 200
"""


@register("q_multimodal_video_meta", _MM_VIDEO_ORACLE)
def q_multimodal_video_meta(spark, sf_dir):
    """REAL video-container round-trip: genuine ISO-BMFF MP4 boxes
    (ftyp + moov/mvhd, ISO/IEC 14496-12 public layout) built per doc,
    then box-walked back for brand/timescale/duration — the video
    analogue of q_multimodal_audio_meta, same write-then-reparse
    discipline, no codec libraries."""
    from basin_cli_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return MM.video_meta(MM.synthesize_video(d))


_IVF_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  WHERE vec_id % 25 = 0 AND vec_id < 25 * 256
),
assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cosine_sql('e.embedding', 'c.cvec')} DESC, c.cent_id DESC
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cent_id FROM cents, q
  ORDER BY {_cosine_sql('cvec', 'q_emb')} DESC, cent_id DESC
  LIMIT 2
)
SELECT e.vec_id, ROUND({_cosine_sql('e.embedding', 'q_emb')}, 6) AS score
FROM embeddings e
JOIN assign a ON e.vec_id = a.vec_id
JOIN probe p ON a.cent_id = p.cent_id
CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id
LIMIT 5
"""


@register("q_similarity_ann_ivf", _IVF_ORACLE)
def q_similarity_ann_ivf(spark, sf_dir):
    """IVF-bucketed ANN: argmax-cosine assignment, nprobe=2 probe, exact
    rescoring inside the probed lists.  The IVF kernel
    (similarity.cosine_topk_ivf) is the one q_similarity_ann_ivf_trained
    runs; only the codebook differs.  This entry feeds it the
    SQL-replayable stride codebook (similarity.stride_codebook, in
    descending cent_id order for the oracle's ``cent_id DESC`` ties), so
    the DuckDB oracle replays the whole pipeline from the fixture alone;
    the trained entry feeds it the frozen Lloyd codebook."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_ivf(e, S.stride_codebook(e), 0, 5, 2)


def _list_lit(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _frozen_assign_ctes() -> str:
    """cents_all/ck/assign CTEs: the frozen IVF codebook selected by the
    corpus fingerprint (kmeans.CORPUS_KEY_SQL) and each vector's
    argmax-cosine cell, ties to the smaller cent_id."""
    art = KM.codebook_artifact()
    rows = ", ".join(
        f"({key}, {ci}, {_list_lit(cv)})"
        for key, entry in sorted(art.items())
        for ci, cv in enumerate(entry["ivf"])
    )
    cos_ec = _cosine_sql("e.embedding", "c.cvec")
    return f"""cents_all(key, cent_id, cvec) AS (VALUES {rows}),
ck AS (
  SELECT cent_id, cvec FROM cents_all
  WHERE key = (SELECT {KM.CORPUS_KEY_SQL} FROM embeddings)
),
assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos_ec} DESC, c.cent_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN ck c
  ) WHERE rn = 1
)"""


def _ivf_trained_oracle() -> str:
    """Replay assignment + probe + re-rank from the frozen centroids."""
    cos_cq = _cosine_sql("cvec", "q_emb")
    cos_eq = _cosine_sql("e.embedding", "q_emb")
    return f"""
WITH {_frozen_assign_ctes()},
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cent_id FROM ck, q
  ORDER BY {cos_cq} DESC, cent_id ASC
  LIMIT 8
)
SELECT e.vec_id, ROUND({cos_eq}, 6) AS score
FROM embeddings e
JOIN assign a ON e.vec_id = a.vec_id
JOIN probe p ON a.cent_id = p.cent_id
CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id
LIMIT 10
"""



_SPAN_K = 6

_REPEATED_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
),
sp AS (
  SELECT doc_id, UNNEST(
    CASE WHEN LEN(tokens) >= {_SPAN_K} THEN
      LIST_TRANSFORM(RANGE(1, LEN(tokens) - {_SPAN_K} + 2),
        i -> ARRAY_TO_STRING(LIST_SLICE(tokens, i, i + {_SPAN_K} - 1), ' '))
    ELSE [] END) AS span
  FROM toks
),
rep AS (
  SELECT span FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
),
tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id),
r AS (
  SELECT doc_id, COUNT(*) AS n_repeated
  FROM sp WHERE span IN (SELECT span FROM rep)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_spans,
       COALESCE(r.n_repeated, 0) AS n_repeated,
       ROUND(CAST(COALESCE(r.n_repeated, 0) AS DOUBLE) / t.n_spans, 6)
         AS repeated_ratio
FROM tot t LEFT JOIN r USING (doc_id)
"""


@register("q_dedup_repeated_spans", _REPEATED_SPANS_ORACLE)
def q_dedup_repeated_spans(spark, sf_dir):
    """Exact-substring (span-level) dedup signal, the Lee et al. 2021
    'Deduplicating Training Data' shape via a shingle inverted index:
    every 6-token span that occurs in >= 2 distinct documents is a
    cross-document repeat (boilerplate/template text); each doc reports
    its span count, repeated-span count, and repeated ratio — the metric
    pipelines threshold to cut template spam that whole-doc MinHash
    misses.  Fixed-length spans make this EXACT for length 6
    (variable-length maximal repeats need suffix arrays — the
    single-node formulation the paper uses; the inverted index is its
    standard distributed approximation).

    Scale shape: one token explode, two hash-aggs (span -> distinct-doc
    count; doc -> span counts) and one span-keyed left-semi join.  The
    repeated-span set scales with the corpus, so the join carries no
    broadcast hint — AQE decides."""
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", D.tokens("text").alias("_toks")
    )
    sp = toks.select(
        "doc_id",
        F.explode(D.shingles(F.col("_toks"), _SPAN_K)).alias("span"),
    )
    rep = (
        sp.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("span")
    )
    tot = sp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    r = (
        sp.join(rep, "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_rep"))
    )
    return tot.join(r, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce(F.col("_n_rep"), F.lit(0)).alias("n_repeated"),
        F.round(
            F.coalesce(F.col("_n_rep"), F.lit(0)).cast("double")
            / F.col("n_spans"),
            6,
        ).alias("repeated_ratio"),
    )


def _semantic_ivf_oracle() -> str:
    """Replay frozen-centroid assignment, then exact-cosine verify within
    each cluster (SemDeDup's candidate structure)."""
    cos_ab = _cosine_sql("ea.embedding", "eb.embedding")
    return f"""
WITH {_frozen_assign_ctes()}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({cos_ab}, 6) AS score
FROM assign a
JOIN assign b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
JOIN embeddings ea ON ea.vec_id = a.vec_id
JOIN embeddings eb ON eb.vec_id = b.vec_id
WHERE ROUND({cos_ab}, 6) >= 0.40
ORDER BY vec_a, vec_b
"""


@register("q_dedup_semantic_ivf", _semantic_ivf_oracle())
def q_dedup_semantic_ivf(spark, sf_dir):
    """SemDeDup-style cluster-scoped embedding dedup (Abbas et al. 2023,
    public): assign every vector to its frozen IVF cell, generate
    candidate pairs ONLY within a cell, verify with exact cosine at the
    same >= 0.40 fixture threshold as q_dedup_embedding.

    This is the alternative candidate structure to banded sign-LSH: the
    cluster id IS the partition key, so at 100 TB the self-join is
    per-cell co-partitioned work with zero bands and zero signature
    state — the shape SemDeDup runs at web scale.  Cell width is
    hard-bounded: similarity.drop_hot_cells removes cells wider than
    kmeans.MAX_CELL rows before the quadratic self-join — a degenerate
    hot cell (duplicate-heavy crawl, zero vectors) is template content whose
    duplicates exact-hash dedup catches at linear cost.  The fixture
    cells sit far below the default cap, so the oracle is unaffected;
    the cap behavior is pinned on a synthetic hot cell in
    tests/test_similarity.py.  Recall differs from LSH by design: LSH
    finds any-band collisions across the whole corpus; cluster scoping
    only compares within a cell — the standard recall/cost trade both
    families document."""
    from basin_cli_spark.operators.similarity import drop_hot_cells

    e = load_table(spark, sf_dir, "embeddings")
    cents = KM.frozen_codebook(e, "ivf")
    # slim (vec_id, cent_id) assignment feeds both self-join sides;
    # persisted so the Arrow assignment kernel runs once (same rationale
    # as sign_lsh_pairs' signature table) — 16 bytes/row.  The persist
    # sits AFTER the hot-cell cap: cached below it, each self-join side
    # re-ran the keep-list count agg and its semi-join (two extra
    # Exchanges + a broadcast build); caching the FILTERED relation runs
    # the cap once at cache build, and both sides scan one in-memory
    # relation.  Same rows by construction (the cap is deterministic).
    #
    # The cache is also SPREAD first.
    # Without it the cached relation inherits the embeddings SCAN's
    # layout — ONE partition on a single-row-group file — and because
    # the pair self-join and both verify joins are broadcast joins, the
    # probe side keeps that layout end to end: the entire quadratic
    # pair expansion + Arrow dot verify ran on ONE core at any session
    # size (sf1c leg: c8 ≈ c32 ≈ 90 s, the smoking gun).  A
    # deterministic hash spread of the 16-byte assignment rows is
    # O(rows) exchange for O(rows * cell_width) parallelized work.
    # Two-level persist: the RAW assignment caches first so the Arrow
    # assign kernel runs exactly once — building the filtered cache
    # directly from the kernel lets the semi-join's isnotnull(cent_id)
    # null-guard push below the UDF projection and DUPLICATE the kernel
    # (guide §4.4; seen in the intermediate plan: two stacked
    # ArrowEvalPython per semi-join side).  Marking assign_ids
    # nondeterministic instead would break its callers that JOIN on the
    # live cent_id expression (nondeterministic join keys are an
    # AnalysisException — the dot_arrow caller contract).
    raw_assigned = persist_once(
        KM.assign_ids(e, cents).select("vec_id", "cent_id")
    )
    assigned = persist_once(
        spread(drop_hot_cells(raw_assigned, KM.MAX_CELL), "vec_id")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cent_id") == F.col("b.cent_id"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
    )
    return (
        S.cosine_pair_scores(pairs, e)
        .where(F.col("score") >= 0.40)
        .orderBy("vec_a", "vec_b")
    )


_L2SQ_SQL = (
    "LIST_REDUCE(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


def _pq_trained_oracle() -> str:
    """Replay PQ encode (argmin L2^2 per subspace) + ADC scoring from the
    frozen per-subspace codebooks.  The per-vector total folds the m
    subspace lookups in mi order (LIST_REDUCE over LIST(... ORDER BY mi)),
    the same sequential accumulation the Spark kernel performs."""
    art = KM.codebook_artifact()
    rows = ", ".join(
        f"({key}, {mi}, {code}, {_list_lit(cv)})"
        for key, entry in sorted(art.items())
        for mi, book in enumerate(entry["pq"])
        for code, cv in enumerate(book)
    )
    sub_dim = 8
    qslice = f"list_slice(q_emb, b.mi * {sub_dim} + 1, (b.mi + 1) * {sub_dim})"
    eslice = f"list_slice(e.embedding, b.mi * {sub_dim} + 1, (b.mi + 1) * {sub_dim})"
    return f"""
WITH books_all(key, mi, code, c) AS (VALUES {rows}),
bk AS (
  SELECT mi, code, c FROM books_all
  WHERE key = (SELECT {KM.CORPUS_KEY_SQL} FROM embeddings)
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 42),
dtab AS (
  SELECT b.mi, b.code, {_L2SQ_SQL.format(a='b.c', b=qslice)} AS qd
  FROM bk b, q
),
enc AS (
  SELECT vec_id, mi, code FROM (
    SELECT e.vec_id, b.mi, b.code,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id, b.mi
             ORDER BY {_L2SQ_SQL.format(a='b.c', b=eslice)} ASC, b.code ASC
           ) AS rn
    FROM embeddings e CROSS JOIN bk b
    WHERE e.vec_id <> 42
  ) WHERE rn = 1
)
SELECT vec_id,
       ROUND(LIST_REDUCE(LIST(qd ORDER BY mi), (x, y) -> x + y), 6)
         AS adc_dist
FROM enc JOIN dtab USING (mi, code)
GROUP BY vec_id
ORDER BY adc_dist, vec_id
LIMIT 10
"""


@register("q_similarity_ann_ivf_trained", _ivf_trained_oracle())
def q_similarity_ann_ivf_trained(spark, sf_dir):
    """IVF ANN probe over a Lloyd-TRAINED index: k=16 lists trained by
    4 distributed Lloyd iterations (operators/kmeans.py — map-side
    partial sums, driver reduce; frozen per corpus by
    scripts/gen_codebooks.py, the faiss train-save-load lifecycle),
    nprobe=8 probe, exact cosine re-rank inside the probed lists.  The
    IVF kernel (similarity.cosine_topk_ivf) is the one q_similarity_ann_ivf
    runs on its stride codebook; here it is fed the frozen codebook
    (kmeans.frozen_codebook) in artifact order, for the oracle's
    ``cent_id ASC`` ties.

    The DuckDB oracle replays assignment + probe + re-rank from the same
    frozen centroid literals, so this is hash-verified end to end; the
    TRAINING quality contract lives in tests/test_similarity_trained.py
    (trained distortion beats the stride-sample codebook, Lloyd
    distortion is monotone non-increasing, recall@10 >= 0.75 at
    nprobe=8, and retraining reproduces the frozen artifact).

    At 100 TB: training reads the corpus iters times but moves only
    O(partitions * k) rows per pass; the assignment column is the
    partition key, so a probe scans nprobe/k of the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_ivf(e, KM.frozen_codebook(e, "ivf"), 0, 10, 8)


@register("q_similarity_pq_adc_trained", _pq_trained_oracle())
def q_similarity_pq_adc_trained(spark, sf_dir):
    """Product quantization with Lloyd-TRAINED per-subspace codebooks:
    8 subspaces x 8 dims, 16 codes each, 2 Lloyd iterations per subspace,
    frozen per corpus by scripts/gen_codebooks.py (train-save-load).
    Encoding and ADC scoring are the PQ-ADC kernel
    (kmeans.pq_adc_distances) q_similarity_pq_adc runs on its vec_id<16
    sample codebook; here it is fed the frozen codebooks — each stored
    vector costs 8 table lookups against the query's 8x16 distance table,
    the layout that fits billion-vector ANN in RAM.  The oracle orders by
    the ROUNDED distance, so the tail rounds before it orders.

    The DuckDB oracle replays encode + ADC from the same frozen codebook
    literals (hash-verified); the training quality contract stays in
    tests/test_similarity_trained.py: trained per-subspace distortion
    beats the vec_id<16 sample codebook on every subspace, and
    retraining reproduces the frozen artifact."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        KM.pq_adc_distances(e, KM.frozen_codebook(e, "pq"), 42)
        .select("vec_id", F.round("dist", 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist"), F.col("vec_id"))
        .limit(10)
    )


def _pipeline_oracle() -> str:
    hit = "LEN(LIST_FILTER(tokens, t -> LIST_CONTAINS({words}, t)))"
    langs = {
        "en": "['the', 'and', 'of', 'to', 'a']",
        "de": "['der', 'die', 'und', 'das', 'ist']",
        "fr": "['le', 'la', 'et', 'les', 'des']",
        "es": "['el', 'la', 'que', 'de', 'los']",
    }
    score_cols = ", ".join(
        f"{hit.format(words=w)} AS s_{lang}" for lang, w in langs.items()
    )
    pred, best = "'und'", "0"
    for lang in sorted(langs):
        pred = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN s_{lang} > {best} THEN s_{lang} ELSE {best} END"
    return f"""
WITH toks AS (
  SELECT doc_id, text, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
),
feat AS (
  SELECT doc_id, text, LEN(tokens) AS n_tokens, {score_cols} FROM toks
),
kept AS (
  SELECT doc_id, text, n_tokens FROM (
    SELECT *, {pred} AS pred_lang FROM feat WHERE n_tokens >= 10
  ) WHERE pred_lang = 'en'
)
SELECT MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens, COUNT(*) AS n_copies
FROM kept
GROUP BY MD5(text)
"""


@register("q_llm_prep_pipeline", _pipeline_oracle())
def q_llm_prep_pipeline(spark, sf_dir):
    """The composed training-data prep pipeline: tokenize once ->
    quality gate (>=10 tokens) -> language gate (pred 'en') -> exact
    dedup keeping the smallest doc_id.  Single projection for all
    features (tokens materialized, no joins), then one hash-agg — two
    narrow stages at any scale."""
    from basin_cli_spark.operators.dedup import tokens as _tokens
    from basin_cli_spark.operators.text import language_pred

    # NOT spread: an interleaved A/B (5 reps, noop) measured the
    # spread a net loss here (1.16 s -> 1.59 s min at sf0.1) — this
    # pipeline's tokenize+gate map side is light enough that the added
    # exchange dominates, unlike the HOF-fold stacks in the quality/
    # gopher family.
    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id", "text", _tokens("text").alias("tk")
    ).select(
        "doc_id",
        "text",
        F.size("tk").cast("long").alias("n_tokens"),
        language_pred(F.col("tk")).alias("pred_lang"),
    )
    kept = feat.where((F.col("n_tokens") >= 10) & (F.col("pred_lang") == "en"))
    return kept.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_copies"),
    ).drop("_h")


_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(text) + 1),
                        i -> SUBSTRING(text, CAST(i AS INT), 1))) AS ch
  FROM documents WHERE doc_id < 500
),
freq AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c
  FROM chars GROUP BY doc_id, ch
),
folded AS (
  -- sequential fold over the char-sorted list => identical addition order
  -- in both engines (double sums are order-sensitive in the low bits)
  SELECT doc_id,
         CAST(SUM(c) AS DOUBLE) AS n,
         LIST_REDUCE(
           LIST_PREPEND(0.0, LIST_TRANSFORM(
             LIST_SORT(LIST({'ch': ch, 'c': c})), x -> x.c * LN(x.c))),
           (a, b) -> a + b) AS sum_clnc
  FROM freq GROUP BY doc_id
)
SELECT doc_id, ROUND(LN(n) - sum_clnc / n, 9) AS char_entropy
FROM folded
"""


@register("q_text_entropy", _ENTROPY_ORACLE)
def q_text_entropy(spark, sf_dir):
    """Character-entropy quality signal: H = ln(N) - sum(c*ln(c))/N over
    per-doc char counts.  The c*ln(c) terms are folded in char-sorted
    order on both engines so the doubles match bit-for-bit pre-rounding.

    Scale shape: a per-doc stat's group key is the row, so the whole
    signal is ONE narrow JVM pass — split to a char array, sorted-run
    fold (operators/dedup.run_lnrun_fold) for the entropy numerator,
    array size for N; no explode, no shuffle, the text never leaves its
    partition.  (The first cut exploded one row per CHARACTER through
    two hash-aggs — the worst shuffle-amplification in the registry.)
    The run-close additions happen in char-sorted order, the exact
    sequence of the oracle's LIST_REDUCE(LIST_SORT(...)), so the
    doubles still match bit-for-bit.  Empty docs carry no chars and are
    not scored (both engines drop them)."""
    d = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 500) & (F.length("text") > 0)
    )
    from basin_cli_spark.operators.dedup import run_lnrun_fold

    chars = spread(d, "doc_id").select(
        "doc_id",
        # empty-pattern split = one element per CODEPOINT (Java 8+ split
        # never cuts a surrogate pair on a zero-width match boundary,
        # unlike the lookahead form "(?!^)(?=(?s:.))", which splits emoji
        # and other supplementary chars into broken surrogate halves and
        # diverges from the oracle's per-character SUBSTRING loop —
        # caught by tests/test_unicode.py on the emoji docs)
        F.split("text", "").alias("__ch"),
    )
    return chars.select(
        "doc_id",
        F.round(
            F.log(F.size("__ch").cast("double"))
            - run_lnrun_fold(F.col("__ch")) / F.size("__ch").cast("double"),
            9,
        ).alias("char_entropy"),
    )


_REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
),
sh AS (
  SELECT doc_id, UNNEST({_SQL_SHINGLES}) AS shingle FROM toks
),
counts AS (
  SELECT doc_id, shingle, COUNT(*) AS c FROM sh GROUP BY doc_id, shingle
)
SELECT doc_id,
       CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_shingle_share,
       CAST(SUM(c) AS BIGINT) AS n_shingles
FROM counts GROUP BY doc_id
"""


@register("q_text_repetition", _REPETITION_ORACLE)
def q_text_repetition(spark, sf_dir):
    """Repetition quality signal: share of the most frequent 3-gram
    shingle (near 1.0 = degenerate repeated text, a standard LLM-corpus
    filter).  Integer counts divided once — no float accumulation.

    Scale shape: per-doc, so ONE narrow JVM pass — tokenize, shingle,
    sorted-run fold (operators/dedup.gram_coverage_fold's `top` field is
    the max shingle multiplicity, the array size is the total); no
    explode, no shuffle, the text never leaves its partition.  Docs
    shorter than 3 tokens carry no shingles and are not scored (both
    engines drop them)."""
    from basin_cli_spark.operators.dedup import (
        gram_coverage_fold, shingles, tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    # docs-with-shingles filter keyed on size(__toks), NOT size(__g):
    # a filter on __g would re-derive the whole shingle transform below
    # the projection.  PushDownPredicate still rewrites this filter to
    # size(tokens(text)) >= 3 on the scan — ONE extra O(tokens) pass
    # per doc (2 split() calls in the optimized plan), which is fine;
    # the trap being avoided is CollapseProject inlining a
    # singly-referenced __toks into every slice call of the shingle
    # lambda (O(tokens^2) — measured 5x on this query).  __toks stays
    # multiply-referenced (shingles + the __n carry) for that reason.
    toks = (
        spread(d, "doc_id")
        .select("doc_id", tokens("text").alias("__toks"))
        .where(F.size("__toks") >= 3)
    )
    grams = toks.select(
        "doc_id",
        shingles(F.col("__toks"), 3).alias("__g"),
        (F.size("__toks") - 2).cast("long").alias("__n"),
    )
    return grams.select(
        "doc_id",
        (
            gram_coverage_fold(F.col("__g"))["top"].cast("double")
            / F.col("__n")
        ).alias("top_shingle_share"),
        F.col("__n").alias("n_shingles"),
    )


# -- label/source-aware corpus operators: per-class centroids, kNN label
# assignment, per-source curation stats — the training-data-pipeline ops
# that consume the fixture's otherwise-inert label/source columns.

_CENTROID_ORACLE = """
SELECT label, CAST(i AS INT) AS dim,
       ROUND(AVG(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 6) AS centroid
FROM embeddings, RANGE(1, 65) t(i)
GROUP BY label, i
"""


@register("q_embedding_label_centroids", _CENTROID_ORACLE)
def q_embedding_label_centroids(spark, sf_dir):
    """Per-label embedding centroid, one row per (label, dimension) —
    the class-prototype computation behind IVF codebooks and
    centroid-distance data filtering.  posexplode keys the shuffle on
    (label, dim), so the aggregation is a plain hash-agg with map-side
    partials at any corpus size (never a collect of vectors).  Means are
    float (order-sensitive in the last bits), so both engines round to
    6 decimals."""
    e = load_table(spark, sf_dir, "embeddings")
    expl = spread(e, "vec_id").select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    return (
        expl.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


_KNN_ORACLE = f"""
WITH probes AS (
  SELECT vec_id AS p_id, embedding AS p_emb FROM embeddings WHERE vec_id < 20
),
scored AS (
  SELECT p_id, e.label,
         ROUND({_cosine_sql('e.embedding', 'p_emb')}, 6) AS score,
         e.vec_id
  FROM embeddings e, probes
  WHERE e.vec_id <> p_id
),
top5 AS (
  SELECT p_id, label
  FROM (SELECT p_id, label,
               ROW_NUMBER() OVER (PARTITION BY p_id
                                  ORDER BY score DESC, vec_id) AS r
        FROM scored)
  WHERE r <= 5
),
votes AS (
  SELECT p_id, label, COUNT(*) AS votes FROM top5 GROUP BY p_id, label
)
SELECT p_id, label AS pred_label, votes
FROM (SELECT p_id, label, votes,
             ROW_NUMBER() OVER (PARTITION BY p_id
                                ORDER BY votes DESC, label) AS r
      FROM votes)
WHERE r = 1
"""


@register("q_similarity_knn_label", _KNN_ORACLE)
def q_similarity_knn_label(spark, sf_dir):
    """kNN label assignment (k=5, majority vote): classify each probe
    vector by its nearest labeled neighbors — weak-labeling /
    auto-curation over an embedded corpus.  Scores are rounded before
    ranking and every window sits on a total order (score desc, vec_id;
    votes desc, label), so ranks agree across engines.  The probe set
    broadcasts; the corpus never shuffles until the per-probe top-k."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("p_id"), F.col("embedding").alias("p_emb")
    )
    scored = S.cosine_probe_scores(
        spread(e, "vec_id").select("vec_id", "label", "embedding"),
        probes,
        ["p_id", "label", "vec_id"],
    )
    w_rank = Window.partitionBy("p_id").orderBy(
        F.desc("score"), F.col("vec_id")
    )
    top5 = scored.withColumn("r", F.row_number().over(w_rank)).where(
        F.col("r") <= 5
    )
    votes = top5.groupBy("p_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w_vote = Window.partitionBy("p_id").orderBy(
        F.desc("votes"), F.col("label")
    )
    return (
        votes.withColumn("r", F.row_number().over(w_vote))
        .where(F.col("r") == 1)
        .select("p_id", F.col("label").alias("pred_label"), "votes")
    )


_PROTO_PRUNE_ORACLE = f"""
WITH cent AS (
  SELECT label, CAST(i AS INT) AS dim,
         ROUND(AVG(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 6) AS c
  FROM embeddings, RANGE(1, 65) t(i)
  GROUP BY label, i
),
carr AS (
  SELECT label, LIST(c ORDER BY dim) AS cvec FROM cent GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label,
         ROUND({{cos}}, 6) AS proto_sim
  FROM embeddings e JOIN carr c ON e.label = c.label
),
ranked AS (
  SELECT vec_id, label, proto_sim,
         PERCENT_RANK() OVER (PARTITION BY label
                              ORDER BY proto_sim DESC, vec_id) AS pr
  FROM scored
)
SELECT vec_id, label, proto_sim
FROM ranked WHERE pr <= 0.9
ORDER BY vec_id
""".format(cos=_cosine_sql("e.embedding", "c.cvec"))


def _proto_scores(spark, sf_dir):
    """(vec_id, label, proto_sim) — cosine of every fixture vector
    against its label's centroid.  The per-(label, dim) centroid
    aggregation is a plain hash-agg with map-side partials (posexplode
    keys the shuffle, never a vector collect); the assembled centroid
    table is n_labels rows — constant-size by the label vocabulary — so
    the corpus joins it broadcast without shuffling.  Centroid
    components round to 6 before the distance (the
    q_embedding_label_centroids convention)."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = (
        spread(e, "vec_id")
        .select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda x: x["c"],
        ).alias("cvec")
    )
    return e.join(F.broadcast(carr), "label").select(
        "vec_id",
        "label",
        F.round(S.cosine(F.col("embedding"), F.col("cvec")), 6).alias(
            "proto_sim"
        ),
    )


@register("q_embedding_prototype_prune", _PROTO_PRUNE_ORACLE)
def q_embedding_prototype_prune(spark, sf_dir):
    """Prototype-distance data pruning (Sorscher et al. 2022, 'Beyond
    neural scaling laws', public): score every vector by cosine
    similarity to its label's centroid and drop the least-prototypical
    10% per label — the prototypicality metric that paper shows beats
    random pruning at scale.

    Scale shape: centroid build + broadcast join per _proto_scores; the
    per-label percent_rank window is the only corpus exchange, EXACT by
    design (total order: proto_sim desc, vec_id) — the parity form.  A
    dominant label at 10^11 rows lands that label's sort on one task;
    the implemented escape is q_embedding_prototype_prune_2pass, which
    replaces the rank window with a sketch -> broadcast-threshold ->
    stateless-filter pass."""
    from pyspark.sql import Window

    scored = _proto_scores(spark, sf_dir)
    w = Window.partitionBy("label").orderBy(
        F.desc("proto_sim"), F.col("vec_id")
    )
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .where(F.col("pr") <= 0.9)
        .select("vec_id", "label", "proto_sim")
        .orderBy("vec_id")
    )


_PROTO_PRUNE_2PASS_ORACLE = f"""
WITH cent AS (
  SELECT label, CAST(i AS INT) AS dim,
         ROUND(AVG(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 6) AS c
  FROM embeddings, RANGE(1, 65) t(i)
  GROUP BY label, i
),
carr AS (
  SELECT label, LIST(c ORDER BY dim) AS cvec FROM cent GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label,
         ROUND({{cos}}, 6) AS proto_sim
  FROM embeddings e JOIN carr c ON e.label = c.label
),
th AS (
  SELECT label, QUANTILE_DISC(proto_sim, 0.1) AS lo, COUNT(*) AS n_vecs
  FROM scored GROUP BY label
)
SELECT s.label,
       MAX(th.n_vecs) AS n_vecs,
       COUNT(*) FILTER (WHERE s.proto_sim >= th.lo)
         BETWEEN 0.85 * MAX(th.n_vecs) AND 0.97 * MAX(th.n_vecs) AS kept_ok
FROM scored s JOIN th USING (label)
GROUP BY s.label
""".format(cos=_cosine_sql("e.embedding", "c.cvec"))


@register("q_embedding_prototype_prune_2pass", _PROTO_PRUNE_2PASS_ORACLE)
def q_embedding_prototype_prune_2pass(spark, sf_dir):
    """The skewed-giant-label escape for prototype pruning, checked by
    curation.sketch_kept_ok: a per-label p10 sketch of proto_sim, and a
    kept fraction in [0.85, 0.97] of the label (the exact window keeps
    ~90%).  The exact prune is q_embedding_prototype_prune.

    The scored table is persisted: both passes consume it, its lineage
    is expensive (centroid hash-agg + per-vector cosine), and at
    (vec_id, label, proto_sim) it is the slim assignment class this
    repo persists — never the embedding vectors themselves."""
    scored = persist_once(_proto_scores(spark, sf_dir))
    th = scored.groupBy("label").agg(
        F.percentile_approx("proto_sim", 0.1, 100000).alias("lo"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
    keep = F.col("proto_sim") >= F.col("lo")
    return C.sketch_kept_ok(scored, th, "label", "n_vecs", keep, 0.85, 0.97)


_HARD_NEG_ORACLE = f"""
WITH probes AS (
  SELECT vec_id AS p_id, embedding AS p_emb, label AS p_label
  FROM embeddings WHERE vec_id < 20
),
scored AS (
  SELECT p_id, p_label, e.vec_id, e.label,
         ROUND({_cosine_sql('e.embedding', 'p_emb')}, 6) AS score
  FROM embeddings e, probes
  WHERE e.vec_id <> p_id
),
pos AS (
  SELECT p_id, vec_id AS pos_id, score AS pos_score
  FROM (SELECT p_id, vec_id, score,
               ROW_NUMBER() OVER (PARTITION BY p_id
                                  ORDER BY score DESC, vec_id) AS r
        FROM scored WHERE label = p_label)
  WHERE r = 1
),
neg AS (
  SELECT p_id, p_label AS anchor_label, vec_id AS neg_id,
         score AS neg_score, r AS neg_rank
  FROM (SELECT p_id, p_label, vec_id, score,
               ROW_NUMBER() OVER (PARTITION BY p_id
                                  ORDER BY score DESC, vec_id) AS r
        FROM scored WHERE label <> p_label)
  WHERE r <= 3
)
SELECT n.p_id, n.anchor_label, p.pos_id, p.pos_score,
       n.neg_id, n.neg_score, n.neg_rank,
       ROUND(p.pos_score - n.neg_score, 6) AS margin
FROM neg n LEFT JOIN pos p ON n.p_id = p.p_id
ORDER BY n.p_id, n.neg_rank
"""


@register("q_similarity_hard_negatives", _HARD_NEG_ORACLE)
def q_similarity_hard_negatives(spark, sf_dir):
    """Hard-negative triplet mining (Schroff et al. 2015 FaceNet, public):
    for each anchor in the probe set, the hardest positive (most-similar
    same-label vector, NULL for a singleton-label anchor) and the top-3
    hardest negatives (most-similar DIFFERENT-label vectors), with the
    triplet margin — the mining stage that feeds contrastive/triplet
    training of embedding models.  The whole shape lives in
    operators/similarity.mine_hard_negatives (shared with the property
    test and the scale smoke); see its docstring for the scale plan."""
    e = load_table(spark, sf_dir, "embeddings")
    out = S.mine_hard_negatives(
        spread(e, "vec_id"), F.col("vec_id") < 20, k=3
    )
    return out.withColumn(
        "neg_rank", F.col("neg_rank").cast("long")
    ).orderBy("p_id", "neg_rank")


_SOURCE_STATS_ORACLE = """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT MD5(text)) AS n_unique,
       1.0 - CAST(COUNT(DISTINCT MD5(text)) AS DOUBLE) / COUNT(*) AS dup_rate,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents
GROUP BY source
"""


@register("q_corpus_source_stats", _SOURCE_STATS_ORACLE)
def q_corpus_source_stats(spark, sf_dir):
    """Per-source corpus curation stats: document count, exact-dup rate
    (via content hash), mean length, language spread — the summary a
    pipeline uses to decide which sources to keep/downsample.  One
    hash-agg keyed on source; the two COUNT DISTINCTs expand to Spark's
    standard expand-node plan, still a single shuffle."""
    d = load_table(spark, sf_dir, "documents")
    n_uniq = F.countDistinct(F.md5("text"))
    n = F.count(F.lit(1))
    return d.groupBy("source").agg(
        n.alias("n_docs"),
        n_uniq.alias("n_unique"),
        (F.lit(1.0) - n_uniq.cast("double") / n).alias("dup_rate"),
        (F.sum("n_chars").cast("double") / n).alias("mean_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_shingle_cte()},
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
{_minhash_walk_ctes()}
SELECT id AS doc_id, MIN(lab) AS cluster_id FROM walk GROUP BY id
"""


@register("q_dedup_clusters", _CLUSTER_ORACLE)
def q_dedup_clusters(spark, sf_dir):
    """Duplicate GROUPS, not just pairs: connected components over the
    MinHash-LSH near-dup graph (min-label propagation; see
    operators/dedup.connected_components for the per-round shuffle shape).
    This is the step an actual corpus dedup needs — transitive closure, so
    A~B, B~C collapse into one keep-group even when A,C never collide in
    any band.  The DuckDB oracle replays it as a recursive-CTE reachability
    walk; Spark runs the iterative join/min-agg loop (what a 100 TB corpus
    requires — a recursive CTE over 10^9 edges is not an option)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d)
    cc = D.connected_components(pairs, "doc_a", "doc_b")
    return cc.select(
        F.col("id").alias("doc_id"), F.col("lab").alias("cluster_id")
    )


_STRAT_NIB = "(STRPOS('0123456789abcdef', SUBSTRING(h, {i}, 1)) - 1)"
_STRAT_BUCKET = (
    "("
    + " + ".join(
        _STRAT_NIB.format(i=i + 1) + f" * {16 ** (3 - i)}" for i in range(4)
    )
    + ") % 100"
)

_STRAT_ORACLE = f"""
WITH h AS (SELECT *, MD5(text) AS h FROM documents)
SELECT doc_id, source, lang, n_chars
FROM h
WHERE {_STRAT_BUCKET} <
      CASE WHEN CAST(SUBSTRING(source, 4) AS INT) % 2 = 0 THEN 80 ELSE 30 END
"""


@register("q_sample_stratified", _STRAT_ORACLE)
def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified (per-source) downsampling: the keep/drop
    decision is a pure function of the content hash, so the sample is
    reproducible across runs, engines, and cluster sizes — no RNG state,
    no driver coordination, embarrassingly parallel at 100 TB.  Per-source
    rates (80% even strata / 30% odd) stand in for the real pipeline's
    per-source quality weights.  Plan: scan -> filter, nothing else; the
    md5-bucket predicate vectorizes and no shuffle occurs."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("int") % 100
    rate = F.when(
        F.expr("CAST(SUBSTRING(source, 4) AS INT)") % 2 == 0, 80
    ).otherwise(30)
    return d.where(bucket < rate).select("doc_id", "source", "lang", "n_chars")


_WEIGHTED_ORACLE = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         LN((CAST(('0x' || SUBSTRING(MD5(text), 1, 8)) AS BIGINT) + 1)
            / 4294967296.0) / n_chars AS k
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, ROUND(k, 6) + 0.0 AS sample_key
FROM keyed
ORDER BY k DESC, doc_id
LIMIT 100
"""
# ^ the + 0.0 canonicalizes the zero sign: k <= 0 always, and at a large
# corpus the top keys round to zero, where DuckDB's ROUND returns -0.0 but
# Spark's returns 0.0 — numerically equal, repr()-hash distinct (surfaced
# by the 10x-corpus decade run); IEEE x + 0.0
# maps -0.0 to +0.0 and is the identity elsewhere, so no smaller-fixture
# attested value moves.  Same term on the Spark side below.


@register("q_sample_weighted", _WEIGHTED_ORACLE)
def q_sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each doc gets key = ln(u)/w with u in (0,1] derived
    from its content md5 and w its length; the top-k keys are a weighted
    sample — the 'mix by quality weight' draw a corpus-mixture stage
    runs.  Hash-derived u makes the draw a pure function of content:
    reproducible across runs, engines, and cluster sizes, no RNG state.

    Scale shape: narrow per-row key expression then a global top-k,
    which Spark executes as TakeOrderedAndProject (per-partition heaps,
    k rows to the driver) — no global sort, no shuffle of the corpus.
    ln/division are IEEE-identical in both engines; the key is rounded
    only for display."""
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") + 1) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "source", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(100)
        .select(
            "doc_id", "source", "n_chars",
            (F.round("k", 6) + F.lit(0.0)).alias("sample_key"),
        )
    )


_PER_SOURCE_CAP_ORACLE = """
SELECT doc_id, source
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY MD5(text), doc_id) AS rn
  FROM documents
)
WHERE rn <= 50
"""


@register("q_sample_per_source_cap", _PER_SOURCE_CAP_ORACLE)
def q_sample_per_source_cap(spark, sf_dir):
    """Per-source cap: keep at most k documents per source, chosen by
    content-hash order — the 'no single crawl may dominate' guard.  The
    md5 sort key is a uniform scramble of each source's docs, so the
    kept set is an unbiased k-sample of the source, reproducible across
    runs and engines (no RNG), and stable under appends of OTHER
    sources.  curation.cap_per_group's partial group limit is the skew
    escape: a source holding 30% of a 100 TB corpus ships bounded rows
    to its single reducer task instead of 30 TB."""
    d = load_table(spark, sf_dir, "documents")
    slim = d.select("doc_id", "source", F.md5("text").alias("_mk"))
    return C.cap_per_group(
        slim, ["doc_id", "source"], "source", ["_mk", "doc_id"], 50
    )


def _cluster_cap_oracle() -> str:
    """Replay frozen-centroid assignment, then the per-cell content-hash
    cap."""
    return f"""
WITH {_frozen_assign_ctes()}
SELECT vec_id, CAST(cent_id AS BIGINT) AS cent_id
FROM (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY cent_id
           ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM assign
) WHERE rn <= 40
"""


@register("q_sample_cluster_cap", _cluster_cap_oracle())
def q_sample_cluster_cap(spark, sf_dir):
    """Cluster-balanced sampling: assign every vector to its frozen IVF
    cell, then keep at most k per cell chosen by id-hash order — the
    diversity-preserving draw (DataComp/SemDeDup-family pipelines run
    exactly this after clustering: uniform-per-cluster instead of
    uniform-per-row, so dense regions of embedding space cannot dominate
    the sample the way a dominant crawl dominates a uniform draw).

    Composition of two already-pinned shapes: the broadcast-codebook
    Arrow assignment (q_dedup_semantic_ivf's front half) and
    curation.cap_per_group keyed on the cell, so a degenerate hot cell
    ships at most map_partitions x k rows to its reducer.  The id hash
    (not content hash — the vector already determined the cell) is a
    uniform scramble within the cell, reproducible across runs and
    engines with no RNG state.  The embedding column never shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = KM.frozen_codebook(e, "ivf")
    assigned = KM.assign_ids(e, cents).select(
        "vec_id", "cent_id", F.md5(F.col("vec_id").cast("string")).alias("_mk")
    )
    return C.cap_per_group(
        assigned, ["vec_id", "cent_id"], "cent_id", ["_mk", "vec_id"], 40
    )


_QPRUNE_ORACLE = """
SELECT doc_id, source, n_chars, ROUND(pr, 6) AS pr
FROM (
  SELECT doc_id, source, n_chars,
         PERCENT_RANK() OVER (
           PARTITION BY source ORDER BY n_chars, doc_id) AS pr
  FROM documents
)
WHERE pr >= 0.1 AND pr <= 0.9
"""


@register("q_corpus_quantile_prune", _QPRUNE_ORACLE)
def q_corpus_quantile_prune(spark, sf_dir):
    """Per-source quantile pruning: drop each source's length outliers
    (below p10 / above p90) — the standard 'cut the tails' curation gate.
    percent_rank is (rank-1)/(n-1), identical IEEE arithmetic in both
    engines, and the (n_chars, doc_id) order is total so ranks are
    deterministic.  One shuffle keyed on source; at 100 TB the window is
    per-source sort-within-partition, and for a skewed giant source the
    two-pass approx-quantile + broadcast-thresholds plan is IMPLEMENTED
    as q_corpus_quantile_prune_2pass (corpus_ops.py)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    pr = F.percent_rank().over(w)
    return (
        d.select("doc_id", "source", "n_chars", pr.alias("pr"))
        .where((F.col("pr") >= 0.1) & (F.col("pr") <= 0.9))
        .select("doc_id", "source", "n_chars", F.round("pr", 6).alias("pr"))
    )


_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\d{3}-\\d{4}"

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-'
              || LPAD(CAST(doc_id AS VARCHAR), 4, '0') || '.' AS raw
  FROM documents
)
SELECT doc_id,
       REGEXP_REPLACE(
         REGEXP_REPLACE(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text,
       CAST(LEN(REGEXP_EXTRACT_ALL(raw, '{_PII_EMAIL}')) AS BIGINT)
         + CAST(LEN(REGEXP_EXTRACT_ALL(raw, '{_PII_PHONE}')) AS BIGINT)
         AS n_pii
FROM aug
"""


@register("q_text_pii_scrub", _PII_ORACLE)
def q_text_pii_scrub(spark, sf_dir):
    """PII scrubbing (emails, phone numbers) via JVM-side regexp_replace —
    no Python in the loop, so the scrub runs inside whole-stage codegen at
    full scan speed.  The fixture text carries no PII, so both engines
    first append the same synthetic contact line (pure function of doc_id)
    and then redact it — the redaction itself is observable in the output,
    not a no-op.  Patterns stay in the RE2-compatible subset so Java and
    DuckDB agree."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        F.lit("."),
    )
    aug = d.select("doc_id", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE,
        "<PHONE>",
    )
    n_pii = F.regexp_count(F.col("raw"), F.lit(_PII_EMAIL)) + F.regexp_count(
        F.col("raw"), F.lit(_PII_PHONE)
    )
    return aug.select(
        "doc_id", clean.alias("clean_text"), n_pii.cast("long").alias("n_pii")
    )


_BUDGET_ORACLE = f"""
SELECT source, doc_id, n_tok, cum_tok
FROM (
  SELECT source, doc_id, n_tok,
         CAST(SUM(n_tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tok
  FROM (
    SELECT source, doc_id,
           CAST(LEN({_SQL_TOKENS.format(c='text')}) AS BIGINT) AS n_tok
    FROM documents
  )
)
WHERE cum_tok <= 2000
"""


@register("q_token_budget_pack", _BUDGET_ORACLE)
def q_token_budget_pack(spark, sf_dir):
    """Token-budget packing: take documents per source (in stable doc_id
    order) until a per-source token budget is hit — how a training mix is
    assembled against a sampling recipe.  A running-sum window keyed on
    source does the packing in one shuffle; the token counter is the same
    whitespace tokenizer the dedup path uses, JVM-side.  At 100 TB the
    window is sort-within-source; a pathological single-source corpus
    would pre-aggregate per-file subtotals first."""
    from pyspark.sql import Window

    from basin_cli_spark.operators.dedup import tokens as _tokens

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source", "doc_id", F.size(_tokens("text")).cast("long").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.select(
            "source", "doc_id", "n_tok", F.sum("n_tok").over(w).alias("cum_tok")
        )
        .where(F.col("cum_tok") <= 2000)
    )


_KEEP_ONE_ORACLE = f"""
WITH RECURSIVE {_shingle_cte()},
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
{_minhash_walk_ctes()},
cc AS (SELECT id, MIN(lab) AS cluster_id FROM walk GROUP BY id)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
"""


@register("q_dedup_keep_one", _KEEP_ONE_ORACLE)
def q_dedup_keep_one(spark, sf_dir):
    """The end-to-end near-dedup a pipeline actually ships: LSH pairs ->
    connected components -> keep ONE representative (the min-id) per
    duplicate cluster, pass every unclustered doc through untouched
    (dedup.keep_one: one left-anti join against the drop-list)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d)
    return D.keep_one(d, pairs, "doc_id", "doc_a", "doc_b").select(
        "doc_id", "source", "n_chars"
    )


_QUANT_ORACLE = """
WITH v AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
mm AS (
  SELECT vec_id, v, LIST_MIN(v) AS mn, (LIST_MAX(v) - LIST_MIN(v)) / 255.0 AS sc
  FROM v
),
c AS (
  SELECT vec_id, v, mn, sc,
         LIST_TRANSFORM(v, x -> CAST(ROUND((x - mn) / sc) AS INT)) AS codes
  FROM mm
)
SELECT vec_id,
       ROUND(mn, 6) AS qmin,
       ROUND(mn + 255 * sc, 6) AS qmax,
       ROUND(
         LIST_REDUCE(
           LIST_TRANSFORM(RANGE(1, LEN(v) + 1),
                          i -> ABS(v[i] - (mn + codes[i] * sc))),
           (x, y) -> x + y) / LEN(v), 8) AS mean_abs_err
FROM c
"""


@register("q_embedding_quantize", _QUANT_ORACLE)
def q_embedding_quantize(spark, sf_dir):
    """Per-vector int8 scalar quantization (min/max affine, 255 levels) +
    reconstruction error — the memory-side half of ANN at 100 TB: codes
    are 4x smaller than float32, and the (qmin, scale) pair reconstructs
    on the fly during rescoring.  All HOF expressions (transform /
    zip-fold), zero Python; per-row work only, no shuffle.  The error
    fold is sequential so both engines add in the same order."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = spread(e, "vec_id").select("vec_id", v.alias("v"))
    mm = base.select(
        "vec_id",
        "v",
        F.array_min("v").alias("mn"),
        ((F.array_max("v") - F.array_min("v")) / 255.0).alias("sc"),
    )
    codes = F.transform(
        "v", lambda x: F.round((x - F.col("mn")) / F.col("sc")).cast("int")
    )
    c = mm.select("vec_id", "v", "mn", "sc", codes.alias("codes"))
    errs = F.zip_with(
        "v",
        "codes",
        lambda x, k: F.abs(x - (F.col("mn") + k * F.col("sc"))),
    )
    mae = F.aggregate(errs, F.lit(0.0), lambda s, x: s + x) / F.size("v")
    return c.select(
        "vec_id",
        F.round("mn", 6).alias("qmin"),
        F.round(F.col("mn") + 255 * F.col("sc"), 6).alias("qmax"),
        F.round(mae, 8).alias("mean_abs_err"),
    )


_HASH_EMB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS tokens FROM documents
),
tok AS (SELECT doc_id, UNNEST(tokens) AS t FROM toks),
hashed AS (
  SELECT doc_id,
         ((STRPOS('0123456789abcdef', SUBSTRING(MD5(t), 3, 1)) - 1) * 16
          + STRPOS('0123456789abcdef', SUBSTRING(MD5(t), 4, 1)) - 1) % 64
           AS dim,
         CASE WHEN (STRPOS('0123456789abcdef', SUBSTRING(MD5(t), 5, 1)) - 1)
                   % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM tok
),
cells AS (
  SELECT doc_id, dim, CAST(SUM(s) AS BIGINT) AS w
  FROM hashed GROUP BY doc_id, dim
),
dense AS (
  SELECT c.doc_id, d.i AS dim, COALESCE(MAX(cells.w), 0) AS w
  FROM (SELECT DISTINCT doc_id FROM cells) c
  CROSS JOIN RANGE(0, 64) d(i)
  LEFT JOIN cells ON cells.doc_id = c.doc_id AND cells.dim = d.i
  GROUP BY c.doc_id, d.i
),
norms AS (
  SELECT doc_id, SQRT(CAST(SUM(w * w) AS DOUBLE)) AS nrm
  FROM dense GROUP BY doc_id
)
SELECT d.doc_id,
       LIST(ROUND(CAST(d.w AS DOUBLE) / n.nrm, 6) ORDER BY d.dim)
         AS embedding
FROM dense d JOIN norms n USING (doc_id)
WHERE n.nrm > 0
GROUP BY d.doc_id
"""

# Registry-facing variant: the embedding surfaces via sql_vec_str (the
# no-raw-container rule); _HASH_EMB_ORACLE itself stays a LIST so
# _TEXT_SIM_ORACLE below can keep consuming it as a CTE.
_HASH_EMB_STR_ORACLE = f"""
WITH emb AS ({{inner}})
SELECT doc_id, {sql_vec_str('embedding')} AS embedding FROM emb
""".format(inner=_HASH_EMB_ORACLE.strip())


@register("q_text_hash_embedding", _HASH_EMB_STR_ORACLE)
def q_text_hash_embedding(spark, sf_dir):
    """Feature-hashed 64-dim document embeddings (operators/text.py
    hash_embedding — the hashing trick): signed token counts per hashed
    dimension, L2-normalized.  Gives raw text the embedding column the
    whole similarity/dedup family consumes, with no model dependency.
    Exact integer cell sums keep the values order-independent; the
    oracle replays the same md5-nibble arithmetic the SimHash oracle
    uses.  Surfaces through vec_str (no-raw-container rule); the operator
    keeps the real array column for the similarity family."""
    d = load_table(spark, sf_dir, "documents")
    emb = TX.hash_embedding(d)
    return emb.withColumn("embedding", vec_str("embedding"))


_TEXT_SIM_ORACLE = f"""
WITH emb AS ({_HASH_EMB_ORACLE.strip()}),
q AS (SELECT embedding AS q_emb FROM emb WHERE doc_id = 0)
SELECT e.doc_id,
       ROUND({{dot}}, 6) AS score
FROM emb e CROSS JOIN q
WHERE e.doc_id <> 0
ORDER BY score DESC, e.doc_id
LIMIT 10
""".format(dot=_DOT_SQL.format(a="e.embedding", b="q_emb"))


@register("q_similarity_text_hash", _TEXT_SIM_ORACLE)
def q_similarity_text_hash(spark, sf_dir):
    """Model-free text similarity end to end: feature-hashed document
    embeddings (q_text_hash_embedding) scored brute-force against doc 0
    by dot product (vectors are unit-normalized, so dot == cosine),
    top-10.  The pipeline composition this exists to prove: raw text ->
    hashed embedding -> the same similarity machinery trained embeddings
    use.  Both engines fold the dot product sequentially over the same
    rounded unit values, so scores match bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    emb = persist_once(TX.hash_embedding(d))
    q = emb.where(F.col("doc_id") == 0).select(
        F.col("embedding").alias("_q_emb")
    )
    dot = F.aggregate(
        F.zip_with("embedding", "_q_emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.where(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("doc_id", F.round(dot, 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


_PIPELINE_V2_ORACLE = f"""
WITH RECURSIVE {_shingle_cte()},
gated AS (
  SELECT doc_id FROM toks
  WHERE LEN(tokens) >= 10 AND doc_id % 20 <> 0
),
eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
),
train_sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh
  WHERE doc_id IN (SELECT doc_id FROM gated)
),
contam AS (
  SELECT t.doc_id, COUNT(*) AS n_shingles, COUNT(e.shingle) AS n_shared
  FROM train_sh t LEFT JOIN eval_sh e USING (shingle)
  GROUP BY t.doc_id
),
clean AS (
  SELECT doc_id FROM gated
  WHERE doc_id NOT IN (
    SELECT doc_id FROM contam
    WHERE CAST(n_shared AS DOUBLE) / n_shingles > 0.5
  )
),
mh AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM sh WHERE doc_id IN (SELECT doc_id FROM clean)
  GROUP BY doc_id
),
{_minhash_walk_ctes()},
cc AS (SELECT id, MIN(lab) AS cluster_id FROM walk GROUP BY id)
SELECT d.doc_id, d.source, d.n_chars, LEN(t.tokens) AS n_tokens
FROM documents d
JOIN toks t USING (doc_id)
WHERE d.doc_id IN (SELECT doc_id FROM clean)
  AND d.doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
"""


@register("q_llm_prep_pipeline_v2", _PIPELINE_V2_ORACLE)
def q_llm_prep_pipeline_v2(spark, sf_dir):
    """The FULL modern prep recipe, composed end to end and hash-verified
    as one query: held-out eval split (doc_id % 20) -> token-count
    quality gate (>= 10) -> n-gram decontamination (drop docs whose
    distinct-shingle overlap with the eval set exceeds 0.5) ->
    MinHash-LSH near-dedup with connected-components keep-one.  Each
    stage is the registered operator a user runs standalone
    (q_contamination_score, q_dedup_keep_one); this entry pins that they
    COMPOSE — the corpus is scanned once per stage, eval shingles stay
    the broadcast side, the dup graph stays ids-only, and no stage
    shuffles the full text."""
    d = load_table(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 20 != 0)
    eval_docs = d.where(F.col("doc_id") % 20 == 0)
    gated = train.withColumn("_tk", D.tokens("text")).where(
        F.size("_tk") >= 10
    )
    contam = C.contamination_score(gated, eval_docs)
    drop_leaky = contam.where(F.col("contamination") > 0.5).select("doc_id")
    clean = gated.join(drop_leaky, "doc_id", "left_anti")
    pairs = D.minhash_lsh_pairs(clean)
    return D.keep_one(clean, pairs, "doc_id", "doc_a", "doc_b").select(
        "doc_id",
        "source",
        "n_chars",
        F.size("_tk").cast("long").alias("n_tokens"),
    )


def _kcenter_oracle(k: int = 6) -> str:
    """Unrolled greedy farthest-point selection (k static stages — the
    loop the Spark driver runs, replayed as chained CTEs): stage i ranks
    every unchosen vector by its rounded max-cosine to the chosen set
    and admits the (mc ASC, vec_id ASC) minimum."""
    cos = _cosine_sql("e.embedding", "c.embedding")
    parts = [
        "ch0(step, vec_id, embedding) AS ("
        "  SELECT CAST(0 AS INT), vec_id, embedding FROM embeddings"
        "  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings))"
    ]
    for i in range(1, k):
        parts.append(
            f"""p{i} AS (
  SELECT e.vec_id, ROUND(MAX({cos}), 6) AS mc
  FROM embeddings e CROSS JOIN ch{i - 1} c
  WHERE e.vec_id NOT IN (SELECT vec_id FROM ch{i - 1})
  GROUP BY e.vec_id)"""
        )
        parts.append(
            f"s{i} AS (SELECT vec_id, mc FROM p{i} "
            f"ORDER BY mc ASC, vec_id ASC LIMIT 1)"
        )
        parts.append(
            f"ch{i}(step, vec_id, embedding) AS ("
            f"  SELECT step, vec_id, embedding FROM ch{i - 1}"
            f"  UNION ALL"
            f"  SELECT CAST({i} AS INT), e.vec_id, e.embedding"
            f"  FROM embeddings e JOIN s{i} USING (vec_id))"
        )
    finals = [
        "SELECT CAST(0 AS INT) AS step, vec_id, "
        "CAST(NULL AS DOUBLE) AS far_cos FROM ch0"
    ] + [
        f"SELECT CAST({i} AS INT), vec_id, mc FROM s{i}" for i in range(1, k)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


@register("q_sample_kcenter", _kcenter_oracle())
def q_sample_kcenter(spark, sf_dir):
    """Greedy k-center (farthest-point) diversity selection: seed with
    the smallest id, then repeatedly admit the vector farthest (smallest
    max-cosine) from everything already chosen — the classic coreset /
    diversity draw (Gonzalez 1985) that training-data pipelines run to
    pick maximally-spread exemplars, prompts, or eval anchors from an
    embedding space.  Complements q_sample_cluster_cap: cluster-cap
    flattens density, k-center maximizes spread.

    Scale shape (operators/similarity.kcenter_select): the chosen set is
    a model parameter — k vectors, a few KB — carried into k-1 narrow
    passes as array literals; each pass is scan -> sequential-fold
    max-cos -> TakeOrderedAndProject, so ONE slim row reaches the driver
    per iteration and the embedding column never shuffles.  The oracle
    replays the identical greedy as unrolled CTE stages with the same
    round-before-rank + smallest-id tie-break."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from basin_cli_spark.operators.similarity import kcenter_select

    e = load_table(spark, sf_dir, "embeddings")
    picks = kcenter_select(e, k=6)
    schema = StructType([
        StructField("step", IntegerType()),
        StructField("vec_id", LongType()),
        StructField("far_cos", DoubleType()),
    ])
    return spark.createDataFrame(
        [(s, int(v), c) for s, v, c in picks], schema
    )


# -- embedding-space health: anisotropy (mean pairwise cosine) ----------------

_ANISOTROPY_ORACLE = f"""
WITH base AS (
  SELECT label, embedding,
         SQRT({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
  FROM embeddings
),
vh AS (
  SELECT label,
         LIST_TRANSFORM(RANGE(1, LEN(embedding) + 1),
                        i -> ROUND(CAST(embedding[i] AS DOUBLE) / nrm, 12))
           AS v
  FROM base WHERE nrm > 0
),
ex AS (
  SELECT label, CAST(i AS INT) AS dim, v[CAST(i AS INT)] AS comp
  FROM vh, RANGE(1, 65) t(i)
),
a1 AS (
  SELECT label, dim,
         SUM(CAST(comp AS DECIMAL(38, 12))) AS sd,
         SUM(CAST(ROUND(comp * comp, 12) AS DECIMAL(38, 12))) AS tp,
         COUNT(*) AS cnt
  FROM ex GROUP BY label, dim
),
a2 AS (
  SELECT label,
         SUM(CAST(ROUND(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE), 12)
                  AS DECIMAL(38, 12))) AS s2,
         SUM(tp) AS t,
         MAX(CASE WHEN dim = 1 THEN cnt END) AS n
  FROM a1 GROUP BY label
)
SELECT label, n AS n_vecs,
       ROUND((CAST(s2 AS DOUBLE) - CAST(t AS DOUBLE))
             / NULLIF(CAST(n * (n - 1) AS DOUBLE), 0), 6)
         AS mean_pairwise_cos
FROM a2 ORDER BY label
"""


@register("q_embedding_anisotropy", _ANISOTROPY_ORACLE)
def q_embedding_anisotropy(spark, sf_dir):
    """Embedding-space health: per-label anisotropy — the mean cosine
    over ALL ordered pairs of distinct vectors (Ethayarajh 2019's
    isotropy diagnostic, public).  Near 0 = directions spread; drifting
    toward 1 = the space is collapsing into a cone, the classic failure
    of a degenerating embedding model and an early-warning signal for
    every cosine-based dedup/ANN operator downstream.

    The whole all-pairs statistic folds closed-form — NO pairs are ever
    materialized:  sum_{{i != j}} cos(i,j) = ||sum_i v_i||^2 - sum_i
    ||v_i||^2 over L2-normalized vectors, so one pass over the corpus
    suffices at any scale.

    Determinism: normalized components round to 12 dp; every downstream
    accumulation (per-dim component sums, per-row squared norms, the
    final sum of squared dim-sums) is a DECIMAL(38,12) sum of 12-dp
    rounded doubles — exact, order-independent, map-side partials
    intact.  Zero-norm vectors are excluded in both engines.

    Scale shape: one narrow norm pass, one posexplode of the RAW
    embedding with the row norm carried through the Generate, the
    normalize division applied per exploded component — deliberately
    NOT a transform() over the array, because CollapseProject inlines a
    norm referenced from inside a lambda into every element (the fold
    runs d times per row, O(d^2) — measured 5.3s -> 0.9s at sf0.1).
    ONE hash-agg keyed (label, dim) is the only shuffle — 64 rows per
    label reach the final labels-sized rollup.  n rides the dim=1
    count, so no second corpus pass for the denominator."""
    from basin_cli_spark.operators.similarity import norm_sq

    e = load_table(spark, sf_dir, "embeddings")
    s1 = spread(e, "vec_id").select(
        "label", "embedding", F.sqrt(norm_sq(F.col("embedding"))).alias("_n")
    ).where(F.col("_n") > 0)
    ex = s1.select(
        "label", "_n", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        "label",
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.round(F.col("raw").cast("double") / F.col("_n"), 12).alias("comp"),
    )
    a1 = ex.groupBy("label", "dim").agg(
        F.sum(F.col("comp").cast("decimal(38,12)")).alias("sd"),
        F.sum(
            F.round(F.col("comp") * F.col("comp"), 12).cast("decimal(38,12)")
        ).alias("tp"),
        F.count(F.lit(1)).alias("cnt"),
    )
    sd_d = F.col("sd").cast("double")
    a2 = a1.groupBy("label").agg(
        F.sum(F.round(sd_d * sd_d, 12).cast("decimal(38,12)")).alias("s2"),
        F.sum("tp").alias("t"),
        F.max(F.when(F.col("dim") == 1, F.col("cnt"))).alias("n"),
    )
    pairs = (F.col("n") * (F.col("n") - 1)).cast("double")
    return a2.select(
        "label",
        F.col("n").alias("n_vecs"),
        F.round(
            (F.col("s2").cast("double") - F.col("t").cast("double"))
            / F.nullif(pairs, F.lit(0.0)),
            6,
        ).alias("mean_pairwise_cos"),
    ).orderBy("label")
