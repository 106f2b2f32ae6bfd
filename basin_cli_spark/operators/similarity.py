"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline: a broadcast of the
query vector + one pass over the candidates (no shuffle until the final
top-k, which Spark plans as TakeOrderedAndProject — per-partition heaps,
only k rows move).

The scale path is banded sign-LSH: each band signature packs the signs of
the vector's projections onto seeded sparse random ±1 planes (Achlioptas
style), and two vectors are join candidates when ANY band matches.  The
signatures are computed by a vectorized Arrow pandas_udf — numpy adds in
the exact plane-entry order the DuckDB oracle replays, so buckets match
bit-for-bit — NOT by an unrolled Catalyst expression: 128 element_at
terms per row blow past janino's method-size limit, so the "pure
expression" version silently falls back to interpreted eval and is an
order of magnitude slower than the Arrow kernel.

Exact scoring stays declarative: the dot product is a sequential fold
(F.aggregate over zip_with) that DuckDB's list_reduce replays
addition-for-addition, so scores match the oracle bit-for-bit before the
final rounding.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from basin_cli_spark.operators.kmeans import assign_ids
from basin_cli_spark.operators.layout import spread
from basin_cli_spark.session import persist_once


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (deterministic order).

    A genuine-NaN input element (not a NULL) is mapped to NULL via nanvl
    so this fold and dot_arrow agree: the Arrow serializer already maps
    dot_arrow's returned NaN to NULL, whereas a raw JVM fold would return
    NaN — which sorts ABOVE every double in a desc window, the opposite
    ranking.  With the guard, any degenerate input (NULL cell, NULL
    element, ragged pair, genuine NaN) terminates as NULL in BOTH kernels
    and sorts last.  Fixtures contain no NaNs, so DuckDB oracles (whose
    LIST_REDUCE would yield NaN) are unaffected; on real crawl data the
    NULL-sorts-last behavior is the one the rank windows assume."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    s = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    return F.nanvl(s, F.lit(None).cast("double"))


def norm_sq(a: Column) -> Column:
    return dot(a, a)


def dot_arrow(a: Column, b: Column) -> Column:
    """Vectorized Arrow dot product, bit-identical to dot().

    Spark's higher-order aggregate/zip_with is evaluated interpreted (HOFs
    are outside whole-stage codegen), which dominates wall-time when the
    fold runs per candidate PAIR (10^5-10^9 rows) instead of per vector.
    This kernel plays the same IEEE ops in the same order — acc starts at
    0.0 and adds one rounded product per dimension, vectorized across the
    batch — so scores equal dot()'s and the DuckDB oracle's bit-for-bit.
    Use it on pair-verify hot paths; dot() stays for per-vector folds
    where an extra Python stage isn't worth it.

    NULL propagation matches the fold: a NULL vector cell or a
    ragged-length pair yields NULL (zip_with pads the shorter side with
    NULLs, so the fold's accumulator goes NULL), never a crash and never
    a truncated partial dot.  A NULL *element* inside a vector arrives as
    NaN after the Arrow→pandas conversion; the NaN accumulates through
    the products and Spark's Arrow serializer maps the returned NaN back
    to NULL — the same terminal NULL dot()'s nanvl guard produces for the
    fold, so a degenerate embedding can never outrank a real score in a
    desc sort (NULLs sort last).

    CALLER CONTRACT: the returned expression is marked
    ``asNondeterministic()`` (despite being a pure function) to stop
    Catalyst duplicating the kernel under pushed-down filters — see the
    inline note.  Consequences for callers: Spark forbids nondeterministic
    expressions in join conditions and some sort/generator contexts
    (AnalysisException), and a selective filter written ABOVE this
    projection will NOT push below it — apply id filters BEFORE the dot
    projection and filter on the score only after it (every in-repo
    caller does).
    """

    @F.pandas_udf("double")
    def _dot_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return _dot_batch(xs, ys)

    # Non-deterministic mark (optimization guide §4.4): every pair-verify
    # caller filters on a score computed FROM this UDF, and Catalyst's
    # filter pushdown otherwise duplicates the evaluation — two
    # ArrowEvalPython nodes per verify stage in q_dedup_embedding and
    # q_dedup_semantic_ivf, i.e. the expensive dot ran twice per
    # candidate pair.  No caller relies on pushing a filter
    # through the dot projection (id filters are applied before it), and
    # the value is genuinely deterministic, so results are unchanged —
    # only the double evaluation disappears (2 ArrowEvalPython -> 1,
    # pinned in tests/test_plans.py).
    return _dot_udf.asNondeterministic()(a, b)


def _columns_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Per-row sequential IEEE adds, vectorized across the batch: each
    row's accumulator starts at 0.0 and receives one rounded product per
    dimension in order — the exact op sequence of the zip_with fold and
    of DuckDB's list_reduce, so results are bit-identical."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


def _dot_batch(xs: pd.Series, ys: pd.Series) -> pd.Series:
    """One Arrow batch of pairs → dots (module-level so the throughput
    contract is testable without a Spark job; tests/test_similarity.py
    pins both the NULL semantics and the mixed-batch speed)."""
    n = len(xs)
    if n == 0:
        return pd.Series([], dtype="float64")
    # Fast path (the common case — dense, rectangular batch): one
    # vectorized isna() check, then a zero-Python-per-row column sweep.
    if not xs.isna().any() and not ys.isna().any():
        try:
            A = np.stack(xs.to_list()).astype(np.float64)
            B = np.stack(ys.to_list()).astype(np.float64)
        except ValueError:
            A = B = None  # ragged batch
        if A is not None and A.ndim == 2 and A.shape == B.shape:
            return pd.Series(_columns_dot(A, B))
    # Degenerate batch (NULL cells and/or ragged rows): mask the bad rows
    # to NaN (→NULL), group the usable rows by dimension, and run the
    # same column sweep per group — one crawl-edge row must not send the
    # whole batch down a per-element Python loop.  Realistic batches have
    # a single dimension, so this is one stack + one sweep over the ~99%
    # clean subset.
    out = np.full(n, np.nan, dtype=np.float64)
    xl, yl = xs.to_list(), ys.to_list()
    groups: dict[int, list[int]] = {}
    for i in range(n):
        x, y = xl[i], yl[i]
        if x is None or y is None or len(x) != len(y):
            continue  # fold semantics: NULL cell / ragged pair -> NULL
        groups.setdefault(len(x), []).append(i)
    for d, idxs in groups.items():
        if d == 0:
            out[idxs] = 0.0  # empty pair: the fold returns its 0.0 seed
            continue
        A = np.asarray([xl[i] for i in idxs], dtype=np.float64)
        B = np.asarray([yl[i] for i in idxs], dtype=np.float64)
        out[np.asarray(idxs)] = _columns_dot(A, B)
    return pd.Series(out)


def cosine(a: Column, b: Column) -> Column:
    """try_divide: a zero-norm vector has no cosine — NULL, matching
    DuckDB's x/0, instead of an ANSI DIVIDE_BY_ZERO that would kill the
    whole job on one malformed embedding."""
    return F.try_divide(dot(a, b), F.sqrt(norm_sq(a) * norm_sq(b)))


# Every cosine score is rounded to this many decimals before it is ranked
# or thresholded, the rounding each DuckDB oracle replays: raw doubles
# are already bit-equal, but ranking the rounded value makes ties
# explicit and keyed on id, so rank order is engine-independent.
SCORE_DIGITS = 6

# Sign-LSH planes: 4 bands over the 64-dim embeddings, each plane 8 seeded
# +-1 entries.  The DuckDB oracles regenerate the same planes from these.
_BANDS = 4
_DIM = 64
_SEED = 42
_NNZ = 8
_MULTIPROBE_BITS = 4
# The demo IVF codebook: every 25th vector id, at most 256 centroids.
_IVF_STRIDE = 25
_IVF_MAX_CENTS = 256


def _normed_cosine(a: Column, b: Column, a_n2: Column, b_n2: Column) -> Column:
    """Cosine over squared norms folded once per VECTOR: one Arrow dot
    per pair (dot_arrow, bit-identical to the fold) instead of the three
    interpreted HOF folds cosine() runs per pair.  try_divide as in
    cosine(): a zero-norm side scores NULL."""
    return F.try_divide(dot_arrow(a, b), F.sqrt(a_n2 * b_n2))


def cosine_pair_scores(pairs: DataFrame, vectors: DataFrame) -> DataFrame:
    """Exact cosine verify of an ids-only pair relation
    ``(vec_a, vec_b)`` against ``vectors`` ``(vec_id, embedding)``:
    ``(vec_a, vec_b, score)``.

    Norms fold once per vector before the pair joins (2N folds, not 2 per
    pair), the per-pair dot is the Arrow kernel, and the vectors join in
    only here, so candidate generation and its dedup shuffle stay 16-byte
    id rows.  No broadcast hint: the vector table is corpus-sized, and AQE
    broadcasts it only while it fits.  Filter on ``score`` after this
    call, never inside it (the dot_arrow caller contract)."""
    normed = vectors.select(
        "vec_id", "embedding", norm_sq(F.col("embedding")).alias("_n2")
    )

    def side(s: str) -> DataFrame:
        return normed.select(
            F.col("vec_id").alias(f"vec_{s}"),
            F.col("embedding").alias(f"_emb_{s}"),
            F.col("_n2").alias(f"_n2_{s}"),
        )

    score = _normed_cosine(
        F.col("_emb_a"), F.col("_emb_b"), F.col("_n2_a"), F.col("_n2_b")
    )
    return (
        pairs.join(side("a"), "vec_a")
        .join(side("b"), "vec_b")
        .select("vec_a", "vec_b", F.round(score, SCORE_DIGITS).alias("score"))
    )


def cosine_probe_scores(
    corpus: DataFrame, probes: DataFrame, cols: list[str]
) -> DataFrame:
    """Every ``(vec_id, embedding)`` corpus row scored against every
    probe: ``cols`` plus ``score``, self-pairs (``vec_id == p_id``)
    excluded.

    ``probes`` carries ``p_id`` and ``p_emb`` (plus any columns ``cols``
    names) and is broadcast: the probe set is bounded by its predicate,
    so the corpus is scanned once and never shuffled.  Norms fold once
    per vector on each side before the cross join, and the per-pair dot
    is the Arrow kernel; measured on the 10x smoke (20 probes x 20k
    vectors) that split took hard-negative mining from 7.8 s to ~2 s."""
    probes = probes.select("*", norm_sq(F.col("p_emb")).alias("_p_n2"))
    score = _normed_cosine(
        F.col("embedding"), F.col("p_emb"), F.col("_n2"), F.col("_p_n2")
    )
    return (
        corpus.select("*", norm_sq(F.col("embedding")).alias("_n2"))
        .crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("p_id"))
        .select(*cols, F.round(score, SCORE_DIGITS).alias("score"))
    )


def rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """The exact re-rank every top-k search ends with: ``(vec_id,
    embedding)`` candidates that carry the query vector as ``_q_emb`` are
    scored by cosine, ordered by score desc then id, and cut at k.  Spark plans it as
    TakeOrderedAndProject: per-partition heaps, only k rows move."""
    score = F.round(cosine(F.col("embedding"), F.col("_q_emb")), SCORE_DIGITS)
    return (
        cand.select(F.col("vec_id"), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(k)
    )


def cosine_topk(df: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k against one stored vector."""
    q = df.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("_q_emb")
    )
    cand = spread(df.where(F.col("vec_id") != query_vec_id), "vec_id")
    return rerank_topk(cand.crossJoin(F.broadcast(q)), k)


def random_planes(n_planes: int) -> list[list[tuple[int, int]]]:
    """Seeded sparse random-projection hyperplanes over ``_DIM`` dims.

    Each plane is ``_NNZ`` distinct dimensions with ±1 coefficients
    (Achlioptas-style sparse projection): cheap to evaluate, mixes many
    feature dimensions so the bit does not correlate with the scale of any
    single raw feature (the flaw of axis-aligned planes), and fully
    deterministic from (_DIM, n_planes, _SEED, _NNZ).

    The randomness source is counter-mode SHA-256 — NOT a numpy RNG, whose
    stream NumPy does not guarantee stable across versions.  SHA-256 is
    specified byte-for-byte forever, so planes (and therefore persisted
    signatures and the DuckDB oracle's replayed bucketing) are identical
    on any machine, any library version, any year.
    """
    planes: list[list[tuple[int, int]]] = []
    for i in range(n_planes):
        picked: list[tuple[int, int]] = []
        seen: set[int] = set()
        ctr = 0
        while len(picked) < _NNZ:
            block = hashlib.sha256(f"planes:{_SEED}:{i}:{ctr}".encode()).digest()
            ctr += 1
            # 10 (dim, sign) draws per block: 3 bytes each -> modulo bias
            # < 2^-16 for any dim <= 4096, irrelevant for bucketing.
            for off in range(0, 30, 3):
                d = int.from_bytes(block[off : off + 2], "big") % _DIM
                if d in seen:
                    continue
                seen.add(d)
                picked.append((d, 1 if block[off + 2] & 1 else -1))
                if len(picked) == _NNZ:
                    break
        planes.append(picked)
    return planes


def band_bits_for(n_rows: int) -> int:
    """Size bits-per-band to the corpus: expected band-bucket size is
    n/2^bits, and per-bucket pair generation is |bucket|^2, so bits must
    GROW with the corpus — log2(n / 64), clamped to [4, 30] (a 64-row
    target bucket).

    At n=500 (bench fixture) this is 4 bits (16 buckets); at n=10^9 it is
    24 bits (~60-row buckets), keeping per-bucket self-join cost flat
    instead of quadratic in N.  A fixed 4-bit band at 10^9 vectors would
    make every bucket N/16 wide — all-pairs with a constant factor.
    """
    if n_rows <= 0:
        return 4
    return max(4, min(30, int(math.ceil(math.log2(max(n_rows / 64, 2.0))))))


def plane_proj_sql(v: str, plane: list[tuple[int, int]]) -> str:
    """DuckDB expression replaying the Arrow kernel's projection
    addition-for-addition (0.0-seeded left fold in plane-entry order)."""
    parts = []
    for d, s in plane:
        parts.append(
            f"{'+' if s > 0 else '-'} CAST({v}[{d + 1}] AS DOUBLE)"
        )
    return "(0.0 " + " ".join(parts) + ")"


def _band_sigs_kernel(planes: list[list[tuple[int, int]]], band_bits: int):
    """Numpy kernel: (n, dim) float64 matrix -> (n, _BANDS) int64 sigs.

    Per plane, the projection is a 0.0-seeded left fold over the plane's
    entries — `acc = acc ± V[:, d]` — vectorized ACROSS rows but strictly
    sequential WITHIN a row, which is exactly the order plane_proj_sql
    states, so the oracle's buckets match bit-for-bit (float32 -> float64
    casts are exact; IEEE `acc + (-x) == acc - x`).
    """

    def kernel(V: np.ndarray) -> np.ndarray:
        n = V.shape[0]
        sigs = np.zeros((n, _BANDS), dtype=np.int64)
        for b in range(_BANDS):
            for j in range(band_bits):
                acc = np.zeros(n, dtype=np.float64)
                for d, s in planes[b * band_bits + j]:
                    acc = acc + V[:, d] if s > 0 else acc - V[:, d]
                sigs[:, b] |= (acc >= 0.0).astype(np.int64) << j
        return sigs

    return kernel


def sign_lsh_bands(vec: Column, band_bits: int = 4) -> Column:
    """Banded sign-LSH: array of ``_BANDS`` signatures, band b built from
    seeded random-projection planes [b*band_bits, (b+1)*band_bits).  Two
    vectors are join candidates when ANY band matches — the OR-amplified
    construction (same as MinHash banding), which keeps recall usable
    where a single wide signature (2^16 buckets) would put every vector
    in its own bucket and return nothing.

    Implemented as an Arrow-batched pandas_udf, not a Catalyst expression:
    bands*band_bits planes × _NNZ element_at terms unroll into an
    expression tree that exceeds janino's 64 KB generated-method limit, so
    whole-stage codegen FAILS and Spark interprets the tree per row —
    measured ~10× slower at 16 planes than the vectorized numpy fold.
    The kernel is a handful of vectorized adds per plane, plays the same
    IEEE operations in the same order as the DuckDB oracle
    (sign_lsh_band_sql), and Arrow moves the float32 arrays zero-copy.

    Corpus sizing: pass band_bits=band_bits_for(n) so bucket width tracks
    the corpus instead of staying fixed at bench scale.  The seeded planes
    are deterministic for the DuckDB oracle (sign_lsh_band_sql).

    CALLER CONTRACT: the returned expression is marked
    ``asNondeterministic()`` (despite being a pure function) to stop
    Catalyst duplicating the kernel under pushed-down filters — see the
    inline note.  Consequences for callers: Spark forbids nondeterministic
    expressions in join conditions and some sort/generator contexts
    (AnalysisException), and a selective filter written ABOVE this
    projection will NOT push below it — apply id/metadata filters BEFORE
    projecting the bands (every in-repo caller does).
    """
    planes = random_planes(_BANDS * band_bits)
    kernel = _band_sigs_kernel(planes, band_bits)

    @F.pandas_udf("array<bigint>")
    def _bands_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(emb.to_list()).astype(np.float64)
        return pd.Series(list(kernel(V)))

    # Non-deterministic mark (guide §4.4, same rationale as dot_arrow):
    # every caller explodes the band array, and the Generate's implicit
    # `size(bands) > 0` precondition otherwise gets pushed below the UDF
    # projection, duplicating the kernel — two ArrowEvalPython nodes per
    # side in the LSH probes and in the banded pair builders'
    # cache-build plans.  No caller pushes a real filter
    # through this projection (id filters are applied before it), and the
    # signature is a pure function of the vector, so results are
    # unchanged — each side now runs the kernel exactly once.
    return _bands_udf.asNondeterministic()(vec)


def sign_lsh_band_sql(v: str, band: int, band_bits: int = 4) -> str:
    """DuckDB SQL for one band's signature, regenerating the SAME seeded
    planes as sign_lsh_bands — single source of truth for both engines."""
    planes = random_planes(_BANDS * band_bits)
    terms = []
    for j in range(band_bits):
        p = planes[band * band_bits + j]
        terms.append(
            f"CASE WHEN {plane_proj_sql(v, p)} >= 0 THEN {1 << j} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def drop_hot_cells(assigned: DataFrame, max_cell: int) -> DataFrame:
    """Remove rows belonging to IVF cells (``cent_id``) wider than
    `max_cell`.

    The cluster-scoped (SemDeDup-style) candidate structure self-joins
    within a cell, so pair count is |cell|^2: one boilerplate-heavy
    cell of 10^6 rows is 10^12 pairs, a job-killer however well the
    rest of the corpus behaves.  The pathological trigger is a
    duplicate-heavy crawl whose vectors all land in one centroid.  Cells
    past the cap are near-identical template content whose duplicates
    exact-hash dedup already catches at linear cost, so they're dropped
    from the quadratic path rather than re-training with larger k
    mid-job.

    The cell key space is CONSTANT-SIZE by construction — at most k
    rows, the trained codebook width — so the keep-list is aggregated
    (map-side partial combine folds each partition to <= k rows) and
    broadcast: `assigned` itself is never shuffled for the cap, and the
    downstream pair self-join keeps exactly the exchange layout it had
    without a cap.  This is the
    same constant-size-broadcast class as the codebook itself (the
    hinted-only broadcast sweep in tests/test_plans.py admits it).

    Rows with a NULL cell id are dropped (a null key never matches the
    semi-join) — correct here, because an unassigned vector has no cell
    to pair within and must not reach the quadratic path; in-repo
    assignments (kmeans.assign_ids) never produce null cells."""
    keep = (
        assigned.groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("_cw"))
        .where(F.col("_cw") <= max_cell)
        .select("cent_id")
    )
    return assigned.join(F.broadcast(keep), "cent_id", "left_semi")


def mine_hard_negatives(
    df: DataFrame,
    probe_filter: Column,
    k: int = 3,
    require_all_anchors: bool = False,
) -> DataFrame:
    """Hard-negative triplet mining (Schroff et al. 2015 FaceNet, public)
    over ``(vec_id, label, embedding)`` rows: for each anchor selected by
    ``probe_filter``, the hardest positive (most-similar same-label
    vector, or NULL if the anchor's label has no other member) and the
    top-``k`` hardest negatives (most-similar DIFFERENT-label vectors),
    with the triplet margin.

    Anchors whose label has no second member still emit their negatives —
    a LEFT join against the positives, so a singleton-label anchor is
    never silently erased from the mining output (its pos_id/pos_score/
    margin are NULL).  The asymmetric edge is the converse: by default
    the output is DRIVEN BY the negatives, so an anchor with zero
    different-label candidates (every other vector shares its label —
    only possible in a single-label corpus slice) emits no rows at all.
    That is the intended semantics for a triplet miner (no negative ⇒ no
    triplet), and the registry oracle ranks from the same neg side.
    Callers who need every probed anchor surfaced pass
    ``require_all_anchors=True``: the output is then driven by the
    anchor set (a LEFT join from probes to negatives), so a
    zero-negative anchor emits one row with NULL neg_id/neg_score/
    neg_rank/margin instead of vanishing — the anchor relation is
    already broadcast-sized, so the extra join costs one more
    anchor-sized broadcast, nothing corpus-shaped.

    Scale shape: the anchor set broadcasts (bounded by the probe
    predicate), the corpus is scanned once and never shuffled until the
    per-anchor top-k windows; positives and negatives rank in separate
    windows over the same scored scan, and the final join is
    anchor-sized.  Scores round before ranking so ranks are total and
    engine-independent; the |anchors| x |corpus| scoring is
    cosine_probe_scores.

    NULL-embedding rows are dropped on BOTH sides before the cross join
    (same guard as kcenter_select): a crawl-edge row with no vector can
    be neither an anchor nor a candidate, and dropping it up front keeps
    the pair relation dense instead of carrying NULL scores through the
    rank windows."""
    df = df.where(F.col("embedding").isNotNull())
    probes = df.where(probe_filter).select(
        F.col("vec_id").alias("p_id"),
        F.col("embedding").alias("p_emb"),
        F.col("label").alias("p_label"),
    )
    # persist_once: the positive and negative rank branches both read the
    # scored relation, and without the cache each branch re-runs the full
    # |anchors| x |corpus| Arrow-dot scoring pass (two identical
    # ArrowEvalPython subtrees).  The cached rows
    # are slim — ids, labels, one double; no vectors — but the cache is
    # O(|anchors| x |corpus|) ROWS (~40 B each): fine for the
    # tens-of-anchors probe sets this miner documents (~N-scale, the
    # cost of one extra corpus column), and MEMORY_AND_DISK spills
    # rather than OOMs past that, but a caller mining thousands of
    # anchors over a billion-vector corpus should expect a multi-TB
    # spill footprint and prefer recompute (drop the persist) — the
    # anchor broadcast itself caps |anchors| well before that.
    scored = persist_once(
        cosine_probe_scores(
            df.select("vec_id", "label", "embedding"),
            probes,
            ["p_id", "p_label", "vec_id", "label"],
        )
    )
    w = Window.partitionBy("p_id").orderBy(F.desc("score"), F.col("vec_id"))
    pos = (
        scored.where(F.col("label") == F.col("p_label"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "p_id",
            F.col("vec_id").alias("pos_id"),
            F.col("score").alias("pos_score"),
        )
    )
    neg = (
        scored.where(F.col("label") != F.col("p_label"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= k)
        .select(
            "p_id",
            F.col("p_label").alias("anchor_label"),
            F.col("vec_id").alias("neg_id"),
            F.col("score").alias("neg_score"),
            F.col("r").alias("neg_rank"),
        )
    )
    if require_all_anchors:
        anchors = probes.select(
            "p_id", F.col("p_label").alias("anchor_label")
        )
        base = anchors.join(
            F.broadcast(neg.drop("anchor_label")), "p_id", "left"
        )
    else:
        base = neg
    return base.join(pos, "p_id", "left").select(
        "p_id",
        "anchor_label",
        "pos_id",
        "pos_score",
        "neg_id",
        "neg_score",
        "neg_rank",
        F.round(F.col("pos_score") - F.col("neg_score"), SCORE_DIGITS).alias(
            "margin"
        ),
    )


def _band_rows(
    df: DataFrame, cols: list, band_bits: int, sig: str = "_sig"
) -> DataFrame:
    """``cols`` plus one (``_band``, ``sig``) row per sign-LSH band of
    ``embedding``.

    Filter ``df`` by id BEFORE calling this: filtering a column computed
    by a UDF makes Catalyst push the filter below the projection and
    DUPLICATE the UDF (guide §4.4 — four _bands_udf ArrowEvalPython
    nodes in an LSH probe, two per side); filtering first leaves nothing
    to push, so the kernel runs once per side."""
    return df.withColumn(
        "_bands", sign_lsh_bands(F.col("embedding"), band_bits=band_bits)
    ).select(*cols, F.posexplode("_bands").alias("_band", sig))


def sign_lsh_pairs(df: DataFrame, band_bits: int) -> DataFrame:
    """Ids-only candidate pairs ``(vec_a, vec_b)``, ``vec_a < vec_b``,
    of ``(vec_id, embedding)`` rows sharing at least one sign-LSH band:
    the self-join is keyed on (band, signature), so only vectors in the
    same bucket ever meet — |bucket|^2 per bucket, never corpus^2 (size
    ``band_bits`` with band_bits_for).  A pair colliding in several bands
    is emitted once, so cosine_pair_scores verifies it once."""
    # Not _band_rows: exploding a named band column there lets Catalyst
    # infer a Filter (size > 0, not null) on it, one more plan node than
    # exploding the kernel's output directly.
    expl = df.select(
        "vec_id",
        F.posexplode(
            sign_lsh_bands(F.col("embedding"), band_bits=band_bits)
        ).alias("band", "sig"),
    )
    # Persist the slim (id, band, sig) table: both self-join sides read
    # it, and without the cache Spark runs the Arrow signature kernel
    # twice.  ~24 bytes/row x bands — safe at any corpus size (same
    # rationale as dedup.minhash_lsh_pairs).  Spread it first: AQE
    # broadcasts the band self-join at fixture scale, so its probe side
    # inherits this relation's layout, which on a single-row-group file
    # is ONE partition, and the bucket-pair expansion would run on one
    # core.  The dropDuplicates exchange below does not spread the
    # verify either: AQE sizes it by its bytes (16 per pair) and at
    # sf0.1 coalesces it to one task (ROADMAP direction 1).
    expl = persist_once(spread(expl, ("vec_id", "band")))
    a, b = expl.alias("a"), expl.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


def cosine_topk_lsh(
    df: DataFrame, query_vec_id: int, k: int = 5, band_bits: int = 4
) -> DataFrame:
    """ANN via banded sign-LSH probe: candidates are vectors sharing at
    least one band with the query; exact cosine re-ranks the candidates.
    The probe is a broadcast equi-join on (band index, band signature) —
    at 100 TB the exploded band table is the shuffle/partition key, so
    the probe touches |candidates|, never the corpus."""
    q = _band_rows(
        df.where(F.col("vec_id") == query_vec_id),
        [F.col("embedding").alias("_q_emb")],
        band_bits,
    )
    return _probe_rerank(df, q, query_vec_id, k, band_bits)


def _probe_rerank(
    df: DataFrame, q: DataFrame, query_vec_id: int, k: int, band_bits: int
) -> DataFrame:
    """Join the corpus's band rows to the query's probe set ``q``
    (``_q_emb``, ``_band``, ``_sig``) and re-rank the distinct hits."""
    cand = _band_rows(
        df.where(F.col("vec_id") != query_vec_id),
        ["vec_id", "embedding"],
        band_bits,
    )
    return rerank_topk(
        cand.join(F.broadcast(q), ["_band", "_sig"]).dropDuplicates(["vec_id"]),
        k,
    )


def cosine_topk_lsh_multiprobe(
    df: DataFrame, query_vec_id: int, k: int = 5
) -> DataFrame:
    """Multi-probe banded sign-LSH over 4-bit bands: besides the query's
    own band signatures, probe every signature at Hamming distance 1 (one
    flipped bit per band).  A sign bit flips exactly when the projection sits
    near the hyperplane, so the 1-flip neighborhood recovers most
    near-misses — recall comparable to doubling bands, at probe cost
    bands*(1+4) instead of double the index size.  The probe set
    explodes QUERY-side only; the corpus index stays one row per (vector,
    band), so at 100 TB this is still an index probe, not a scan."""
    q = (
        _band_rows(
            df.where(F.col("vec_id") == query_vec_id),
            [F.col("embedding").alias("_q_emb")],
            _MULTIPROBE_BITS,
            "_sig0",
        )
        .select(
            "_q_emb",
            "_band",
            F.explode(
                F.array(
                    F.col("_sig0"),
                    *[
                        F.col("_sig0").bitwiseXOR(F.lit(1 << j)).cast("bigint")
                        for j in range(_MULTIPROBE_BITS)
                    ],
                )
            ).alias("_sig"),
        )
        .dropDuplicates(["_band", "_sig"])
    )
    return _probe_rerank(df, q, query_vec_id, k, _MULTIPROBE_BITS)


def stride_codebook(df: DataFrame) -> np.ndarray:
    """The demo IVF codebook the DuckDB oracle can replay: the non-NULL
    embeddings of every 25th vector id, CAPPED at 256 rows by the closed
    predicate ``vec_id < 25 * 256`` (unlike LIMIT, which is order-free),
    which reaches the parquet scan.  Rows come in DESCENDING ``vec_id``
    order: cosine_topk_ivf gives ties to the lower codebook index, which
    is then the larger id, the stride oracle's ``cent_id DESC`` rule."""
    rows = (
        df.where(
            F.col("embedding").isNotNull()
            & (F.col("vec_id") % _IVF_STRIDE == 0)
            & (F.col("vec_id") < _IVF_STRIDE * _IVF_MAX_CENTS)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: -r.vec_id)
    return np.array([r.embedding for r in rows], dtype=np.float64)


def cosine_topk_ivf(
    df: DataFrame, cents: np.ndarray, query_vec_id: int, k: int, nprobe: int
) -> DataFrame:
    """ANN via IVF probe over the (n_cells, dim) codebook ``cents``: the
    query ranks the codebook on the driver, every vector is assigned its
    max-cosine cell (kmeans.assign_ids), and only the vectors in the
    ``nprobe`` best cells are scored exactly.  Ties in both the probe and
    the assignment go to the lower codebook index, so the caller picks
    the tie rule by the order of ``cents``.  One narrow Arrow pass and a
    TakeOrderedAndProject: the corpus is never shuffled, and at 100 TB
    the assignment's cell is the partition key, so a probe scans
    nprobe/n_cells of the corpus."""
    df = df.where(F.col("embedding").isNotNull())
    q = df.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("_q_emb")
    )
    qv = np.asarray(q.head()[0], dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1), 1e-300)[:, None]
    # a zero query divides by 1, as assign_ids does: every cell scores 0
    sims = cn @ (qv / (np.linalg.norm(qv) or 1.0))
    probe = [int(i) for i in np.argsort(-sims, kind="stable")[:nprobe]]
    cand = assign_ids(df, cents).where(
        F.col("cent_id").isin(probe) & (F.col("vec_id") != query_vec_id)
    )
    return rerank_topk(cand.crossJoin(F.broadcast(q)), k)


def kcenter_select(
    df: DataFrame, k: int
) -> list[tuple[int, int, float | None]]:
    """Greedy k-center (farthest-point) coreset selection of
    ``(vec_id, embedding)`` rows under cosine similarity: seed with the
    smallest id, then repeatedly add the vector whose maximum cosine to
    the already-chosen set is smallest (i.e. the point farthest from every
    pick so far).  The classic diversity /
    coreset draw (Gonzalez 1985; used for training-data diversity
    selection) with the 2-approximation guarantee for the k-center
    objective.

    Returns ``[(step, id, far_cos)]`` — ``far_cos`` is the selected
    point's max-cosine-to-prior-picks rounded to ``SCORE_DIGITS`` (None for
    the seed).  Monotone non-decreasing in ``step`` by construction.

    Determinism: cosines are sequential-fold doubles (identical fold
    order in the DuckDB oracle), rounded BEFORE the argmin so rank order
    is engine-independent; ties break on the smallest id.

    Scale shape: the chosen set is a model parameter (k vectors — a few
    KB), carried as two single-node array LITERALS into k-1 narrow
    passes; each pass is scan -> array_contains exclusion -> max-cos
    fold -> TakeOrderedAndProject, so exactly ONE slim row reaches the
    driver per iteration, the vector column never shuffles, and no step
    spawns an extra job (see _kcenter_step for the measured alternatives).
    The expression tree is O(1) in the step number — the old form grew an
    `isin` list plus k*dim float literal NODES per step, so Catalyst
    analysis cost climbed with every pick
    (tests/test_similarity.py::test_kcenter_step_plan_size_constant pins
    the fix).  k sequential passes over the corpus is the textbook
    distributed FPS trade (same altitude as the Lloyd loop in
    operators/kmeans.py); for k beyond tens, run it over cluster
    centroids (q_sample_cluster_cap's cells) instead of raw rows.

    NULL-embedding AND zero-norm rows are dropped up front: either kind
    yields a NULL max-cos (cosine() is try_divide-guarded, so a zero
    vector divides to NULL instead of ANSI-crashing) which would sort
    NULLS FIRST and win every argmin.  If the table holds fewer than
    ``k`` usable rows the selection stops early and returns every row,
    in pick order — an empty table raises ValueError.
    """
    src = df.where(
        F.col("embedding").isNotNull() & (norm_sq(F.col("embedding")) > 0)
    )
    seed_rows = (
        src.select("vec_id", "embedding")
        .orderBy(F.col("vec_id").asc())
        .limit(1)
        .collect()
    )
    if not seed_rows:
        raise ValueError("kcenter_select: no rows with a non-null vector")
    seed = seed_rows[0]
    chosen: list[tuple[int, list[float]]] = [
        (seed[0], [float(x) for x in seed[1]])
    ]
    out: list[tuple[int, int, float | None]] = [(0, seed[0], None)]
    for step in range(1, k):
        pick_rows = (
            _kcenter_step(src, chosen)
            .orderBy(F.col("_mc").asc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not pick_rows:  # k exceeds the usable row count
            break
        pick = pick_rows[0]
        chosen.append((pick[0], [float(x) for x in pick[1]]))
        out.append((step, pick[0], float(pick[2])))
    return out


def _kcenter_step(
    src: DataFrame, chosen: list[tuple[int, list[float]]]
) -> DataFrame:
    """One FPS pass: candidates (chosen ids anti-joined away) scored with
    max cosine to the chosen set.

    The chosen set enters as two SINGLE-NODE array literals (Spark 4's
    ``F.lit`` on a python list builds one Literal holding ArrayData):
    the chosen-id array (exclusion via array_contains, replacing a
    per-step-growing `isin` expression list) and the chosen-vector
    array-of-arrays (the scoring fold's closed set, replacing k*dim
    inline float literals).  The expression TREE is therefore O(1) in
    len(chosen) — Catalyst analysis/codegen cost stays flat as the loop
    advances — while the plan *string* still prints the literal's data
    (that's display, not work).  Two rejected alternatives, both
    measured on the 10x smoke (k=4, 20k vectors): per-step broadcast
    relations (an anti-join for ids + a 1-row scoring state) run 3x
    slower (8.7 s vs 2.9 s) because every per-step broadcast exchange
    is its own job, and a fused single-relation variant still pays
    ~1.5 s of per-step broadcast overhead; literals ride inside the one
    existing scan job.  The fold itself is unchanged — transform in
    pick order, sequential-fold cosine, round — so picks are
    bit-identical to the original formulation and the DuckDB oracle."""
    ids_lit = F.lit([int(cid) for cid, _ in chosen]).cast("array<bigint>")
    vecs_lit = F.lit([[float(x) for x in vec] for _, vec in chosen]).cast(
        "array<array<double>>"
    )
    max_cos = F.array_max(
        F.transform(vecs_lit, lambda c: cosine(F.col("embedding"), c))
    )
    return (
        src.where(~F.array_contains(ids_lit, F.col("vec_id").cast("bigint")))
        .select(
            F.col("vec_id"),
            F.col("embedding"),
            F.round(max_cos, SCORE_DIGITS).alias("_mc"),
        )
    )
