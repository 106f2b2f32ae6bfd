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
    # filter pushdown otherwise duplicates the evaluation — the r14 plan
    # dumps showed two ArrowEvalPython nodes per verify stage in
    # q_dedup_embedding and q_dedup_semantic_ivf, i.e. the expensive dot
    # ran twice per candidate pair.  No caller relies on pushing a filter
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


def cosine_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k against one stored vector.

    The score is rounded before ordering so rank order is identical across
    engines (raw doubles are already bit-equal here, but ordering on the
    rounded value makes ties explicit and keyed on id).
    """
    q = df.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_q_emb")
    )
    cand = spread(df.where(F.col(id_col) != query_vec_id), id_col)
    score = F.round(cosine(F.col(vec_col), F.col("_q_emb")), round_to)
    return (
        cand.crossJoin(F.broadcast(q))
        .select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def random_planes(
    dim: int, n_planes: int, seed: int = 42, nnz: int = 8
) -> list[list[tuple[int, int]]]:
    """Seeded sparse random-projection hyperplanes.

    Each plane is `nnz` distinct dimensions with ±1 coefficients
    (Achlioptas-style sparse projection): cheap to evaluate, mixes many
    feature dimensions so the bit does not correlate with the scale of any
    single raw feature (the flaw of axis-aligned planes), and fully
    deterministic from (dim, n_planes, seed, nnz).

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
        while len(picked) < min(nnz, dim):
            block = hashlib.sha256(f"planes:{seed}:{i}:{ctr}".encode()).digest()
            ctr += 1
            # 10 (dim, sign) draws per block: 3 bytes each -> modulo bias
            # < 2^-16 for any dim <= 4096, irrelevant for bucketing.
            for off in range(0, 30, 3):
                d = int.from_bytes(block[off : off + 2], "big") % dim
                if d in seen:
                    continue
                seen.add(d)
                picked.append((d, 1 if block[off + 2] & 1 else -1))
                if len(picked) == min(nnz, dim):
                    break
        planes.append(picked)
    return planes


def band_bits_for(n_rows: int, target_bucket: int = 64) -> int:
    """Size bits-per-band to the corpus: expected band-bucket size is
    n/2^bits, and per-bucket pair generation is |bucket|^2, so bits must
    GROW with the corpus — log2(n / target_bucket), clamped to [4, 30].

    At n=500 (bench fixture) this is 4 bits (16 buckets); at n=10^9 it is
    24 bits (~60-row buckets), keeping per-bucket self-join cost flat
    instead of quadratic in N.  A fixed 4-bit band at 10^9 vectors would
    make every bucket N/16 wide — all-pairs with a constant factor.
    """
    if n_rows <= 0:
        return 4
    return max(4, min(30, int(math.ceil(math.log2(max(n_rows / target_bucket, 2.0))))))


def plane_proj_sql(v: str, plane: list[tuple[int, int]]) -> str:
    """DuckDB expression replaying the Arrow kernel's projection
    addition-for-addition (0.0-seeded left fold in plane-entry order)."""
    parts = []
    for d, s in plane:
        parts.append(
            f"{'+' if s > 0 else '-'} CAST({v}[{d + 1}] AS DOUBLE)"
        )
    return "(0.0 " + " ".join(parts) + ")"


def _band_sigs_kernel(
    planes: list[list[tuple[int, int]]], bands: int, band_bits: int
):
    """Numpy kernel: (n, dim) float64 matrix -> (n, bands) int64 sigs.

    Per plane, the projection is a 0.0-seeded left fold over the plane's
    entries — `acc = acc ± V[:, d]` — vectorized ACROSS rows but strictly
    sequential WITHIN a row, which is exactly the order plane_proj_sql
    states, so the oracle's buckets match bit-for-bit (float32 -> float64
    casts are exact; IEEE `acc + (-x) == acc - x`).
    """

    def kernel(V: np.ndarray) -> np.ndarray:
        n = V.shape[0]
        sigs = np.zeros((n, bands), dtype=np.int64)
        for b in range(bands):
            for j in range(band_bits):
                acc = np.zeros(n, dtype=np.float64)
                for d, s in planes[b * band_bits + j]:
                    acc = acc + V[:, d] if s > 0 else acc - V[:, d]
                sigs[:, b] |= (acc >= 0.0).astype(np.int64) << j
        return sigs

    return kernel


def sign_lsh_bands(
    vec: Column,
    bands: int = 4,
    band_bits: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> Column:
    """Banded sign-LSH: array of per-band signatures, band b built from
    seeded random-projection planes [b*band_bits, (b+1)*band_bits).  Two
    vectors are join candidates when ANY band matches — the OR-amplified
    construction (same as MinHash banding), which keeps recall usable
    where a single wide signature (2^16 buckets) would put every vector
    in its own bucket and return nothing.

    Implemented as an Arrow-batched pandas_udf, not a Catalyst expression:
    bands*band_bits planes × nnz element_at terms unroll into an
    expression tree that exceeds janino's 64 KB generated-method limit, so
    whole-stage codegen FAILS and Spark interprets the tree per row —
    measured ~10× slower at 16 planes than the vectorized numpy fold.
    The kernel is a handful of vectorized adds per plane, plays the same
    IEEE operations in the same order as the DuckDB oracle
    (sign_lsh_band_sql), and Arrow moves the float32 arrays zero-copy.

    Corpus sizing: pass band_bits=band_bits_for(n) so bucket width tracks
    the corpus instead of staying fixed at bench scale.  seed/dim make the
    planes deterministic for the DuckDB oracle (sign_lsh_band_sql).

    CALLER CONTRACT: the returned expression is marked
    ``asNondeterministic()`` (despite being a pure function) to stop
    Catalyst duplicating the kernel under pushed-down filters — see the
    inline note.  Consequences for callers: Spark forbids nondeterministic
    expressions in join conditions and some sort/generator contexts
    (AnalysisException), and a selective filter written ABOVE this
    projection will NOT push below it — apply id/metadata filters BEFORE
    projecting the bands (every in-repo caller does).
    """
    planes = random_planes(dim, bands * band_bits, seed)
    kernel = _band_sigs_kernel(planes, bands, band_bits)

    @F.pandas_udf("array<bigint>")
    def _bands_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(emb.to_list()).astype(np.float64)
        return pd.Series(list(kernel(V)))

    # Non-deterministic mark (guide §4.4, same rationale as dot_arrow):
    # every caller explodes the band array, and the Generate's implicit
    # `size(bands) > 0` precondition otherwise gets pushed below the UDF
    # projection, duplicating the kernel — the r14 plan dumps showed two
    # ArrowEvalPython nodes per side in the LSH probes and in the banded
    # pair builders' cache-build plans.  No caller pushes a real filter
    # through this projection (id filters are applied before it), and the
    # signature is a pure function of the vector, so results are
    # unchanged — each side now runs the kernel exactly once.
    return _bands_udf.asNondeterministic()(vec)


def sign_lsh_signature(
    vec: Column, bits: int = 16, dim: int = 64, seed: int = 42
) -> Column:
    """Single wide sign-LSH signature (bits packed little-endian) — one
    band of `bits` planes; see sign_lsh_bands for the execution story."""
    return F.element_at(
        sign_lsh_bands(vec, bands=1, band_bits=bits, dim=dim, seed=seed), 1
    )


def sign_lsh_band_sql(
    v: str, band: int, band_bits: int = 4, dim: int = 64, seed: int = 42, bands: int = 4
) -> str:
    """DuckDB SQL for one band's signature, regenerating the SAME seeded
    planes as sign_lsh_bands — single source of truth for both engines."""
    planes = random_planes(dim, bands * band_bits, seed)
    terms = []
    for j in range(band_bits):
        p = planes[band * band_bits + j]
        terms.append(
            f"CASE WHEN {plane_proj_sql(v, p)} >= 0 THEN {1 << j} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def drop_hot_buckets(
    expl: DataFrame,
    max_bucket: int,
    band_col: str = "band",
    sig_col: str = "sig",
) -> DataFrame:
    """Remove rows belonging to LSH buckets wider than `max_bucket`.

    Per-bucket pair generation is |bucket|^2: one boilerplate-heavy
    bucket of 10^6 rows is 10^12 pairs — a job-killer no matter how well
    the rest of the corpus behaves.  Production LSH dedup drops (or
    routes to exact-hash dedup) buckets past a width cap: such buckets
    are near-identical template content whose duplicates exact dedup
    already catches at linear cost.

    Count window over the bucket key (not agg+join): the pair self-join
    partitions on the SAME (band, sig) key, so the window's Exchange is
    reused by both join sides — measured 0.46 s -> 0.29 s on the sf0.1
    pair-generation path, same answer (the identical reasoning as
    drop_hot_cells).  The wide rows never reach the self-join."""
    w = Window.partitionBy(band_col, sig_col)
    return (
        expl.withColumn("_bw", F.count(F.lit(1)).over(w))
        .where(F.col("_bw") <= max_bucket)
        .drop("_bw")
    )


def drop_hot_cells(
    assigned: DataFrame,
    max_cell: int,
    cell_col: str = "cent_id",
) -> DataFrame:
    """Remove rows belonging to IVF cells wider than `max_cell`.

    The cluster-scoped (SemDeDup-style) candidate structure self-joins
    within a cell, so pair count is |cell|^2 — the same quadratic blowup
    as an LSH hot bucket, with the same pathological trigger: a
    duplicate-heavy crawl whose vectors all land in one centroid.  Same
    doctrine as drop_hot_buckets: cells past the cap are near-identical
    template content whose duplicates exact-hash dedup already catches
    at linear cost, so they're dropped from the quadratic path rather
    than re-training with larger k mid-job.

    Unlike LSH bucket keys (an unbounded signature space, where
    drop_hot_buckets must use a count window), the cell key space is
    CONSTANT-SIZE by construction — at most k rows, the trained codebook
    width — so the keep-list is aggregated (map-side partial combine
    folds each partition to <= k rows) and broadcast: `assigned` itself
    is never shuffled for the cap, and the downstream pair self-join
    keeps exactly the exchange layout it had without a cap.  This is the
    same constant-size-broadcast class as the codebook itself (the
    hinted-only broadcast sweep in tests/test_plans.py admits it).

    Rows with a NULL cell id are dropped (a null key never matches the
    semi-join) — correct here, because an unassigned vector has no cell
    to pair within and must not reach the quadratic path; in-repo
    assignments (kmeans.assign_ids) never produce null cells."""
    keep = (
        assigned.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("_cw"))
        .where(F.col("_cw") <= max_cell)
        .select(cell_col)
    )
    return assigned.join(F.broadcast(keep), cell_col, "left_semi")


def mine_hard_negatives(
    df: DataFrame,
    probe_filter: Column,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
    require_all_anchors: bool = False,
) -> DataFrame:
    """Hard-negative triplet mining (Schroff et al. 2015 FaceNet, public):
    for each anchor selected by ``probe_filter``, the hardest positive
    (most-similar same-label vector, or NULL if the anchor's label has no
    other member) and the top-``k`` hardest negatives (most-similar
    DIFFERENT-label vectors), with the triplet margin.

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
    engine-independent.

    Scoring runs |anchors| x |corpus| pairs, so it uses the same split
    the embedding-dedup verify stage uses: norms are HOF-folded once per
    VECTOR (each side, before the cross join), and the per-pair dot is
    the Arrow kernel (dot_arrow — bit-identical replay of the fold, see
    its docstring), not the interpreted F.aggregate fold per pair.
    Measured on the 10x smoke (20 anchors x 20k vectors): 7.8 s -> ~2 s,
    same hashes.

    NULL-embedding rows are dropped on BOTH sides before the cross join
    (same guard as kcenter_select): a crawl-edge row with no vector can
    be neither an anchor nor a candidate, and dropping it up front keeps
    the pair relation dense instead of carrying NULL scores through the
    rank windows."""
    df = df.where(F.col(vec_col).isNotNull())
    probes = df.where(probe_filter).select(
        F.col(id_col).alias("p_id"),
        F.col(vec_col).alias("p_emb"),
        F.col(label_col).alias("p_label"),
        norm_sq(F.col(vec_col)).alias("_p_n2"),
    )
    # persist_once: the positive and negative rank branches both read the
    # scored relation, and without the cache each branch re-runs the full
    # |anchors| x |corpus| Arrow-dot scoring pass (two identical
    # ArrowEvalPython subtrees in the r14 plan dump).  The cached rows
    # are slim — ids, labels, one double; no vectors — but the cache is
    # O(|anchors| x |corpus|) ROWS (~40 B each): fine for the
    # tens-of-anchors probe sets this miner documents (~N-scale, the
    # cost of one extra corpus column), and MEMORY_AND_DISK spills
    # rather than OOMs past that, but a caller mining thousands of
    # anchors over a billion-vector corpus should expect a multi-TB
    # spill footprint and prefer recompute (drop the persist) — the
    # anchor broadcast itself caps |anchors| well before that.
    from basin_cli_spark.session import persist_once

    scored = persist_once(
        df.select(
            id_col, label_col, vec_col,
            norm_sq(F.col(vec_col)).alias("_n2"),
        )
        .crossJoin(F.broadcast(probes))
        .where(F.col(id_col) != F.col("p_id"))
        .select(
            "p_id",
            "p_label",
            id_col,
            label_col,
            F.round(
                F.try_divide(
                    dot_arrow(F.col(vec_col), F.col("p_emb")),
                    F.sqrt(F.col("_n2") * F.col("_p_n2")),
                ),
                round_to,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("p_id").orderBy(F.desc("score"), F.col(id_col))
    pos = (
        scored.where(F.col(label_col) == F.col("p_label"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "p_id",
            F.col(id_col).alias("pos_id"),
            F.col("score").alias("pos_score"),
        )
    )
    neg = (
        scored.where(F.col(label_col) != F.col("p_label"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= k)
        .select(
            "p_id",
            F.col("p_label").alias("anchor_label"),
            F.col(id_col).alias("neg_id"),
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
        F.round(F.col("pos_score") - F.col("neg_score"), round_to).alias(
            "margin"
        ),
    )


def cosine_topk_lsh(
    df: DataFrame,
    query_vec_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    band_bits: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """ANN via banded sign-LSH probe: candidates are vectors sharing at
    least one band with the query; exact cosine re-ranks the candidates.
    The probe is a broadcast equi-join on (band index, band signature) —
    at 100 TB the exploded band table is the shuffle/partition key, so
    the probe touches |candidates|, never the corpus.

    The id filters run BEFORE the band projection on each side: filtering
    a column computed by a UDF makes Catalyst push the filter below the
    projection and DUPLICATE the UDF (guide §4.4 — the r14 plan dump
    showed four _bands_udf ArrowEvalPython nodes here, two per side);
    filtering first leaves nothing to push, one kernel pass per side."""
    q = df.where(F.col(id_col) == query_vec_id).withColumn(
        "_bands", sign_lsh_bands(F.col(vec_col), bands, band_bits)
    ).select(
        F.col(vec_col).alias("_q_emb"),
        F.posexplode("_bands").alias("_band", "_sig"),
    )
    cand = df.where(F.col(id_col) != query_vec_id).withColumn(
        "_bands", sign_lsh_bands(F.col(vec_col), bands, band_bits)
    ).select(
        id_col, vec_col, F.posexplode("_bands").alias("_band", "_sig")
    )
    score = F.round(cosine(F.col(vec_col), F.col("_q_emb")), round_to)
    return (
        cand.join(F.broadcast(q), ["_band", "_sig"])
        .dropDuplicates([id_col])
        .select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_lsh_multiprobe(
    df: DataFrame,
    query_vec_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    band_bits: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Multi-probe banded sign-LSH: besides the query's own band
    signatures, probe every signature at Hamming distance 1 (one flipped
    bit per band).  A sign bit flips exactly when the projection sits
    near the hyperplane, so the 1-flip neighborhood recovers most
    near-misses — recall comparable to doubling bands, at probe cost
    bands*(1+band_bits) instead of double the index size.  The probe set
    explodes QUERY-side only; the corpus index stays one row per (vector,
    band), so at 100 TB this is still an index probe, not a scan.

    As in cosine_topk_lsh, the id filters run BEFORE the band projection
    so the filter-pushdown UDF duplication (guide §4.4) cannot occur —
    one signature kernel pass per side instead of two."""
    q = (
        df.where(F.col(id_col) == query_vec_id)
        .withColumn(
            "_bands", sign_lsh_bands(F.col(vec_col), bands, band_bits)
        )
        .select(
            F.col(vec_col).alias("_q_emb"),
            F.posexplode("_bands").alias("_band", "_sig0"),
        )
        .select(
            "_q_emb",
            "_band",
            F.explode(
                F.array(
                    F.col("_sig0"),
                    *[
                        F.col("_sig0").bitwiseXOR(F.lit(1 << j)).cast("bigint")
                        for j in range(band_bits)
                    ],
                )
            ).alias("_sig"),
        )
        .dropDuplicates(["_band", "_sig"])
    )
    cand = df.where(F.col(id_col) != query_vec_id).withColumn(
        "_bands", sign_lsh_bands(F.col(vec_col), bands, band_bits)
    ).select(
        id_col, vec_col, F.posexplode("_bands").alias("_band", "_sig")
    )
    score = F.round(cosine(F.col(vec_col), F.col("_q_emb")), round_to)
    return (
        cand.join(F.broadcast(q), ["_band", "_sig"])
        .dropDuplicates([id_col])
        .select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_ivf(
    df: DataFrame,
    query_vec_id: int,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stride: int = 25,
    max_cents: int = 256,
    round_to: int = 6,
) -> DataFrame:
    """ANN via IVF probe: the query ranks the codebook, visits only its
    nprobe nearest inverted lists, and scores exactly inside them.  At
    100 TB the assignment's cent_id is the partition key, so a probe scans
    nprobe/|codebook| of the corpus.

    The demo codebook is a deterministic stride sample CAPPED at
    ``max_cents`` rows (``id % stride == 0 AND id < stride * max_cents``
    — a closed predicate both engines replay, unlike LIMIT, which is
    order-free), so the broadcast side is constant-size no matter how
    large the corpus grows.  Production routes to the trained frozen
    codebook (q_similarity_ann_ivf_trained), which is k-sized by
    construction."""
    df = df.where(F.col(vec_col).isNotNull())
    # persisted: the probe and the assignment broadcast both consume the
    # stride codebook, and the modulo predicate cannot push down, so each
    # consumer would otherwise re-read the full vector column to filter
    cents = persist_once(
        df.where(
            (F.col(id_col) % stride == 0)
            & (F.col(id_col) < stride * max_cents)
        ).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec")
        )
    )
    q = df.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_q_emb")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cent_id",
            F.struct(
                cosine(F.col("cvec"), F.col("_q_emb")).alias("sim"),
                F.col("cent_id").alias("cent_id"),
            ).alias("sc"),
        )
        .orderBy(F.col("sc").desc())
        .limit(nprobe)
        .select("cent_id")
    )
    # IVF build + probe in ONE shuffle: score every vector against the
    # broadcast codebook, keep the argmax centroid via max(struct) while
    # carrying the vector itself with first() — no join-back to recover the
    # embedding (the naive plan's sort-merge self-join is the thing that
    # doesn't survive a 100 TB corpus).  Exact re-scoring then touches only
    # the nprobe probed lists.  Assignment is corpus x codebook pairs, so
    # the cosine splits into per-side norm folds + the bit-identical Arrow
    # dot (the mine_hard_negatives doctrine), never the interpreted HOF
    # fold per pair.
    cents_n = cents.select(
        "cent_id", "cvec", norm_sq(F.col("cvec")).alias("_c_n2")
    )
    scored = (
        spread(df, id_col)
        .select(id_col, vec_col, norm_sq(F.col(vec_col)).alias("_v_n2"))
        .crossJoin(F.broadcast(cents_n))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.struct(
                F.try_divide(
                    dot_arrow(F.col(vec_col), F.col("cvec")),
                    F.sqrt(F.col("_v_n2") * F.col("_c_n2")),
                ).alias("sim"),
                F.col("cent_id").alias("cent_id"),
            ).alias("sc"),
        )
    )
    assign = scored.groupBy(id_col).agg(
        F.max("sc")["cent_id"].alias("cent_id"),
        F.first(vec_col).alias(vec_col),
    )
    cand = assign.join(F.broadcast(probe), "cent_id", "left_semi").where(
        F.col(id_col) != query_vec_id
    )
    score = F.round(cosine(F.col(vec_col), F.col("_q_emb")), round_to)
    return (
        cand.crossJoin(F.broadcast(q))
        .select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def kcenter_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> list[tuple[int, int, float | None]]:
    """Greedy k-center (farthest-point) coreset selection under cosine
    similarity: seed with the smallest id, then repeatedly add the vector
    whose maximum cosine to the already-chosen set is smallest (i.e. the
    point farthest from every pick so far).  The classic diversity /
    coreset draw (Gonzalez 1985; used for training-data diversity
    selection) with the 2-approximation guarantee for the k-center
    objective.

    Returns ``[(step, id, far_cos)]`` — ``far_cos`` is the selected
    point's max-cosine-to-prior-picks rounded to ``round_to`` (None for
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
        F.col(vec_col).isNotNull() & (norm_sq(F.col(vec_col)) > 0)
    )
    seed_rows = (
        src.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
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
            _kcenter_step(src, chosen, id_col, vec_col, round_to)
            .orderBy(F.col("_mc").asc(), F.col(id_col).asc())
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
    src: DataFrame,
    chosen: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    round_to: int,
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
        F.transform(vecs_lit, lambda c: cosine(F.col(vec_col), c))
    )
    return (
        src.where(~F.array_contains(ids_lit, F.col(id_col).cast("bigint")))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.round(max_cos, round_to).alias("_mc"),
        )
    )
