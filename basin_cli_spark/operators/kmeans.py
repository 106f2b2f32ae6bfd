"""Distributed Lloyd k-means for ANN codebooks (IVF lists, PQ subspaces).

The round-trip per Lloyd iteration is the textbook distributed form:

  map side   — one mapInPandas pass per partition: vectorized numpy argmin
               against the broadcast (closure-captured) centroid matrix,
               then k partial (count, sum-vector) rows per partition.
               This is the map-side combine: a partition contributes k
               rows regardless of its row count, so the driver collects
               O(partitions * k) tiny rows, never vectors.
  reduce side — the driver adds the partials and divides; the codebook is
               a model parameter of k*dim doubles (16 KB at k=16, d=64),
               so driver-side reduction is the right altitude — the same
               shape MLlib's KMeans and faiss's training loop use.

Init is deterministic and data-spread: the k rows with the smallest
xxhash64(id, seed) — a seeded uniform sample that any engine can replay,
with no RNG-library stream dependence.

Empty clusters keep their previous centroid (standard Lloyd fallback), so
k never shrinks and iteration distortion is monotone non-increasing —
tests/test_similarity_trained.py asserts both that and the trained-vs-stub
distortion win.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from basin_cli_spark.sources.tables import file_identity, memo_put


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str) -> np.ndarray:
    rows = df.select(vec_col).collect()
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def init_centroids(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Deterministic seeded-uniform init: k rows with the smallest
    xxhash64(id, seed).  TakeOrderedAndProject — only k rows reach the
    driver."""
    picked = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(k)
    )
    return _collect_matrix(picked, id_col, vec_col)


def _scorer(cents: np.ndarray):
    """``(cents_t, c2, cos)`` for the codebook ``cents``: its transpose,
    its squared row norms, and ``cos(V, dots)``, the cosine of each row
    of ``V`` to each centroid from ``dots = V @ cents_t``.  A zero-norm
    vector or centroid divides by 1, so it scores 0 and never NaN."""
    cents_t = cents.T.copy()
    c2 = (cents * cents).sum(axis=1)
    cnorm = np.sqrt(c2)
    cnorm[cnorm == 0.0] = 1.0  # cosine denominator only; c2 stays exact

    def cos(V: np.ndarray, dots: np.ndarray) -> np.ndarray:
        vn = np.sqrt((V * V).sum(axis=1))
        vn[vn == 0.0] = 1.0
        return dots / vn[:, None] / cnorm[None, :]

    return cents_t, c2, cos


def _partial_sums(vec_col: str, cents: np.ndarray, metric: str):
    """mapInPandas kernel: per-batch argmin/argmax assignment + per-cluster
    (count, sum) partials.  `metric` is 'l2' (PQ) or 'cos' (IVF lists)."""
    k, dim = cents.shape
    cents_t, c2, cos = _scorer(cents)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim), dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_list()).astype(np.float64)
            scores = V @ cents_t
            if metric == "cos":
                assign = np.argmax(cos(V, scores), axis=1)
            else:
                # argmin L2^2 == argmax (dot - ||c||^2/2)
                assign = np.argmax(scores - 0.5 * c2[None, :], axis=1)
            counts += np.bincount(assign, minlength=k)
            np.add.at(sums, assign, V)
        out = pd.DataFrame(
            {
                "cent": np.arange(k, dtype=np.int64),
                "n": counts,
                "s": list(sums),
            }
        )
        yield out[out["n"] > 0]

    return fn


def lloyd_step(
    df: DataFrame,
    cents: np.ndarray,
    vec_col: str = "embedding",
    metric: str = "cos",
) -> np.ndarray:
    """One Lloyd iteration: distributed partial sums, driver reduce.
    Empty clusters keep their previous centroid."""
    k, dim = cents.shape
    partials = df.select(vec_col).mapInPandas(
        _partial_sums(vec_col, cents, metric),
        schema="cent long, n long, s array<double>",
    ).collect()
    counts = np.zeros(k, dtype=np.int64)
    sums = np.zeros((k, dim), dtype=np.float64)
    for row in partials:
        counts[row.cent] += row.n
        sums[row.cent] += np.asarray(row.s, dtype=np.float64)
    new = cents.copy()
    nz = counts > 0
    new[nz] = sums[nz] / counts[nz, None]
    return new


def train_kmeans(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    metric: str = "cos",
    max_train_rows: int = 1_000_000,
) -> np.ndarray:
    """Lloyd-trained codebook: deterministic init + `iters` distributed
    iterations.  Returns the (k, dim) centroid matrix.

    Codebooks are statistics of the distribution, not of every row, so
    past `max_train_rows` the training set is a DETERMINISTIC uniform
    sample (xxhash64(id, seed) threshold — any engine replays it); this
    is how faiss/ScaNN-style indexes train at corpus scale: a bounded
    sample fits the iteration budget while assignment stays full-corpus.
    At the fixtures' sizes the sample is the whole table.
    """
    n = df.count()
    train = df
    if n > max_train_rows:
        # keep ~max_train_rows rows: xxhash64 is uniform over int64
        frac = max_train_rows / n
        cut = int((2**63 - 1) * frac)
        train = df.where(
            F.abs(F.xxhash64(F.col(id_col), F.lit(seed + 1))) <= cut
        )
    cents = init_centroids(train, k, id_col, vec_col, seed)
    for _ in range(iters):
        cents = lloyd_step(train, cents, vec_col, metric)
    return cents


def distortion(
    df: DataFrame, cents: np.ndarray, vec_col: str = "embedding",
    metric: str = "cos",
) -> float:
    """Mean quantization cost: 1 - cos(v, assigned) for 'cos', squared L2
    to the assigned centroid for 'l2'.  One mapInPandas pass, scalar out."""
    cents_t, c2, cos = _scorer(cents)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tot, n = 0.0, 0
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_list()).astype(np.float64)
            scores = V @ cents_t
            if metric == "cos":
                tot += (1.0 - cos(V, scores).max(axis=1)).sum()
            else:
                d2 = (V * V).sum(axis=1)[:, None] - 2 * scores + c2[None, :]
                tot += d2.min(axis=1).sum()
            n += len(V)
        yield pd.DataFrame({"tot": [tot], "n": [n]})

    parts = df.select(vec_col).mapInPandas(fn, schema="tot double, n long").collect()
    tot = sum(r.tot for r in parts)
    n = sum(r.n for r in parts)
    return tot / max(n, 1)


def assign_ids(df: DataFrame, cents: np.ndarray) -> DataFrame:
    """Attach ``cent_id``, the max-cosine centroid of ``embedding`` — the
    IVF list assignment.  Vectorized pandas_udf; at 100 TB this column is
    the partition key that makes a probe read nprobe/k of the corpus."""
    cents_t, _, cos = _scorer(cents)

    @F.pandas_udf("long")
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        V = np.stack(vs.to_list()).astype(np.float64)
        a = np.argmax(cos(V, V @ cents_t), axis=1)
        return pd.Series(a.astype(np.int64))

    return df.withColumn("cent_id", _assign(F.col("embedding")))


def pq_adc_distances(
    df: DataFrame, books: np.ndarray, query_vec_id: int
) -> DataFrame:
    """Product-quantization ADC: ``(vec_id, dist)`` for every vector but
    the query, ``dist`` unrounded.  ``books`` is an (m, k, sub_dim)
    array of per-subspace codebooks.  Each vector is encoded by argmin
    L2^2 per subspace (ties to the lower code) and costs m lookups in
    the query's m x k distance table, summed in subspace order.  One
    narrow Arrow pass: no shuffle and no join."""
    m, _, sub_dim = books.shape
    qv = np.asarray(
        df.where(F.col("vec_id") == query_vec_id).select("embedding").head()[0],
        dtype=np.float64,
    )
    # query-to-centroid table: dtab[mi][code] = ||q_sub - c||^2
    dtab = np.stack(
        [
            ((books[mi] - qv[mi * sub_dim : (mi + 1) * sub_dim][None, :]) ** 2).sum(
                axis=1
            )
            for mi in range(m)
        ]
    )

    @F.pandas_udf("double")
    def _adc(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="float64")
        V = np.stack(vs.to_list()).astype(np.float64)
        total = np.zeros(len(V))
        for mi in range(m):
            sub = V[:, mi * sub_dim : (mi + 1) * sub_dim]
            d2 = (
                (sub * sub).sum(axis=1)[:, None]
                - 2 * sub @ books[mi].T
                + (books[mi] * books[mi]).sum(axis=1)[None, :]
            )
            total += dtab[mi][np.argmin(d2, axis=1)]
        return pd.Series(total)

    return df.where(F.col("vec_id") != query_vec_id).select(
        "vec_id", _adc(F.col("embedding")).alias("dist")
    )


# Trained codebooks follow the faiss-style index lifecycle: TRAIN once per
# corpus (scripts/gen_codebooks.py -> the Lloyd iterations above), SAVE
# as a committed artifact, LOAD at query time — serving never retrains.
# Freezing makes the probe path fully deterministic, so the DuckDB oracle
# can replay assignment + probe from the same literal centroid arrays;
# tests/test_similarity_trained.py pins that retraining reproduces the
# artifact, keeping the training path wired to what serving loads.
CODEBOOKS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures", "codebooks.json",
)
# The artifact is keyed on this integer corpus fingerprint of the
# embeddings table, which both engines compute identically, so one file
# serves every fixture scale and a foreign corpus fails loudly.
CORPUS_KEY_SQL = "CAST(SUM(vec_id * label) AS BIGINT)"
# q_dedup_semantic_ivf drops IVF cells wider than MAX_CELL rows, so a
# corpus above 16 x MAX_CELL vectors trains k ~ sqrt(n) cells instead of 16.
MAX_CELL = 4096


def corpus_key(e: DataFrame) -> int:
    """CORPUS_KEY_SQL over the embeddings table ``e``."""
    return e.selectExpr(CORPUS_KEY_SQL).head()[0]


_KEYS: dict[tuple, int] = {}


def _cached_corpus_key(e: DataFrame) -> int:
    """corpus_key(e), run once per plan of ``e`` and version of its input
    files: the memo key is the plan's semanticHash() plus the
    ``file_identity`` of each input file, so a rewritten file recomputes
    it.  A frame without input files, or with one that is not local, is
    not memoised."""
    ids = [file_identity(f) for f in e.inputFiles()]
    if not ids or None in ids:
        return corpus_key(e)
    key = (e.semanticHash(), tuple(ids))
    try:
        return _KEYS[key]
    except KeyError:
        value = corpus_key(e)
        memo_put(_KEYS, key, value)
        return value


def codebook_artifact() -> dict:
    """The frozen artifact: corpus key -> ``ivf``/``pq`` centroids and
    the parameters they were trained with."""
    with open(CODEBOOKS_PATH) as f:
        return json.load(f)


def save_codebook_artifact(art: dict) -> None:
    """Write ``art`` (codebook_artifact's form) as the frozen artifact."""
    with open(CODEBOOKS_PATH, "w") as f:
        json.dump(art, f)


_FROZEN: dict[tuple[str, int], np.ndarray] = {}


def frozen_codebook(e: DataFrame, kind: str) -> np.ndarray:
    """The frozen codebook of the embeddings table ``e``, in artifact
    order: ``kind`` "ivf" is the (k, dim) IVF list codebook, "pq" the
    (m, k, sub_dim) PQ subspace codebooks.  Loaded once per process, and
    a warm call runs no Spark job."""
    key = (kind, _cached_corpus_key(e))
    if key not in _FROZEN:
        _FROZEN[key] = np.asarray(
            codebook_artifact()[str(key[1])][kind], dtype=np.float64
        )
    return _FROZEN[key]


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace Lloyd codebooks for product quantization: returns an
    (m, k, sub_dim) array.  Each subspace trains on the corresponding
    slice; all m trainings share each data pass? — no: subspace slices are
    independent slices of the SAME rows, so one slice projection per
    subspace is a narrow select and the m trainings reuse Spark's scan
    cache; at 16 KB per codebook the driver loop is the right altitude.
    """
    books = []
    for mi in range(m):
        sub = df.select(
            F.col(id_col),
            F.slice(
                F.transform(vec_col, lambda x: x.cast("double")),
                mi * sub_dim + 1,
                sub_dim,
            ).alias("_sub"),
        )
        books.append(
            train_kmeans(
                sub, k=k, iters=iters, id_col=id_col, vec_col="_sub",
                seed=seed + mi, metric="l2",
            )
        )
    return np.stack(books)
