"""Deduplication operators for large-scale training-data pipelines.

All variants are pure Catalyst expressions (no Python UDFs in the hot
path), so they keep whole-stage codegen and scale to 100 TB:

* exact:   one hash-groupBy — shuffle keyed on the content hash.
* minhash: shingle -> per-seed min-hash signature -> banded LSH
           bucket-join.  Only docs sharing a band collide, so the
           candidate-pair join is |bucket|^2 per bucket instead of |docs|^2.
* simhash: 16-bit sign-of-weighted-bits fingerprint; near-dups share the
           exact fingerprint (bucket count stays bounded).
* n-gram Jaccard: exact pairwise verification over a candidate prefix (at
  scale this runs AFTER LSH pruning, never all-pairs).

Determinism notes for the DuckDB oracle: min-hashes compare md5 hex strings
lexicographically (fixed-length lowercase hex == numeric order on the
128-bit value) so no hex->int conversion is needed in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from basin_cli_spark.operators.layout import spread
from basin_cli_spark.session import persist_once

# MinHash: 8 seeded hashes in 4 bands of 2 (collision prob ~ J^2 per band).
_N_HASHES = 8
_BAND_SIZE = 2
_SIMHASH_BITS = 16
# connected_components collects an edge list up to this size to the driver
# and runs union-find there; larger graphs take the distributed loop.
_DRIVER_THRESHOLD = 5_000_000
_MAX_ITER = 50


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of lowercased text, empties dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), " "), lambda t: F.length(t) > 0)


def shingles(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles (space-joined) over a *materialized* token
    array column. Docs shorter than k words get no shingles.

    IMPORTANT: pass an attribute (already-projected column), not the
    `tokens(...)` expression — Catalyst inlines expression arguments into
    every `slice` call inside the lambda, re-tokenizing the document once
    per shingle (O(tokens²) per doc; measured 3× slower at sf0.1)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    return F.when(F.size(toks) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def gram_coverage_fold(grams: Column) -> Column:
    """Per-row repetition coverage over a gram array, as ONE Catalyst
    fold — no explode, no shuffle, the text's grams never leave their
    partition.  Returns ``struct(best, dup, top)`` where

    * ``best`` = max over distinct grams of ``count * length(gram)``
      (characters covered by the single most-repeated gram),
    * ``dup``  = sum of ``count * length(gram)`` over grams occurring
      at least twice (characters covered by ANY duplicated gram), and
    * ``top``  = max gram count (the most frequent gram's multiplicity)

    — the Gopher repetition signals (Rae et al. 2021 Appendix A) plus
    the top-shingle-share numerator (q_text_repetition).

    Mechanics: ``array_sort`` makes equal grams adjacent, then a single
    ``aggregate`` walks the sorted array tracking the current run
    ``(prev, run)`` and closing each run into ``(best, dup)``; the
    finish lambda closes the last run.  Nesting ``aggregate`` around
    ``shingles()``'s internal ``transform`` is safe (verified vs the
    DuckDB unnest/GROUP BY oracle) — unlike wrapping a labeling
    ``transform`` AROUND shingles, which collides Catalyst's positional
    lambda variables.  Integer arithmetic throughout, so the result is
    engine-exact."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("top"),
    )

    def merge(acc, x):
        same = acc["prev"].isNotNull() & (acc["prev"] == x)
        closed = acc["run"] * F.length(acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same | (acc["run"] == 0), acc["best"])
            .otherwise(F.greatest(acc["best"], closed)).alias("best"),
            F.when(~same & (acc["run"] >= 2), acc["dup"] + closed)
            .otherwise(acc["dup"]).alias("dup"),
            F.when(same, acc["top"])
            .otherwise(F.greatest(acc["top"], acc["run"])).alias("top"),
        )

    def finish(acc):
        closed = acc["run"] * F.length(acc["prev"])
        return F.struct(
            F.when(acc["run"] > 0, F.greatest(acc["best"], closed))
            .otherwise(acc["best"]).alias("best"),
            F.when(acc["run"] >= 2, acc["dup"] + closed)
            .otherwise(acc["dup"]).alias("dup"),
            F.greatest(acc["top"], acc["run"]).alias("top"),
        )

    return F.aggregate(F.array_sort(grams), init, merge, finish)


def run_lnrun_fold(elems: Column) -> Column:
    """Per-row ``sum(c * ln(c))`` over element multiplicities, as ONE
    Catalyst fold — the entropy numerator (q_text_entropy) without the
    per-element explode and two hash-aggs.  ``array_sort`` makes equal
    elements adjacent; each closed run adds ``run * ln(run)`` to a
    double accumulator seeded 0.0, so the additions happen in
    element-sorted order — the exact sequence the DuckDB oracle's
    ``LIST_REDUCE(LIST_SORT(...))`` fold performs, keeping the doubles
    bit-identical pre-rounding."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("s"),
    )

    def merge(acc, x):
        same = acc["prev"].isNotNull() & (acc["prev"] == x)
        closed = acc["run"].cast("double") * F.log(acc["run"].cast("double"))
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same | (acc["run"] == 0), acc["s"])
            .otherwise(acc["s"] + closed).alias("s"),
        )

    def finish(acc):
        closed = acc["run"].cast("double") * F.log(acc["run"].cast("double"))
        return F.when(acc["run"] > 0, acc["s"] + closed).otherwise(acc["s"])

    return F.aggregate(F.array_sort(elems), init, merge, finish)


def shingle_rows(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows of word 3-gram shingles of ``text``,
    scale-shaped:

    * tokens are projected to a real column first so the shingle lambda
      reads an attribute instead of re-running split/filter per element;
    * the input is spread before the explode, so a low-split source (one
      small parquet file) still fans the CPU-heavy shingle+hash work
      across all cores.
    """
    toks = spread(df, "doc_id").select(
        F.col("doc_id"), tokens("text").alias("__toks")
    )
    return toks.select(
        F.col("doc_id"), F.explode(shingles(F.col("__toks"))).alias("shingle")
    )


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by the hash of ``text``: keep the smallest ``doc_id``
    per hash.
    One shuffle on the hash; at scale the hash-groupBy partial-aggregates
    map-side so only (hash, min_id, count) rows move.

    The GROUP key is the 16-byte ``unhex(md5)`` binary, not the 32-char
    hex string — on a mostly-unique corpus the shuffle carries one row
    per distinct key per map partition, so the key is most of the row
    and the binary form cuts shuffle bytes ~40% (the 100x smoke's exact-
    dedup row is shuffle-bound).  The hex form is re-derived for the
    output only (lower() — Spark's hex() is uppercase, md5() lowercase)."""
    return (
        df.groupBy(F.unhex(F.md5(F.col("text"))).alias("_h"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.lower(F.hex("_h")).alias("content_hash"),
            "keep_id",
            "n_copies",
        )
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_7): per-seed minimum of md5('<seed>:<shingle>').

    Explodes shingles once and takes the 8 mins in a single hash-agg —
    no per-seed pass over the data.
    """
    sh = shingle_rows(df)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh_{j}")
        for j in range(_N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_bands(df: DataFrame) -> DataFrame:
    """(doc_id, band_id, sig) LSH band rows: the minhash signature split
    into 4 bands of 2 concatenated hashes.  A band's signature depends
    only on the document's own shingles, so bands computed over any
    superset/subset of a corpus agree row-for-row — the property the
    incremental (new-vs-corpus) dedup relies on."""
    sig = minhash_signatures(df)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat(
                *[F.col(f"mh_{b * _BAND_SIZE + r}") for r in range(_BAND_SIZE)]
            ).alias("sig"),
        )
        for b in range(_N_HASHES // _BAND_SIZE)
    ]
    return sig.select(
        F.col("doc_id"), F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_id", "band.sig")


def incremental_dedup(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Dedup a fresh batch AGAINST an existing corpus — the asymmetric
    shape an ingest pipeline actually runs at 100 TB, instead of
    re-running the full corpus self-join per crawl.

    Verdict per new document:
      'exact' — its content md5 already exists in the corpus;
      'near'  — some LSH band bucket collides with a corpus document;
      'keep'  — neither.

    Scale shape: two semi-joins keyed on (hash) and (band_id, sig).  The
    corpus side is reduced to hashes / band rows (never full text) and
    streamed; the new-batch side is crawl-sized, so AQE broadcasts it and
    the corpus is never shuffled.  No hint is forced — a backfill-sized
    'new' batch must be allowed to fall back to a shuffle join."""
    new_ids = new_docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("_h"))
    corpus_h = corpus.select(F.md5(F.col("text")).alias("_h")).distinct()
    exact = (
        new_ids.join(corpus_h, "_h", "left_semi")
        .select("doc_id")
        .withColumn("_exact", F.lit(True))
    )
    new_bands = minhash_bands(new_docs)
    corpus_bands = minhash_bands(corpus)
    near = (
        new_bands.join(corpus_bands, ["band_id", "sig"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        new_docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_exact"), F.lit("exact"))
            .when(F.col("_near"), F.lit("near"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """Candidate near-duplicate pairs ``(doc_a, doc_b)`` via banded
    minhash-LSH.

    Two docs become a candidate pair iff all minhashes of at least one
    band agree (collision prob ~ J^2 per band).  The self-join is keyed
    on (band_id, signature) so only docs in the same bucket ever meet — the scale path for dedup at 100 TB.
    """
    bands = minhash_bands(df)
    # Persist: both sides of the self-join read `bands`; without it Spark
    # recomputes the whole shingle->signature pipeline twice.  Signatures
    # are ~bands rows per doc — tiny relative to the corpus, safe to cache
    # even at 100 TB of input text.
    bands = persist_once(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(df: DataFrame) -> DataFrame:
    """16-bit SimHash fingerprint per ``doc_id``: per token of ``text``
    take 16 bits of md5, sum +1/-1 votes per bit position over the doc,
    sign -> fingerprint bit.

    Pure integer expressions (nibble lookup via strpos on the hex alphabet)
    so the same formula runs on the DuckDB oracle.
    """
    src_df = df
    if not df.isStreaming:
        # fan the token explode across cores (a stream keeps its
        # source's micro-batch layout)
        src_df = spread(df, "doc_id")
    tok = src_df.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("tok")
    )
    # Project the md5 nibble VALUES once per token before the aggregate:
    # the 16 vote sums otherwise each re-derive their nibble from the
    # hash inside the partial-agg update expressions, where codegen's
    # subexpression elimination only partially applies (measured 0.69 s
    # -> 0.54 s at sf0.1; bit votes are identical integers either way).
    h = F.md5(F.col("tok"))
    nibs = tok.select(
        F.col("doc_id"),
        *[
            (
                F.instr(F.lit("0123456789abcdef"), F.substring(h, j + 1, 1))
                - 1
            ).alias(f"_n{j}")
            for j in range(_SIMHASH_BITS // 4)
        ],
    )
    vote_sums = []
    for i in range(_SIMHASH_BITS):
        v = F.col(f"_n{i // 4}")
        bit = F.shiftright(v, i % 4).bitwiseAND(F.lit(1))
        vote_sums.append(F.sum(bit * 2 - 1).alias(f"s_{i}"))
    votes = nibs.groupBy("doc_id").agg(*vote_sums)
    fp = None
    for i in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select(F.col("doc_id"), fp.cast("bigint").alias("simhash"))


def simhash_expr() -> Column:
    """Row-wise SimHash of ``text``: the same per-token ±1 bit votes as simhash(),
    folded over the token ARRAY in one expression instead of a groupBy —
    integer sums commute, so the fingerprint is identical.  This is the
    form a STREAMING pipeline needs (no per-doc aggregation state; the
    only stateful operator left is whatever consumes the fingerprint)."""
    toks = tokens("text")

    def _vote_folder(i: int):
        # closure factory, NOT a default-arg lambda: pyspark maps every
        # named lambda parameter to a higher-order-function variable, so
        # a smuggled `_i=i` third parameter would arrive as a Column
        def fold(acc: Column, t: Column) -> Column:
            nib = F.substring(F.md5(t), i // 4 + 1, 1)
            v = F.instr(F.lit("0123456789abcdef"), nib) - 1
            return acc + (
                F.shiftright(v, i % 4).bitwiseAND(F.lit(1)) * 2 - 1
            )

        return fold

    fp = None
    for i in range(_SIMHASH_BITS):
        s = F.aggregate(toks, F.lit(0).cast("long"), _vote_folder(i))
        term = F.when(s > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    # batch simhash() yields NO row for a token-less doc (the explode
    # produces nothing); emit NULL here instead of fingerprint 0 so the
    # two forms can never disagree on empty/whitespace-only docs
    return F.when(F.size(toks) > 0, fp.cast("bigint"))


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard over distinct word 3-gram sets, emitted for pairs
    ``(doc_a, doc_b)`` over the threshold.  Pairs are generated through
    the shared-shingle join (an inverted index), never a cross join."""
    # distinct shingle set per doc; persisted because it feeds three plans
    # (both self-join sides + the per-doc set sizes).
    sh = persist_once(shingle_rows(df).distinct())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _union_find_local(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find with path compression — the small-graph
    fast path of connected_components."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize every vertex to its component's MINIMUM id (find() roots
    # are min-biased per union, but chains can leave stale roots)
    comp_min: dict[int, int] = {}
    for x in list(parent):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[find(x)] for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Connected components over an undirected edge list by min-label
    propagation — the clustering step that turns near-duplicate PAIRS into
    duplicate GROUPS (a pipeline then keeps min-id per component).

    Returns (id, cluster_id) for every vertex that appears in an edge;
    cluster_id is the component's minimum vertex id (deterministic).

    Scale-ADAPTIVE: the dup graph is orders of magnitude smaller than
    the corpus (edges exist only between near-duplicates), so below
    `_DRIVER_THRESHOLD` edges the component labels are computed by a
    driver-side union-find on the collected edge list — milliseconds and
    zero extra Spark rounds, the strategy production dedup pipelines use.
    Past the threshold (10^7+ edges; a 10^9-doc corpus with heavy dup
    rate) the distributed min-label loop below runs instead:

    each round is one equi-join (edge list x label table, keyed on vertex
    id) plus one min-groupBy — both plain shuffles on the id. The label
    table is two longs per vertex, tiny next to the corpus text even at
    100 TB, and the edge list is persisted once and re-read every round.
    localCheckpoint() truncates lineage so the plan stays constant-size
    across rounds instead of doubling. Rounds needed = graph diameter;
    near-dup graphs are dense blobs with tiny diameter, so 2-3 rounds in
    practice (the alternating large-star/small-star variant of Kiveris
    et al. trims worst-case chains; not needed here).
    """
    spark = edges.sparkSession
    # vertex ids keep whatever type the caller's edge list carries (long
    # doc ids, string content hashes, ...) — both branches must agree
    id_type = StructType(
        [
            StructField("id", edges.schema[src].dataType),
            StructField("lab", edges.schema[src].dataType),
        ]
    )
    # the pair pipeline upstream (LSH joins + exact verify) is expensive:
    # cache it so the size probe and the consuming path read it once
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = edges.count()
    if n_edges <= _DRIVER_THRESHOLD:
        pairs = [
            (r[0], r[1]) for r in edges.select(src, dst).collect()
        ]
        edges.unpersist()
        labels = _union_find_local(pairs)
        if not labels:
            return spark.createDataFrame([], id_type)
        return spark.createDataFrame(sorted(labels.items()), id_type)
    sym = (
        edges.select(F.col(src).alias("id"), F.col(dst).alias("nbr"))
        .union(edges.select(F.col(dst).alias("id"), F.col(src).alias("nbr")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # sym carries the edges forward; the input cache has served its probe
    edges.unpersist()
    # init = the first propagation round for free: a vertex's starting
    # label is min(own id, min neighbor id), computed in the same groupBy
    # that would otherwise just dedup the vertex list.
    labels = (
        sym.groupBy("id")
        .agg(F.least(F.col("id"), F.min("nbr")).alias("lab"))
        .localCheckpoint()
    )
    for _ in range(_MAX_ITER):
        # carry the previous label through the same min-agg (`old` is
        # non-null only on the current-label rows, so max() recovers it);
        # change detection then reads the checkpointed result instead of
        # re-joining old vs new as a separate job per round.
        nbr_lab = sym.join(
            labels.select(F.col("id").alias("nbr"), "lab"), "nbr"
        ).select("id", "lab", F.lit(None).cast("long").alias("old"))
        cur = labels.select("id", "lab", F.col("lab").alias("old"))
        merged = (
            cur.union(nbr_lab)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"), F.max("old").alias("old"))
            .localCheckpoint()
        )
        changed = (
            merged.where(F.col("lab") != F.col("old")).limit(1).count()
        )
        labels = merged.select("id", "lab")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def keep_one(
    df: DataFrame, pairs: DataFrame, id_col: str, a: str, b: str
) -> DataFrame:
    """``df`` minus every near-duplicate except one per cluster: the
    connected components of the ``(a, b)`` dup graph keep their min-id
    representative, and rows that are in no pair pass through untouched.

    The final pass is a left-anti join of one ``df`` scan against the
    drop-list.  No broadcast hint: web-crawl dup rates (30-50%) make the
    drop-list corpus-scale, so AQE broadcasts it while it fits and falls
    back to a shuffle instead of OOMing the driver."""
    cc = connected_components(pairs, a, b)
    drop = cc.where(F.col("id") != F.col("lab")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
