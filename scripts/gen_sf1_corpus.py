"""Extend the sf1-equivalent fixture with a 10x PERTURBED corpus, so the
dedup / similarity / curation families can be oracle-attested at a
fourth decade too (leg 3 of scripts/drive_contract.py's sf1 contract).

Exact replication is degenerate for bucketed shapes (SCALE.md), so
documents/embeddings replicate with seeded per-copy noise
(perturbed_docs: token mutation p=0.4 per copy; perturbed_emb:
per-element uniform noise in [-0.12, 0.12], ~29 degrees per copy) —
near-dup density, not exact-dup.
Cross-engine determinism is NOT needed from the generator: the corpus is
materialized once as plain parquet files and both engines read the same
bytes; only the oracle SQL must replay, which is why the two
fixture-fingerprint-keyed entries (q_text_compression_ratio,
q_corpus_delete_digest) are excluded from leg 3.

Output dir (default .scratch/sf1c) gets:
* documents.parquet — 10x perturbed (n_chars recomputed from the mutated
  text; schema byte-compatible with the driver fixture: int64/string x3/int64)
* embeddings.parquet — 10x perturbed (elements cast back to float32;
  vec_id int64, list<float>, label int32)
* every other table copied from the sf1 relational fixture
  (scripts/gen_sf1.py output), so corpus entries that touch events or
  lineitem see the scaled versions.

Usage: python scripts/gen_sf1_corpus.py [out_dir] [sf1_dir] [base_dir] [copies]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from basin_cli_spark.session import get_spark  # noqa: E402
from basin_cli_spark.sources import load_table  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def perturbed_docs(docs, copies: int, frac: float = 0.4):
    """Replicate the document corpus with per-copy TOKEN noise so copies
    are near-duplicates, not exact ones: each token of copy c mutates
    (deterministic xxhash64 draw on (doc_id, copy, token, position))
    with probability ``frac`` by gaining a copy-specific suffix.  A
    3-word segment then survives identical across two copies with
    p = (1-frac)^6 (~4.7% at frac=0.4), so hot-segment buckets and LSH
    shingle buckets keep realistic widths instead of the copies^2
    blowup exact replication forces.  Copy 0 keeps the original text.
    All-JVM expressions: one split, one transform, one array_join."""
    d = docs.withColumn(
        "_copy", F.explode(F.array(*[F.lit(i) for i in range(copies)]))
    )
    w = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    mut = F.transform(
        w,
        lambda t, i: F.when(
            (F.col("_copy") > 0)
            & (
                F.pmod(
                    F.xxhash64(F.col("doc_id"), F.col("_copy"), t, i), 1000
                )
                < int(frac * 1000)
            ),
            F.concat(t, F.lit("~c"), F.col("_copy").cast("string")),
        ).otherwise(t),
    )
    return d.select(
        (F.col("doc_id") * copies + F.col("_copy")).alias("doc_id"),
        F.array_join(mut, " ").alias("text"),
        "lang",
        "source",
    )


def perturbed_emb(emb, copies: int, eps: float = 0.12):
    """Replicate the embedding corpus with per-copy VECTOR noise: copy c
    of vector v adds deterministic uniform noise in [-eps, eps] per
    element (xxhash64 draw on (vec_id, copy, dim)).  At eps=0.12 on the
    unit-norm 64-dim fixture the copy-to-base angle measures ~29 degrees
    (mean cosine 0.877), so sign-LSH band signatures spread across
    buckets the way a real near-dup crawl's do, instead of 100 copies
    landing in one bucket and inflating candidate pairs as copies^2.
    Copy 0 keeps the original vector.  All-JVM: one transform over the
    array column."""
    e = emb.withColumn(
        "_copy", F.explode(F.array(*[F.lit(i) for i in range(copies)]))
    )
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double")
        + F.when(F.col("_copy") == 0, F.lit(0.0)).otherwise(
            (
                F.pmod(
                    F.xxhash64(F.col("vec_id"), F.col("_copy"), i), 10000
                ).cast("double")
                / 10000.0
                - 0.5
            )
            * (2.0 * eps)
        ),
    )
    return e.select(
        (F.col("vec_id") * copies + F.col("_copy")).alias("vec_id"),
        pert.alias("embedding"),
        "label",
    )


def generate(out_dir: str, sf1_dir: str, base_dir: str, copies: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="gen_sf1_corpus")

    docs = load_table(spark, base_dir, "documents")
    d10 = (
        perturbed_docs(docs, copies)
        .withColumn("n_chars", F.length("text").cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )
    pq.write_table(
        pa.Table.from_pandas(d10.toPandas(), schema=DOCS_SCHEMA, preserve_index=False),
        os.path.join(out_dir, "documents.parquet"),
    )
    print(f"documents: {d10.count()} rows")

    emb = load_table(spark, base_dir, "embeddings")
    e10 = perturbed_emb(emb, copies).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("float")).alias("embedding"),
        "label",
    ).orderBy("vec_id")
    pq.write_table(
        pa.Table.from_pandas(e10.toPandas(), schema=EMB_SCHEMA, preserve_index=False),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    print(f"embeddings: {e10.count()} rows")

    for name in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ):
        shutil.copyfile(
            os.path.join(sf1_dir, f"{name}.parquet"),
            os.path.join(out_dir, f"{name}.parquet"),
        )
        print(f"{name}: copied from sf1 fixture")


if __name__ == "__main__":
    a = sys.argv[1:]
    out = a[0] if len(a) > 0 else os.path.join(REPO, ".scratch", "sf1c")
    sf1 = a[1] if len(a) > 1 else os.path.join(REPO, ".scratch", "sf1")
    base = a[2] if len(a) > 2 else "/root/testdata/sf0.1"
    copies = int(a[3]) if len(a) > 3 else 10
    generate(out, sf1, base, copies)
