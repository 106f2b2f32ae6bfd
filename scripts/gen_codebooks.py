"""Train and freeze the ANN codebooks for the fixture corpora —
fixtures/codebooks.json.

This is the faiss-style lifecycle: an index is TRAINED once per corpus
(Lloyd iterations over the data), SAVED, and then loaded at query time —
queries never retrain.  Freezing the trained centroids as a committed
artifact makes the serving path fully deterministic (and
DuckDB-oracle-checkable: the oracle replays assignment + probe from the
same literal arrays), while the training path keeps its own contracts in
tests/test_similarity_trained.py, including a test that retraining
reproduces this artifact.

Keyed on CAST(SUM(vec_id*label) AS BIGINT) of the embeddings fixture —
an integer any engine computes identically — so one artifact serves
every scale it was generated for and a foreign corpus fails loudly.

Run after any change to operators/kmeans.py or the fixtures:

    python scripts/gen_codebooks.py
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALES = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

PQ_PARAMS = {"m": 8, "sub_dim": 8, "k": 16, "iters": 2}
# q_dedup_semantic_ivf drops IVF cells wider than max_cell=4096 rows, so a
# corpus above 16 x 4096 vectors trains k ~ sqrt(n) cells instead of 16.
MAX_CELL = 4096


def ivf_params(n: int) -> dict:
    k = 16 if n <= 16 * MAX_CELL else round(n ** 0.5)
    return {"k": k, "iters": 4, "metric": "cos"}


def main(*extra_dirs: str) -> None:
    """Regenerate for the three driver scales; any extra fixture dirs
    passed on the command line (e.g. the .scratch/sf1c 10x perturbed
    corpus) are trained ADDITIVELY and merged into the existing artifact,
    so scale-decade corpora get frozen codebooks without touching the
    driver-scale entries."""
    import pyspark.sql.functions as F

    from basin_cli_spark.operators import kmeans as KM
    from basin_cli_spark.session import get_spark
    from basin_cli_spark.sources import load_table

    spark = get_spark(app_name="gen_codebooks", shuffle_partitions=8)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "codebooks.json",
    )
    out: dict[str, dict] = {}
    if extra_dirs:
        # additive mode merges into the existing artifact; if it is
        # missing, the driver-scale entries would be silently dropped —
        # fall back to regenerating SCALES alongside the extra dirs.
        if os.path.exists(path):
            out = json.load(open(path))
            dirs = list(extra_dirs)
        else:
            dirs = SCALES + list(extra_dirs)
    else:
        dirs = SCALES
    for sf_dir in dirs:
        e = load_table(spark, sf_dir, "embeddings")
        key = e.agg(
            F.sum(F.col("vec_id") * F.col("label")).cast("long")
        ).collect()[0][0]
        ivf_p = ivf_params(e.count())
        print(f"{sf_dir}: corpus key {key}, IVF k={ivf_p['k']}")
        ivf = KM.train_kmeans(e, **ivf_p)
        pq = KM.train_pq_codebooks(e, **PQ_PARAMS)
        out[str(key)] = {
            "ivf_params": ivf_p,
            "pq_params": PQ_PARAMS,
            "ivf": ivf.tolist(),
            "pq": pq.tolist(),
        }

    with open(path, "w") as f:
        json.dump(out, f)
    print(f"wrote {path} ({os.path.getsize(path)} bytes)")


if __name__ == "__main__":
    main(*sys.argv[1:])
