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

Keyed on kmeans.corpus_key of the embeddings fixture — an integer any
engine computes identically — so one artifact serves every scale it was
generated for and a foreign corpus fails loudly.

Run after any change to operators/kmeans.py or the fixtures:

    python scripts/gen_codebooks.py
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basin_cli_spark.operators import kmeans as KM  # noqa: E402

SCALES = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

PQ_PARAMS = {"m": 8, "sub_dim": 8, "k": 16, "iters": 2}


def ivf_params(n: int) -> dict:
    k = 16 if n <= 16 * KM.MAX_CELL else round(n ** 0.5)
    return {"k": k, "iters": 4, "metric": "cos"}


def main(*extra_dirs: str) -> None:
    """Regenerate for the three driver scales; any extra fixture dirs
    passed on the command line (e.g. the .scratch/sf1c 10x perturbed
    corpus) are trained ADDITIVELY and merged into the existing artifact,
    so scale-decade corpora get frozen codebooks without touching the
    driver-scale entries."""
    from basin_cli_spark.session import get_spark
    from basin_cli_spark.sources import load_table

    spark = get_spark(app_name="gen_codebooks", shuffle_partitions=8)
    out: dict[str, dict] = {}
    if extra_dirs:
        # additive mode merges into the existing artifact; if it is
        # missing, the driver-scale entries would be silently dropped —
        # fall back to regenerating SCALES alongside the extra dirs.
        if os.path.exists(KM.CODEBOOKS_PATH):
            out = KM.codebook_artifact()
            dirs = list(extra_dirs)
        else:
            dirs = SCALES + list(extra_dirs)
    else:
        dirs = SCALES
    for sf_dir in dirs:
        e = load_table(spark, sf_dir, "embeddings")
        key = KM.corpus_key(e)
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

    KM.save_codebook_artifact(out)
    print(f"wrote {KM.CODEBOOKS_PATH} ({os.path.getsize(KM.CODEBOOKS_PATH)} bytes)")


if __name__ == "__main__":
    main(*sys.argv[1:])
