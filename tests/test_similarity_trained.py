"""Quality contract for the Lloyd-trained ANN codebooks: training must measurably beat the deterministic sample stubs,
iterate monotonically, and deliver usable recall against brute force.

The fixture embeddings are i.i.d. random — the WORST case for IVF (no
cluster structure to find), so the thresholds here are the honest floor:
anything structured does better.
"""

from __future__ import annotations

import numpy as np
import pytest

from basin_cli_spark.operators import kmeans as KM
from basin_cli_spark.queries import load_all
from basin_cli_spark.sources import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def V(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    return np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])


def test_lloyd_distortion_monotone(emb):
    cents = KM.init_centroids(emb, k=16)
    prev = KM.distortion(emb, cents)
    for _ in range(3):
        cents = KM.lloyd_step(emb, cents)
        cur = KM.distortion(emb, cents)
        assert cur <= prev + 1e-12
        prev = cur


def test_trained_beats_stride_stub(emb, V):
    """vec_id % 25 == 0 sampling is not a trained codebook.  Lloyd must beat it on mean quantization cost."""
    stub = V[::25][:16]
    trained = KM.train_kmeans(emb, k=16, iters=4)
    assert KM.distortion(emb, trained) < KM.distortion(emb, stub)


def test_ivf_trained_recall_vs_bruteforce(emb, V):
    """recall@10 >= 0.75 at nprobe=8 of 16 lists, averaged over 8 query
    vectors (measured 0.80 on the fixture; random data floor)."""
    cents = KM.train_kmeans(emb, k=16, iters=4)
    cn = cents / np.linalg.norm(cents, axis=1)[:, None]
    Xn = V / np.linalg.norm(V, axis=1)[:, None]
    assign = np.argmax(Xn @ cn.T, axis=1)
    recalls = []
    for q in range(8):
        sims = Xn @ Xn[q]
        sims[q] = -2.0
        truth = set(np.argsort(-sims)[:10])
        probe = set(np.argsort(-(cn @ Xn[q]))[:8])
        cand = np.where(np.isin(assign, list(probe)))[0]
        cand = cand[cand != q]
        got = set(cand[np.argsort(-sims[cand])][:10])
        recalls.append(len(truth & got) / 10)
    assert sum(recalls) / len(recalls) >= 0.75, recalls


def test_pq_trained_beats_sample_codebook(emb, V):
    """Per-subspace Lloyd codebooks must beat the vec_id<16 subvector
    sample on quantization cost, subspace by subspace."""
    import pyspark.sql.functions as F

    books = KM.train_pq_codebooks(emb, m=4, sub_dim=8, k=16, iters=2)
    wins = 0
    for mi in range(4):
        sub = emb.select(
            "vec_id",
            F.slice(
                F.transform("embedding", lambda x: x.cast("double")),
                mi * 8 + 1,
                8,
            ).alias("_sub"),
        )
        stub = V[:16, mi * 8 : (mi + 1) * 8]
        d_tr = KM.distortion(sub, books[mi], vec_col="_sub", metric="l2")
        d_st = KM.distortion(sub, stub, vec_col="_sub", metric="l2")
        if d_tr < d_st:
            wins += 1
    assert wins == 4


def test_trained_queries_run_and_rank(spark, sf_dir):
    """The registered rows-only queries execute and return sane rankings:
    IVF-trained top-10 contains the true top-1 (its own list is probed
    first), PQ-ADC distances are non-negative and sorted."""
    reg = load_all()
    ivf = reg["q_similarity_ann_ivf_trained"].fn(spark, sf_dir).collect()
    assert len(ivf) == 10
    scores = [r.score for r in ivf]
    assert scores == sorted(scores, reverse=True)
    pq = reg["q_similarity_pq_adc_trained"].fn(spark, sf_dir).collect()
    assert len(pq) == 10
    dists = [r.adc_dist for r in pq]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)


def test_ivf_partitioned_probe_prunes(spark, emb, tmp_path):
    """The docstring claim made physical: persisting the assigned corpus
    partitioned by cent_id makes a probe a planning-time partition prune —
    the scan's PartitionFilters carry cent_id, so nprobe/k of the corpus
    is read, not filtered."""
    import pyspark.sql.functions as F

    cents = KM.train_kmeans(emb, k=16, iters=2)
    assigned = KM.assign_ids(emb, cents)
    out = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("cent_id").parquet(out)
    back = spark.read.parquet(out)
    probe = back.where(F.col("cent_id").isin([3, 7]))
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cent_id" in pf
    # and only the probed lists' rows are read
    assert probe.count() == back.where(F.col("cent_id").isin([3, 7])).count()
    got_lists = {
        r.cent_id for r in probe.select("cent_id").distinct().collect()
    }
    assert got_lists <= {3, 7}


def test_retraining_reproduces_frozen_artifact(emb):
    """The committed index artifact (fixtures/codebooks.json) is what
    serving loads and what the DuckDB oracles replay; this pins that the
    TRAINING path still produces it — deterministic seeded init + fixed
    Lloyd iterations — so the artifact can never silently drift from the
    code that claims to have built it.  Regenerate with
    scripts/gen_codebooks.py after intentional kernel changes."""
    art = KM.codebook_artifact()
    key = str(KM.corpus_key(emb))
    assert key in art, f"no frozen codebook for corpus key {key}"
    entry = art[key]
    ivf = KM.train_kmeans(emb, **entry["ivf_params"])
    assert np.allclose(ivf, np.asarray(entry["ivf"]), rtol=0, atol=1e-9)
    pq = KM.train_pq_codebooks(emb, **entry["pq_params"])
    assert np.allclose(pq, np.asarray(entry["pq"]), rtol=0, atol=1e-9)


def _count_corpus_key(monkeypatch) -> list:
    calls = []
    real = KM.corpus_key

    def counted(e):
        calls.append(1)
        return real(e)

    monkeypatch.setattr(KM, "corpus_key", counted)
    return calls


def test_warm_frozen_codebook_runs_no_corpus_key(spark, sf_dir, monkeypatch):
    """A warm frozen-codebook build takes the corpus key from the memo: a
    new frame over the same unchanged files runs no corpus_key job."""
    KM.frozen_codebook(load_table(spark, sf_dir, "embeddings"), "ivf")
    calls = _count_corpus_key(monkeypatch)
    for kind in ("ivf", "pq"):
        KM.frozen_codebook(load_table(spark, sf_dir, "embeddings"), kind)
    assert calls == []


def test_frozen_codebook_key_follows_rewritten_file(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The memo also keys on each input file's size and mtime: a file
    rewritten in place with another corpus recomputes the key, and that
    corpus, absent from the artifact, still raises."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "embeddings.parquet")
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), path)
    calls = _count_corpus_key(monkeypatch)
    for _ in range(2):
        KM.frozen_codebook(spark.read.parquet(path), "ivf")
    assert len(calls) == 1

    t = pq.read_table(path)
    df = t.to_pandas()
    first_keyed = ((df["vec_id"] * df["label"]) != 0).idxmax()
    pq.write_table(
        pa.Table.from_pandas(
            df.drop(index=first_keyed), schema=t.schema, preserve_index=False
        ),
        path,
    )
    with pytest.raises(KeyError):
        KM.frozen_codebook(spark.read.parquet(path), "ivf")
    assert len(calls) == 2
