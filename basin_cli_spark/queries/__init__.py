"""Query registry — the declared operator surface of the engine.

Every operator from SURVEY.md §2 gets a named entry here: a Spark builder
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) a DuckDB oracle
SQL string over the same fixture tables.  ``__spark_entry__.py`` re-exports
this registry as the driver contract.

Determinism rules (so order-insensitive value-hashes match the oracle):
* Money/measure sums go through ``DECIMAL(18,2)`` so the aggregation is
  exact and order-independent, then cast back to double (identical in both
  engines); see _helpers.dec_sum.
* Averages are expressed as exact-decimal-sum / count, never float avg.
* Genuinely float results (cosine scores, exp/log) are rounded identically
  on both sides.
* Any LIMIT/OFFSET or window function sits on a total order (unique-key
  tie-break).
* Array outputs are sorted and joined to strings (engines differ in
  container types, not values).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check


QUERIES: dict[str, QuerySpec] = {}

# Runtime SQL confs every query depends on, applied defensively because the
# driver may hand us a session built by a different factory:
# * nanosAsLong — events.parquet stores TIMESTAMP(NANOS); without the flag
#   the scan itself throws (sources/tables.py then converts the long);
# * UTC session tz — timestamp casts/windows must agree with the UTC-naive
#   DuckDB oracle;
# * AQE — the planning behavior the scale design assumes.
REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # a locked conf is better than a failed query


def register(name: str, oracle: str | None = None):
    """Decorator: add a query builder to the registry (wrapped so the
    session always carries REQUIRED_CONFS, whoever constructed it).

    Output contract (driver-strict, enforced at run time rather than here
    because a builder's schema needs a live SparkSession): no raw
    array/map/struct output columns (use _helpers.vec_str / F.array_join),
    and every column's type class must match the oracle's Arrow schema.
    oracle.compare() rejects violations and
    tests/test_registry_contract.py walks every entry, so a rule-breaking
    registration fails the suite the first time it executes."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle)
        return fn

    return deco


# The driver's correctness gate samples the FIRST 50 registry entries, so
# iteration order is part of the contract.  Standing rotation: each head is
# the 50 entries with the oldest latest green driver attestation, keyed by
# (latest green round, first attested round, registry position) over all
# CORRECTNESS_r*.json; the rotation history is in git and CHANGES.md.
REPRESENTATIVE_HEAD = [
    "q_similarity_pq_adc_trained", "q_embedding_prototype_prune",
    "q_similarity_hard_negatives",
    "q_sample_per_source_cap", "q_corpus_boilerplate_scrub",
    "q_corpus_mad_prune", "q_corpus_gopher_rules", "q_llm_prep_pipeline_v3",
    "q_split_leakage", "q_corpus_rebalance", "q_corpus_shard_pack",
    "q_stream_quality_gate", "q_stream_cdc_apply",
    "q_approx_percentile", "q_muhash_digest_by_group",
    "q_dedup_source_overlap", "q_text_quality_score", "q_text_fingerprint",
    "q_multimodal_decode", "q_multimodal_frames",
    "q_embedding_label_centroids", "q_similarity_knn_label",
    "q_embedding_prototype_prune_2pass", "q_dedup_clusters",
    "q_sample_stratified", "q_sample_cluster_cap", "q_embedding_quantize",
    "q_contamination_score", "q_corpus_mad_prune_2pass",
    "q_corpus_quantile_prune_2pass", "q_vocab_topk", "q_tfidf_topterms",
    "q_text_bigram_logprob", "q_corpus_lm_prune_2pass",
    "q_corpus_dsir_select", "q_llm_prep_pipeline_v4", "q_corpus_unimax",
    "q_corpus_datasheet", "q_like_isnull", "q_distinct", "q_limit_offset",
    "q_orderby_nulls", "q_fuzzy_prefix_match", "q_array_hof_fold",
    "q_union_distinct", "q_intersect", "q_except", "q_in_memory_rows",
    "q_orc_roundtrip", "q_stream_stream_join",
]


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: registration) and return the
    registry, REPRESENTATIVE_HEAD first."""
    from basin_cli_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        analytics_ext,
        cdc_queries,
        corpus_ops,
        events_surface,
        joins,
        llm_ops,
        relational,
        scalar_funcs,
        setops,
        sources_queries,
        streaming_queries,
        windows,
    )

    missing = [n for n in REPRESENTATIVE_HEAD if n not in QUERIES]
    assert not missing, f"REPRESENTATIVE_HEAD names unknown queries: {missing}"
    ordered = {n: QUERIES[n] for n in REPRESENTATIVE_HEAD}
    ordered.update((n, s) for n, s in QUERIES.items() if n not in ordered)
    return ordered
