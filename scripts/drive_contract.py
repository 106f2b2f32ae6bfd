"""Drive the driver contract end-to-end, the way the driver does:
entry() smoke at sf0.001, then every queries() entry vs its oracle_sql()
at sf0.01 — through __spark_entry__'s public functions only."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402
from basin_cli_spark.oracle import compare, duckdb_connect  # noqa: E402
from basin_cli_spark.session import get_spark  # noqa: E402

# The relational/window/join core — the contract subset whose physical plans
# change shape with row count (shuffle partitioning, AQE coalesce/skew
# decisions, broadcast-vs-sortmerge thresholds, WindowGroupLimit spill).
# Driven at the sf1-equivalent fixture (scripts/gen_sf1.py, ~6M lineitem)
# as the fourth attested scale decade; the corpus/embedding shapes have
# their own perturbed-replica 10x/100x evidence in SCALE.md instead.
# The same preset also replays at the FIFTH decade (.scratch/sf10, 60M
# lineitem): 31/31 OK in 328s total.
SF1_SUBSET = (
    # TPC-H-shaped analytics (all 22)
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_nation_trade_volume", "q8_market_share", "q9_product_type_profit",
    "q10_returned_items", "q11_important_parts", "q12_priority_by_returnflag",
    "q13_customer_distribution", "q14_promo_revenue_share", "q15_top_supplier",
    "q16_part_supplier_counts", "q17_small_quantity_revenue",
    "q18_large_volume_customers", "q19_discounted_revenue",
    "q20_excess_shippers", "q21_waiting_suppliers", "q22_dormant_customers",
    # join family (row-count-sensitive physical strategies)
    "q_join_inner_broadcast", "q_join_semi", "q_join_anti",
    "q_join_range", "q_join_asof",
    # window family (partitioned sort + group-limit shapes)
    "q_window_rank", "q_window_running", "q_window_moving_avg",
    "q_topk_per_group",
)

# Second sf1 leg: the aggregation/set-op/event-window families — every
# remaining shuffle- or sort-shaped entry (row-wise scalar/string/corpus
# shapes excluded: their plans are map-only and don't change with row
# count; the corpus families carry perturbed-replica evidence instead).
# Also replayed at the fifth decade: 41/41 OK in 849s total (the two
# slow rows are DuckDB's exact sides of the tolerance checks at 60M rows: q_approx_count_distinct 423s exact
# COUNT(DISTINCT), q_approx_percentile 134s exact PERCENTILE_CONT).
SF1_SUBSET_LEG2 = (
    # aggregates (hash-agg, distinct, sketch-with-tolerance, pivot, corr)
    "q_agg_stats", "q_stddev_var", "q_grouping_rollup", "q_grouping_cube",
    "q_maxby_minby", "q_collect_list_sorted", "q_median_percentile",
    "q_count_distinct_multi", "q_approx_count_distinct", "q_pivot",
    "q_grouping_sets", "q_agg_first_last", "q_unpivot", "q_corr_covar",
    "q_approx_percentile", "q_histogram",
    # set ops (shuffle-dedup shapes)
    "q_union_all", "q_union_distinct", "q_intersect", "q_except",
    "q_intersect_all", "q_except_all",
    # relational rest (scan/sort/limit shapes)
    "q_filter_predicates", "q_like_isnull", "q_case_expr", "q_distinct",
    "q_limit_offset", "q_orderby_nulls",
    # event-time window family on the 1M-row events table
    "q_window_lag_lead", "q_window_tumbling", "q_window_sliding",
    "q_session_window", "q_window_range_frame", "q_window_percent_rank",
    "q_timeseries_gapfill", "q_window_ignore_nulls", "q_hypertable_rollup",
    "q_window_nth_value",
    # events surface (pushdown filters at 1M rows)
    "q_events_before_after", "q_events_latest_n", "q_events_at",
)

# Third sf1 leg: the corpus/embedding families on the 10x PERTURBED corpus
# (scripts/gen_sf1_corpus.py -> .scratch/sf1c: 50k near-dup documents /
# 20k noised vectors over the scaled relational tables).  Every llm_ops /
# corpus_ops entry with a plain-SQL oracle; the two corpus-fingerprint-
# keyed entries (q_text_compression_ratio golden deflate constants,
# q_corpus_delete_digest EC-point known answers) cannot replay on a
# different corpus by construction, and the multimodal entries carry
# their own synthetic binaries independent of corpus size.
SF1_SUBSET_LEG3 = (
    "q_dedup_exact", "q_dedup_exact_events", "q_dedup_minhash", "q_dedup_source_overlap",
    "q_dedup_incremental", "q_dedup_simhash", "q_dedup_ngram_jaccard", "q_minhash_jaccard_estimate",
    "q_similarity_bruteforce", "q_similarity_ann_lsh", "q_similarity_ann_multiprobe", "q_text_quality_stats",
    "q_text_quality_score", "q_text_language_id", "q_text_token_count", "q_text_fingerprint",
    "q_dedup_embedding", "q_dedup_embedding_keep_one", "q_similarity_ann_ivf", "q_dedup_repeated_spans",
    "q_dedup_semantic_ivf", "q_similarity_ann_ivf_trained", "q_similarity_pq_adc_trained", "q_llm_prep_pipeline",
    "q_text_entropy", "q_text_repetition", "q_embedding_label_centroids", "q_similarity_knn_label",
    "q_embedding_prototype_prune", "q_embedding_prototype_prune_2pass", "q_similarity_hard_negatives", "q_corpus_source_stats",
    "q_dedup_clusters", "q_sample_stratified", "q_sample_weighted", "q_sample_per_source_cap",
    "q_sample_cluster_cap", "q_corpus_quantile_prune", "q_text_pii_scrub", "q_token_budget_pack",
    "q_dedup_keep_one", "q_embedding_quantize", "q_text_hash_embedding", "q_similarity_text_hash",
    "q_llm_prep_pipeline_v2", "q_sample_kcenter", "q_embedding_anisotropy", "q_text_normalize",
    "q_corpus_boilerplate_scrub", "q_corpus_split", "q_contamination_score", "q_decontaminate",
    "q_decontaminate_bloom", "q_corpus_mad_prune", "q_corpus_mad_prune_2pass", "q_corpus_quantile_prune_2pass",
    "q_corpus_gopher_rules", "q_llm_prep_pipeline_v3", "q_split_leakage", "q_corpus_rebalance",
    "q_corpus_shard_pack", "q_chunk_documents", "q_dedup_provenance", "q_vocab_topk",
    "q_tfidf_topterms", "q_text_bigram_logprob", "q_corpus_lm_prune", "q_corpus_lm_prune_2pass",
    "q_corpus_dsir_select", "q_llm_prep_pipeline_v4", "q_corpus_unimax", "q_corpus_temperature_mix",
    "q_corpus_unimax_apply", "q_embedding_center_normalize", "q_similarity_pq_adc", "q_vocab_oov_rate",
    "q_corpus_datasheet", "q_corpus_dup_ngram_stats", "q_corpus_domain_kl", "q_corpus_zipf_slope",
)

# Fourth sf1 leg: everything outside legs 1-3 —
# the scalar-function, source-roundtrip, CDC, digest, multimodal, and
# streaming families — driven at .scratch/sf1 so that EVERY registry
# entry is attested at the fourth decade, not just the scale-sensitive
# ones.  These plans are narrow per-row passes or bounded-output shapes,
# but "least scale-sensitive" was narrative until driven.  Notes on why
# each family replays at sf1: the golden-keyed entries (ecmh/muhash
# digests, compression ratio, delete digest) key on SUM(LENGTH(text)) of
# documents, which gen_sf1.py copies UNSCALED from sf0.1 (key 1485576 —
# verified identical), so the known-answer constants apply; CDC entries
# read the committed WAL fixture and are sf_dir-independent by design;
# streaming entries drain availableNow over the sf_dir tables (events is
# 1M rows at this decade); multimodal entries synthesize their own
# binary columns per-row.  Computed as registry order minus legs 1-3
# (51 entries; tests/test_registry_contract.py pins the partition).
# Also replayed at the fifth decade (.scratch/sf10, whose documents table
# is the unscaled golden-key copy): 51/51 OK in 668s — the one slow row
# is q_json_roundtrip (493s: a 60M-row orders JSON round-trip is
# I/O-bound by design).
SF1_SUBSET_LEG4 = (
    "q_stream_dsir_score", "q_cdc_replay_t", "q_cdc_replay_m",
    "q_join_left", "q_join_full", "q_join_theta", "q_join_cross",
    "q_join_right", "q_cdc_record_stream", "q_ecmh_digest",
    "q_ecmh_digest_by_group", "q_muhash_digest", "q_muhash_digest_by_group",
    "q_cdc_apply_upserts", "q_cdc_scd2_history", "q_text_compression_ratio",
    "q_multimodal_meta", "q_multimodal_decode", "q_multimodal_frames",
    "q_multimodal_features", "q_multimodal_audio_meta",
    "q_multimodal_video_meta", "q_corpus_delete_digest", "q_string_funcs",
    "q_fuzzy_prefix_match", "q_datetime_funcs", "q_math_funcs",
    "q_array_funcs", "q_array_hof_fold", "q_json_funcs", "q_hash_funcs",
    "q_conditional_null", "q_explode_posexplode", "q_map_funcs",
    "q_interval_arith", "q_uuid_canonical", "q_regexp_extract",
    "q_csv_roundtrip", "q_json_roundtrip", "q_in_memory_rows",
    "q_orc_roundtrip", "q_stream_tumbling_agg", "q_stream_dedup",
    "q_stream_static_join", "q_stream_stream_join", "q_stream_near_dedup",
    "q_stream_quality_gate", "q_stream_session_window",
    "q_stream_dedup_within_watermark", "q_stream_ivf_assign",
    "q_stream_cdc_apply",
)


# Fifth-decade ORACLE spot: the corpus entries whose
# DuckDB replay is seconds-scale at the 500k-doc / 200k-vector sf10c
# fixture (scripts/gen_sf1.py and scripts/gen_sf1_corpus.py with 100
# copies generate it; scripts/gen_codebooks.py trains its codebook).  The
# signature-equi-join oracle restatement made these replays feasible one
# decade past sf1, so the differential (hash-attested) evidence extends to
# the fifth decade for the dedup archetypes — not just Spark-only wall.
# Run: python scripts/drive_contract.py .scratch/sf10c sf10_spot
SF10_SPOT = (
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_embedding",
    "q_corpus_shard_pack", "q_dedup_simhash", "q_text_token_count",
    "q_corpus_gopher_rules", "q_sample_per_source_cap",
)

# The four relational cost archetypes (wide-scan hash-agg, pushdown-filter
# scan-agg, per-group window limit, one-shuffle as-of union/window), timed
# Spark-only by `python scripts/measure.py OUT.json
# q1_pricing_summary,q6_forecast_revenue,q_topk_per_group,q_join_asof
# .scratch/sf10 .scratch/sf100`.  Their DuckDB replays stay feasible
# through the SIXTH decade (q1 49s / topk 100s / asof 21s at 600M
# lineitem), so the differential evidence can follow the Spark-only wall:
#   python scripts/drive_contract.py .scratch/sf10  rel_archetypes
#   python scripts/drive_contract.py .scratch/sf100 rel_archetypes
REL_ARCHETYPES = (
    "q1_pricing_summary", "q6_forecast_revenue", "q_topk_per_group",
    "q_join_asof",
)

# The full TPC-H-shaped family, attestable at any relational fixture the
# disk can hold — the 22 oracles replay in 22s TOTAL at 60M lineitem
# (.scratch/sf10) and ~8 min at 600M (.scratch/sf100; q2's correlated
# min-cost subquery is the worst at 154s):
#   python scripts/drive_contract.py .scratch/sf10 tpch
TPCH = (
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_nation_trade_volume", "q8_market_share", "q9_product_type_profit",
    "q10_returned_items", "q11_important_parts",
    "q12_priority_by_returnflag", "q13_customer_distribution",
    "q14_promo_revenue_share", "q15_top_supplier",
    "q16_part_supplier_counts", "q17_small_quantity_revenue",
    "q18_large_volume_customers", "q19_discounted_revenue",
    "q20_excess_shippers", "q21_waiting_suppliers", "q22_dormant_customers",
)


def main(sf_dir: str = "/root/testdata/sf0.01", subset: str | None = None) -> int:
    spark = get_spark(app_name="drive_contract")

    if subset is None:
        t0 = time.time()
        res = contract.entry(spark)
        rows = res.collect()
        print(f"entry(): {len(rows)} rows, schema={res.schema.simpleString()} "
              f"({time.time() - t0:.1f}s)")
        assert len(rows) >= 0

    qs, oracles = contract.queries(), contract.oracle_sql()
    if subset is not None:
        presets = {
            "sf1": SF1_SUBSET,
            "sf1_leg2": SF1_SUBSET_LEG2,
            "sf1_leg3": SF1_SUBSET_LEG3,
            "sf1_leg4": SF1_SUBSET_LEG4,
            "sf10_spot": SF10_SPOT,
            "rel_archetypes": REL_ARCHETYPES,
            "tpch": TPCH,
        }
        names = presets.get(subset) or tuple(subset.split(","))
        missing = [n for n in names if n not in qs]
        assert not missing, f"unknown subset entries: {missing}"
        qs = {n: qs[n] for n in names}
    con = duckdb_connect(sf_dir)
    failed = []
    for name, fn in qs.items():
        # scope each query's persisted intermediates to its own run —
        # orphaned cache entries would otherwise accumulate across the
        # whole registry (same discipline as bench.py's timing loop)
        spark.catalog.clearCache()
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        if name in oracles:
            ok, msg = compare(sdf, con.execute(oracles[name]).arrow())
            status = "OK " if ok else "FAIL"
            if not ok:
                failed.append((name, msg))
        else:
            n = sdf.count()
            status, msg = "ROWS", f"{n} rows (no oracle)"
            ok = True
        print(f"{status} {name:32s} {time.time() - t0:5.1f}s  {'' if ok else msg}")
    for name, msg in failed:
        print(f"\nFAIL {name}: {msg}")
    print(f"\n{len(qs) - len(failed)}/{len(qs)} queries pass at {sf_dir}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
