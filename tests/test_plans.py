"""Physical-plan shape assertions — the 100 TB scale contract.

Correctness is the oracle harness's job; these tests pin the *plan*
properties that decide whether the same query survives a 1000-executor
cluster: filters reaching the parquet scan, column pruning, dimension
joins broadcasting instead of shuffling, top-k avoiding a global sort,
and aggregations doing map-side partial aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from basin_cli_spark.queries import load_all
from basin_cli_spark.sources import load_table


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= "1998-09-02"
    )
    plan = plan_of(li.select("l_quantity"))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = plan_of(li.select("l_orderkey", "l_quantity"))
    # the scan must read only the projected columns, not all 16
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in scan_schema and "l_quantity" in scan_schema
    assert "l_comment" not in scan_schema


def test_dimension_join_broadcasts(spark, sf_dir, registry):
    df = registry["q_join_inner_broadcast"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark, sf_dir, registry):
    df = registry["q_events_latest_n"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_groupby_partial_aggregation(spark, sf_dir, registry):
    df = registry["q1_pricing_summary"].fn(spark, sf_dir)
    plan = plan_of(df)
    # partial (map-side) + final aggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_q1_whole_stage_codegen(spark, sf_dir, registry):
    df = registry["q1_pricing_summary"].fn(spark, sf_dir)
    # AQE finalizes the physical plan only on execution; codegen stage
    # markers (*(n)) are visible on the executed plan.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan, plan


def test_stream_static_join_broadcasts(spark, sf_dir):
    """The static dim side of the stream-static join must broadcast."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan


def test_similarity_no_shuffle_before_topk(spark, sf_dir, registry):
    """Brute-force cosine top-k: one scan + broadcast of the query vector +
    TakeOrderedAndProject; no exchange of the candidate side."""
    df = registry["q_similarity_bruteforce"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    body = plan.split("== Physical Plan ==")[1]
    tree = body.split("(1) Scan")[0]
    # allowed exchanges: broadcast of the 1-row query side and the explicit
    # spread of the scoring loop; never a join/agg shuffle
    non_broadcast = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert non_broadcast <= 1
    if non_broadcast:
        assert "REPARTITION_BY_NUM" in plan  # ours, not a join shuffle
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree


# Queries where a BroadcastNestedLoopJoin is the *intended* physical plan:
# deliberate cross/theta/range joins, or a 1-row broadcast side (query
# vector / point lookup).  Everything else must plan equi-joins.
_NLJ_ALLOWED = {
    "q_join_cross",
    "q_join_range",
    "q_join_theta",
    "q_events_at",
    "q_similarity_bruteforce",
    "q_similarity_ann_ivf",
    "q_similarity_ann_ivf_trained",  # 1-row broadcast of the query vector
    "q_similarity_knn_label",  # 20-row probe-set broadcast cross join
    "q_similarity_hard_negatives",  # 20-row anchor-set broadcast cross join
    "q_similarity_text_hash",  # 1-row broadcast of the hashed query vector

    "q22_dormant_customers",  # 1-row broadcast of the scalar AVG subquery
    "q_timeseries_gapfill",  # 1-row broadcast of the (min_day, max_day) bounds
    "q11_important_parts",  # 1-row broadcast of the (total, n_parts) scalar
    "q_embedding_center_normalize",  # 1-row broadcast of the centroid array
    "q_tfidf_topterms",  # 1-row broadcast of the corpus-count scalar
    "q_corpus_rebalance",  # 1-row broadcast of the (total, n_langs) scalar
    "q_corpus_dsir_select",  # 1-row broadcast of the (tt, tr) token totals
    "q_corpus_unimax",  # 1-row broadcast of the (tt, n_langs) scalar
    "q_corpus_unimax_apply",  # same scalar broadcast inside the alloc tail
    "q_corpus_temperature_mix",  # (tt) and (zsum) 1-row scalar broadcasts
    "q_llm_prep_pipeline_v4",  # DSIR stage's 1-row token-totals broadcast
    "q_corpus_domain_kl",  # 1-row broadcast of the corpus token total
}


def test_ivf_stub_codebook_cap_reaches_scan(spark, sf_dir, registry):
    """The stride codebook's constant bound (id < stride*max_cents) must
    reach the parquet scan as a data filter, so the codebook relation —
    a broadcast side — is constant-size at any corpus scale (r10: the
    last grows-with-corpus broadcast in the tree, bounded)."""
    df = registry["q_similarity_ann_ivf"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "(vec_id#" in plan
    # the cap constant: 25 * 256
    assert "< 6400" in plan.replace("L", ""), (
        "codebook cap predicate missing from the physical plan"
    )


def test_no_accidental_cartesian_or_nlj(spark, sf_dir, registry):
    """Plan audit over the whole registry: no CartesianProduct anywhere,
    and BroadcastNestedLoopJoin only where the operator is by design
    non-equi or 1-row-broadcast.  Guards against a refactor silently
    turning an equi-join into an all-pairs plan."""
    offenders = []
    for name, spec in sorted(registry.items()):
        if name.startswith("q_stream"):
            continue  # streaming queries execute on build; covered elsewhere
        plan = plan_of(spec.fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _NLJ_ALLOWED:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_q1_decimals_stay_long_backed(spark, sf_dir, registry):
    """The per-row decimal products in Q1 must stay at <= 18 digits
    (compact-long codegen path); a bare `1 - col` literal or a widened
    cast regresses them to per-row BigDecimal (~2x slower)."""
    plan = plan_of(registry["q1_pricing_summary"].fn(spark, sf_dir))
    partial = plan.split("partial_sum", 1)[1].split("Exchange")[0]
    # the product chain appears as (13,4) and (18,6) — never 20+ digits
    for wide in ("decimal(20,", "decimal(22,", "decimal(25,", "decimal(37,", "decimal(38,"):
        assert wide not in partial, f"per-row product widened to {wide}"


def test_decontaminate_broadcasts_eval_set(spark, sf_dir, registry):
    """The eval shingle set must be the broadcast build side — the corpus
    side must never shuffle into the join."""
    plan = plan_of(registry["q_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_keep_one_aqe_broadcasts_drop_list(spark, sf_dir, registry):
    """The drop-list anti-join carries NO broadcast hint (dup-heavy
    corpora make the drop-list corpus-scale, and a hint would OOM the
    driver there) — but at bench scale AQE must still pick the broadcast
    strategy on its own.  Checked on the executed (AQE-final) plan."""
    df = registry["q_dedup_keep_one"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


# Broadcast hints remaining after the round-5 un-hinting are ONLY on
# constant-size relations: region (5 rows), nation (25), scalar-aggregate
# singletons (1 row), codebooks, probe/eval sets.  With the auto-broadcast
# threshold disabled, the BroadcastExchange count per query is exactly the
# hinted set — pinned here so a refactor that re-hints an SF-scaling
# relation (supplier/customer/part/eur/drop-list) fails this sweep.
# Counts are from explain("formatted"), which lists each node twice
# (tree + details).
_HINTED_BX = {
    "q2_min_cost_supplier": 8,       # nation, region, and their reuse in eur
    "q5_local_supplier_volume": 4,   # nation, region
    "q7_nation_trade_volume": 4,     # n1, n2 nation aliases
    "q8_market_share": 6,            # nc, region, ns
    "q9_product_type_profit": 2,     # nation
    "q10_returned_items": 2,         # nation
    "q11_important_parts": 10,       # nation, region (x2 via eur), total scalar
    "q15_top_supplier": 2,           # max_rev scalar
    "q16_part_supplier_counts": 0,
    "q20_excess_shippers": 0,
    "q21_waiting_suppliers": 0,
    "q22_dormant_customers": 2,      # avgbal scalar
    "q_dedup_keep_one": 0,
    "q_dedup_embedding_keep_one": 0,
    "q_dedup_provenance": 0,
    # r5 curation surface: only bloom-decon's exact-verify hint (eval
    # suites are benchmark-sized) and rebalance's bounded scalar/rates
    # broadcasts are constant-size; everything else must not broadcast
    # when auto-broadcast is off.
    "q_dedup_incremental": 0,
    "q_decontaminate_bloom": 2,      # exact-verify join on the eval shingles
    "q_split_leakage": 0,
    "q_dedup_source_overlap": 0,
    "q_corpus_mad_prune": 0,
    "q_corpus_rebalance": 4,         # (total, n_langs) scalar + rates table
    # r6: the two-pass prune hints its per-source threshold table —
    # sources are operational units (crawl batches), bounded like the
    # rebalance rates table, ~24 B/row; NOT an SF-scaling relation.
    "q_corpus_quantile_prune_2pass": 2,
    "q_corpus_gopher_rules": 0,
    "q_sample_per_source_cap": 0,
    # r6: the hot-cell cap broadcasts its keep-list — a table bounded by
    # the trained codebook width k (constant-size by construction, the
    # same class as the codebook broadcast).  r6-r14 both self-join
    # sides carried the hinted semi-join (4 in the sweep's plan string);
    # r15 caches the FILTERED assignment, so the cap's semi-join builds
    # once inside the cache lineage and the count drops to 3 (one
    # keep-list build + the two verify-side builds).  The capped
    # `assigned` is still never shuffled for the cap itself.
    "q_dedup_semantic_ivf": 3,
    "q_llm_prep_pipeline_v3": 0,     # all joins AQE-sized, none hinted
}
# Scalar 1-row broadcast singletons plan as BroadcastNestedLoopJoin even
# with the threshold off — by design (see _NLJ_ALLOWED).
_SWEEP_NLJ_OK = {
    "q11_important_parts",
    "q22_dormant_customers",
    "q_corpus_rebalance",
}


def test_no_scaling_side_broadcast_hints(spark, sf_dir, registry):
    """The 100 TB broadcast doctrine: with auto-broadcast disabled (the
    regime where no SF-scaling side fits in the driver), every remaining
    BroadcastExchange must come from a hint on a constant-size relation.
    A re-hinted supplier/customer/part/drop-list raises the pinned count;
    a dropped legit hint lowers it — both fail loudly."""
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    offenders = []
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, expected in sorted(_HINTED_BX.items()):
            plan = plan_of(registry[name].fn(spark, sf_dir))
            got = plan.count("BroadcastExchange")
            if got != expected:
                offenders.append((name, f"BroadcastExchange {got} != {expected}"))
            if "CartesianProduct" in plan:
                offenders.append((name, "CartesianProduct"))
            if "BroadcastNestedLoopJoin" in plan and name not in _SWEEP_NLJ_OK:
                offenders.append((name, "BroadcastNestedLoopJoin"))
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert not offenders, offenders


def test_q5_aqe_still_broadcasts_at_bench_scale(spark, sf_dir, registry):
    """Dropping the supplier hint must not cost the bench-scale plan:
    with the default threshold, AQE/CBO still picks broadcast for
    supplier at sf0.001 — the hint was redundant where it was safe and
    dangerous where it wasn't."""
    df = registry["q5_local_supplier_volume"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pq_adc_broadcasts_codebook_and_query_table(spark, sf_dir, registry):
    plan = plan_of(registry["q_similarity_pq_adc"].fn(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 2  # codebook + query table
    assert "SortMergeJoin" not in plan


def test_vocab_topk_is_take_ordered(spark, sf_dir, registry):
    plan = plan_of(registry["q_vocab_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_dedup_embedding_shuffle_shape(spark, sf_dir, registry):
    """The scale contract q_dedup_embedding's docstring states: with
    broadcast disabled entirely (the 100 TB regime — no side fits in the
    driver), every join must still be a hash-partitioned equi-join on the
    (band, sig) / vec_id keys.  No CartesianProduct, no
    BroadcastNestedLoopJoin, no broadcast hint overriding AQE."""
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(registry["q_dedup_embedding"].fn(spark, sf_dir))
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" not in plan  # no stray broadcast hints
    # candidate generation joins on the exploded band/sig keys
    assert "band" in plan and "sig" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def _assert_partial_group_limit_below_exchange(plan, *, jvm_only=True):
    """Shared assertion: a WindowGroupLimit(..., Partial) sits DIRECTLY
    below the window-keyed Exchange (InferWindowGroupLimit, SPARK-37099),
    so each map partition ships at most k rows per window key into the
    shuffle.  Checked by tree adjacency — the Exchange's immediate child
    in the formatted tree is a WindowGroupLimit whose details line is
    marked Partial."""
    import re

    partial_ids = set(
        re.findall(
            r"\((\d+)\) WindowGroupLimit\nInput[^\n]*\nArguments: [^\n]*Partial",
            plan,
        )
    )
    assert partial_ids, "no partial WindowGroupLimit in plan:\n" + plan
    tree = plan.split("== Physical Plan ==")[1].split("\n\n")[0]
    lines = tree.splitlines()
    adjacent = False
    for i, ln in enumerate(lines):
        m = re.search(r"WindowGroupLimit \((\d+)\)", ln)
        if m and m.group(1) in partial_ids and i > 0 \
                and "Exchange (" in lines[i - 1]:
            adjacent = True
    assert adjacent, (
        "partial WindowGroupLimit not directly below an Exchange:\n" + tree
    )
    if jvm_only:
        # and nothing Python-side: the whole query stays in the JVM
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_per_source_cap_partial_limit_before_exchange(spark, sf_dir, registry):
    """The per-source-cap skew escape is NATIVE: the rank<=k filter makes
    Catalyst plant WindowGroupLimit(..., row_number(), k, Partial) BELOW
    the source-keyed Exchange — a giant source cannot flood its reducer
    task."""
    df = registry["q_sample_per_source_cap"].fn(spark, sf_dir)
    _assert_partial_group_limit_below_exchange(plan_of(df))


def test_mining_windows_partial_group_limit(spark, sf_dir, registry):
    """The same native group-limit contract where the window key is
    anchor/probe cardinality: hard-negative mining and kNN labeling end
    in rank<=k / r==1 filters over per-anchor windows, so Catalyst must
    plant the Partial WindowGroupLimit below the anchor-keyed Exchange —
    each map partition ships at most k scored rows per anchor, keeping
    the shuffle |anchors|*k instead of |corpus|*|anchors|."""
    for name in ("q_similarity_hard_negatives", "q_similarity_knn_label"):
        plan = plan_of(registry[name].fn(spark, sf_dir))
        _assert_partial_group_limit_below_exchange(plan, jvm_only=False)


def test_zipf_slope_partial_group_limit(spark, sf_dir, registry):
    """The Zipf-slope top-100 rank filter rides the same native
    group-limit: the Partial WindowGroupLimit sits below the
    source-keyed Exchange, so a source with a huge vocabulary ships at
    most map_partitions x 100 slim (source, token, count) rows, never
    its whole type inventory."""
    plan = plan_of(registry["q_corpus_zipf_slope"].fn(spark, sf_dir))
    _assert_partial_group_limit_below_exchange(plan)


def test_cluster_cap_partial_limit_before_exchange(spark, sf_dir, registry):
    """Cluster-balanced sampling carries the same native skew escape as
    the per-source cap, keyed on the IVF cell: a degenerate hot cell
    ships at most map_partitions x k slim rows into its reducer.  The
    Arrow codebook assignment upstream keeps jvm_only off."""
    df = registry["q_sample_cluster_cap"].fn(spark, sf_dir)
    _assert_partial_group_limit_below_exchange(plan_of(df), jvm_only=False)


def test_pipeline_v4_partial_limit_before_exchange(spark, sf_dir, registry):
    """The composed selection pipeline's per-language quota must ride the
    same native group limit: a dominant language ships bounded rows to
    its reducer, and the whole pipeline stays in the JVM."""
    df = registry["q_llm_prep_pipeline_v4"].fn(spark, sf_dir)
    _assert_partial_group_limit_below_exchange(plan_of(df))


def test_2pass_prunes_have_no_rank_window(spark, sf_dir, registry):
    """The skew-safe two-pass prunes must NOT plan a per-group rank
    window (the exact forms' scale ceiling): thresholds come from a
    percentile sketch that partial-aggregates map-side, broadcast back,
    and applied as a stateless filter.  Pinned: no Window operator, no
    percent_rank, partial aggregation on the sketch, and the
    threshold-table join side is a BroadcastExchange."""
    for name in ("q_embedding_prototype_prune_2pass",
                 "q_corpus_lm_prune_2pass",
                 "q_corpus_quantile_prune_2pass",
                 "q_corpus_mad_prune_2pass"):
        plan = plan_of(registry[name].fn(spark, sf_dir))
        body = plan.split("== Physical Plan ==")[1]
        assert ") Window\n" not in body, name + " plans a rank window"
        assert "percent_rank" not in body, name
        assert "partial_percentile_approx" in body, name
        assert "BroadcastExchange" in body, name


def test_boilerplate_rewrite_join_keys_on_hash(spark, sf_dir, registry):
    """The boilerplate rewrite join must key on ``xxhash64(seg)`` — an
    8-byte long — never on the multi-word segment string: past broadcast
    size a string-keyed join would partition every text-carrying segment
    row by its own content (double text movement), while the hash key
    ships 8 bytes per row.  Pinned: every join in the plan keys on
    ``_segh`` longs, and no join key is the ``seg`` string itself."""
    import re

    plan = plan_of(registry["q_corpus_boilerplate_scrub"].fn(spark, sf_dir))
    body = plan.split("== Physical Plan ==")[1]
    assert "xxhash64" in body, "hash key derivation missing:\n" + body
    key_lines = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", body)
    assert key_lines, "no equi-join in plan:\n" + body
    for keys in key_lines:
        assert "_segh" in keys, "join not keyed on _segh: " + keys
        assert not re.search(r"\bseg#", keys), (
            "join keyed on the segment string: " + keys
        )


def test_dsir_select_plan_shape(spark, sf_dir, registry):
    """DSIR selection must rank via TakeOrderedAndProject (top-100 of a
    scored corpus is never a global sort), join the 256-row weight table
    broadcast (no shuffled join anywhere), and stay entirely JVM-side."""
    plan = plan_of(registry["q_corpus_dsir_select"].fn(spark, sf_dir))
    body = plan.split("== Physical Plan ==")[1]
    assert "TakeOrderedAndProject" in body
    assert "SortMergeJoin" not in body and "ShuffledHashJoin" not in body
    assert "BroadcastHashJoin" in body
    assert "MapInPandas" not in body and "ArrowEvalPython" not in body


# Measured-good expensive-expression duplication bounds in the OPTIMIZED
# plan.  CollapseProject inlining is the trap this pins: a token/gram/
# segment array (or a norm fold) that gets copied into every referencing
# expression turns a narrow per-row pass into O(tokens^2)/O(d^2) work —
# measured 3.8-5x regressions on repetition folds (r7) and 1.8-2.2x on the
# boilerplate-rewrite experiment (r8).  A future restructure that raises a
# count should be a conscious decision with a new measurement, not a silent
# optimizer side effect.
_EXPR_DUP_BOUNDS = {
    # name: (max split( occurrences, max aggregate( occurrences)
    "q_text_repetition": (2, 1),
    "q_corpus_dup_ngram_stats": (1, 4),
    "q_text_entropy": (1, 1),
    "q_embedding_anisotropy": (0, 2),
    "q_corpus_boilerplate_scrub": (6, 0),
}


@pytest.mark.parametrize("name", sorted(_EXPR_DUP_BOUNDS))
def test_fold_queries_expression_duplication_bounded(
    spark, sf_dir, registry, name
):
    max_split, max_agg = _EXPR_DUP_BOUNDS[name]
    df = registry[name].fn(spark, sf_dir)
    op = df._jdf.queryExecution().optimizedPlan().toString()
    n_split, n_agg = op.count("split("), op.count("aggregate(")
    assert n_split <= max_split, (
        f"{name}: {n_split} split() calls in the optimized plan "
        f"(measured-good bound {max_split}) — CollapseProject is likely "
        "re-inlining the tokenization into every referencing expression"
    )
    assert n_agg <= max_agg, (
        f"{name}: {n_agg} aggregate() folds in the optimized plan "
        f"(bound {max_agg}) — a fold is being recomputed per reference"
    )


def test_no_duplicated_python_eval(spark, sf_dir, registry):
    """No query may evaluate the same Python kernel expression twice in
    one plan (guide §4.4: filter pushdown below a UDF projection — or the
    Generate's implicit size()>0 precondition — copies the ArrowEvalPython
    node, doubling the Python work per row).  dot_arrow and
    sign_lsh_bands are marked non-deterministic precisely to prevent
    this; the pin checks every ArrowEvalPython node's expression
    signature is unique within its query plan (r14: q_dedup_embedding,
    q_dedup_semantic_ivf, and both LSH probes each carried a duplicate
    before the fix)."""
    import re

    # Analyze-time check: drop caches materialized by earlier tests in
    # this session — a MATERIALIZED InMemoryRelation's formatted explain
    # prints its cached AQE plan twice (initial + final), so the same
    # eval node appears as two detail blocks with identical expression
    # ids even though it ran exactly once at cache build (r15: surfaced
    # when the cached pair relations gained a repartition).  The
    # duplication this pin exists to catch — Catalyst copying a kernel
    # below a pushed filter — is visible in the UNmaterialized plan.
    spark.catalog.clearCache()
    offenders = []
    for name in (
        "q_dedup_embedding",
        "q_dedup_semantic_ivf",
        "q_similarity_ann_lsh",
        "q_similarity_ann_multiprobe",
        "q_similarity_ann_ivf",
        "q_similarity_hard_negatives",
        "q_similarity_knn_label",
    ):
        plan = plan_of(registry[name].fn(spark, sf_dir))
        # "Arguments: [<udf>(<in#id>)#id], [out], batch" — the FIRST
        # bracket (udf + input expression ids + result id) identifies the
        # evaluated expression; a pushdown-duplicated eval repeats it
        # verbatim (only the out column differs), while two legitimate
        # evals on different join sides carry different input ids.
        sigs = re.findall(
            r"ArrowEvalPython\nInput.*\nArguments: (\[[^\]]+\])", plan
        )
        dupes = {s for s in sigs if sigs.count(s) > 1}
        if dupes:
            offenders.append((name, dupes))
    assert not offenders, offenders
