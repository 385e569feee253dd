"""Physical-plan audits — the scale contract.

Correctness says a query returns the right rows at sf0.01; these tests
pin the *plan shape* that keeps it working at 100 TB: filters pushed to
the parquet scan, column pruning, broadcast (not shuffle) joins for
dims, TakeOrderedAndProject (not global sort) for top-k, and
whole-stage codegen over the hot expressions. A regression here
wouldn't flip a value-hash — it would melt a cluster.
"""

import contextlib
import io
import re

import pytest

from city_payroll_data_pipeline_spark.suite import build_suite
from tests.conftest import SF_CORRECT


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def suite():
    return build_suite()


def _q(suite, spark, name):
    return suite[name].spark(spark, SF_CORRECT)


def test_dim_joins_broadcast_not_shuffle(suite, spark):
    """region_revenue: every dim join is a BroadcastHashJoin — the fact
    side must never shuffle for a dimension lookup."""
    p = plan(_q(suite, spark, "region_revenue"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_range_join_broadcasts_band_table(suite, spark):
    p = plan(_q(suite, spark, "price_band_range_join"))
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_semi_anti_joins_stay_semi(suite, spark):
    """Anti/semi joins must plan as existence joins, not materialized
    inner joins (a row blowup at scale)."""
    assert "LeftAnti" in plan(_q(suite, spark, "customers_without_orders"))
    assert "LeftSemi" in plan(_q(suite, spark, "customers_with_orders_semi"))


def test_pricing_summary_pushes_filter_and_prunes_columns(suite, spark):
    p = plan(_q(suite, spark, "pricing_summary"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # ReadSchema carries only the 7 referenced columns — no keys, no dates
    # beyond l_shipdate; reading all 11 at 100 TB is ~40% wasted IO.
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    for col in ("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"):
        assert col not in read, read


def test_topk_plans_take_ordered_not_global_sort(suite, spark):
    """Top-k must be TakeOrderedAndProject (per-partition heap + merge),
    never a full global sort feeding a limit."""
    for name in ("top_k_spenders", "shipping_priority_topk"):
        assert "TakeOrderedAndProject" in plan(_q(suite, spark, name)), name


def test_budget_report_prunes_unused_columns(suite, spark):
    """The budget report reads exactly (o_orderpriority, o_totalprice)."""
    p = plan(_q(suite, spark, "budget_report"))
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert "o_orderpriority" in read and "o_totalprice" in read
    for col in ("o_custkey", "o_orderdate", "o_orderstatus"):
        assert col not in read, read


def test_tenant_budget_report_sorts_in_one_task(spark):
    """operators.reports.budget_report sorts its few hundred rows in one
    task: no range-partition exchange (and no sampling job), and the
    same total order as a global sort, a null total_budget last."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.operators import reports

    fct = spark.createDataFrame(
        [("Officer", 100.0), ("Officer", 220.0), ("Captain", 390.0),
         ("Clerk", 40.0), ("Vacant", None), ("Chief", 500.0)],
        "job_title string, total_amount double",
    ).repartition(4)
    report = reports.budget_report(fct)
    assert "rangepartitioning" not in plan(report).lower()
    want = reports.budget_aggregate(fct).orderBy(F.desc("total_budget")).collect()
    got = report.collect()
    assert got == want
    assert got[-1]["job_title"] == "Vacant" and got[-1]["total_budget"] is None


def test_full_export_plan_is_sorted_scan(suite, spark):
    """full_export is a projection + global sort: no aggregation, no
    Python evaluation, vectorized scan (this test previously audited
    budget_report under full_export's name — the export's plan was
    never pinned anywhere)."""
    p = plan(_q(suite, spark, "full_export"), mode="simple")
    assert "Sort" in p, p
    assert "EvalPython" not in p and "CartesianProduct" not in p, p
    assert "Batched: true" in p, p


def test_aggregations_stay_jvm_side_and_vectorized(suite, spark):
    """The hot agg pipeline must be: vectorized parquet scan
    (Batched: true) → partial HashAggregate (map-side combine) → final
    HashAggregate — with zero Python evaluation nodes. (AQE hides
    codegen ids until execution, so we pin the codegen-capable node
    types instead.)"""
    for name in ("budget_report", "pricing_summary", "hourly_event_stats"):
        p = plan(_q(suite, spark, name), mode="simple")
        assert "Batched: true" in p, name
        assert "partial_" in p and p.count("HashAggregate") >= 2, name
        assert "EvalPython" not in p, name  # Batch/ArrowEvalPython = slow path


def test_shipping_priority_semi_reduces_customer(suite, spark):
    """TPC-H Q3 shape: the customer filter applies as a semi join (no
    customer columns survive), and the mktsegment predicate reaches the
    customer scan."""
    p = plan(_q(suite, spark, "shipping_priority_topk"))
    assert "LeftSemi" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_bucketed_join_eliminates_shuffle(suite, spark):
    """Tables bucketed on the join key with equal bucket counts join
    with NO Exchange — the 100 TB repeat-join strategy. Verified
    against the unbucketed plan, which must shuffle at least one side."""
    from city_payroll_data_pipeline_spark.sources.sinks import save_table
    from city_payroll_data_pipeline_spark.suite import table as t

    orders = t(spark, SF_CORRECT, "orders")
    li = t(spark, SF_CORRECT, "lineitem")
    # at sf0.01 the planner prefers broadcast (and rightly so); force the
    # shuffle-join path this test is about — the regime where both sides
    # are too big to broadcast, which is where bucketing pays off
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    try:
        # writes INSIDE the try: a failed second write must still drop
        # the bktest database instead of leaking managed tables into
        # the shared warehouse for every later session
        save_table(orders, "bktest.orders_b", bucket_by=["o_orderkey"], num_buckets=8)
        save_table(li, "bktest.lineitem_b", bucket_by=["l_orderkey"], num_buckets=8)
        bo, bl = spark.table("bktest.orders_b"), spark.table("bktest.lineitem_b")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).select(
            "l_orderkey", "o_totalprice", "l_extendedprice"
        )
        p = plan(joined, mode="simple")
        assert "SortMergeJoin" in p and "Exchange" not in p, p
        p_unbucketed = plan(
            li.join(orders, li.l_orderkey == orders.o_orderkey).select(
                "l_orderkey", "o_totalprice", "l_extendedprice"
            ),
            mode="simple",
        )
        assert "Exchange hashpartitioning" in p_unbucketed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP DATABASE bktest CASCADE")


def test_exact_dedup_single_shuffle(suite, spark):
    """Exact dedup is one shuffle: exactly one Exchange between the scan
    and the final agg (partial/final hash agg around it). Simple mode —
    formatted prints each node twice (tree + details)."""
    p = plan(_q(suite, spark, "exact_dedup_groups"), mode="simple")
    assert p.count("Exchange") == 1, p


def test_salted_join_spreads_key(suite, spark):
    """The salted join's shuffle keys include the salt (the n-way
    spread) and the salt column never reaches the output."""
    from city_payroll_data_pipeline_spark.operators.skew import salted_join
    from city_payroll_data_pipeline_spark.suite import table as t

    li = t(spark, SF_CORRECT, "lineitem")
    orders = t(spark, SF_CORRECT, "orders")
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=8)
    p = plan(joined, mode="simple")
    assert "_salt" in p
    assert "_salt" not in joined.columns
    # result identity with the plain join
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    assert joined.count() == plain.count()


def test_event_funnel_single_shuffle(suite, spark):
    """The funnel's fold design claim: ONE exchange (the per-user
    collect_list groupBy) between scan and final single-row agg — the
    chained-join formulation would show one per step."""
    p = plan(_q(suite, spark, "event_funnel"), mode="simple")
    assert p.count("Exchange") <= 2, p  # user groupBy + global agg
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p


def test_contamination_check_broadcasts_probes(suite, spark):
    """The corpus side must meet the probe set via broadcast — a
    SortMergeJoin here would shuffle the full corpus shingle stream."""
    p = plan(_q(suite, spark, "contamination_check"), mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_incremental_dedup_is_anti_join(suite, spark):
    p = plan(_q(suite, spark, "incremental_dedup"), mode="simple")
    assert "LeftAnti" in p, p


def test_tfidf_no_self_join(suite, spark):
    """df(term) comes from a window over the tf frame — the plan must
    not contain a tf⋈df self-join (only the 1-row count broadcast)."""
    p = plan(_q(suite, spark, "tfidf_top_terms"), mode="simple")
    assert "SortMergeJoin" not in p, p
    assert p.count("Window") >= 1, p


# BNLJ is legitimate ONLY when the broadcast side is tiny by
# construction: ANN query sets, range-band tables, 1-row aggregates.
_INTENTIONAL_BNLJ = {
    "ann_retrieve_docs",      # broadcast top-k result
    "kneser_ney_bigram",      # broadcast 1-row bigram-type total
    "budget_rebalance_sample",  # broadcast 1-row min + rate table
    "join_key_skew",          # broadcast 1-row key-stats agg
    "hits_scores",            # broadcast 1-row sum-normalization totals
    "stylometry_burrows_delta",  # broadcast top-M words + 1-row S/m_used
    "shuffle_run_lengths",    # broadcast 1-row corpus-count scalar
    "context_fill_sweep",     # broadcast |grid|=5 context-size table
    "packing_bfd_compare",    # broadcast |grid|=5 context-size table
    "quality_probe_train",    # broadcast 1-row Cramer-solve weights
    "neardup_split_leakage",  # broadcast 1-row pair-total scalar
    "cluster_safe_split",     # broadcast 1-row leak-certificate scalar
    "kmv_source_overlap",     # source_a < source_b pairing of two
                              # |sources|-row sketch frames
    "shapley_vocab_attribution",  # broadcast 1-row micro-total scalar
    "wasserstein_length_drift",   # broadcast |sources| grid + 1-row n_c
    "bradley_terry_sources",  # broadcast 1-row normalization totals
                              # (pre-checkpoint MM iterations)
    "join_size_estimate",     # broadcast 1-row sketch-estimate scalar
    "zorder_skipping_gain",   # broadcast 1-row quantization bounds
    "cosine_neardup_pairs",   # broadcast pair candidates
    "cosine_topk",            # broadcast query set vs corpus
    "hard_negative_mining",   # same broadcast query-set shape
    "ivf_ann_topk",           # broadcast centroids/queries
    "ivfpq_ann_topk",         # broadcast centroids (ivf_assign) + LUT
    "ivf_probe_curve",        # broadcast centroids + tiny grid/census joins
    "pq_recall_report",       # inherits ivfpq's broadcast-centroid shape
    "pq_recall_report_sampled",  # same shapes over the sampled query subset
    "pq_trained_recall",      # inherits cosine_topk's broadcast query set
                              # (exact arm) — codebooks ride equi-joins
    "ivfpq_residual_recall",  # broadcast centroids (ivf_assign) + LUT +
                              # exact arm's broadcast query set
    "lsh_ann_topk",           # broadcast plane/query set
    "price_band_range_join",  # broadcast band table
    "idle_rich_customers",    # broadcast 1-row avg-balance scalar
    "important_parts",        # broadcast 1-row revenue-threshold scalar
    "rolling_active_users",   # broadcast day spine, fan-out ≤ window
    "approx_rolling_users",   # broadcast day spine over per-day sketches
    "pps_weighted_sample",    # broadcast 1-row weight-total scalar
    "ks_source_drift",        # broadcast 1-row group-sizes scalar
    "histogram_quantiles",    # broadcast 1-row total + 3-row quantile probes
    "zorder_layout_stats",    # broadcast 1-row key-range (grid lo/hi) stats
    "quantile_sketch_error",  # same 1-row total + 3-row quantile probes
    "decision_stump_split",   # broadcast 1-row (total_n, total_pos) scalar
    "log_rank_test",          # broadcast 1-row (N1, N2) group totals
    "simpson_paradox_audit",  # broadcast 1-row pooled-rate scalar
    "discriminative_terms",   # broadcast 1-row grand-total scalar
    "k_anonymity_audit",      # broadcast 3-row k-threshold probes
    "chunk_dedup_rate",       # broadcast 1-row distinct-count scalar
    "ann_recall_report",      # inherits the retrievers' broadcast query sets
    "ndcg_eval",              # inherits the retrievers' broadcast query sets
    "ann_recall_report_sampled",  # same shapes over the sampled query subset
    "ndcg_eval_sampled",      # same shapes over the sampled query subset
    "approx_distinct_stats",  # cross join of three 1-row scalar frames
    "sq8_ann_topk",           # broadcast query set vs corpus
    "tfidf_top_terms",        # broadcast 1-row corpus count
    "training_mix_report",    # broadcast 1-row min-token + 1-row total
    "vocab_coverage",         # broadcast 1-row grand-total scalar
    "source_divergence",      # broadcast 1-row grand-total scalar
    "nearest_centroid_eval",  # broadcast label-count-sized centroid table
    "rrf_fused_topk",         # inherits cosine/sq8 broadcast query sets
    "bloom_semi_join",        # broadcast 1-row Bloom bitset array
    "jl_projection_error",    # broadcast projected query set vs corpus
    "temperature_mixture",    # broadcast 1-row weight-total scalar
    "label_centroid_sim",     # |labels|-row centroid pairwise (non-equi)
    "heavy_hitter_tokens",    # broadcast 1-row corpus-total scalar
    "rfm_segments",           # broadcast 1-row max-date anchor
    "rfm_segments_scaled",    # same anchor + 1-row total per ntile pass
    "length_deciles_scaled",  # broadcast 1-row total (ntile.py)
    "quality_logit_deciles_scaled",  # broadcast 1-row total (ntile.py)
    "hard_negative_topk",     # broadcast query set, label-mismatch join
    "contrastive_negatives",  # broadcast query set, label-mismatch join
    "bm25_search",            # broadcast 1-row corpus-totals scalar
    "doc_perplexity",         # broadcast 1-row vocabulary-size scalar
    "semantic_dedup_pairs",   # broadcast 8-row seed-centroid table
    "item_pmi",               # broadcast 1-row basket-count scalar
    "data_freshness_audit",   # broadcast 1-row high-water-mark scalar
    "psi_drift",              # broadcast 1-row corpus-total + bucket spine
    "benford_audit",          # broadcast 1-row digit-total scalar
    "epoch_shuffle_plan",     # broadcast |epochs|-row spine
    "matryoshka_recall",      # broadcast query sets per truncation
    "cusum_changepoint",      # broadcast 1-row totals scalar
    "knn_label_noise",        # broadcast audited sample vs corpus
    "quantile_normalize_lengths",  # broadcast 1-row pooled-count scalar
    "corpus_health_report",   # 1-row summary joins
    "cramers_v",              # broadcast 1-row margins/total scalar
    "merkle_bucket_manifest", # broadcast 1-row root-hash scalar
    "session_coverage",       # broadcast 1-row covered-seconds scalar
    "revenue_concentration",  # broadcast 1-row customer-count/total scalar
    "t_closeness_audit",      # broadcast |bands|-row spine + 1-row totals
    "jackknife_ratio_se",     # broadcast 1-row totals + 1-row jackknife mean
    "calibration_ece",        # broadcast 1-row ECE scalar
    "poisson_bootstrap_ci",   # broadcast 1-row boot-mean + 1-row theta
    "cuped_adjustment",       # broadcast 1-row window-midpoint scalar
    "calinski_harabasz",      # broadcast 1-row global-scatter scalar
    "hash_uniformity_check",  # broadcast 1-row total scalar
    "heaps_law_curve",        # broadcast 1-row id-range + decile spine
    "hill_tail_index",        # broadcast 1-row reference order statistic
    "conversion_survival_curve",  # broadcast 1-row cohort-total scalar
    "embedding_auc_separability",  # broadcast |labels|-row centroid table
    "bloom_fpr_audit",        # 1-row member/bit/fp count readout joins
    "median_of_means",        # 1-row readout over the k-shard frame
    "hll_union_intersect_audit",  # broadcast 1-row date-cut scalar
    "randomization_test_uplift",  # broadcast 1-row observed-diff scalar
    "lsh_tuning_curve",       # 19-row literal grid × 1-row census
    "xent_mix_weights",       # broadcast 1-row weight-total scalar
    "offpolicy_eval_ips",     # broadcast 1-row (n, K) totals scalar
    "lpa_modularity",         # broadcast 1-row 2m total + 1-row Q scalar
    "loo_source_influence",   # broadcast 1-row corpus-totals scalar
    "embedding_mmd_drift",    # broadcast 1-row corpus-count scalar
    "dsir_importance_weights",  # broadcast 1-row feature-totals scalar
    "mmr_diversified_topk",   # broadcast query set vs corpus (pool build)
}

# Arrow mapInPandas boundaries (SURVEY §2.10): per-partition stateful
# logic DataFrame ops can't express without defeating the operator's
# purpose. Everything else must stay JVM-side.
_SANCTIONED_PYTHON = {
    "media_feature_extract",   # media decode/feature stub pipeline
    "heavy_hitter_tokens",     # zero-shuffle local candidate counting
    "isotonic_token_curve",    # PAV: sequential per-group merges
}

# An UNPARTITIONED window funnels its whole input through ONE reducer —
# a scale killer when the frame is row-level. It is legitimate ONLY
# over frames that are small BY CONSTRUCTION (aggregate spines,
# distinct-value cumsum frames, n_shards offset rows, post-limit
# survivors). Every query whose plan contains one must be listed here
# with the bounded frame named; row-level ranking must instead use
# operators/rowids.py (sharded two-phase numbering), orderBy().limit()
# (TakeOrderedAndProject), or a per-value count cumsum
# (mann_whitney_test / ks_source_drift pattern).
_UNPARTITIONED_WINDOW_OK = {
    "bm25_search": "rank over the K=20 survivors of orderBy().limit()",
    "cusum_changepoint": "cumsum over the per-day aggregate spine",
    "sprt_conversion_gate": "cumsum over the per-day aggregate spine",
    "doc_perplexity": "rank over the K=20 survivors of orderBy().limit()",
    "error_spikes": "trailing frame over the hourly aggregate series",
    "event_trigram_mining": "rank over the K=10 survivors of orderBy().limit()",
    "heaps_law_curve": "cumsum over the decile spine",
    "hill_tail_index": "top-k order-statistics frame (k bounded)",
    "histogram_quantiles": "cumsum over the bucket-level aggregate",
    "quantile_sketch_error": "cumsum over the bucket-level aggregate",
    "key_gini_skew": "cumsum over distinct multiplicities (≪ keys)",
    "ks_source_drift": "cumsum over distinct values (≪ rows)",
    "length_deciles": "NTILE audit variant; *_scaled has no global sort",
    "length_deciles_scaled": "cumsum over distinct values (operators/ntile.py)",
    "quality_logit_deciles_scaled": "cumsum over distinct values (ntile.py)",
    "rfm_segments_scaled": "cumsum over distinct values ×3 (ntile.py)",
    "mann_whitney_test": "cumsum over distinct values (≪ rows)",
    "part_pareto_frontier": "cumulative min over the distinct-size frame",
    "peak_concurrency": "n_shards-row offset prefix sum (_sharded_sweep)",
    "quality_logit_deciles": "NTILE audit variant; *_scaled is the scale path",
    "quantile_normalize_lengths": "n_shards-row offset prefix sum (rowids)",
    "revenue_concentration": "n_shards-row offset prefix sum (rowids)",
    "rfm_segments": "NTILE audit variant; *_scaled is the scale path",
    "session_coverage": "n_shards-row offset prefix sum (_sharded_sweep)",
    "conversion_survival_curve":
        "risk-set cumsum over <= horizon+1 distinct day values",
    "log_rank_test":
        "risk-set cumsum over <= horizon+1 distinct day values",
    "decision_stump_split": "cumsum over the bucket-level aggregate",
    "stable_doc_ids": "n_shards-row offset prefix sum (rowids)",
    "vocab_coverage": "cumsum over the K=20 survivors of orderBy().limit()",
    "weighted_reservoir_sample":
        "rank over the K=20 survivors of orderBy().limit()",
    "zipf_slope": "rank over the K=500 survivors of orderBy().limit()",
    "t_closeness_audit": "cumsum over the balance-band spine (~a dozen rows)",
    "poisson_bootstrap_ci": "rank over the B=20 replica frame",
    "unigram_em_fit":
        "rank over the K=20 survivors of orderBy().limit() on the "
        "model-sized piece table (chars + top_m rows)",
    "wasserstein_length_drift":
        "cumsum + lead over distinct values (≪ rows; ks_source_drift "
        "pattern extended from max to integral)",
    "bradley_terry_sources": "n_shards-row offset prefix sum (rowids)",
}

# First windowspecdefinition argument is a sort spec (`col ASC/DESC`)
# ⇒ the window has NO partition columns.
_UNPARTITIONED_WINDOW_RE = re.compile(
    r"windowspecdefinition\(\s*[^,()]*#\d+[A-Za-z]*\s+(?:ASC|DESC)"
)


def _has_unpartitioned_logical_window(df) -> bool:
    """Walk the optimized logical plan's JVM tree for a Window node
    with an EMPTY partitionSpec — exact, regardless of how the sort
    expression prints (the textual regex can false-negative when the
    leading sort expression is a cast/function call, ADVICE r4)."""
    found = []

    def walk(node):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            found.append(True)
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return bool(found)


def test_no_scale_red_flags_in_any_query(suite, spark):
    """Sweep EVERY suite query's physical plan: no CartesianProduct
    ever; no Python eval outside the sanctioned mapInPandas operator;
    BroadcastNestedLoopJoin only where the broadcast side is tiny by
    construction (list above — additions must be justified)."""
    bad = {}
    for name in sorted(suite):
        df = _q(suite, spark, name)
        p = plan(df, mode="simple")
        flags = []
        if "CartesianProduct" in p:
            flags.append("CartesianProduct")
        if "EvalPython" in p and name not in _SANCTIONED_PYTHON:
            flags.append("EvalPython")
        if "BroadcastNestedLoopJoin" in p and name not in _INTENTIONAL_BNLJ:
            flags.append("unexpected BNLJ")
        if name not in _UNPARTITIONED_WINDOW_OK and (
            _UNPARTITIONED_WINDOW_RE.search(p)
            or _has_unpartitioned_logical_window(df)
        ):
            flags.append("unpartitioned window on unlisted query")
        if flags:
            bad[name] = flags
    assert not bad, bad


def test_large_volume_customers_broadcasts_filtered_agg(suite, spark):
    """Q18 shape: after the HAVING filter the per-order agg is tiny —
    both fact joins must be broadcast probes, never a sort-merge
    shuffle of orders or customer."""
    p = plan(_q(suite, spark, "large_volume_customers"), mode="simple")
    assert p.count("BroadcastHashJoin") == 2, p
    assert "SortMergeJoin" not in p, p


def test_cheapest_supplier_single_window_shuffle(suite, spark):
    """Q2 shape: the argmin window must be the only lineitem shuffle —
    no self-join re-scan of the fact."""
    p = plan(_q(suite, spark, "cheapest_supplier_per_part"), mode="simple")
    assert p.count("Window [") == 1, p
    assert "SortMergeJoin" not in p, p  # dims are broadcast
    # rn==1 must push a partial top-1 below the exchange (map-side
    # group-limit): only each task's per-part minimum is shuffled.
    assert "WindowGroupLimit" in p, p


def test_revenue_forecast_filters_reach_scan(suite, spark):
    """Q6 shape: shipdate/discount/quantity predicates must appear in
    PushedFilters on the parquet scan — at 100 TB this is the
    difference between reading a slice and reading everything."""
    p = plan(_q(suite, spark, "revenue_forecast"))
    assert "PushedFilters:" in p
    seg = p[p.index("PushedFilters:"):].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in seg, seg


def test_per_group_sample_uses_window_group_limit(suite, spark):
    """Exact-k stratum sampling must plan the map-side WindowGroupLimit
    (partial before the exchange) so only ~k rows per stratum per input
    partition are shuffled — not the corpus."""
    p = plan(_q(suite, spark, "per_group_sample"), mode="simple")
    assert "WindowGroupLimit" in p, p
    assert "Partial" in p.split("WindowGroupLimit")[1][:200] or \
        p.count("WindowGroupLimit") == 2, p


def test_bigram_topk_uses_window_group_limit(suite, spark):
    """The top-3-continuations rank filter must also ride
    WindowGroupLimit; the scan reads only the text column."""
    p = plan(_q(suite, spark, "bigram_lm"), mode="formatted")
    assert "WindowGroupLimit" in p, p
    assert "ReadSchema: struct<text:string>" in p, p


def test_bench_headline_names_exist(suite):
    """Every bench.py HEADLINE name must be a real suite query — a typo
    would silently shrink the benchmark instead of failing it."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in suite]
    assert not missing, missing


def test_touch_attribution_interval_join_is_hash_join(suite, spark):
    """The purchases⋈touches join is equi on user with the 7-day window
    as a post-join filter — it must plan as a hash/sort-merge join,
    never a nested-loop time cross-join."""
    p = plan(_q(suite, spark, "touch_attribution"))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_trade_triangles_closing_join_is_equi(suite, spark):
    """Degree orientation makes the wedge-close lookup a pure equi join
    on (y, z) = (a, b); an OR-predicate formulation would fall back to
    a nested loop that cannot scale past toy graphs."""
    p = plan(_q(suite, spark, "trade_triangles"))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_discriminative_terms_single_corpus_exchange(suite, spark):
    """Corpus-sized data crosses exactly one exchange (the (source,
    term) count groupBy); every later join/window runs on vocabulary-
    sized frames. We pin the absence of a second corpus-wide shuffle by
    checking the explode feeds straight into a partial aggregate."""
    p = plan(_q(suite, spark, "discriminative_terms"), mode="simple")
    assert "EvalPython" not in p
    assert "Generate" in p  # the explode runs in-plan, not in Python
    # map-side combine on the corpus-sized side before its exchange
    assert "partial_" in p, p
    assert "CartesianProduct" not in p


def test_dynamic_partition_pruning_on_partitioned_fact(suite, spark, tmp_path):
    """A fact table partitioned on the join key must be scanned with a
    dynamicpruningexpression when joined to a filtered dimension — at
    100 TB this skips every partition the dim filter rules out, before
    any IO happens. (Catalyst provides this for free once the layout
    is partitioned — sources/sinks.py::write_parquet partition_by.)"""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.suite import table as t

    orders = t(spark, SF_CORRECT, "orders")
    path = str(tmp_path / "orders_by_priority")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        orders.select("o_orderpriority", "o_custkey")
        .distinct()
        .where(F.col("o_custkey") < 10)
    )
    p = plan(fact.join(dim, "o_orderpriority").groupBy().count())
    assert "dynamicpruningexpression" in p, p[:2000]


def test_bloom_semi_join_probes_before_exchange(suite, spark):
    """The Bloom probe (array_contains on the broadcast bitset) must
    be a map-side filter and the exact recheck a broadcast semi join —
    never a shuffle of the fact table."""
    p = plan(_q(suite, spark, "bloom_semi_join"), mode="simple")
    assert "array_contains" in p, p
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "SortMergeJoin" not in p, p


def test_stable_doc_ids_window_is_shard_partitioned(suite, spark):
    """The data-sized row_number window must run per-shard (parallel),
    not on a single partition — the whole point of the operator. The
    only single-partition work allowed is the n_shards-row offset
    prefix-sum and the presentational output sort."""
    p = plan(_q(suite, spark, "stable_doc_ids"), mode="simple")
    assert "hashpartitioning(shard" in p, p


def test_prefix_jaccard_uses_compact_array_verify(suite, spark):
    """Verification must be the local array_intersect on gathered
    bigint sets — the row-level shingle join blows up to
    |pairs|x|shingles-per-doc| shuffle rows (measured >500s at
    sf0.1 vs 4.6s compact)."""
    p = plan(_q(suite, spark, "prefix_jaccard_pairs"), mode="simple")
    assert "array_intersect" in p, p


def test_twap_single_window_broadcast_dim(suite, spark):
    """One LEAD window on l_partkey is the only lineitem shuffle; the
    part dim joins broadcast."""
    p = plan(_q(suite, spark, "twap_price"), mode="simple")
    assert p.count("Window [") == 1, p
    assert "SortMergeJoin" not in p, p


def test_markov_two_window_passes(suite, spark):
    """LEAD over (user, time) + the per-src total: exactly two window
    nodes, nothing else touches the events table twice."""
    p = plan(_q(suite, spark, "markov_transitions"), mode="simple")
    assert p.count("Window [") == 2, p


def test_winnow_windows_are_doc_partitioned(suite, spark):
    """Every window in the winnowing pass is partitioned by doc_id
    (doc-bounded, parallel) — no global window anywhere. (The cached
    fingerprint frame's lineage prints multiple times pre-execution,
    so count distinct specs, not nodes.)"""
    p = plan(_q(suite, spark, "winnow_fingerprints"), mode="simple")
    specs = {
        line.split("windowspecdefinition", 1)[1][:40]
        for line in p.splitlines()
        if "windowspecdefinition" in line
    }
    assert len(specs) == 2, specs  # per-doc count + per-doc min
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "windowspecdefinition(doc_id" in line, line


def test_contrastive_negatives_prunes_embeddings(suite, spark):
    """Negative sampling is metadata-only: the embeddings scan must
    read (vec_id, label) and NEVER the vector column — at 100 TB the
    vectors are ~99% of the table's bytes."""
    p = plan(_q(suite, spark, "contrastive_negatives"))
    reads = [l for l in p.splitlines() if "ReadSchema" in l]
    assert reads and all("embedding" not in r for r in reads), reads
