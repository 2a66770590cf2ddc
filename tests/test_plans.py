"""Physical-plan quality gates: the 100 TB design rules, asserted on the
actual Catalyst output. A query that silently loses pushdown, broadcasts, or
whole-stage codegen fails here even though its results stay correct."""

from __future__ import annotations

from profitscout_engine_spark.plans import explain_str
from profitscout_engine_spark.queries import load_registry

REGISTRY = load_registry()


def _plan(spark, sf_dir, name: str) -> str:
    return explain_str(REGISTRY[name].fn(spark, sf_dir))


def test_filter_and_projection_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pruned_scan")
    assert "PushedFilters:" in plan
    # Both predicates reach the scan.
    assert "l_quantity" in plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0]
    # Column pruning: untouched wide columns never read.
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_returnflag" not in read_schema


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dim_enrichment_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_scanner_no_shuffle_explosion(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scanner_rank")
    assert "CartesianProduct" not in plan
    # Dim enrichment + cluster-boost join-back are broadcasts, not
    # fact-side shuffles.
    assert "BroadcastHashJoin" in plan


def test_no_python_in_hot_path(spark, sf_dir):
    """Aggregation queries stay JVM-side: hash aggregate with map-side
    partials, no row-at-a-time Python eval. (Codegen stars only appear in
    the post-execution AQE plan, so we assert the structural properties.)"""
    plan = _plan(spark, sf_dir, "conditional_aggregates")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_asof_single_shuffle(spark, sf_dir):
    """The union+window as-of must not contain a range join explosion."""
    plan = _plan(spark, sf_dir, "asof_last_prior")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_plans_scale_clean(spark, sf_dir):
    """The §3.2/§3.3 compositions keep their scale properties end-to-end:
    dims broadcast, no cartesian blowup, no row-Python."""
    for name in ("enrichment_pipeline", "trader_pipeline"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    assert "BroadcastHashJoin" in _plan(spark, sf_dir, "enrichment_pipeline")


def test_monte_carlo_no_collect_plan(spark, sf_dir):
    """The pooled Monte Carlo resolves draws via a broadcast join — the
    pool must appear as a BroadcastExchange, never a driver collect (the
    query function builds the whole dag lazily)."""
    plan = _plan(spark, sf_dir, "monte_carlo_paths")
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


# Queries whose documented design legitimately uses a nested-loop join:
# the brute-force similarity yardsticks (broadcast NL by design) and the
# 1-row cross joins (pool-size scalar, centroid matrix routing).
_NL_JOIN_OK = {
    "cosine_topk",
    "embedding_neardup_pairs",
    "ivf_centroid_assign",
    "ivf_search_topk",
    "ivf_search_nprobe",
    # inherits the same k-centroid routing broadcast via its old-index
    # search branch (ivf_search_topk machinery)
    "ivf_rebuild_audit",
    # 1-row leakage-audit scalar (cross-split component count) cross join
    "leakage_safe_split",
    # bounded PQ codebook broadcast (PQ_M × PQ_K = 32 rows) routed to every
    # vector — the PQ analogue of the k-centroid routing broadcast
    "pq_encode",
    "ivfpq_search",
    # same IVF routing + PQ codebook broadcasts feeding the bounded rerank pool
    "two_stage_rerank",
    # composes the brute yardstick + both IVF searches (their documented shapes)
    "ann_recall_curve",
    "ndcg_eval",
    # |sources|²-bounded signature pair table (20 corpus sources) — the
    # sketch side is K hashes per source, broadcast by construction
    "source_minhash_similarity",
    # 1-row observation-bounds scalar cross join (hour-range clamp)
    "sliding_distinct_users",
    # 10-centroid IVF routing broadcast (clustering stage of SemDeDup)
    "semantic_dedup",
    # same k-centroid broadcast routing shape as the IVF build
    "kmeans_lloyd_step",
    # 1-row doc-count scalar cross joins (teleport mass per iteration)
    "pagerank_power_lattice",
    # 1-row corpus-token-total cross join (c-TF-IDF denominator scalar)
    "community_top_terms",
    "monte_carlo_paths",
    "scenario_explode",
    # non-equi join against a broadcast trading-calendar dim (J9)
    "trading_day_offsets",
    # 1-row global-scalar cross join (regime selector)
    "regime_weighted_score",
    # 1-row kept-token-total scalar cross join (fair-share denominator)
    "crawl_budget_allocator",
    # 1-row global-scalar threshold compare (positive-balance average)
    "q22_dormant_balance",
    # 1-row global-scalar cross join (nation-scoped grand total for HAVING)
    "q11_important_stock",
    # three 1-row estimator scalars cross-joined into the report row
    "join_size_estimate",
    # 1-row N / dof scalars cross-joined into the statistic row
    "chi_square_independence",
    # two 64-block KMV sketch scalars (1-row each) cross-joined for the
    # theta-style intersection estimate
    "kmv_intersect_users",
    # declared brute-force eval yardstick: sampled-query × corpus pair scan
    # (the production search path is the LSH/IVF family)
    "dim_truncation_recall",
    # four 1-row count/degree scalars cross-joined into the Q statistic row
    "graph_modularity",
    # 24-row lag table non-equi-joined against the bounded hourly-count frame
    "autocorrelation_acf",
    # 1-row global-scalar cross join (corpus total for cell share)
    "k_anonymity_audit",
    # two 1-row grand-total scalars (unigram n1, bigram n2) cross-joined onto
    # the count tables — the round-5 fix replacing unpartitioned window sums
    "pmi_collocations",
    # 1-row boundary-array cross join (percentile bucket bounds)
    "equi_depth_histogram",
    # 1-row digit-total cross join (Benford denominator)
    "benford_audit",
    # 1-row quartile-boundary cross join (RFM score bounds)
    "rfm_segmentation",
    # 1-row grand-total cross join (Pareto share denominator)
    "revenue_pareto_curve",
    # 1-row × 1-row scalar assembly (streamed-registers estimate × exact)
    "streaming_hll_users",
    # 1-row Rayleigh-numerator scalar cross join
    "svd_power_step",
    # 1-row day-0 baseline scalar cross join (drift-ratio denominator)
    "ivf_incremental_maintain",
    # bounded-model broadcast (n_classes rows) + 1-row total cross joins
    "nb_confusion",
    "pr_curve_binned",
    "woe_iv_source",
    # 1-row global-scalar cross join (corpus size for idf)
    "tfidf_top_terms",
    # 1-row global-scalar cross join (avgdl / N / per-term df)
    "bm25_search",
    # 1-row global-scalar cross joins (corpus total / floor count / quota)
    "unigram_freq_quality",
    "domain_mix_rebalance",
    "temperature_mix_sample",
    # 1-row global-scalar cross join (smoothing constants total+vocab)
    "unigram_lm_logprob",
    "bigram_lm_logprob",
    # 1-row argmax-pair cross join (the BPE merge being applied)
    "bpe_merge_step",
    # 1-row global-scalar cross joins (corpus size / key total)
    "pagerank_iteration",
    "key_skew_report",
    # 1-row global-scalar cross joins (entropy totals)
    "column_entropy",
    "vocab_coverage",
    # 1-row global-scalar cross joins (token budget / n_src, W / N probes,
    # stratified-sample totals, CUSUM series totals)
    "token_budget_epochs",
    "systematic_resample",
    "neyman_allocation",
    "changepoint_binseg",
    # 1-row max-day broadcast / 7-row literal lag spine cross joins
    "kaplan_meier_retention",
    "cross_correlation_lags",
    # 1-row smoothed-total broadcast cross join
    "psi_drift",
    # 1-row era-totals scalar cross join (per-mille share denominators)
    "centroid_drift_monitor",
    # 1-row scalars: domain-mix floor + the two component-audit counts
    "corpus_curation_pipeline",
}


def test_every_registered_plan_is_scale_hygienic(spark, sf_dir):
    """Full-registry sweep of the 100 TB design rules, on every plan:

    - no row-at-a-time Python eval anywhere (BatchEvalPython);
    - no unbounded CartesianProduct;
    - nested-loop joins only in the explicitly documented yardsticks /
      scalar-broadcast shapes (_NL_JOIN_OK);
    - Arrow Python hops only in queries that declare a Python kernel.
    """
    arrow_ok_markers = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython",
                       "FlatMapGroupsInPandasWithState")
    failures = []
    for name in REGISTRY:
        plan = _plan(spark, sf_dir, name)
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _NL_JOIN_OK:
            failures.append(f"{name}: undocumented BroadcastNestedLoopJoin")
        if any(m in plan for m in arrow_ok_markers):
            # Arrow hops are fine but must be intentional: the query (or its
            # operator module) declares a Python kernel in its docstring.
            doc = (REGISTRY[name].fn.__doc__ or "").lower()
            if not any(k in doc for k in ("pandas", "arrow", "python", "decode", "dot", "packed")):
                failures.append(f"{name}: undeclared Arrow Python hop")
    assert not failures, "\n".join(failures)


def test_docs_fanout_skips_repartition_on_multisplit_input(spark, sf_dir, tmp_path):
    """The fixture's single-file documents table gets one round-robin
    fan-out; a multi-split table (the production case) must NOT be
    force-shuffled in front of a zero-shuffle map query like chunk_split
    — the plan stays Exchange-free."""
    import os
    import shutil

    par = spark.sparkContext.defaultParallelism
    multi = str(tmp_path / "multisplit")
    os.makedirs(multi)
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par).write.parquet(
        f"{multi}/documents.parquet"
    )
    # chunk_split / repetition_metrics read only documents.
    for other in ("customer", "orders"):
        shutil.copy(f"{sf_dir}/{other}.parquet", f"{multi}/{other}.parquet")

    for name in ("chunk_split", "repetition_metrics"):
        plan = _plan(spark, multi, name)
        assert "Exchange" not in plan, f"{name}: forced shuffle on multi-split input\n{plan}"

    # The single-split fixture still fans out (the local-mode speed lever).
    fixture_plan = _plan(spark, sf_dir, "chunk_split")
    assert "Exchange" in fixture_plan and "RoundRobinPartitioning" in fixture_plan


# Queries whose plan contains an UNPARTITIONED window, each over a provably
# BOUNDED frame — never a data-sized one (VERDICT r6 item 5: with the
# WindowExec WARN silenced in session.py, THIS gate is the real detector).
# The bound per query:
_UNPART_WINDOW_OK = {
    # calendar-bounded day/bin spines
    "changepoint_binseg",       # one row per calendar day
    "kaplan_meier_retention",   # day spine (x2: risk + survival passes)
    "running_distinct_users",   # day spine cumulative
    "psi_drift",                # 16 fixed bins
    "pr_curve_binned",          # fixed score bins
    "value_counts_pct",         # distinct flag values of a low-card column
    # top-K-bounded ranked tables (orderBy+limit BEFORE the window)
    "key_skew_report",          # SKEW_TOPK hottest keys
    "revenue_pareto_curve",     # PARETO_TOPK customers
    "vocab_coverage",           # VOCAB_TOPK terms
    # bounded domain tables
    "pareto_frontier",          # distinct-price group table (documented
                                # coarse-bucket prune path for huge domains)
    "plsa_em_step",             # n_topics-bounded
    "monte_carlo_paths",        # bounded draw pool
    "woe_iv_source",            # |sources| frame
    "token_budget_epochs",      # |sources| frame (x2)
    "trading_day_offsets",      # trading-calendar dim (x3)
    # range-bucket decompositions: window over <= NUM_BUCKETS rows
    "spearman_rank_corr",       # two with_avg_rank offset passes
    "systematic_resample",      # with_prefix_sum bucket offsets
}


def test_unpartitioned_windows_are_allowlisted():
    """Every plan's unpartitioned-window count is snapshotted in
    PLANS.json; any query outside the documented bounded-frame allowlist
    must have ZERO. A new single-task window fails here by name."""
    import json
    import os

    snap = json.load(
        open(os.path.join(os.path.dirname(__file__), "..", "PLANS.json"))
    )
    bad = sorted(
        name
        for name, flags in snap["flags"].items()
        if flags.get("unpartitioned_windows", 0) and name not in _UNPART_WINDOW_OK
    )
    assert not bad, f"undocumented unpartitioned windows in: {bad}"


def test_plan_sha_ignores_rdd_call_site():
    """The creation call site of an existing-RDD scan depends on JVM state
    (the reflection accessor in use), not on the plan: both renderings of
    one localCheckpoint scan hash equal, while a different RDD operation
    still changes the hash."""
    from profitscout_engine_spark.plans import normalized_plan_sha

    def scan(site: str) -> str:
        return (
            "(1) Scan ExistingRDD [codegen id : 1]\n"
            f"Arguments: [node#12L, comp#13L], MapPartitionsRDD[42] at {site}, "
            "ExistingRDD, UnknownPartitioning(0)\n"
        )

    fresh = normalized_plan_sha(scan("localCheckpoint at NativeMethodAccessorImpl.java:0"))
    inflated = normalized_plan_sha(scan("localCheckpoint at <unknown>:0"))
    other_op = normalized_plan_sha(
        scan("applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0")
    )
    assert fresh == inflated
    assert other_op != fresh


def test_explain_str_lifts_the_session_plan_cap(spark, sf_dir):
    """The session caps every rendered plan at 4,096 chars (session.py);
    the plan gates read explain_str, which must render the whole plan —
    scanner_rank's runs to tens of thousands of chars — with no truncation
    marker, and leave the cap in place afterwards."""
    cap = "spark.sql.maxPlanStringLength"
    assert spark.conf.get(cap) == "4096"
    plan = _plan(spark, sf_dir, "scanner_rank")
    assert len(plan) > 4096
    assert "more characters" not in plan and "Truncated plan" not in plan
    assert spark.conf.get(cap) == "4096"


def test_cli_explain_prints_the_snapshot_plan_sha(spark, capsys):
    """The CLI explain captures the way plans_snapshot.py does, so at
    PLANS.json's sf_dir it prints the plan_sha PLANS.json holds."""
    import json
    import os

    from profitscout_engine_spark.__main__ import main

    snap = json.load(open(os.path.join(os.path.dirname(__file__), "..", "PLANS.json")))
    name = "q1_pricing_summary"
    assert main(["explain", name, "--sf-dir", snap["sf_dir"]]) == 0
    out = capsys.readouterr().out
    assert f"plan_sha: {snap['flags'][name]['plan_sha']}" in out
