"""Portable probabilistic structures (queries/sketches.py): error-bound
invariants the oracle equality can't express — HLL relative error on both
correction branches, count-min one-sided error, bloom no-false-negatives —
plus plan-quality gates (broadcast probing, JVM-only)."""

from __future__ import annotations

from profitscout_engine_spark.plans import explain_str
from profitscout_engine_spark.queries import load_registry

REGISTRY = load_registry()


def _plan(spark, sf_dir, name: str) -> str:
    return explain_str(REGISTRY[name].fn(spark, sf_dir))


def test_hll_relative_error_both_branches(spark, sf_dir):
    """m=256 gives ~6.5% standard error; assert a loose 3-sigma bound on
    the raw-estimator branch (partkeys) AND the linear-counting branch
    (suppkeys, cardinality << 2.5m)."""
    pdf = REGISTRY["hll_distinct_portable"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    for _, r in pdf.iterrows():
        assert abs(r.hll_parts - r.exact_parts) / r.exact_parts < 0.20, dict(r)
        assert abs(r.hll_supps - r.exact_supps) / r.exact_supps < 0.20, dict(r)


def test_countmin_error_is_one_sided(spark, sf_dir):
    """Count-min never undercounts (min over rows of sums >= true), and
    the probe returns every distinct token exactly once."""
    pdf = REGISTRY["countmin_freq_portable"].fn(spark, sf_dir).toPandas()
    assert (pdf.overcount >= 0).all()
    assert (pdf.cms_cnt == pdf.exact_cnt + pdf.overcount).all()
    assert pdf.token.is_unique
    # w=64 is deliberately tight: total mass per row equals the corpus
    # token count, so estimates stay within one row's worst bucket.
    assert (pdf.cms_cnt <= pdf.exact_cnt.sum()).all()


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """Every true match passes the filter (the bloom guarantee); the
    false-positive rate stays under the design bound for m=4096, k=2."""
    pdf = REGISTRY["bloom_semijoin_account"].fn(spark, sf_dir).toPandas()
    assert (pdf.n_bloom_pass >= pdf.n_true).all()
    assert (pdf.n_false_pos == pdf.n_bloom_pass - pdf.n_true).all()
    assert (pdf.fp_rate < 0.25).all()


def test_bloom_probe_side_joins_are_broadcast(spark, sf_dir):
    """The probe (orders) must flow through broadcast hash joins against
    the tiny bit-position tables — never a shuffled join: the point of a
    bloom pre-filter is that the 100 TB side does not move."""
    plan = _plan(spark, sf_dir, "bloom_semijoin_account")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_sketch_queries_stay_jvm_side(spark, sf_dir):
    for name in ("hll_distinct_portable", "countmin_freq_portable", "bloom_semijoin_account",
                 "hll_merge_incremental", "weighted_sample_ares"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def _py_hll_estimate(keys) -> float:
    """Independent pure-Python HLL over the same md5 registers."""
    import hashlib
    import math

    regs: dict[int, int] = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        ridx = int(h[:2], 16)
        tail = h[2:32]
        stripped = tail.lstrip("0")
        nz = len(tail) - len(stripped)
        if nz >= 30:
            rho = 121
        else:
            c = stripped[0]
            extra = 3 if c == "1" else 2 if c in "23" else 1 if c in "4567" else 0
            rho = 4 * nz + extra + 1
        regs[ridx] = max(regs.get(ridx, 0), rho)
    m = 256
    s = sum(2.0 ** -mx for mx in regs.values())
    nreg = len(regs)
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    raw = alpha * 256.0 * 256.0 / (s + (m - nreg))
    est = m * math.log(m / (m - nreg)) if raw <= 2.5 * m and m - nreg > 0 else raw
    return math.floor(est * 1e4 + 0.5) / 1e4


def test_hll_merge_is_exact_identity(spark, sf_dir):
    """Register-wise max-merge of per-batch sketches must equal the
    sketch built directly over the union — an identity, not an
    approximation. Verified against an independent Python HLL."""
    from profitscout_engine_spark.catalog import table

    row = REGISTRY["hll_merge_incremental"].fn(spark, sf_dir).collect()[0]
    keys = {
        r.l_orderkey
        for r in table(spark, sf_dir, "lineitem").select("l_orderkey").distinct().collect()
    }
    assert row.hll_merged == _py_hll_estimate(keys)
    assert row.exact_union == len(keys)
    # both batch estimates describe subsets, so neither exceeds merged
    # by more than sketch noise; the merged estimate tracks the union
    assert abs(row.hll_merged - row.exact_union) / row.exact_union < 0.20


def test_streaming_hll_tracks_exact(spark, sf_dir):
    """The streamed register sketch lands within sketch error of the true
    user cardinality (oracle equality already pins streamed == batch
    sketch; this pins the batch sketch against ground truth)."""
    row = REGISTRY["streaming_hll_users"].fn(spark, sf_dir).collect()[0]
    assert row.exact_users > 0
    assert abs(row.hll_users - row.exact_users) / row.exact_users < 0.20


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    """A-Res selection replicated independently: u = md5-uniform of
    doc_id, key = u^(1/weight), top-K per language."""
    import hashlib

    from profitscout_engine_spark.catalog import table

    got = {
        (r.lang, r.rn): r.doc_id
        for r in REGISTRY["weighted_sample_ares"].fn(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars").collect()
    by_lang: dict[str, list] = {}
    for r in docs:
        h = hashlib.md5(f"ws|{r.doc_id}".encode()).hexdigest()
        u = (int(h[:8], 16) + 0.5) / 4294967296.0
        key = u ** (1.0 / max(r.n_chars, 1))
        by_lang.setdefault(r.lang, []).append((-key, r.doc_id))
    expect = {}
    for lang, rows in by_lang.items():
        for rn, (_, doc_id) in enumerate(sorted(rows)[:5], start=1):
            expect[(lang, rn)] = doc_id
    assert got == expect


def test_join_size_estimators_bound_and_close(spark, sf_dir):
    """CM inner product must upper-bound the exact join size (collisions
    only add mass); universe sampling at 1/16 of the key space must land
    within a loose ±40% at fixture scale (one deterministic draw, ~125
    sampled keys — the variance bound, not a bias claim)."""
    from profitscout_engine_spark.queries import load_registry

    row = (
        load_registry()["join_size_estimate"].fn(spark, sf_dir).collect()[0].asDict()
    )
    assert row["cm_est"] >= row["exact_pairs"]
    assert row["cm_overcount"] == row["cm_est"] - row["exact_pairs"]
    assert abs(row["universe_err_pct"]) <= 40.0


def test_kmv_intersection_error_envelope(spark, sf_dir):
    """KMV relative error is ~1/sqrt(K-2); pin a 3-sigma envelope, and the
    exact-below-K branch must be exactly right when it fires."""
    from profitscout_engine_spark.queries.sketches import KMV_K, kmv_intersect_users

    row = kmv_intersect_users(spark, sf_dir).toPandas().iloc[0]
    exact_union = row.exact_a + row.exact_b - row.exact_intersection
    if row.union_est == float(int(row.union_est)) and row.union_est <= KMV_K - 1:
        # exact-below-K branch: sketches saw everything
        assert row.union_est == exact_union
        assert row.intersection_est == row.exact_intersection
    else:
        rel = 3.0 / (KMV_K - 2) ** 0.5
        assert abs(row.union_est - exact_union) <= rel * exact_union
        assert abs(row.intersection_est - row.exact_intersection) <= max(
            rel * 2 * max(row.exact_intersection, 1), 2.0
        )


def test_click_attribution_stream_matches_oracle_at_sf0_01(spark, sf_dir):
    """At sf0.001 the stream-stream attribution join returns no rows, so
    the registry-wide oracle check compares two empty frames; sf0.01 is
    the smallest fixture where it attributes purchases to clicks."""
    import os

    import duckdb

    from profitscout_engine_spark.catalog import TABLES

    from .conftest import assert_frames_match

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    spec = REGISTRY["click_attribution_stream"]
    got = spec.fn(spark, sf).toPandas()
    con = duckdb.connect()
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    want = con.sql(spec.oracle).df()
    con.close()
    assert len(got) > 0
    assert_frames_match(got, want, "click_attribution_stream")
