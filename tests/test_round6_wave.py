"""Round-6 wave invariants: the distributed prefix-sum operator and its
consumers (systematic resampling), the UniMax budget allocator, and the
split-conformal calibration audit."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from profitscout_engine_spark.operators.ranks import with_prefix_sum
from profitscout_engine_spark.queries import load_registry
from profitscout_engine_spark.queries._util import t

REGISTRY = load_registry()


def test_prefix_sum_matches_global_window(spark, sf_dir):
    """with_prefix_sum == SUM(v) OVER (ORDER BY key) through one global
    window, on a UNIQUE key (the systematic_resample shape)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    got = (
        with_prefix_sum(d, "doc_id", "n_chars", "c")
        .select("doc_id", "c")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        d.select(
            "doc_id",
            F.sum("n_chars")
            .over(
                Window.orderBy("doc_id").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .alias("c"),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    assert str(got["c"].dtype) == "int64"  # integer weights stay exact BIGINT


def test_prefix_sum_tie_keys_follow_range_semantics(spark, sf_dir):
    """Tied keys share the through-the-last-peer total, exactly like the
    SQL default RANGE frame — o_orderdate has heavy ties."""
    o = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .where(F.col("o_orderkey") % 7 == 0)
    )
    got = (
        with_prefix_sum(o, "o_orderdate", "o_totalprice", "c")
        .select("o_orderkey", "c")
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    want = (
        o.select(
            "o_orderkey",
            F.sum("o_totalprice").over(Window.orderBy("o_orderdate")).alias("c"),
        )
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    # float column: totals must agree to float noise; ties grouped identically
    assert (got["c"] - want["c"]).abs().max() < 1e-6 * want["c"].abs().max()


def test_systematic_resample_draw_count_is_exact(spark, sf_dir):
    """The probe-count function telescopes: total draws == |docs| div 4,
    every emitted doc has >= 1 draw, and no doc exceeds its interval's
    ceiling probe capacity."""
    out = REGISTRY["systematic_resample"].fn(spark, sf_dir).toPandas()
    d = t(spark, sf_dir, "documents")
    n_docs = d.count()
    w_total = d.agg(F.sum("n_chars")).collect()[0][0]
    n_target = n_docs // 4
    assert out["n_samples"].sum() == n_target
    assert (out["n_samples"] >= 1).all()
    # a doc of weight w can catch at most floor(w*N/W) + 1 probes
    cap = (out["weight"] * n_target) // w_total + 1
    assert (out["n_samples"] <= cap).all()


def test_token_budget_epochs_waterfill_invariants(spark, sf_dir):
    """Allocations sum to the budget, capped sources sit exactly at their
    cap, uncapped sources share one water level, and nobody exceeds
    EPOCH_CAP epochs."""
    from profitscout_engine_spark.queries.curation import BUDGET_TENTHS, EPOCH_CAP

    out = REGISTRY["token_budget_epochs"].fn(spark, sf_dir).toPandas()
    budget = int(out["tokens"].sum()) * BUDGET_TENTHS // 10
    assert abs(out["alloc_tokens"].sum() - budget) < 1e-2  # 4dp rounding slack
    capped = out[out["capped"]]
    uncapped = out[~out["capped"]]
    assert (capped["alloc_tokens"] == capped["cap_tokens"]).all()
    if len(uncapped) > 1:
        assert uncapped["alloc_tokens"].nunique() == 1  # one water level
    if len(capped) and len(uncapped):
        assert capped["cap_tokens"].max() <= uncapped["alloc_tokens"].min() + 1e-9
    assert (out["epochs"] <= EPOCH_CAP + 1e-9).all()


def test_conformal_calibration_order_statistic(spark, sf_dir):
    """q-hat really is the k-th smallest calibration score: at least k
    calibration scores sit at or under it, fewer than k under it."""
    out = REGISTRY["conformal_calibration"].fn(spark, sf_dir).toPandas()
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars").toPandas()
    cal = d[d["doc_id"] % 2 == 0]
    for _, r in out.iterrows():
        g = cal[cal["lang"] == r["lang"]]["n_chars"]
        mu = g.sum() / len(g)
        s = (g - mu).abs().sort_values().reset_index(drop=True)
        k = (9 * (len(g) + 1) + 9) // 10
        assert abs(round(s.iloc[k - 1], 4) - r["qhat"]) < 1e-9
        assert r["n_cal"] == len(g) and r["k"] == k


def test_grouped_weighted_median_hand_case(spark):
    """Lower weighted median on a hand-checkable frame, including a
    heavy-tail group where the unweighted median would differ."""
    from profitscout_engine_spark.operators.ranks import grouped_weighted_median

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("a", 3, 1),   # plain median 2
         ("b", 10, 1), ("b", 20, 9),              # weight mass on 20
         ("c", 5, 2), ("c", 7, 2)],               # even split -> lower = 5
        "g string, v int, w int",
    )
    assert grouped_weighted_median(df, ["g"], "v", "w") == {
        ("a",): 2, ("b",): 20, ("c",): 5,
    }


def test_grouped_weighted_median_matches_pandas(spark, sf_dir):
    """Fixture differential: the operator == the classic cumsum rule
    computed in pandas per group."""
    from pyspark.sql import functions as F

    from profitscout_engine_spark.operators.ranks import grouped_weighted_median

    base = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("g"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
            F.col("l_quantity").cast("long").alias("w"),
        )
    )
    got = grouped_weighted_median(base, ["g"], "v", "w")
    pdf = base.toPandas()
    for g, grp in pdf.groupby("g"):
        grp = grp.sort_values("v")
        cum = grp["w"].cumsum()
        want = int(grp.loc[cum.index[2 * cum >= grp["w"].sum()][0], "v"])
        assert got[(g,)] == want, g


def test_neyman_allocation_invariants(spark, sf_dir):
    """Floor quotas never exceed the budget, shares sum to 1, and the
    allocation orders with the stratum weight."""
    out = REGISTRY["neyman_allocation"].fn(spark, sf_dir).toPandas()
    n_sample = int(out["n_docs"].sum()) // 10
    assert out["n_alloc"].sum() <= n_sample
    assert n_sample - out["n_alloc"].sum() < len(out)  # floor loses < 1 each
    assert abs(out["share"].sum() - 1.0) < 1e-4
    srt = out.sort_values("w_micro")
    assert srt["n_alloc"].is_monotonic_increasing


def test_changepoint_binseg_matches_numpy(spark, sf_dir):
    """The selected split maximizes the standardized CUSUM computed
    independently in numpy over the same integer daily series."""
    import numpy as np
    from pyspark.sql import functions as F

    out = REGISTRY["changepoint_binseg"].fn(spark, sf_dir).toPandas()
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("c"))
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    cents = daily["c"].to_numpy()
    n, s = len(cents), cents.sum()
    sk = cents.cumsum()
    k = np.arange(1, n + 1)
    stat = np.abs((n * sk - k * s).astype(float)) / (n * 100.0) / np.sqrt(
        (k * (n - k)).astype(float)
    )
    best = int(np.argmax(stat[: n - 1]))
    assert out.loc[0, "split_day"] == daily.loc[best, "day"]
    assert abs(out.loc[0, "cusum_stat"] - round(stat[best], 4)) < 1e-9


def test_grouped_weighted_median_paths_agree(spark, sf_dir, monkeypatch):
    """The stats-gated fast (windowed) and distributed (bucketed) paths
    are bit-identical — the strategy switch is purely physical."""
    from pyspark.sql import functions as F

    from profitscout_engine_spark.operators import ranks

    base = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    fast = ranks.grouped_weighted_median(base, ["g"], "v", "w")
    monkeypatch.setattr(ranks, "PERCENTILE_BUFFER_MAX_BYTES", 0)
    dist = ranks.grouped_weighted_median(base, ["g"], "v", "w")
    assert fast == dist


def test_kaplan_meier_invariants(spark, sf_dir):
    """Survival is a non-increasing product in (0,1]; at-risk counts and
    churn counts match a pandas replay of the definition."""
    from pyspark.sql import functions as F

    out = (
        REGISTRY["kaplan_meier_retention"].fn(spark, sf_dir)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    assert (out["survival"].diff().dropna() <= 0).all()
    assert ((out["survival"] > 0) & (out["survival"] <= 1)).all()
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("f"), F.max(F.to_date("ts")).alias("l"))
        .toPandas()
    )
    maxd = u["l"].max()
    surv = 1.0
    for _, r in out.iterrows():
        day = r["day"]
        nr = ((u["f"] <= day) & (u["l"] >= day)).sum()
        nd = ((u["l"] == day) & (u["l"] < maxd)).sum()
        assert r["n_risk"] == nr and r["n_churn"] == nd
        surv *= (nr - nd) / nr
        assert abs(r["survival"] - round(surv, 6)) < 1e-9


def test_cross_correlation_lag_zero_and_symmetry(spark, sf_dir):
    """Lag 0 equals numpy's Pearson r of the two daily series, and each
    lag's n_days shrinks by the lag magnitude."""
    import numpy as np
    from pyspark.sql import functions as F

    out = REGISTRY["cross_correlation_lags"].fn(spark, sf_dir).toPandas()
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", cents).otherwise(F.lit(0))).alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(F.lit(0))).alias("y"),
        )
        .toPandas()
        .sort_values("day")
    )
    r0 = float(out.loc[out["lag"] == 0, "xcorr"].iloc[0])
    want = np.corrcoef(daily["x"].to_numpy(float), daily["y"].to_numpy(float))[0, 1]
    assert abs(r0 - round(want, 6)) < 1e-4
    n0 = int(out.loc[out["lag"] == 0, "n_days"].iloc[0])
    for _, r in out.iterrows():
        assert r["n_days"] == n0 - abs(r["lag"])


def test_calibration_bins_closure(spark, sf_dir):
    """Bin means sit inside their bin's probability range, counts cover
    the corpus, and per-bin Brier equals the pandas replay."""
    import numpy as np

    out = REGISTRY["calibration_bins"].fn(spark, sf_dir).toPandas()
    d = t(spark, sf_dir, "documents").select("lang", "n_chars").toPandas()
    p = np.floor(1.0 / (1.0 + np.exp(-((d["n_chars"] - 250) / 100.0))) * 1e6 + 0.5)
    y = (d["lang"] == "en").astype(int)
    b = np.minimum(p * 10 // 1_000_000, 9)
    assert out["n_docs"].sum() == len(d)
    for _, r in out.iterrows():
        m = b == r["bin"]
        assert r["n_docs"] == m.sum()
        assert abs(r["avg_pred"] - round(p[m].sum() / m.sum() / 1e6, 6)) < 1e-9
        assert abs(r["frac_pos"] - round(y[m].sum() / m.sum(), 6)) < 1e-9
        brier = ((p[m] - y[m] * 1e6) ** 2).sum() / m.sum() / 1e12
        assert abs(r["brier"] - round(brier, 6)) < 1e-9
        lo, hi = r["bin"] / 10, (r["bin"] + 1) / 10
        assert lo - 1e-6 <= r["avg_pred"] <= hi + 1e-6 or r["bin"] == 9


def test_psi_drift_identical_halves_near_zero(spark, sf_dir):
    """PSI of two random-parity halves of one corpus is near zero (the
    stable-distribution rule of thumb), terms sum to the total, and the
    smoothed counts reconstruct the corpus."""
    out = REGISTRY["psi_drift"].fn(spark, sf_dir).toPandas()
    n = t(spark, sf_dir, "documents").count()
    assert out["n_a"].sum() + out["n_b"].sum() == n
    assert abs(out["psi_term"].sum() - out["psi_total"].iloc[0]) < 1e-6
    assert out["psi_total"].iloc[0] < 0.1  # same population -> stable
    assert (out["psi_total"] == out["psi_total"].iloc[0]).all()


def test_ndcg_eval_bounds_and_recall_consistency(spark, sf_dir):
    """NDCG is in [0,1], equals 1 exactly when all k truths rank 1..k,
    is 0 exactly when hits are 0, and never exceeds what its hit count
    alone would allow (ideal placement)."""
    import numpy as np

    out = REGISTRY["ndcg_eval"].fn(spark, sf_dir).toPandas()
    k = 3
    g = np.floor(1e9 / np.log2(np.arange(1, k + 1) + 1) + 0.5)
    idcg = g.sum()
    for fam in ("ivf", "ivfpq"):
        nd, h = out[f"ndcg_{fam}"], out[f"hits_{fam}"]
        assert ((nd >= 0) & (nd <= 1)).all()
        assert (nd[h == 0] == 0).all()
        assert (nd[h == k] > 0.63).all()  # worst all-hit order: g reversed
        caps = {i: round(g[:i].sum() / idcg, 6) for i in range(k + 1)}
        assert all(nd.iloc[j] <= caps[int(h.iloc[j])] + 1e-9 for j in range(len(out)))


def test_image_dhash_neardup_properties(spark, sf_dir):
    """Identical texts (identical images) pair at Hamming 0; every
    reported pair is within the radius; banding at radius 3 < 4 bands
    is lossless vs a brute-force Hamming scan of the signature table."""
    import itertools

    from pyspark.sql import functions as F

    from profitscout_engine_spark.operators.multimodal import (
        dhash_bands,
        with_payload,
    )
    from profitscout_engine_spark.queries.textops import DHASH_RADIUS

    out = REGISTRY["image_dhash_neardup"].fn(spark, sf_dir).toPandas()
    assert (out["hamming"] <= DHASH_RADIUS).all()
    docs = t(spark, sf_dir, "documents")
    sig = dhash_bands(with_payload(docs)).toPandas().set_index("doc_id")
    # brute-force truth over all signature pairs (fixture-sized only)
    got = {(r["d1"], r["d2"]) for _, r in out.iterrows()}
    want = set()
    ids = sorted(sig.index)
    for a, b in itertools.combinations(ids, 2):
        h = sum(
            bin(int(sig.loc[a, f"b{i}"]) ^ int(sig.loc[b, f"b{i}"])).count("1")
            for i in range(4)
        )
        if h <= DHASH_RADIUS:
            want.add((a, b))
    assert got == want
    # duplicate texts produce Hamming-0 pairs
    dup = (
        docs.groupBy("text").agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.col("ids")[0].alias("a"), F.col("ids")[1].alias("b"))
        .toPandas()
    )
    zero = {(min(a, b), max(a, b)) for a, b in zip(dup["a"], dup["b"])}
    h0 = {(r["d1"], r["d2"]) for _, r in out.iterrows() if r["hamming"] == 0}
    assert zero <= h0


def test_payload_fixture_is_pure_ascii():
    """ADVICE r6: every multimodal oracle replays the engine's byte-level
    payload decode with DuckDB's CHARACTER-indexed substr/ascii, which is
    byte-faithful only while the documents text is pure ASCII
    (octet_length == length). Pin the invariant for ALL payload-replaying
    oracles at every fixture SF, so a future non-ASCII fixture fails here
    loudly instead of drifting a hash compare."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        [(bad,)] = duckdb.sql(
            f"""SELECT COUNT(*) FROM '/root/testdata/sf{sf}/documents.parquet'
                WHERE octet_length(encode(text)) <> length(text)"""
        ).fetchall()
        assert bad == 0, f"sf{sf}: {bad} non-ASCII payload rows"
