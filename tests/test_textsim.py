"""Invariants for the training-data-pipeline block: LSH recall floors,
candidate-set containment guarantees, dedup group sanity, multimodal
plumbing determinism, and plan-quality gates for the pair generators."""

from __future__ import annotations

import pytest

from profitscout_engine_spark.plans import explain_str
from profitscout_engine_spark.queries import load_registry

REGISTRY = load_registry()


def _plan(spark, sf_dir, name: str) -> str:
    return explain_str(REGISTRY[name].fn(spark, sf_dir))


def test_minhash_catches_high_jaccard(spark, sf_dir):
    """LSH guarantee on this fixture: every pair with true 3-gram Jaccard
    ≥ 0.6 must surface as a MinHash band candidate (4 bands × 4 rows →
    P(catch | J=0.6) ≈ 0.42 per band family; the planted near-dups are
    J ≥ 0.6 and all must be caught)."""
    jac = REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir).toPandas()
    cand = REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir).toPandas()
    high = jac[jac.jaccard >= 0.6]
    missed = set(zip(high.d1, high.d2)) - set(zip(cand.d1, cand.d2))
    assert not missed, f"minhash LSH missed high-Jaccard pairs: {missed}"


def test_lsh_topk_recall_floor(spark, sf_dir):
    """Approximate ANN must keep a sane fraction of the true top-3."""
    brute = REGISTRY["cosine_topk"].fn(spark, sf_dir).where("rank <= 3").toPandas()
    lsh = REGISTRY["cosine_lsh_topk"].fn(spark, sf_dir).toPandas()
    bset = set(zip(brute.a_id, brute.b_id))
    recall = len(bset & set(zip(lsh.a_id, lsh.b_id))) / len(bset)
    assert recall >= 0.35, f"LSH recall@3 collapsed: {recall:.3f}"


def test_exact_dedup_group_invariants(spark, sf_dir):
    df = REGISTRY["exact_dedup"].fn(spark, sf_dir).toPandas()
    # exactly one canonical (non-duplicate) row per signature group
    canon = df[~df.is_duplicate].groupby("sig").size()
    assert (canon == 1).all()
    assert set(df.groupby("sig").sig.count().index) == set(df.sig)
    # the canonical row is the min doc_id of its group
    assert (df.groupby("sig").doc_id.min() == df.groupby("sig").canonical_doc_id.first()).all()


def test_multimodal_roundtrip_and_determinism(spark, sf_dir):
    """The PPM payload survives the scan→mapInPandas hop losslessly and
    the Arrow-batched decode is deterministic run-over-run. Decoded
    geometry must equal the encode-side geometry (header round trip) and
    byte_len must equal header + w·h·3 exactly."""
    a = REGISTRY["multimodal_features"].fn(spark, sf_dir).toPandas().sort_values("doc_id")
    b = REGISTRY["multimodal_features"].fn(spark, sf_dir).toPandas().sort_values("doc_id")
    assert (a.values == b.values).all()
    from profitscout_engine_spark.catalog import table

    docs = table(spark, sf_dir, "documents").selectExpr(
        "doc_id", "n_chars % 64 + 1 AS w", "n_chars % 48 + 1 AS h"
    ).toPandas()
    m = a.merge(docs, on="doc_id")
    assert (m.width == m.w).all() and (m.height == m.h).all()
    header_len = 3 + m.w.astype(str).str.len() + 1 + m.h.astype(str).str.len() + 5
    assert (m.byte_len == header_len + m.w * m.h * 3).all()
    assert ((m.mean_pixel >= 0) & (m.mean_pixel <= 255)).all()


@pytest.mark.parametrize("kernel", ["decode_features", "resize_nearest", "dhash_bands"])
@pytest.mark.parametrize(
    "payload, match",
    [
        (b"JFIF....", "P6"),
        (b"P6\n4 4\n255\n" + b"\x01" * 10, "pixel plane"),
        (b"P6\n4 4\n15\n" + b"\x01" * 48, "maxval"),
    ],
    ids=["bad_magic", "short_plane", "maxval_15"],
)
def test_multimodal_decode_rejects_corrupt_payloads(spark, kernel, payload, match):
    """Every image kernel decodes through one real parser: a payload that
    isn't P6, whose maxval is not 255, or whose pixel plane disagrees with
    its header must raise — not silently produce byte stats."""
    from pyspark.sql import functions as F

    from profitscout_engine_spark.operators import multimodal

    bad = spark.createDataFrame([(1, payload)], "doc_id long, payload binary").withColumn(
        "meta", F.struct(F.lit("x").alias("format"))
    )
    with pytest.raises(Exception, match=match):
        getattr(multimodal, kernel)(bad).collect()


def test_pair_generators_are_equijoins(spark, sf_dir):
    """The near-dup candidate generators must never cartesian-product the
    corpus — candidates come from equi-joins on derived keys."""
    for name in ("minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_brute_force_cosine_is_broadcast(spark, sf_dir):
    """The brute-force baseline must broadcast the small side rather than
    shuffling the corpus."""
    plan = _plan(spark, sf_dir, "cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan


def test_text_queries_stay_jvm_side(spark, sf_dir):
    """Only the multimodal decode is allowed a Python hop."""
    for name in ("token_stats", "text_quality", "lang_id_heuristic", "doc_fingerprint",
                 "exact_dedup", "minhash_lsh_pairs", "simhash_pairs", "cosine_topk",
                 "token_stats_bpe", "bpe_pair_counts"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def _py_maximal_munch(word: str) -> int:
    """Pure-Python reference of the greedy longest-match tokenizer."""
    from profitscout_engine_spark.queries.textops import BPE_V2, BPE_V3, BPE_V4

    vocab = {4: set(BPE_V4), 3: set(BPE_V3), 2: set(BPE_V2)}
    pos, cnt = 0, 0
    while pos < len(word):
        step = 1
        for k in (4, 3, 2):
            if word[pos : pos + k] in vocab[k] and pos + k <= len(word):
                step = k
                break
        pos += step
        cnt += 1
    return cnt


def test_bpe_token_counts_match_python_reference(spark, sf_dir):
    """The Column-fold automaton IS maximal munch: per-document counts
    equal a direct Python implementation over the same vocab."""
    from profitscout_engine_spark.catalog import table

    out = {r.doc_id: r.n_bpe_tokens
           for r in REGISTRY["token_stats_bpe"].fn(spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for row in docs:
        expect = sum(_py_maximal_munch(w) for w in row.text.split(" "))
        assert out[row.doc_id] == expect, row.doc_id


def test_bpe_token_count_bounds(spark, sf_dir):
    """Subword counts sit between word count (every word >= 1 token) and
    letter count (no token is empty); chars/token stays within [1, 4]."""
    pdf = REGISTRY["token_stats_bpe"].fn(spark, sf_dir).toPandas()
    assert (pdf.n_bpe_tokens >= pdf.n_words).all()
    assert (pdf.chars_per_token >= 1.0).all() and (pdf.chars_per_token <= 4.0).all()


def test_bpe_pair_counts_match_python_reference(spark, sf_dir):
    """Trainer statistic: top pair set and counts equal a direct count."""
    from collections import Counter

    from profitscout_engine_spark.catalog import table

    got = [(r.pair, r.cnt) for r in REGISTRY["bpe_pair_counts"].fn(spark, sf_dir).collect()]
    c = Counter()
    for row in table(spark, sf_dir, "documents").select("text").collect():
        for w in row.text.split(" "):
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += 1
    expect = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[: len(got)]
    assert got == expect


def test_ivf_search_recall_floor(spark, sf_dir):
    """Single-probe IVF search keeps a sane fraction of true top-3 (the
    recall lever at scale is nprobe — searching the p nearest lists —
    which multiplies candidates linearly; single-probe is the floor)."""
    brute = REGISTRY["cosine_topk"].fn(spark, sf_dir).where("rank <= 3").toPandas()
    ivf = REGISTRY["ivf_search_topk"].fn(spark, sf_dir).toPandas()
    bset = set(zip(brute.a_id, brute.b_id))
    recall = len(bset & set(zip(ivf.a_id, ivf.b_id))) / len(bset)
    assert recall >= 0.15, f"IVF recall collapsed: {recall:.3f}"


def test_ivf_multiprobe_beats_single_probe(spark, sf_dir):
    """nprobe=2 must dominate single-probe recall: its candidate set is a
    strict superset (every rn=1 list is also an rn<=2 list), so top-3
    recall can only go up — the whole point of the multi-probe dial."""
    brute = REGISTRY["cosine_topk"].fn(spark, sf_dir).where("rank <= 3").toPandas()
    bset = set(zip(brute.a_id, brute.b_id))
    one = REGISTRY["ivf_search_topk"].fn(spark, sf_dir).toPandas()
    two = REGISTRY["ivf_search_nprobe"].fn(spark, sf_dir).toPandas()
    r1 = len(bset & set(zip(one.a_id, one.b_id))) / len(bset)
    r2 = len(bset & set(zip(two.a_id, two.b_id))) / len(bset)
    assert r2 >= r1, f"multi-probe recall {r2:.3f} below single-probe {r1:.3f}"
    assert r2 >= 0.25, f"nprobe=2 recall floor broken: {r2:.3f}"


def test_candidate_scoring_never_forces_corpus_broadcast(spark, sf_dir):
    """The LSH/IVF scoring joins must leave join-strategy choice to the
    planner (AQE may broadcast a genuinely small side at runtime) — the
    scoring helper itself must not hint any side into a broadcast. The
    only ResolvedHints allowed in the full queries are the genuinely
    tiny sides (10 centroids, the L×P×dim hyperplane matrix)."""
    from profitscout_engine_spark.queries.similarity import _packed_sides, _score_candidates
    from profitscout_engine_spark.exprs import r6

    a, b = _packed_sides(spark, sf_dir)
    cand = a.select("a_id").crossJoin(b.select("b_id")).limit(10)
    scored = _score_candidates(cand, a, b, r6, 3)
    logical = scored._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical


def test_neardup_lsh_subset_of_brute_force(spark, sf_dir):
    """The LSH near-dup pass may only MISS pairs, never invent them: its
    result must be a subset of the brute-force threshold scan, and it
    must keep a sane fraction of the high-similarity pairs (>= 0.6
    cosine — the band the near-dup use case actually cares about)."""
    brute = REGISTRY["embedding_neardup_pairs"].fn(spark, sf_dir).toPandas()
    lsh = REGISTRY["embedding_neardup_lsh"].fn(spark, sf_dir).toPandas()
    bset = set(zip(brute.d1, brute.d2))
    lset = set(zip(lsh.d1, lsh.d2))
    assert lset <= bset, f"LSH invented pairs: {sorted(lset - bset)[:5]}"
    high = brute[brute.sim >= 0.6]
    hset = set(zip(high.d1, high.d2))
    if hset:
        recall = len(hset & lset) / len(hset)
        assert recall >= 0.5, f"near-dup recall@0.6 collapsed: {recall:.3f}"


def test_connected_components_chain_and_forest(spark):
    """Hash-min CC on a known graph: a 6-node chain (diameter 5 — several
    propagation rounds), a triangle, and an isolated pair; every node
    labeled by its component's min id."""
    from profitscout_engine_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),     # chain
         (10, 11), (11, 12), (10, 12),               # triangle
         (20, 21)],                                   # pair
        "d1 int, d2 int",
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(edges, max_iters=1)


def test_lpa_round_argmax_tiebreak_isolated_and_frontier(spark):
    """One synchronous LPA round on a hand-built graph: node 1 sees labels
    {7, 7, 5} and adopts 7 (count beats the smaller label); node 4 sees
    {1, 5} once each and takes the min, 1; isolated node 6 keeps its
    label; with a frontier only frontier nodes move."""
    from profitscout_engine_spark.operators.graph import lpa_round, symmetric_edges

    edges = symmetric_edges(
        spark.createDataFrame([(1, 2), (1, 3), (1, 4), (4, 5)], "d1 long, d2 long")
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 7), (3, 7), (4, 5), (5, 5), (6, 6)], "doc_id long, lbl long"
    )

    def step(frontier=None):
        return {r.doc_id: r.lbl for r in lpa_round(edges, labels, frontier).collect()}

    assert step() == {1: 7, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6}
    frontier = spark.createDataFrame([(1,), (4,)], "doc_id long")
    assert step(frontier) == {1: 7, 2: 7, 3: 7, 4: 1, 5: 5, 6: 6}


def test_bpe_maximal_munch_on_adversarial_words(spark):
    """The Column-fold automaton equals the Python reference on generated
    adversarial inputs: overlapping vocab prefixes, repeated merge
    targets, vocab-boundary straddles — not just the fixture corpus."""
    import random

    rng = random.Random(42)
    from profitscout_engine_spark.queries.textops import BPE_V2, BPE_V3, BPE_V4, _bpe_count_expr

    pieces = list(BPE_V4) + list(BPE_V3) + list(BPE_V2) + list("abcdefghijklmnopqrstuvwxyz")
    words = ["thththth", "tabltabl", "tablthe", "astast", "a", "zz", "theastrow"]
    for _ in range(200):
        words.append("".join(rng.choice(pieces) for _ in range(rng.randint(1, 6))))
    docs = spark.createDataFrame([(i, w) for i, w in enumerate(words)], "doc_id long, text string")
    got = {r.doc_id: r.n for r in docs.selectExpr("doc_id", f"{_bpe_count_expr()} AS n").collect()}
    for i, w in enumerate(words):
        assert got[i] == _py_maximal_munch(w), w


def test_kmeans_lloyd_never_increases_inertia(spark, sf_dir):
    """Lloyd's guarantee: recomputing centroids then reassigning cannot
    increase total inertia (small tolerance absorbs the deterministic
    4dp/6dp rounding both engines share)."""
    pdf = REGISTRY["kmeans_lloyd_step"].fn(spark, sf_dir).toPandas()
    j_init = (pdf.dist_init ** 2).sum()
    j_next = (pdf.dist_next ** 2).sum()
    assert j_next <= j_init * 1.001, (j_init, j_next)
    assert set(pdf.moved.unique()) <= {0, 1}
    # moved rows must have changed their assignment, unmoved kept it
    assert ((pdf.cluster_init != pdf.cluster_next) == (pdf.moved == 1)).all()
