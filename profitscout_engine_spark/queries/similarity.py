"""Near-dedup + similarity-search queries — MinHash/LSH, n-gram Jaccard,
SimHash, brute-force & LSH-bucketed cosine top-k, IVF-style centroid
assignment (SURVEY §7.2 Phase 5 over ``documents`` / ``embeddings``).

Scale stance: every candidate-pair generator here is an EQUI-JOIN on a
derived key (band signature, simhash byte, LSH bucket) — never an O(n²)
cross join — except the brute-force cosine baseline, which is the
explicit correctness yardstick and is implemented as a broadcast
nested-loop join (small side broadcast, zero shuffle of the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import r4, r6, stable_round
from ..operators import text as tx
from ..operators import similarity as sim
from ..operators.graph import lpa_round, symmetric_edges
from . import query
from ._util import fan_out, shared, shared_value, t

TOPK = 5
LSH_TOPK = 3
JACCARD_MIN = 0.1
HOT_SHINGLE_DF = 64  # shingle doc-frequency above which pair-gen salts the join
COSINE_NEARDUP_MIN = 0.4
SIMHASH_RADIUS = 3  # ≤ 3 → 4-byte banding is exact (pigeonhole)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents")


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", sim.as_double("embedding").alias("v"))


# ---- shared derived frames (built once per session+dataset, persisted) -------
def _sh_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) — the tokenize+explode+dedup pass every
    set-semantics dedup kernel starts from. Shared: MinHash, Jaccard and
    the keep-best pipeline all read the same cached frame."""
    return shared(
        spark, sf_dir, "sh_distinct",
        lambda: tx.shingle_frame(_docs(spark, sf_dir), distinct=True),
    )


def _mh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band rows (doc_id, band_id, band_sig), shared across the
    LSH pair/cluster/keep-best queries."""
    return shared(
        spark, sf_dir, "mh_bands",
        lambda: tx.minhash_bands(tx.minhash_signature(_sh_distinct(spark, sf_dir))),
    )


def _mh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct near-dup candidate pairs (d1 < d2) from the band equi-join."""

    def build() -> DataFrame:
        bands = _mh_bands(spark, sf_dir)
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .distinct()
        )

    return shared(spark, sf_dir, "mh_pairs", build)


def _mh_edges_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, deg) — the symmetric near-dup edge list with each source's
    out-degree folded in, session-shared. Degree is LOOP-INVARIANT across
    PageRank power steps, so materializing the joined frame once removes one
    join from every iteration (guide §2.4 — don't recompute what a loop
    cannot change); both PageRank queries read this one cached frame."""

    def build() -> DataFrame:
        edges = symmetric_edges(_mh_pairs(spark, sf_dir))
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        return edges.join(deg, "src")

    return shared(spark, sf_dir, "mh_edges_deg", build)


def _sh_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n) — per-doc distinct-shingle counts, shared by the
    Jaccard and containment scorers."""
    return shared(
        spark, sf_dir, "sh_sizes",
        lambda: _sh_distinct(spark, sf_dir).groupBy("doc_id").agg(F.count("*").alias("n")),
    )


def _sh_common_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d1 < d2, c) — shared-shingle counts over the skew-salted
    inverted-index candidate pairs. The expensive pair-volume shuffle of
    the exact set-overlap family runs ONCE per session; Jaccard and
    containment are cheap projections over this materialization."""
    from ..operators.skew import skewsafe_pair_gen

    def build() -> DataFrame:
        sh = _sh_distinct(spark, sf_dir)
        return (
            skewsafe_pair_gen(sh, key="shingle", id_col="doc_id", hot_df=HOT_SHINGLE_DF)
            .groupBy("d1", "d2")
            .agg(F.count("*").alias("c"))
        )

    return shared(spark, sf_dir, "sh_common_counts", build)



def _jaccard_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d1, d2, j) — 4dp-rounded exact Jaccard over ALL inverted-index
    candidate pairs, built once per session (shared frame). The single
    definition serves the threshold sweep, modularity, DBSCAN roles and
    the S-curve audit — duplicated builders risked divergent definitions
    silently sharing one cache key (code-review finding, round 4)."""

    def build() -> DataFrame:
        counts = _sh_sizes(spark, sf_dir)
        common = _sh_common_counts(spark, sf_dir)
        jexpr = F.col("c") / (F.col("ca.n") + F.col("cb.n") - F.col("c"))
        return (
            common.join(counts.alias("ca"), F.col("d1") == F.col("ca.doc_id"))
            .join(counts.alias("cb"), F.col("d2") == F.col("cb.doc_id"))
            .select("d1", "d2", r4(jexpr).alias("j"))
        )

    return shared(spark, sf_dir, "jaccard_scored_all", build)

def _lsh_bucket_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, table_id, bucket) — the hyperplane-LSH bucket table,
    session-shared (r11): the scored-pair builder and the cross-snapshot
    semantic-dedup ledger both read one materialization of the
    hash-projection pass instead of re-deriving it."""
    return shared(
        spark, sf_dir, "lsh_bucket_table",
        lambda: sim.lsh_buckets(_vecs(spark, sf_dir).select("vec_id", "v")),
    )


def _lsh_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d1 < d2, sim_raw) — exact cosine over the UNDIRECTED hyperplane-LSH
    candidate set, scored once per session. The dot is symmetric, so the
    top-k query mirrors rows instead of re-scoring the reverse direction,
    and the near-dup threshold query reads the same frame: one bucket
    self-join + one Arrow-batched scoring pass serves both. sim_raw is
    the UNROUNDED sequential-fold cosine (bit-identical to the oracles'
    left-associated sums); each consumer applies its own rounding."""

    def build() -> DataFrame:
        buckets = _lsh_bucket_frame(spark, sf_dir)
        a, b = buckets.alias("a"), buckets.alias("b")
        par = spark.sparkContext.defaultParallelism
        cand = (
            a.join(
                b,
                (F.col("a.table_id") == F.col("b.table_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
            # user repartition on the dedup keys: one full-width shuffle the
            # dropDuplicates reuses, and AQE cannot coalesce — keeps the
            # downstream scoring stage wide.
            .repartition(par, "d1", "d2")
            .dropDuplicates(["d1", "d2"])
        )
        ea, eb = _packed_sides(spark, sf_dir)
        ea = ea.select(F.col("a_id").alias("d1"), "va", "na")
        eb = eb.select(F.col("b_id").alias("d2"), "vb", "nb")
        dot = sim.seq_dot_udf()
        return (
            cand.join(ea, "d1")
            .join(eb, "d2")
            .select(
                "d1",
                "d2",
                (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim_raw"),
            )
        )

    return shared(spark, sf_dir, "lsh_scored", build)


def _neardup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash pair graph (node, comp) —
    the clustering result both neardup_components and dedup_keep_best
    consume. The label-propagation loop runs once per session+dataset."""
    from ..operators.graph import connected_components

    return shared(
        spark, sf_dir, "neardup_cc",
        lambda: connected_components(_mh_pairs(spark, sf_dir)),
    )


def _scalar_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(a, b) sides for pair scans, in the scalar-column fast layout.

    The corpus is unpacked to 64 scalar double columns + precomputed norm
    ONCE and persisted — the persist is a deliberate optimizer barrier:
    without it, projection collapse inlines 64 element_at chains into the
    per-pair expressions and Catalyst's commutative canonicalization
    blows up on the resulting trees. The a-side is repartitioned to the
    cluster's parallelism because the fixture parquet arrives as a single
    split — otherwise the whole O(n²) scan lands on one task.
    """
    def build() -> DataFrame:
        e0 = _vecs(spark, sf_dir).select("vec_id", "v")
        u0 = sim.unpack(e0, "v", "x", keep=["vec_id"])
        return u0.select(
            "vec_id", sim.scalar_norm("x").alias("nrm"), *[f"x{i}" for i in range(sim.DIM)]
        )

    u = shared(spark, sf_dir, "scalar_u", build)
    par = spark.sparkContext.defaultParallelism
    a = u.repartition(par).select(
        F.col("vec_id").alias("a_id"),
        F.col("nrm").alias("na"),
        *[F.col(f"x{i}").alias(f"xa{i}") for i in range(sim.DIM)],
    )
    b = u.select(
        F.col("vec_id").alias("b_id"),
        F.col("nrm").alias("nb"),
        *[F.col(f"x{i}").alias(f"xb{i}") for i in range(sim.DIM)],
    )
    return a, b


def _packed_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(a, b) sides in the packed layout for candidate-set scoring.

    Rows stay (id, vector, norm) — no 64-scalar widening — so the
    candidate joins shuffle narrow rows and the per-pair dot runs in the
    Arrow-vectorized :func:`sim.seq_dot_udf`. Norms are a once-per-row
    sequential fold (bit-identical to the oracle's). This is the
    scale path: plain shuffle joins on the ids, never a corpus broadcast.
    """
    # shared cache: a and b are two sides of one self-join, and every
    # candidate-scoring query reads the same (id, vector, norm) frame —
    # the scan+norm subtree materializes once per session.
    u = shared(
        spark, sf_dir, "packed_u",
        lambda: _vecs(spark, sf_dir).select("vec_id", "v", sim.fold_norm("v").alias("nrm")),
    )
    par = spark.sparkContext.defaultParallelism
    a = u.repartition(par, "vec_id").select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = u.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return a, b


def _score_candidates(
    cand: DataFrame, a: DataFrame, b: DataFrame, rounder, topk: int
) -> DataFrame:
    """Exact cosine + top-k over a candidate-pair set, scale-safe form:
    shuffle equi-joins resolve ids to packed vectors (AQE may still elect
    a broadcast when a side is genuinely small — the point is we never
    FORCE the corpus into one), Arrow-batched sequential-fold dot."""
    dot = sim.seq_dot_udf()
    # The hash repartition on the NARROW candidate set is a CPU-parallelism
    # fix, not a data-layout one: candidate pairs are tiny by bytes, so AQE
    # would coalesce the scoring stage down to a few partitions and
    # serialize the Arrow dot-product workers onto a few cores. A
    # user-specified repartition is exempt from coalescing and happens
    # BEFORE the rows widen with vectors — when the planner broadcasts the
    # (small here) vector sides, the joins and the dot projection all stay
    # in this full-width stage; at corpus scale the same repartition feeds
    # the a_id shuffle join directly.
    par = cand.sparkSession.sparkContext.defaultParallelism
    scored = (
        cand.repartition(par, "a_id")
        .join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            rounder(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= topk)
        .select("a_id", "b_id", "rank", "sim")
    )


# ---- shared oracle fragments (generated from the same constants the Spark
# ---- side uses, so the two formulations cannot drift) ------------------------

_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh_all AS (
        SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        FROM toks, UNNEST(range(1, greatest(len(tk) - 1, 1))) AS u(i)
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh_all)
"""


def _materialize_ctes(sql: str, names: tuple[str, ...]) -> str:
    """Mark hot CTEs MATERIALIZED (DuckDB physical hint, semantically
    transparent): without it DuckDB INLINES a CTE at every reference, so
    an oracle that reads the shingle->minhash chain from several unrolled
    iterations re-derives it each time and spills tens of GB of temp at
    replica scale (observed: pagerank/LPA at 8x, c-TF-IDF at 2x).
    Applied ONLY inside the oracles that need it, so other queries'
    oracle texts (and their driver-state hashes) stay untouched.

    Raises if a listed CTE is not found verbatim: a silent no-op (renamed
    CTE, formatting drift) would quietly regress the oracle to the
    replica-scale temp-disk spill this hint exists to prevent."""
    for n in names:
        marker = f"{n} AS ("
        if marker not in sql:
            raise ValueError(
                f"_materialize_ctes: CTE {n!r} not found — oracle text "
                "drifted; the MATERIALIZED hint would be silently dropped"
            )
        sql = sql.replace(marker, f"{n} AS MATERIALIZED (", 1)
    return sql


def _minhash_bands_ctes() -> str:
    """Shared CTE text: shingles → MinHash signature → band rows."""
    mins = ",\n               ".join(
        f"MIN(md5('{s}|' || shingle)) AS h{s}" for s in range(tx.MINHASH_K)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS band_sig FROM sig".format(
            b=b,
            concat=" || '|' || ".join(
                f"h{b * tx.MINHASH_ROWS + r}" for r in range(tx.MINHASH_ROWS)
            ),
        )
        for b in range(tx.MINHASH_BANDS)
    )
    return f"""{_SHINGLES_CTE},
    sig AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {band_rows}
    )"""


def _minhash_pairs_ctes() -> str:
    """``WITH RECURSIVE`` head shared by the near-dup graph oracles: band rows
    → distinct band-sharing pairs (d1 < d2) → the symmetric edge list
    ``sym(a, b)``. Ends after ``sym AS (...),`` — callers append CTEs."""
    return f"""WITH RECURSIVE {_minhash_bands_ctes()},
    pairs AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    sym AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),"""


def _minhash_components_ctes() -> str:
    """:func:`_minhash_pairs_ctes` plus connected components by recursive
    reachability: ``comp(doc_id, component)``, component = min member, for
    every document with at least one near-dup edge."""
    return f"""{_minhash_pairs_ctes()}
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node AS d, node AS m FROM nodes
        UNION
        SELECT r.d, s.b FROM reach r JOIN sym s ON s.a = r.m
    ),
    comp AS (SELECT d AS doc_id, MIN(m) AS component FROM reach GROUP BY d)"""


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_bands_ctes()}
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


def _simhash_oracle() -> str:
    votes = ",\n               ".join(
        "SUM(CASE WHEN substr(m, {i}, 1) IN ('1','3','5','7','9','b','d','f')"
        " THEN 1 ELSE -1 END) AS c{j}".format(i=i + 1, j=i)
        for i in range(tx.SIMHASH_BITS)
    )
    build = " + ".join(
        f"(CASE WHEN c{i} > 0 THEN {1 << i} ELSE 0 END)::BIGINT"
        for i in range(tx.SIMHASH_BITS)
    )
    return f"""
    WITH {_SHINGLES_CTE},
    h AS (SELECT doc_id, md5(shingle) AS m FROM sh_all),
    bits AS (
        SELECT doc_id,
               {votes}
        FROM h GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {build} AS simhash FROM bits)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_RADIUS}
    """


def _cosine_sql(va: str, vb: str) -> str:
    """dot/(|a|*|b|) with the same fold shape as the Spark side."""
    return (
        f"list_dot_product({va}, {vb}) / "
        f"(sqrt(list_dot_product({va}, {va})) * sqrt(list_dot_product({vb}, {vb})))"
    )


def _lsh_bucket_sql(vec: str, table: int) -> str:
    terms = []
    for p in range(sim.LSH_PLANES):
        signs = ",".join(
            str(sim.hyperplane_sign(table, p, j)) for j in range(sim.DIM)
        )
        d = f"list_dot_product({vec}, [{signs}]::DOUBLE[])"
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


# ---- MinHash + LSH near-dedup ------------------------------------------------
@query("minhash_lsh_pairs", oracle=_minhash_oracle(), tags=("dedup", "minhash-lsh"))
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) near-dup candidate pairs.

    Shingle → one groupBy computing all 16 signature mins in a single
    shuffle → band signatures → equi-join on (band_id, band_sig). The
    pair set is a pure function of md5, hence exactly oracle-checkable.
    """
    bands = _mh_bands(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


# ---- INCREMENTAL ingest dedup: probe new batch against the corpus store ------
def _incremental_probe_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_bands_ctes()},
    split AS (
        SELECT doc_id,
               CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('c', 'd')
                    THEN 'incoming' ELSE 'corpus' END AS side
        FROM documents
    ),
    hits AS (
        SELECT n.doc_id,
               COUNT(DISTINCT c.doc_id) AS n_corpus_matches,
               MIN(c.doc_id) AS first_match
        FROM bands n
        JOIN split sn ON sn.doc_id = n.doc_id AND sn.side = 'incoming'
        JOIN bands c ON c.band_id = n.band_id AND c.band_sig = n.band_sig
        JOIN split sc ON sc.doc_id = c.doc_id AND sc.side = 'corpus'
        GROUP BY 1
    )
    SELECT s.doc_id,
           COALESCE(h.n_corpus_matches, 0) AS n_corpus_matches,
           h.first_match,
           h.doc_id IS NOT NULL AS is_duplicate
    FROM split s LEFT JOIN hits h ON h.doc_id = s.doc_id
    WHERE s.side = 'incoming'
    """


@query(
    "incremental_dedup_probe",
    oracle=_incremental_probe_oracle(),
    tags=("dedup", "incremental"),
)
def incremental_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: probe an INCOMING batch's MinHash band
    signatures against the EXISTING corpus signature store (incoming =
    the 'val' hash-split bucket, corpus = the rest — deterministic md5
    bucketing). This is the asymmetric form a 100 TB pipeline actually
    runs on ingest: the batch joins the persisted signature table on
    (band_id, band_sig) — never an all-pairs or even a self-join — so
    cost scales with BATCH × collision rate, not corpus². Reads the
    session-shared bands frame (in production: the committed signature
    snapshot a txn table maintains). Every incoming doc is reported
    with its corpus-match count and earliest matching corpus doc.
    """
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    is_in = digit.isin("c", "d")
    split = _docs(spark, sf_dir).select(
        "doc_id", F.when(is_in, "incoming").otherwise("corpus").alias("side")
    )
    # The side is a pure function of doc_id: the signature store tags
    # itself — no join of the band table against a split table.
    bands = _mh_bands(spark, sf_dir)
    incoming = bands.where(is_in)
    corpus = bands.where(~is_in).select(
        F.col("doc_id").alias("c_doc"), "band_id", "band_sig"
    )
    hits = (
        incoming.join(corpus, ["band_id", "band_sig"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("c_doc").alias("n_corpus_matches"),
            F.min("c_doc").alias("first_match"),
        )
    )
    return (
        split.where(F.col("side") == "incoming")
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_corpus_matches"), F.lit(0)).alias("n_corpus_matches"),
            "first_match",
            F.col("n_corpus_matches").isNotNull().alias("is_duplicate"),
        )
    )


# ---- near-dup CLUSTERING: connected components over the pair graph ----------
def _components_oracle() -> str:
    return f"""
    {_minhash_components_ctes()}
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size,
           doc_id = component AS is_canonical
    FROM comp
    """


@query("neardup_components", oracle=_components_oracle(), tags=("dedup", "clustering"))
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash/LSH pair
    graph, canonical = min doc_id per component — the keep-one-per-cluster
    stage a dedup pipeline actually executes after pair generation.

    Spark side runs hash-min label propagation (operators/graph.py):
    rounds = component diameter (shallow for dedup graphs), each round
    two narrow shuffles, driver loop carries only a convergence bit.
    The oracle walks reachability with a recursive CTE; both sides label
    a component by its min member, so the result is exactly comparable.
    """
    cc = _neardup_cc(spark, sf_dir)
    w = Window.partitionBy("comp")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )


# ---- leakage-safe train/val/test split (dedup-aware sharding) -----------------
def _leakage_safe_split_oracle() -> str:
    sql = f"""
    {_minhash_components_ctes()},
    assigned AS (
        SELECT doc.doc_id, doc.n_chars,
               COALESCE(c.component, doc.doc_id) AS rep
        FROM documents doc LEFT JOIN comp c ON c.doc_id = doc.doc_id
    ),
    split_rows AS (
        SELECT doc_id, n_chars, rep,
               CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 1) IN ('c', 'd')
                        THEN 'val'
                    WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 1) IN ('e', 'f')
                        THEN 'test'
                    ELSE 'train' END AS split
        FROM assigned
    ),
    leaks AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cross_split_components FROM (
            SELECT rep FROM split_rows
            GROUP BY rep HAVING COUNT(DISTINCT split) > 1) z
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_components,
           cross_split_components
    FROM split_rows CROSS JOIN leaks
    GROUP BY split, cross_split_components
    """
    return _materialize_ctes(
        sql, ("sh_all", "sh", "sig", "bands", "pairs", "sym", "comp", "split_rows")
    )


@query(
    "leakage_safe_split",
    oracle=_leakage_safe_split_oracle(),
    tags=("dedup", "curation", "hash-split", "eval-integrity"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AWARE train/val/test split — `hash_split` upgraded with the
    near-dup components: every document is assigned by the md5 hex digit
    of its COMPONENT REPRESENTATIVE (min doc_id of its MinHash near-dup
    cluster; singletons represent themselves), so a near-duplicate of a
    training document can never land in val/test. This is the split an
    LLM-data pipeline must make AFTER clustering — splitting before
    dedup leaks paraphrases across the eval boundary. Output: per-split
    doc/char/component totals plus a structural leakage audit
    (components spanning >1 split — zero by construction, and the
    column proves it on every run). Scale shape: the shared component
    frame (hash-min label propagation, built once per session) left-
    joins the corpus once; everything after is two bounded aggregations."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    cc = _neardup_cc(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    assigned = docs.join(cc, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("component", "doc_id").alias("rep"),
    )
    digit = F.substring(F.md5(F.col("rep").cast("string")), 1, 1)
    rows = assigned.select(
        "doc_id",
        "n_chars",
        "rep",
        F.when(digit.isin("c", "d"), "val")
        .when(digit.isin("e", "f"), "test")
        .otherwise("train")
        .alias("split"),
    )
    leaks = (
        rows.groupBy("rep")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count("*").cast("long").alias("cross_split_components"))
    )
    return (
        rows.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.countDistinct("rep").cast("long").alias("n_components"),
        )
        .crossJoin(F.broadcast(leaks))
    )


# ---- dedup END-TO-END: cluster, score, keep the best doc per cluster ---------
_QUALITY_CTES = """
    tkq AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tk FROM documents),
    mq AS (
        SELECT doc_id, n_chars,
               len(list_filter(tk, x -> list_contains(
                   ['the','a','and','of','to','in','is','on','for','with'], x)))
                   * 1.0 / len(tk) AS stop_ratio,
               len(list_distinct(tk)) * 1.0 / len(tk) AS ttr
        FROM tkq
    ),
    qs AS (
        SELECT doc_id,
               ROUND(0.4 * least(n_chars / 400.0, 1.0) + 0.3 * (1.0 - stop_ratio)
                     + 0.3 * ttr, 4) AS quality_score
        FROM mq
    )
"""


def _keep_best_oracle() -> str:
    return f"""
    {_minhash_components_ctes()},
    {_QUALITY_CTES},
    fulljoin AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, qs.quality_score
        FROM documents d
        LEFT JOIN comp c ON c.doc_id = d.doc_id
        JOIN qs ON qs.doc_id = d.doc_id
    ),
    rk AS (
        SELECT doc_id, component, quality_score,
               COUNT(*) OVER (PARTITION BY component) AS cluster_size,
               ROW_NUMBER() OVER (PARTITION BY component
                                  ORDER BY quality_score DESC, doc_id) AS rn
        FROM fulljoin
    )
    SELECT doc_id, component, cluster_size, quality_score, rn = 1 AS is_kept
    FROM rk
    """


@query("dedup_keep_best", oracle=_keep_best_oracle(), tags=("dedup", "keep-best"))
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup stage a curation pipeline actually ships: cluster near-dups
    (MinHash/LSH pairs → connected components), score every document
    (the text_quality formula), keep the HIGHEST-quality doc per cluster
    — not the arbitrary min-id one. Singletons form their own cluster and
    are always kept, so the output covers the whole corpus row-for-row.

    Selection orders by the ROUNDED score (bit-identical across engines)
    with doc_id as tie-break, making keep/drop decisions oracle-exact.
    """
    from .textops import LANG_STOPWORDS

    docs = _docs(spark, sf_dir)
    cc = _neardup_cc(spark, sf_dir)

    stop_list = ",".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    tk = docs.select("doc_id", "n_chars", tx.tokens(F.col("text")).alias("tk"))
    n = F.size("tk")
    stop_ratio = F.expr(f"size(filter(tk, x -> array_contains(array({stop_list}), x)))") / n
    ttr = F.size(F.array_distinct("tk")) / n
    score = r4(
        F.lit(0.4) * F.least(F.col("n_chars") / F.lit(400.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * ttr
    )
    qs = tk.select("doc_id", score.alias("quality_score"))

    full = (
        qs.join(cc, qs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("component"),
            "quality_score",
        )
    )
    wc = Window.partitionBy("component")
    wr = Window.partitionBy("component").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return full.select(
        "doc_id",
        "component",
        F.count("*").over(wc).alias("cluster_size"),
        "quality_score",
        (F.row_number().over(wr) == 1).alias("is_kept"),
    )


# ---- exact n-gram Jaccard over inverted-index candidates ---------------------
@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           ROUND(c * 1.0 / (ca.n + cb.n - c), 4) AS jaccard
    FROM common
    JOIN counts ca ON ca.doc_id = d1
    JOIN counts cb ON cb.doc_id = d2
    WHERE c * 1.0 / (ca.n + cb.n - c) >= {JACCARD_MIN}
    """,
    tags=("dedup", "ngram-jaccard"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= JACCARD_MIN via an inverted-index self-join.

    Pair generation goes through :func:`skew.skewsafe_pair_gen`: shingles
    above the document-frequency threshold join on (shingle, salt) — a
    stop-shingle's quadratic fan-out spreads over salt buckets instead of
    melting one reducer — while the cold long tail joins plainly. Output
    is row-identical to the naive self-join, so the oracle is unchanged.
    """
    counts = _sh_sizes(spark, sf_dir)
    common = _sh_common_counts(spark, sf_dir)
    j = F.col("c") / (F.col("ca.n") + F.col("cb.n") - F.col("c"))
    return (
        common.join(counts.alias("ca"), F.col("d1") == F.col("ca.doc_id"))
        .join(counts.alias("cb"), F.col("d2") == F.col("cb.doc_id"))
        .where(j >= JACCARD_MIN)
        .select("d1", "d2", r4(j).alias("jaccard"))
    )


# ---- SimHash near-dedup (banded candidates, exact at radius ≤ 3) -------------
@query("simhash_pairs", oracle=_simhash_oracle(), tags=("dedup", "simhash"))
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-32 pairs within Hamming distance ≤ 3.

    Spark side generates candidates by the 4-byte band equi-join then
    filters exactly; the oracle brute-forces all pairs. Pigeonhole makes
    the two provably identical at radius ≤ 3 — the banded plan is the
    one that survives 100 TB.
    """
    # r12: the banded signature table is session-shared — the self-join's
    # two sides used to EACH re-run the shingle→simhash→band pipeline
    # (guide §2.4: materialize a twice-consumed subtree once); and the exact
    # Hamming filter runs BEFORE the pair dedup, so the dropDuplicates
    # exchange only carries pairs that can survive (guide §2.3 — hamming is
    # a pure function of the pair, so filter and dedup commute).
    bands = shared(
        spark,
        sf_dir,
        "simhash_bands",
        lambda: tx.simhash_bands(
            tx.simhash(tx.shingle_frame(_docs(spark, sf_dir), distinct=False))
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            tx.hamming(F.col("a.simhash"), F.col("b.simhash")).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_RADIUS)
        .dropDuplicates(["d1", "d2"])
    )
    return cand


# ---- brute-force cosine top-k (ANN correctness baseline) ---------------------
@query(
    "cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ROUND({_cosine_sql('a.v', 'b.v')}, 6) AS sim
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT a_id, b_id, sim,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
        FROM sims
    )
    SELECT a_id, b_id, rank, sim FROM ranked WHERE rank <= {TOPK}
    """,
    tags=("similarity", "ann-brute"),
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-TOPK per vector: broadcast nested-loop
    self-join with per-row precomputed norms (dot fold is the only
    per-pair work). The yardstick the LSH variant is measured against.
    """
    a, b = _scalar_sides(spark, sf_dir)
    pairs = a.join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
    scored = pairs.select(
        "a_id",
        "b_id",
        r6(sim.scalar_dot("xa", "xb") / (F.col("na") * F.col("nb"))).alias("sim"),
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .select("a_id", "b_id", "rank", "sim")
    )


# ---- LSH-bucketed cosine top-k (the scale path) ------------------------------
def _lsh_oracle() -> str:
    bucket_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t_} AS table_id, {_lsh_bucket_sql('v', t_)} AS bucket FROM e"
        for t_ in range(sim.LSH_TABLES)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
        {bucket_rows}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM buckets a JOIN buckets b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
         AND a.vec_id <> b.vec_id
    ),
    sims AS (
        SELECT c.a_id, c.b_id,
               ROUND({_cosine_sql('ea.v', 'eb.v')}, 6) AS sim
        FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id
    ),
    ranked AS (
        SELECT a_id, b_id, sim,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
        FROM sims
    )
    SELECT a_id, b_id, rank, sim FROM ranked WHERE rank <= {LSH_TOPK}
    """


@query("cosine_lsh_topk", oracle=_lsh_oracle(), tags=("similarity", "ann-lsh"))
def cosine_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k: LSH_TABLES hash tables x LSH_PLANES planes,
    candidates from an equi-join on (table, bucket), exact cosine only on
    candidates. Sign matrix is md5-derived (no RNG), so the bucket
    assignment — and therefore the whole result — is oracle-exact.
    Recall vs the brute-force baseline is pinned in pytest. Scoring is
    the packed-vector shuffle-join path with the Arrow-batched dot (no
    corpus broadcast — the round-1 form OOMs an executor once the corpus
    outgrows one), computed ONCE per undirected pair in the shared
    scored frame and mirrored here: cosine is symmetric, so the reverse
    direction reuses the same sim instead of a second scoring pass.
    """
    s = _lsh_scored(spark, sf_dir)
    directed = s.select(
        F.col("d1").alias("a_id"), F.col("d2").alias("b_id"), "sim_raw"
    ).unionByName(
        s.select(F.col("d2").alias("a_id"), F.col("d1").alias("b_id"), "sim_raw")
    )
    scored = directed.select("a_id", "b_id", r6(F.col("sim_raw")).alias("sim"))
    w = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= LSH_TOPK)
        .select("a_id", "b_id", "rank", "sim")
    )


# ---- embedding-cosine near-dup pairs -----------------------------------------
@query(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           ROUND({_cosine_sql('a.v', 'b.v')}, 4) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND({_cosine_sql('a.v', 'b.v')}, 4) >= {COSINE_NEARDUP_MIN}
    """,
    tags=("dedup", "embedding-cosine"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= COSINE_NEARDUP_MIN over undirected pairs.
    Brute-force form here (threshold filter after broadcast NL join); at
    corpus scale the LSH bucketing above is the candidate generator.
    """
    a, b = _scalar_sides(spark, sf_dir)
    a = a.withColumnRenamed("a_id", "d1")
    b = b.withColumnRenamed("b_id", "d2")
    return (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            r4(sim.scalar_dot("xa", "xb") / (F.col("na") * F.col("nb"))).alias("sim"),
        )
        .where(F.col("sim") >= COSINE_NEARDUP_MIN)
    )


def _neardup_lsh_oracle() -> str:
    bucket_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t_} AS table_id, {_lsh_bucket_sql('v', t_)} AS bucket FROM e"
        for t_ in range(sim.LSH_TABLES)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
        {bucket_rows}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        FROM buckets a JOIN buckets b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
    )
    SELECT c.d1, c.d2,
           ROUND({_cosine_sql('ea.v', 'eb.v')}, 4) AS sim
    FROM cand c JOIN e ea ON ea.vec_id = c.d1 JOIN e eb ON eb.vec_id = c.d2
    WHERE ROUND({_cosine_sql('ea.v', 'eb.v')}, 4) >= {COSINE_NEARDUP_MIN}
    """


@query(
    "embedding_neardup_lsh",
    oracle=_neardup_lsh_oracle(),
    tags=("dedup", "embedding-cosine-lsh"),
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, SCALE form: candidates from the
    hyperplane-LSH bucket equi-join (never all pairs), exact cosine
    >= COSINE_NEARDUP_MIN only on candidates. The md5-derived bucket protocol makes
    even the approximate candidate set oracle-exact; recall vs the
    brute-force `embedding_neardup_pairs` is pinned in pytest. Scoring
    runs through the packed-vector joins (Arrow-batched dot), shared
    with the top-k query via the session-scoped scored frame — one
    bucket join + one scoring pass serves both. This is the plan that
    survives a corpus that doesn't fit one executor — the brute-force
    sibling stays as the correctness yardstick.
    """
    return (
        _lsh_scored(spark, sf_dir)
        .select("d1", "d2", r4(F.col("sim_raw")).alias("sim"))
        .where(F.col("sim") >= COSINE_NEARDUP_MIN)
    )


# ---- embedding health / collapse diagnostics -----------------------------------
@query(
    "embedding_health_stats",
    oracle="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding::DOUBLE[],
                                     x -> CAST(floor(x * 1e3 + 0.5) AS BIGINT)) AS v
               FROM embeddings),
    pernorm AS (
        SELECT label,
               CAST(list_aggregate(list_transform(v, x -> x * x), 'sum') AS BIGINT)
                   AS nsq
        FROM e
    ),
    agg AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   CAST(SUM(nsq) AS BIGINT) AS sum_norm_sq
            FROM pernorm GROUP BY 1),
    comps AS (
        SELECT e.label, u.i AS pos, CAST(SUM(e.v[u.i]) AS BIGINT) AS s
        FROM e, UNNEST(range(1, 65)) AS u(i)
        GROUP BY 1, 2
    ),
    means AS (
        -- floored integer mean per component: sign-split floor division
        -- (both engines' integer division truncates toward zero)
        SELECT c.label,
               CASE WHEN c.s >= 0 THEN c.s // a.n_vecs
                    ELSE -((-c.s + a.n_vecs - 1) // a.n_vecs) END AS m
        FROM comps c JOIN agg a USING (label)
    ),
    msq AS (SELECT label, CAST(SUM(m * m) AS BIGINT) AS mean_norm_sq
            FROM means GROUP BY 1)
    SELECT a.label, a.n_vecs, a.sum_norm_sq, q.mean_norm_sq,
           ROUND((q.mean_norm_sq * a.n_vecs) * 1.0E0 / a.sum_norm_sq, 6)
               AS collapse_score
    FROM agg a JOIN msq q USING (label)
    """,
    tags=("similarity", "embedding", "monitoring", "drift"),
)
def embedding_health_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space HEALTH diagnostics per label — the collapse/
    anisotropy monitor an embedding pipeline runs on every snapshot
    before trusting similarity search on it: per label, the total
    squared norm (milli-unit^2 lattice — per-vector <= 64*320^2 =
    6.5e6, int64-safe to ~1.4e12 vectors), the squared norm of the
    FLOORED integer mean vector, and the collapse score
    |mean|^2 * n / sum|x|^2 — ~0 for isotropic (healthy) embeddings,
    ->1 when vectors collapse onto one direction (the classic
    representation-collapse failure). All sums are exact BIGINTs on the
    milli lattice; the mean uses the sign-split floor division both
    engines share; the score is ONE IEEE division of exact integers.
    Scale shape: one per-vector fold + one (label, pos) aggregation —
    map-side partials, 64*|labels| grouped rows, nothing quadratic."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(floor(x * 1e3 + 0.5) AS BIGINT))").alias("v"),
    )
    agg = (
        e.select(
            "label",
            F.expr(
                "aggregate(transform(v, x -> x * x), 0L, (a, z) -> a + z)"
            ).alias("nsq"),
        )
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("nsq").cast("long").alias("sum_norm_sq"),
        )
    )
    comps = (
        e.select("label", F.posexplode("v").alias("i0", "x"))
        .groupBy("label", "i0")
        .agg(F.sum("x").cast("long").alias("s"))
    )
    means = comps.join(F.broadcast(agg.select("label", "n_vecs")), "label").select(
        "label",
        F.expr(
            "CASE WHEN s >= 0 THEN s div n_vecs "
            "ELSE -((-s + n_vecs - 1) div n_vecs) END"
        ).alias("m"),
    )
    msq = means.groupBy("label").agg(
        F.sum(F.col("m") * F.col("m")).cast("long").alias("mean_norm_sq")
    )
    return agg.join(msq, "label").select(
        "label",
        "n_vecs",
        "sum_norm_sq",
        "mean_norm_sq",
        r6(
            (F.col("mean_norm_sq") * F.col("n_vecs"))
            * F.lit(1.0)
            / F.col("sum_norm_sq")
        ).alias("collapse_score"),
    )


# ---- semantic train/test contamination audit -----------------------------------
def _semantic_contamination_oracle() -> str:
    bucket_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t_} AS table_id, {_lsh_bucket_sql('v', t_)} AS bucket FROM e"
        for t_ in range(sim.LSH_TABLES)
    )
    sql = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
        {bucket_rows}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        FROM buckets a JOIN buckets b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT c.d1, c.d2, ROUND({_cosine_sql('ea.v', 'eb.v')}, 4) AS sim
        FROM cand c JOIN e ea ON ea.vec_id = c.d1 JOIN e eb ON eb.vec_id = c.d2
    ),
    directed AS (
        SELECT d1 AS a_id, d2 AS b_id, sim FROM sims
        UNION ALL
        SELECT d2 AS a_id, d1 AS b_id, sim FROM sims
    ),
    tagged AS (SELECT vec_id, label,
                      substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) AS h
               FROM e),
    links AS (
        SELECT d.a_id, MAX(d.sim) AS best
        FROM directed d
        JOIN tagged ta ON ta.vec_id = d.a_id AND ta.h IN ('e', 'f')
        JOIN tagged tb ON tb.vec_id = d.b_id
                      AND tb.h NOT IN ('c', 'd', 'e', 'f')
        WHERE d.sim >= {COSINE_NEARDUP_MIN}
        GROUP BY 1
    )
    SELECT t.label,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(l.best) AS BIGINT) AS n_contaminated,
           MAX(l.best) AS max_sim
    FROM tagged t LEFT JOIN links l ON l.a_id = t.vec_id
    WHERE t.h IN ('e', 'f')
    GROUP BY 1
    """
    return _materialize_ctes(sql, ("e", "sims", "tagged"))


@query(
    "semantic_contamination_audit",
    oracle=_semantic_contamination_oracle(),
    tags=("similarity", "contamination", "curation", "eval-integrity"),
)
def semantic_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train/test contamination audit — the embedding-space
    companion of `contamination_check`: a test-split vector is
    contaminated when some TRAIN-split vector sits within cosine >=
    {COSINE_NEARDUP_MIN} (the near-dup threshold), the leakage an exact
    n-gram check misses after paraphrase. Splits are the deterministic
    md5 hex-digit rule (`hash_split` contract) on vec_id; candidate
    pairs come from the session-shared hyperplane-LSH scored frame —
    the same one bucket join + one Arrow-dot scoring pass the whole
    cosine family amortizes, so the audit adds only a split-filtered
    directed join and two bounded aggregations. Per label: test-vector
    count, contaminated count, and the worst (max) offending similarity."""
    s = _lsh_scored(spark, sf_dir)
    directed = s.select(
        F.col("d1").alias("a_id"), F.col("d2").alias("b_id"), "sim_raw"
    ).unionAll(
        s.select(F.col("d2").alias("a_id"), F.col("d1").alias("b_id"), "sim_raw")
    )
    vecs = _vecs(spark, sf_dir).select(
        "vec_id",
        "label",
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).alias("h"),
    )
    test = vecs.where(F.col("h").isin("e", "f"))
    train = vecs.where(~F.col("h").isin("c", "d", "e", "f"))
    links = (
        directed.select("a_id", "b_id", r4(F.col("sim_raw")).alias("sim"))
        .where(F.col("sim") >= COSINE_NEARDUP_MIN)
        .join(test.select(F.col("vec_id").alias("a_id")), "a_id")
        .join(train.select(F.col("vec_id").alias("b_id")), "b_id")
        .groupBy("a_id")
        .agg(F.max("sim").alias("best"))
    )
    return (
        test.join(links, test["vec_id"] == links["a_id"], "left")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.count("best").cast("long").alias("n_contaminated"),
            F.max("best").alias("max_sim"),
        )
    )


# ---- int8 scalar quantization (embedding storage compression) ----------------
@query(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS mx
        FROM e
    ),
    q AS (
        SELECT vec_id, v, mx,
               CASE WHEN mx > 0 THEN 127.0 / mx END AS scale,
               CASE WHEN mx > 0 THEN
                   list_transform(v, x -> floor(x * (127.0 / mx) + 0.5))
               ELSE list_transform(v, x -> 0.0) END AS qv
        FROM s
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(list_transform(qv, y -> abs(y)), 'sum') AS BIGINT) AS q_l1,
           CAST(len(list_filter(qv, y -> abs(y) = 127)) AS BIGINT) AS n_saturated,
           ROUND(list_aggregate(list_transform(range(1, 65),
                     i -> (v[i] - qv[i] / (127.0 / mx)) * (v[i] - qv[i] / (127.0 / mx))),
                 'sum') / 64.0, 8) AS mse
    FROM q WHERE mx > 0
    """,
    tags=("similarity", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4× storage/bandwidth compression a 100 TB vector store applies before
    ANN serving. Per vector: scale = 127/max|x|, q_i = half-up(x_i*scale),
    plus reconstruction MSE and saturation count as the quality audit.
    Pure per-row array algebra (zero shuffle, rides the scan); half-up
    rounding is the engine-stable floor(x+0.5) form, and every exposed
    stat is either integer-exact (q_sum/q_l1/n_saturated — checksums of
    the full quantized vector) or a deterministically-ordered IEEE fold.
    """
    e = _vecs(spark, sf_dir).select("vec_id", "v")
    mx = F.expr("array_max(transform(v, x -> abs(x)))")
    q = e.select("vec_id", "v", mx.alias("mx")).where(F.col("mx") > 0)
    scale = F.lit(127.0) / F.col("mx")
    q = q.withColumn("qv", F.expr("transform(v, x -> floor(x * (127.0 / mx) + 0.5))"))
    mse = (
        F.expr(
            "aggregate(zip_with(v, qv, (x, y) -> (x - y / (127.0 / mx)) * (x - y / (127.0 / mx))),"
            " 0D, (a, z) -> a + z)"
        )
        / F.lit(64.0)
    )
    return q.select(
        "vec_id",
        r6(scale).alias("scale"),
        F.expr("aggregate(qv, 0D, (a, z) -> a + z)").cast("long").alias("q_sum"),
        F.expr("aggregate(qv, 0D, (a, z) -> a + abs(z))").cast("long").alias("q_l1"),
        F.expr("size(filter(qv, y -> abs(y) = 127))").cast("long").alias("n_saturated"),
        stable_round(mse, 8).alias("mse"),
    )


# ---- IVF-style nearest-centroid assignment -----------------------------------
@query(
    "ivf_centroid_assign",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    comp AS (
        SELECT label, i AS pos, ROUND(AVG(v[i]), 6) AS m
        FROM e, UNNEST(range(1, 65)) AS u(i)
        GROUP BY 1, 2
    ),
    cent AS (SELECT label AS c_label, list(m ORDER BY pos) AS c FROM comp GROUP BY 1),
    d AS (
        SELECT e.vec_id, e.label, cent.c_label,
               ROUND(sqrt(list_aggregate(list_transform(range(1, 65),
                          i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i])), 'sum')),
                     4) AS dist
        FROM e CROSS JOIN cent
    ),
    ranked AS (
        SELECT vec_id, label, c_label, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
        FROM d
    )
    SELECT vec_id, label, c_label AS assigned_label, dist
    FROM ranked WHERE rn = 1
    """,
    tags=("similarity", "ivf"),
)
def ivf_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: per-label centroids (posexplode + avg,
    components rounded to kill float-sum order nondeterminism), then
    nearest-centroid assignment via a broadcast cross join (10 centroids
    — the IVF 'coarse list' every vector is routed to at scale)."""
    ranked = _ivf_ranked(spark, sf_dir)
    return ranked.where(F.col("rn") == 1).select(
        "vec_id", "label", F.col("c_label").alias("assigned_label"), "dist"
    )


def _ivf_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid distances ranked per vector: rn=1 is the assignment
    (build side), rn<=p the multi-probe routing (search side).
    Session-shared cache: n_vec × n_centroid rows; probe and build
    branches (and the search self-joins) all re-filter this one small
    ranked table."""

    def build() -> DataFrame:
        e = _vecs(spark, sf_dir)
        cents = sim.label_centroids(t(spark, sf_dir, "embeddings"))
        cents_r = cents.select(
            F.col("label").alias("c_label"),
            F.expr("transform(centroid, x -> floor(x * 1e6 + 0.5) / 1e6)").alias("c"),
        )
        # Fold-based L2 (not the unrolled form): only n_vec × n_centroid rows
        # flow through it, so interpreted higher-order eval is cheap — and it
        # keeps the 128-term expression out of Catalyst canonicalization.
        l2 = F.sqrt(
            F.expr("aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), 0D, (a, z) -> a + z)")
        )
        d = e.crossJoin(F.broadcast(cents_r)).select(
            "vec_id",
            "label",
            "c_label",
            r4(l2).alias("dist"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("c_label"))
        return d.withColumn("rn", F.row_number().over(w))

    return shared(spark, sf_dir, "ivf_ranked", build)


def _ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_ranked(spark, sf_dir).where(F.col("rn") == 1).select(
        "vec_id", "label", F.col("c_label").alias("assigned_label"), "dist"
    )


# ---- IVF search: route query to its coarse list, search only there -----------
_IVF_ASSIGN_CTES = """
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    comp AS (
        SELECT label, i AS pos, ROUND(AVG(v[i]), 6) AS m
        FROM e, UNNEST(range(1, 65)) AS u(i)
        GROUP BY 1, 2
    ),
    cent AS (SELECT label AS c_label, list(m ORDER BY pos) AS c FROM comp GROUP BY 1),
    d AS (
        SELECT e.vec_id, cent.c_label,
               ROUND(sqrt(list_aggregate(list_transform(range(1, 65),
                          i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i])), 'sum')),
                     4) AS dist
        FROM e CROSS JOIN cent
    ),
    rankedc AS (
        SELECT vec_id, c_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
        FROM d
    ),
    assign AS (SELECT vec_id, c_label FROM rankedc WHERE rn = 1)
"""


@query(
    "ivf_search_topk",
    oracle=f"""
    WITH {_IVF_ASSIGN_CTES},
    cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM assign a JOIN assign b
          ON a.c_label = b.c_label AND a.vec_id <> b.vec_id
    ),
    sims AS (
        SELECT c.a_id, c.b_id,
               ROUND({_cosine_sql('ea.v', 'eb.v')}, 6) AS sim
        FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id
    ),
    rankedq AS (
        SELECT a_id, b_id, sim,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
        FROM sims
    )
    SELECT a_id, b_id, rank, sim FROM rankedq WHERE rank <= {LSH_TOPK}
    """,
    tags=("similarity", "ivf-search"),
)
def ivf_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search path (completes `ivf_centroid_assign`'s build path):
    each query routes to its nearest coarse centroid and scores ONLY
    that inverted list — candidates shrink by ~n_lists× vs brute force,
    the standard first stage of billion-scale ANN. Exact cosine on the
    candidate set via the packed-vector shuffle-join scorer (Arrow-
    batched dot); oracle-exact because routing uses rounded centroid
    components and rounded distances. A hot inverted list joins salted
    (:func:`skew.skewsafe_directed_pairs`), so one dense centroid can't
    melt a single reducer with its |list|² pairs.

    r11: the ranked result table (bounded at n×{LSH_TOPK} rows) is
    published session-shared — the serving query and BOTH index-eval
    consumers (`ann_recall_curve`, `ndcg_eval`) read one materialization
    instead of re-running the search per consumer execution."""
    from ..operators.skew import skewsafe_directed_pairs

    def build() -> DataFrame:
        assign = _ivf_assignments(spark, sf_dir).select("vec_id", "assigned_label")
        a = assign.select(
            F.col("vec_id").alias("a_id"), F.col("assigned_label").alias("lst")
        )
        b = assign.select(
            F.col("vec_id").alias("b_id"), F.col("assigned_label").alias("lst")
        )
        cand = skewsafe_directed_pairs(
            a, b, key="lst", probe_id="a_id", build_id="b_id", hot_size=IVF_HOT_LIST,
        )
        ea, eb = _packed_sides(spark, sf_dir)
        return _score_candidates(cand, ea, eb, r6, LSH_TOPK)

    return shared(spark, sf_dir, "ivf_topk_results", build)


# ---- IVF multi-probe: search the p nearest lists, the recall lever -----------
NPROBE = 2
IVF_HOT_LIST = 256  # list size above which candidate-gen salts the list join


@query(
    "ivf_search_nprobe",
    oracle=f"""
    WITH {_IVF_ASSIGN_CTES},
    probe AS (SELECT vec_id, c_label FROM rankedc WHERE rn <= {NPROBE}),
    cand AS (
        SELECT p.vec_id AS a_id, b.vec_id AS b_id
        FROM probe p JOIN assign b
          ON p.c_label = b.c_label AND p.vec_id <> b.vec_id
    ),
    sims AS (
        SELECT c.a_id, c.b_id,
               ROUND({_cosine_sql('ea.v', 'eb.v')}, 6) AS sim
        FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id
    ),
    rankedq AS (
        SELECT a_id, b_id, sim,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
        FROM sims
    )
    SELECT a_id, b_id, rank, sim FROM rankedq WHERE rank <= {LSH_TOPK}
    """,
    tags=("similarity", "ivf-multiprobe"),
)
def ivf_search_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with multi-probe routing: each query scans its
    NPROBE nearest coarse lists instead of one — the standard recall/cost
    dial of IVF indexes (recall floor vs single-probe pinned in pytest).
    Each corpus vector still lives in exactly one list (rn=1), so every
    candidate pair arises from at most one probed list — no dedup needed.
    Routing stays oracle-exact (rounded centroids + rounded distances);
    scoring is the packed shuffle-join path. Candidate generation goes
    through :func:`skew.skewsafe_directed_pairs`: a hot coarse list (the
    IVF failure mode — one centroid capturing a dense region makes the
    within-list join quadratic on one reducer) joins on (list, salt)
    with the probe side id-hash-salted, row-identical to the plain join.
    """
    from ..operators.skew import skewsafe_directed_pairs

    ranked = _ivf_ranked(spark, sf_dir)
    probe = ranked.where(F.col("rn") <= NPROBE).select(
        F.col("vec_id").alias("a_id"), F.col("c_label").alias("lst")
    )
    build = ranked.where(F.col("rn") == 1).select(
        F.col("vec_id").alias("b_id"), F.col("c_label").alias("lst")
    )
    cand = skewsafe_directed_pairs(
        probe, build, key="lst", probe_id="a_id", build_id="b_id",
        hot_size=IVF_HOT_LIST,
    )
    ea, eb = _packed_sides(spark, sf_dir)
    return _score_candidates(cand, ea, eb, r6, LSH_TOPK)


# ---- k-means: one full Lloyd iteration (E -> M -> E) -------------------------
@query(
    "kmeans_lloyd_step",
    oracle=f"""
    WITH {_IVF_ASSIGN_CTES},
    a1 AS (
        SELECT rankedc.vec_id, rankedc.c_label AS c1, d.dist AS dist1
        FROM rankedc JOIN d ON rankedc.vec_id = d.vec_id
                            AND rankedc.c_label = d.c_label
        WHERE rankedc.rn = 1
    ),
    comp2 AS (
        SELECT a1.c1, i AS pos, ROUND(AVG(e.v[i]), 6) AS m
        FROM e JOIN a1 ON e.vec_id = a1.vec_id, UNNEST(range(1, 65)) AS u(i)
        GROUP BY 1, 2
    ),
    cent2 AS (SELECT c1 AS c_label, list(m ORDER BY pos) AS c FROM comp2 GROUP BY 1),
    d2 AS (
        SELECT e.vec_id, cent2.c_label,
               ROUND(sqrt(list_aggregate(list_transform(range(1, 65),
                          i -> (e.v[i] - cent2.c[i]) * (e.v[i] - cent2.c[i])), 'sum')),
                     4) AS dist
        FROM e CROSS JOIN cent2
    ),
    ranked2 AS (
        SELECT vec_id, c_label, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
        FROM d2
    )
    SELECT a1.vec_id, a1.c1 AS cluster_init, r2.c_label AS cluster_next,
           CAST(CASE WHEN a1.c1 <> r2.c_label THEN 1 ELSE 0 END AS BIGINT) AS moved,
           a1.dist1 AS dist_init, r2.dist AS dist_next
    FROM a1 JOIN ranked2 r2 ON a1.vec_id = r2.vec_id AND r2.rn = 1
    """,
    tags=("similarity", "kmeans", "clustering"),
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration as pure DataFrame algebra: E-step
    (nearest-centroid assignment, shared with the IVF queries), M-step
    (recompute centroids as per-cluster dimension means, rounded to 6dp
    to kill float-sum-order nondeterminism — same convention as the IVF
    build), then a second E-step against the updated centroids. Output
    is per-vector (initial cluster, next cluster, moved flag, both
    distances); Lloyd's descent guarantee — total inertia never
    increases across the iteration — is pinned in tests.

    Scale shape per iteration: one posexplode aggregation over
    (k × dim) groups for the M-step and one broadcast of k rounded
    centroids for the E-step — the corpus streams through map-side
    work twice and never self-joins; iterating to convergence is a
    driver-side loop of these two cheap stages.
    """
    a1 = _ivf_assignments(spark, sf_dir).select(
        "vec_id",
        F.col("assigned_label").alias("cluster_init"),
        F.col("dist").alias("dist_init"),
    )
    e = _vecs(spark, sf_dir)
    flat = e.join(a1.select("vec_id", "cluster_init"), "vec_id").select(
        "cluster_init", F.posexplode("v").alias("pos", "x")
    )
    means = flat.groupBy("cluster_init", "pos").agg(
        F.expr("floor(avg(x) * 1e6 + 0.5) / 1e6").alias("m")
    )
    cent2 = (
        means.groupBy("cluster_init")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("cluster_init").alias("c_label"),
            F.expr("transform(pm, q -> q.m)").alias("c"),
        )
    )
    l2 = F.sqrt(
        F.expr("aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), 0D, (a, z) -> a + z)")
    )
    d2 = e.crossJoin(F.broadcast(cent2)).select("vec_id", "c_label", r4(l2).alias("dist"))
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("c_label"))
    a2 = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("c_label").alias("cluster_next"), F.col("dist").alias("dist_next"))
    )
    return a1.join(a2, "vec_id").select(
        "vec_id",
        "cluster_init",
        "cluster_next",
        (F.col("cluster_init") != F.col("cluster_next")).cast("long").alias("moved"),
        "dist_init",
        "dist_next",
    )


# ---- shingle containment (asymmetric near-dup: sub-document duplication) -----
CONTAINMENT_MIN = 0.5


@query(
    "containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, c AS n_common,
           ROUND(c * 1.0 / ca.n, 4) AS cont_1,
           ROUND(c * 1.0 / cb.n, 4) AS cont_2
    FROM common
    JOIN counts ca ON ca.doc_id = d1
    JOIN counts cb ON cb.doc_id = d2
    WHERE c * 1.0 / ca.n >= {CONTAINMENT_MIN} OR c * 1.0 / cb.n >= {CONTAINMENT_MIN}
    """,
    tags=("dedup", "containment"),
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(A,B) = |A∩B| / |A| in both
    directions — the sub-document-duplication signal Jaccard misses: a
    short doc fully embedded in a long one has low Jaccard (the union is
    large) but containment ≈ 1 on the short side, which is exactly how
    quote/boilerplate/excerpt duplication shows up in a pretraining
    corpus. Same inverted-index candidate generation as the Jaccard
    kernel (skew-salted, never all-pairs), same session-shared distinct
    shingle frame — one extra projection over the common-count frame,
    so the marginal cost over ngram_jaccard_pairs is near zero."""
    counts = _sh_sizes(spark, sf_dir)
    common = _sh_common_counts(spark, sf_dir)
    c1 = F.col("c") / F.col("ca.n")
    c2 = F.col("c") / F.col("cb.n")
    return (
        common.join(counts.alias("ca"), F.col("d1") == F.col("ca.doc_id"))
        .join(counts.alias("cb"), F.col("d2") == F.col("cb.doc_id"))
        .where((c1 >= CONTAINMENT_MIN) | (c2 >= CONTAINMENT_MIN))
        .select(
            "d1",
            "d2",
            F.col("c").alias("n_common"),
            r4(c1).alias("cont_1"),
            r4(c2).alias("cont_2"),
        )
    )


# ---- one damped PageRank iteration over the near-dup graph -------------------
@query(
    "pagerank_iteration",
    oracle=f"""
    WITH {_minhash_bands_ctes()},
    pairs0 AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs0
        UNION ALL
        SELECT d2 AS src, d1 AS dst FROM pairs0
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    contrib AS (
        SELECT e.dst AS doc_id, SUM(1.0 / (x.n_docs * d.deg)) AS c
        FROM edges e JOIN deg d ON e.src = d.src CROSS JOIN n x
        GROUP BY 1
    )
    SELECT doc.doc_id,
           ROUND(0.15 / x.n_docs + 0.85 * COALESCE(c.c, 0.0), 8) AS pr_next
    FROM documents doc
    CROSS JOIN n x
    LEFT JOIN contrib c ON c.doc_id = doc.doc_id
    """,
    tags=("graph", "pagerank"),
)
def pagerank_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One damped (d=0.85) PageRank power-iteration step from the uniform
    vector over the undirected near-dup candidate graph — centrality
    scoring of the duplication structure (hub documents that near-match
    many others rank high; the keep-best dedup can prefer them as
    canonical). Same one-iteration-as-operator contract the k-means
    Lloyd step established: the full algorithm is a driver loop of this
    exactly-oracle-checked step. Plan: the shared MinHash pair frame →
    symmetric edge list → degree aggregation → one contribution shuffle
    on dst + a 1-row scalar broadcast; per iteration cost is two
    key-shuffles over the edge list, the textbook distributed-PageRank
    shape. Isolated nodes keep the teleport mass via the left join."""
    ed = _mh_edges_deg(spark, sf_dir)
    nd = _docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    contrib = (
        ed.crossJoin(F.broadcast(nd))
        .groupBy(F.col("dst").alias("doc_id"))
        .agg(F.sum(F.lit(1.0) / (F.col("n_docs") * F.col("deg"))).alias("c"))
    )
    from ..exprs import stable_round

    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .crossJoin(F.broadcast(nd))
        .join(contrib, "doc_id", "left")
        .select(
            "doc_id",
            stable_round(
                0.15 / F.col("n_docs") + 0.85 * F.coalesce(F.col("c"), F.lit(0.0)), 8
            ).alias("pr_next"),
        )
    )


# ---- graph analytics: triangle census over the near-dup graph ----------------
@query(
    "triangle_count",
    oracle=f"""
    WITH {_minhash_bands_ctes()},
    pairs AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    tri AS (
        SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.d1 = e1.d2
        JOIN pairs e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
    ),
    tcnt AS (
        SELECT node, COUNT(*) AS n_triangles
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY node
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree
        FROM (SELECT d1 AS node FROM pairs UNION ALL SELECT d2 FROM pairs)
        GROUP BY node
    )
    SELECT deg.node AS doc_id, deg.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           ROUND(CASE WHEN deg.degree >= 2
                      THEN COALESCE(t.n_triangles, 0) * 2E0
                           / (deg.degree * (deg.degree - 1))
                      ELSE 0E0 END, 4) AS clustering_coeff
    FROM deg LEFT JOIN tcnt t ON t.node = deg.node
    """,
    tags=("graph", "clustering", "dedup"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + local clustering coefficient over the MinHash
    near-dup graph — the density diagnostic that separates tight dup
    clusters (coeff → 1) from chains of borderline matches (coeff → 0),
    i.e. whether transitive-closure dedup (neardup_components) is safe
    or will over-merge. Algorithm: edges are already ORIENTED (d1 < d2
    from the band join), so each triangle materializes exactly once as
    e1=(a,b), e2=(b,c), e3=(a,c) — the standard oriented wedge-closure
    join, linear in wedge count, never an undirected 3-cycle blow-up.
    At 100 TB orientation-by-degree (lowest-degree vertex first) bounds
    wedge fan-out on hot nodes; with the band join's cluster sizes the
    id orientation is equivalent. Reads the session-shared pair frame —
    zero extra shingle/LSH work. Division is guarded (degree < 2 → 0)."""
    pairs = _mh_pairs(spark, sf_dir)
    e1 = pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    e2 = pairs.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    e3 = pairs.select(F.col("d1").alias("a"), F.col("d2").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    tcnt = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col("d1").alias("node"))
        .unionAll(pairs.select(F.col("d2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    ntri = F.coalesce(F.col("n_triangles"), F.lit(0).cast("long"))
    return deg.join(tcnt, "node", "left").select(
        F.col("node").alias("doc_id"),
        "degree",
        ntri.alias("n_triangles"),
        r4(
            F.when(
                F.col("degree") >= 2,
                ntri * F.lit(2.0) / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0))
        ).alias("clustering_coeff"),
    )


# ---- fuzzy dedup: blocked edit-distance pairs --------------------------------
EDIT_RADIUS = 3  # max Levenshtein distance on the prefix signature
EDIT_PREFIX = 96  # chars of text compared (bounds the O(m*n) DP per pair)
EDIT_BUCKET = 32  # n_chars block width
EDIT_MAXLEN_DIFF = 16  # declared max |n_chars| gap; <= bucket so +/-1 probing is exact


@query(
    "fuzzy_dedup_edit",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, lang, n_chars,
               n_chars // {EDIT_BUCKET} AS bucket,
               substr(text, 1, {EDIT_PREFIX}) AS prefix
        FROM documents
    ),
    probe AS (
        SELECT doc_id, lang, n_chars, prefix, bucket - 1 AS bucket FROM sig
        UNION ALL
        SELECT doc_id, lang, n_chars, prefix, bucket FROM sig
        UNION ALL
        SELECT doc_id, lang, n_chars, prefix, bucket + 1 FROM sig
    ),
    cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               a.prefix AS p1, b.prefix AS p2
        FROM probe a JOIN sig b
          ON a.lang = b.lang AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= {EDIT_MAXLEN_DIFF}
    )
    SELECT d1, d2, CAST(levenshtein(p1, p2) AS BIGINT) AS edit_dist
    FROM cand
    WHERE levenshtein(p1, p2) <= {EDIT_RADIUS}
    """,
    tags=("dedup", "fuzzy", "edit-distance"),
)
def fuzzy_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dedup with length blocking — the fuzzy layer
    between exact_dedup (hash) and minhash_lsh_pairs (set overlap):
    catches small in-place edits (typo fixes, token swaps) that shift
    every downstream shingle. Match predicate: same lang, |n_chars| gap
    <= EDIT_MAXLEN_DIFF, prefix edit distance <= EDIT_RADIUS. Candidate
    generation is an EQUI-join on (lang, length-bucket): with the length
    gap bounded by the bucket width a qualifying pair differs by at most
    one bucket; with pairs oriented d1 < d2 the probe side fans each
    doc to buckets {b-1, b, b+1} so EVERY qualifying pair is found
    exactly once (whichever side has the smaller id, one and only one
    probe row lands on the other side's bucket) — never an all-pairs
    scan, and no distinct pass over wide prefix strings. The Levenshtein DP runs only on surviving candidates and only
    over a fixed {EDIT_PREFIX}-char prefix signature, bounding per-pair
    cost, and Spark runs the THRESHOLD (banded) DP — O(len * radius)
    per pair, -1 past the radius — while the oracle's full DP agrees on
    every surviving row. Pair
    volume = sum over (lang, bucket) of group_size², the same bounded-
    block shape as skewsafe_pair_gen — salt hot buckets if a length
    spike appears."""
    sig = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars") / EDIT_BUCKET).cast("long").alias("bucket"),
        F.substring("text", 1, EDIT_PREFIX).alias("prefix"),
    )
    probe = (
        sig.select(
            "doc_id", "lang", "n_chars", (F.col("bucket") - 1).alias("bucket"), "prefix"
        )
        .unionAll(sig)
        .unionAll(
            sig.select(
                "doc_id", "lang", "n_chars", (F.col("bucket") + 1).alias("bucket"), "prefix"
            )
        )
    )
    b = sig.select(
        F.col("doc_id").alias("d2"),
        F.col("lang").alias("lang2"),
        F.col("n_chars").alias("nc2"),
        F.col("bucket").alias("bucket2"),
        F.col("prefix").alias("p2"),
    )
    cand = (
        probe.join(
            b,
            (F.col("lang") == F.col("lang2"))
            & (F.col("bucket") == F.col("bucket2"))
            & (F.col("doc_id") < F.col("d2"))
            & (F.abs(F.col("n_chars") - F.col("nc2")) <= EDIT_MAXLEN_DIFF),
        )
        .select(F.col("doc_id").alias("d1"), "d2", F.col("prefix").alias("p1"), "p2")
    )
    # Banded DP: the threshold form costs O(len * r) per pair instead of
    # O(len^2) and returns -1 past the radius — exact for surviving rows.
    dist = F.levenshtein("p1", "p2", EDIT_RADIUS)
    return cand.withColumn("edit_dist", dist).where(
        (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= EDIT_RADIUS)
    ).select("d1", "d2", F.col("edit_dist").cast("long").alias("edit_dist"))


# ---- kNN classification eval over the LSH neighbor frame ---------------------
def _knn_eval_oracle() -> str:
    return f"""
    WITH topk AS ({_lsh_oracle()}),
    votes AS (
        SELECT t.a_id, eb.label AS nbr_label, COUNT(*) AS votes
        FROM topk t JOIN embeddings eb ON eb.vec_id = t.b_id
        GROUP BY t.a_id, eb.label
    ),
    pred AS (
        SELECT a_id, nbr_label AS pred_label
        FROM (
            SELECT a_id, nbr_label,
                   ROW_NUMBER() OVER (PARTITION BY a_id
                                      ORDER BY votes DESC, nbr_label) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT ea.label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN p.pred_label = ea.label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           ROUND(SUM(CASE WHEN p.pred_label = ea.label THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS accuracy
    FROM pred p JOIN embeddings ea ON ea.vec_id = p.a_id
    GROUP BY ea.label
    """


@query("knn_label_eval", oracle=_knn_eval_oracle(), tags=("similarity", "knn-eval"))
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification evaluation — the quality loop every embedding
    pipeline closes: predict each vector's label by majority vote of its
    LSH top-k neighbors (ties break to the smaller label id) and score
    accuracy per true label. Composes on the SAME session-shared scored
    frame (packed-vector Arrow dot) as cosine_lsh_topk /
    embedding_neardup_lsh — evaluating a kNN
    index costs two small aggregations beyond the index itself, no new
    scoring pass. A label-skew drop here is the canary for a bad
    quantization or hash-table count at 100 TB."""
    topk = cosine_lsh_topk(spark, sf_dir)
    labels = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        topk.join(
            labels.select(F.col("vec_id").alias("b_id"),
                          F.col("label").alias("nbr_label")),
            "b_id",
        )
        .groupBy("a_id", "nbr_label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("votes"), F.asc("nbr_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("a_id", F.col("nbr_label").alias("pred_label"))
    )
    correct = F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0)
    return (
        pred.join(labels.select(F.col("vec_id").alias("a_id"), "label"), "a_id")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(correct).alias("n_correct"),
            r4(F.sum(correct) * F.lit(1.0) / F.count("*")).alias("accuracy"),
        )
    )


# ---- prefix-filtered set-similarity join (AllPairs/PPJoin candidate scheme) --
PF_JACCARD_MIN = 0.5


@query(
    "prefix_filter_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           ROUND(c * 1.0 / (ca.n + cb.n - c), 4) AS jaccard
    FROM common
    JOIN counts ca ON ca.doc_id = d1
    JOIN counts cb ON cb.doc_id = d2
    WHERE c * 1.0 / (ca.n + cb.n - c) >= {PF_JACCARD_MIN}
    """,
    tags=("dedup", "ngram-jaccard", "prefix-filter"),
)
def prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (the AllPairs/PPJoin
    candidate scheme) — the third candidate generator in the dedup
    family, complementing MinHash banding (probabilistic) and the full
    inverted-index join (exact but quadratic in hot shingles). Order
    every shingle by a global total order (ascending document frequency,
    shingle text as tie-break) and keep only each doc's PREFIX — its
    |A| - ceil(t*|A|) + 1 rarest shingles: two sets with Jaccard >= t
    MUST collide inside their prefixes, so joining prefixes alone loses
    nothing, while the stop-shingles that melt reducers sit at the END
    of the order and never enter the join. Candidates verify against
    the session-shared exact-intersection frame. The oracle is the
    NAIVE all-pairs Jaccard — a hash match therefore PROVES the
    completeness property, not just the arithmetic. At 100 TB prefix
    filtering is the classic exact-similarity plan (cost tracks rare-
    token collisions, not corpus²)."""
    sh = _sh_distinct(spark, sf_dir)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sizes = _sh_sizes(spark, sf_dir)  # (doc_id, n)
    wd = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    prefix_len = (
        F.col("n") - F.ceil(F.lit(PF_JACCARD_MIN) * F.col("n")) + 1
    ).cast("long")
    prefix = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    common = _sh_common_counts(spark, sf_dir)  # (d1, d2, c)
    j = F.col("c") / (F.col("ca.n") + F.col("cb.n") - F.col("c"))
    return (
        cand.join(common, ["d1", "d2"])
        .join(sizes.alias("ca"), F.col("d1") == F.col("ca.doc_id"))
        .join(sizes.alias("cb"), F.col("d2") == F.col("cb.doc_id"))
        .where(j >= PF_JACCARD_MIN)
        .select("d1", "d2", r4(j).alias("jaccard"))
    )


# ---- entity-resolution consensus: three generators, one cluster graph --------
def _dedup_consensus_oracle() -> str:
    from . import REGISTRY

    mh = REGISTRY["minhash_lsh_pairs"].oracle
    sh_ = REGISTRY["simhash_pairs"].oracle
    ed = REGISTRY["fuzzy_dedup_edit"].oracle
    sql = f"""
    WITH RECURSIVE tagged AS (
        SELECT d1, d2, 'minhash' AS src_gen FROM ({mh}) m
        UNION ALL
        SELECT d1, d2, 'simhash' FROM ({sh_}) s
        UNION ALL
        SELECT d1, d2, 'edit' FROM ({ed}) e
    ),
    edges AS (SELECT DISTINCT d1, d2 FROM tagged),
    sym AS (SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node AS d, node AS m FROM nodes
        UNION
        SELECT r.d, s.b FROM reach r JOIN sym s ON s.a = r.m
    ),
    comp AS (SELECT d AS node, MIN(m) AS component FROM reach GROUP BY d),
    edge_src AS (
        SELECT c.component, t.src_gen, COUNT(*) AS n_edges
        FROM tagged t JOIN comp c ON c.node = t.d1
        GROUP BY 1, 2
    )
    SELECT c.component,
           CAST(COUNT(DISTINCT c.node) AS BIGINT) AS cluster_size,
           CAST(COALESCE(MAX(CASE WHEN e.src_gen = 'minhash' THEN e.n_edges END), 0)
                AS BIGINT) AS edges_minhash,
           CAST(COALESCE(MAX(CASE WHEN e.src_gen = 'simhash' THEN e.n_edges END), 0)
                AS BIGINT) AS edges_simhash,
           CAST(COALESCE(MAX(CASE WHEN e.src_gen = 'edit' THEN e.n_edges END), 0)
                AS BIGINT) AS edges_edit
    FROM comp c LEFT JOIN edge_src e ON e.component = c.component
    GROUP BY c.component
    """
    # tagged is read twice (edges + provenance) and each embedded
    # generator subquery re-derives the shingle chain when inlined —
    # MATERIALIZED keeps the 2x/8x replica oracle out of temp-disk spill
    # (the CTE-inlining trap, NOTES round 7)
    return _materialize_ctes(sql, ("tagged", "edges", "sym", "comp"))


@query(
    "dedup_consensus",
    oracle=_dedup_consensus_oracle(),
    tags=("dedup", "clustering", "entity-resolution"),
)
def dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution consensus — the three independent near-dup
    generators (MinHash set overlap, SimHash bit distance, blocked edit
    distance) vote into ONE pair graph, and connected components over
    the union produce the final clusters with per-generator edge
    provenance. This is how a production dedup actually ships: no
    single generator catches every duplication mode (token swaps break
    edit distance, sub-document copies break SimHash, short docs break
    MinHash), and the provenance counts are the per-cluster audit
    showing WHICH evidence merged it. All three pair frames are
    session-shared or banded equi-joins — the union is linear in edge
    count, the hash-min label propagation (operators/graph.py) scales
    as the dedup graphs' shallow diameters. The oracle replays all
    three generators and walks reachability with a recursive CTE."""
    def build_tagged() -> DataFrame:
        mh = _mh_pairs(spark, sf_dir).select("d1", "d2").withColumn(
            "src_gen", F.lit("minhash")
        )
        sh_ = simhash_pairs(spark, sf_dir).select("d1", "d2").withColumn(
            "src_gen", F.lit("simhash")
        )
        ed = fuzzy_dedup_edit(spark, sf_dir).select("d1", "d2").withColumn(
            "src_gen", F.lit("edit")
        )
        return mh.unionByName(sh_).unionByName(ed)

    # Session-shared: the tagged edge list feeds BOTH the component loop
    # (checkpoint materialization) and the provenance aggregation — without
    # the persist the SimHash/edit generators would run twice.
    tagged = shared(spark, sf_dir, "dedup_consensus_edges", build_tagged)
    from ..operators.graph import connected_components

    # r12 (guide §2.4, the modularity_cc / lpa_communities pattern): the
    # hash-min loop is eager multi-action work — share the converged labels
    # so it runs once per session instead of once per execution.
    comp = shared(
        spark,
        sf_dir,
        "consensus_cc",
        lambda: connected_components(tagged.select("d1", "d2").distinct()),
    )
    edge_src = (
        tagged.join(comp, tagged["d1"] == comp["node"])
        .groupBy("comp", "src_gen")
        .agg(F.count("*").alias("n_edges"))
    )
    per_src = lambda g: F.coalesce(  # noqa: E731
        F.max(F.when(F.col("src_gen") == g, F.col("n_edges"))), F.lit(0).cast("long")
    )
    sizes = comp.groupBy("comp").agg(F.countDistinct("node").alias("cluster_size"))
    provenance = edge_src.groupBy("comp").agg(
        per_src("minhash").alias("edges_minhash"),
        per_src("simhash").alias("edges_simhash"),
        per_src("edit").alias("edges_edit"),
    )
    return (
        sizes.join(provenance, "comp", "left")
        .select(
            F.col("comp").alias("component"),
            "cluster_size",
            F.coalesce("edges_minhash", F.lit(0).cast("long")).alias("edges_minhash"),
            F.coalesce("edges_simhash", F.lit(0).cast("long")).alias("edges_simhash"),
            F.coalesce("edges_edit", F.lit(0).cast("long")).alias("edges_edit"),
        )
    )


# ---- hybrid retrieval: reciprocal-rank fusion of lexical + dense -------------
RRF_K = 60
LEX_K = 10
DENSE_K = 10
FUSE_K = 5


def _fusion_oracle() -> str:
    bucket_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t_} AS table_id, {_lsh_bucket_sql('v', t_)} AS bucket FROM e"
        for t_ in range(sim.LSH_TABLES)
    )
    return f"""
    WITH {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    lex_directed AS (
        SELECT d1 AS q_id, d2 AS n_id,
               ROUND(c * 1.0 / (ca.n + cb.n - c), 4) AS s
        FROM common JOIN counts ca ON ca.doc_id = d1
                    JOIN counts cb ON cb.doc_id = d2
        UNION ALL
        SELECT d2, d1, ROUND(c * 1.0 / (ca.n + cb.n - c), 4)
        FROM common JOIN counts ca ON ca.doc_id = d1
                    JOIN counts cb ON cb.doc_id = d2
    ),
    lex AS (
        SELECT q_id, n_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) AS rank
        FROM lex_directed
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
        {bucket_rows}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM buckets a JOIN buckets b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
         AND a.vec_id <> b.vec_id
    ),
    den AS (
        SELECT a_id AS q_id, b_id AS n_id,
               ROW_NUMBER() OVER (
                   PARTITION BY a_id
                   ORDER BY ROUND({_cosine_sql('ea.v', 'eb.v')}, 6) DESC, b_id
               ) AS rank
        FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id
    ),
    merged AS (
        SELECT q_id, n_id, rank FROM lex WHERE rank <= {LEX_K}
        UNION ALL
        SELECT q_id, n_id, rank FROM den WHERE rank <= {DENSE_K}
    ),
    fused AS (
        SELECT q_id, n_id,
               SUM(1.0E0 / ({RRF_K} + rank)) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM merged GROUP BY q_id, n_id
    )
    SELECT q_id, n_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id)
                AS BIGINT) AS fused_rank,
           ROUND(score, 6) AS rrf_score, n_sources
    FROM fused
    QUALIFY fused_rank <= {FUSE_K}
    """


@query("hybrid_rank_fusion", oracle=_fusion_oracle(), tags=("retrieval", "hybrid", "rrf"))
def hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion — the RAG-stack pattern
    of merging a LEXICAL ranking (word-3-gram Jaccard neighbors, from
    the skew-salted shared shingle frame) with a DENSE ranking
    (hyperplane-LSH cosine neighbors, from the shared scored frame —
    exact cosine via the Arrow-batched packed-vector dot) per
    query document (vec_id ≡ doc_id in the fixture): RRF score
    Σ 1/(60 + rank) over the lists a neighbor appears in. RRF needs no
    score calibration between the two metrics — only ranks — which is
    exactly why it's the production fusion default.

    Exactness: each ranking orders by its ROUNDED score with id
    tie-breaks (both engines cut identical lists); an RRF sum has at
    most two terms, and IEEE addition of two doubles is commutative, so
    group order cannot change the fused score. Scale shape: both
    rankings read session-shared materializations (built once), the
    fusion itself is one union + one small aggregation — cost is two
    top-K windows over candidate sets, never corpus²."""
    counts = _sh_sizes(spark, sf_dir)
    common = _sh_common_counts(spark, sf_dir)
    j = F.col("c") / (F.col("ca.n") + F.col("cb.n") - F.col("c"))
    undirected = (
        common.join(counts.alias("ca"), F.col("d1") == F.col("ca.doc_id"))
        .join(counts.alias("cb"), F.col("d2") == F.col("cb.doc_id"))
        .select("d1", "d2", r4(j).alias("s"))
    )
    lex_directed = undirected.select(
        F.col("d1").alias("q_id"), F.col("d2").alias("n_id"), "s"
    ).unionByName(
        undirected.select(F.col("d2").alias("q_id"), F.col("d1").alias("n_id"), "s")
    )
    wl = Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc("n_id"))
    lex = (
        lex_directed.withColumn("rank", F.row_number().over(wl))
        .where(F.col("rank") <= LEX_K)
        .select("q_id", "n_id", "rank")
    )
    scored = _lsh_scored(spark, sf_dir)
    den_directed = scored.select(
        F.col("d1").alias("q_id"), F.col("d2").alias("n_id"), "sim_raw"
    ).unionByName(
        scored.select(F.col("d2").alias("q_id"), F.col("d1").alias("n_id"), "sim_raw")
    )
    wd = Window.partitionBy("q_id").orderBy(
        F.desc(r6(F.col("sim_raw"))), F.asc("n_id")
    )
    den = (
        den_directed.withColumn("rank", F.row_number().over(wd))
        .where(F.col("rank") <= DENSE_K)
        .select("q_id", "n_id", "rank")
    )
    fused = (
        lex.unionByName(den)
        .groupBy("q_id", "n_id")
        .agg(
            F.sum(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank"))).alias("score"),
            F.count("*").cast("long").alias("n_sources"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .where(F.col("fused_rank") <= FUSE_K)
        .select("q_id", "n_id", "fused_rank", r6(F.col("score")).alias("rrf_score"), "n_sources")
    )


# ---- clustering stability: components across a Jaccard threshold sweep -------
SWEEP_THRESHOLDS = (0.05, 0.075, 0.1)


def _threshold_sweep_oracle() -> str:
    pieces = []
    for i, th in enumerate(SWEEP_THRESHOLDS):
        pieces.append(f"""
    e{i} AS (SELECT d1, d2 FROM scored WHERE j >= {th}),
    sym{i} AS (SELECT d1 AS a, d2 AS b FROM e{i} UNION SELECT d2, d1 FROM e{i}),
    reach{i} AS (
        SELECT a AS d, a AS m FROM sym{i}
        UNION
        SELECT r.d, s.b FROM reach{i} r JOIN sym{i} s ON s.a = r.m
    ),
    comp{i} AS (SELECT d AS node, MIN(m) AS comp FROM reach{i} GROUP BY d),
    sizes{i} AS (SELECT comp, COUNT(*) AS sz FROM comp{i} GROUP BY comp),
    summary{i} AS (
        SELECT {th}E0 AS threshold,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i}) AS n_edges,
               CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_nodes,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_cluster_size
        FROM sizes{i}
    )""")
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM summary{i}" for i in range(len(SWEEP_THRESHOLDS))
    )
    sql = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d1, d2, ROUND(c * 1.0 / (ca.n + cb.n - c), 4) AS j
        FROM common
        JOIN counts ca ON ca.doc_id = d1
        JOIN counts cb ON cb.doc_id = d2
    ),{",".join(pieces)}
    {unions}
    """
    # "scored" is read by every threshold branch and the shingle
    # self-join behind it is the expensive subtree — MATERIALIZED keeps
    # the replica-scale oracle out of temp-disk spill (NOTES trap log)
    names = ("sh_all", "sh", "counts", "common", "scored") + tuple(
        f"{pre}{i}"
        for i in range(len(SWEEP_THRESHOLDS))
        for pre in ("e", "sym", "comp", "sizes")
    )
    return _materialize_ctes(sql, names)


@query(
    "threshold_sweep_components",
    oracle=_threshold_sweep_oracle(),
    tags=("dedup", "clustering", "stability"),
)
def threshold_sweep_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-stability sweep: connected components of the Jaccard
    similarity graph at several thresholds — the single-linkage
    dendrogram read at three heights. The fixture shows the percolation
    transition every dedup engineer tunes against: at a strict
    threshold only true near-dup clones cluster; loosen it into the
    background-similarity noise and a giant component swallows the
    corpus (which is why production dedup picks θ ABOVE the noise
    mode). Edges come from the session-shared scored pair frame (built
    once); each threshold runs the hash-min + pointer-jump label
    propagation (operators/graph.py) over its filtered edge set —
    per-round cost = one narrow shuffle, rounds bounded by component
    diameter. The sweep stays ABOVE the noise floor deliberately:
    below it (θ ≲ 0.03 here) the graph percolates into one giant
    deep-diameter component, where iterative label propagation is the
    wrong tool and the right answer is 'don't dedup there' — the query
    exists to FIND that floor, not to cluster beneath it.
    The oracle replays each level as a recursive CTE. Comparisons use
    the 4dp-rounded score on both engines."""
    from ..operators.graph import connected_components

    scored = _jaccard_scored(spark, sf_dir)
    # ALL levels propagate in ONE loop: tag each edge with every threshold
    # it survives and key the label frame on the composite (level, node) —
    # the round count becomes the MAX component diameter across levels
    # instead of the SUM, and the per-round fixed cost (checkpoint +
    # convergence action) is paid once for the whole dendrogram sweep.
    lvl = None
    for i, th in enumerate(SWEEP_THRESHOLDS):
        tagged = scored.where(F.col("j") >= F.lit(th)).select(
            F.lit(i).alias("lvl"), "d1", "d2"
        )
        lvl = tagged if lvl is None else lvl.unionByName(tagged)
    # coalesce: the 3-branch union of the 64-partition cached frame would
    # otherwise feed CC's first distinct through ~192 near-empty map tasks
    # — scheduling overhead, not work, for a ~1k-row edge list.
    edges = lvl.select(
        (F.col("lvl") * F.lit(1_000_000_000) + F.col("d1")).alias("d1"),
        (F.col("lvl") * F.lit(1_000_000_000) + F.col("d2")).alias("d2"),
    ).coalesce(8)
    # The converged sweep components are session-shared like _neardup_cc:
    # the propagation loop (the expensive, build-time part) runs once per
    # (session, dataset); re-invocations read the maintained result.
    comp = shared(
        spark, sf_dir, "sweep_components",
        lambda: connected_components(edges),
    ).select(
        F.floor(F.col("node") / F.lit(1_000_000_000)).cast("int").alias("lvl"),
        "comp",
        "node",
    )
    sizes = comp.groupBy("lvl", "comp").agg(F.count("*").alias("sz"))
    edge_counts = lvl.groupBy("lvl").agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    th_df = None
    for i, th in enumerate(SWEEP_THRESHOLDS):
        row = spark.range(1).select(
            F.lit(i).cast("int").alias("lvl"), F.lit(float(th)).alias("threshold")
        )
        th_df = row if th_df is None else th_df.unionByName(row)
    summary = (
        sizes.groupBy("lvl")
        .agg(
            F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_nodes"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("max_cluster_size"),
        )
    )
    # LEFT joins from the threshold spine: a level with zero surviving
    # edges must still report a zero row (the oracle's aggregate-over-
    # empty does), not vanish from the result.
    return (
        th_df
        .join(edge_counts, "lvl", "left")
        .join(summary, "lvl", "left")
        .select(
            "threshold",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce("n_nodes", F.lit(0)).cast("long").alias("n_nodes"),
            F.coalesce("n_clusters", F.lit(0)).cast("long").alias("n_clusters"),
            F.coalesce("max_cluster_size", F.lit(0)).cast("long")
            .alias("max_cluster_size"),
        )
    )


# ---- Product quantization: codebook, encoding, IVF-PQ ADC search -------------
# The memory-compression half of the billion-scale ANN recipe (IVF routes,
# PQ compresses): 64-dim float vectors become PQ_M one-byte codes, and
# search scores candidates from a per-query distance table instead of the
# raw vectors. Codebooks are deterministically SAMPLED (per-subspace K
# seed vectors picked by md5 rank — the standard random-subset
# initialization, made engine-reproducible), so both engines derive
# bit-identical codebooks, codes and ADC distances with no RNG state.
PQ_M = 8  # subspaces (DIM / PQ_S)
PQ_S = 8  # dims per subspace
PQ_K = 4  # codewords per subspace → 2 bits/subspace, 16 bits/vector

# Sub-distances are fixed to integer 1e-6 units immediately: every
# downstream sum (encoding error, ADC distance) is exact BIGINT
# arithmetic, immune to float accumulation order on both engines.
_PQ_CTES = f"""
    ms AS (SELECT CAST(i AS INTEGER) AS m FROM UNNEST(range(0, {PQ_M})) AS u(i)),
    seedrank AS (
        SELECT ms.m, e.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY ms.m
                   ORDER BY md5('pq|' || ms.m || '|' || e.vec_id), e.vec_id
               ) AS rn
        FROM e CROSS JOIN ms
    ),
    cb AS (
        SELECT s.m, s.rn - 1 AS k,
               list_transform(range(1, {PQ_S + 1}),
                              j -> e2.v[s.m * {PQ_S} + j]) AS c
        FROM seedrank s JOIN e e2 ON e2.vec_id = s.vec_id
        WHERE s.rn <= {PQ_K}
    ),
    pqd AS (
        SELECT e.vec_id, cb.m, cb.k,
               CAST(FLOOR(list_aggregate(list_transform(range(1, {PQ_S + 1}),
                    j -> (e.v[cb.m * {PQ_S} + j] - cb.c[j])
                       * (e.v[cb.m * {PQ_S} + j] - cb.c[j])), 'sum')
                    * 1e6 + 0.5) AS BIGINT) AS dfix
        FROM e CROSS JOIN cb
    ),
    pqcodes AS (
        SELECT vec_id, m, k, dfix
        FROM (SELECT vec_id, m, k, dfix,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                        ORDER BY dfix, k) AS rn
              FROM pqd) z
        WHERE rn = 1
    )
"""


def _pq_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, k, dfix) — fixed-point (1e-6) squared L2 from every
    vector's m-th subvector to codeword k. Session-shared: this one small
    frame (n_vec × PQ_M × PQ_K narrow rows) is both the encoding input
    (argmin per (vec, m)) and the per-query ADC distance table. The
    codebook is PQ_M × PQ_K rows — broadcast by construction."""

    def build() -> DataFrame:
        e = _vecs(spark, sf_dir).select("vec_id", "v")
        ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
        seeds = (
            e.select("vec_id")
            .crossJoin(F.broadcast(ms))
            .withColumn(
                "hh",
                F.md5(F.concat_ws("|", F.lit("pq"), F.col("m"), F.col("vec_id"))),
            )
        )
        w = Window.partitionBy("m").orderBy("hh", "vec_id")
        seeds = (
            seeds.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= PQ_K)
            .select("m", (F.col("rn") - 1).cast("int").alias("k"), "vec_id")
        )
        sub = f"transform(sequence(1, {PQ_S}), j -> element_at(v, m * {PQ_S} + j))"
        cb = seeds.join(e, "vec_id").select("m", "k", F.expr(sub).alias("c"))
        sq = (
            f"aggregate(zip_with({sub}, c, (x, y) -> (x - y) * (x - y)), "
            f"0D, (a, z) -> a + z)"
        )
        return e.crossJoin(F.broadcast(cb)).select(
            "vec_id",
            "m",
            "k",
            F.floor(F.expr(sq) * F.lit(1e6) + F.lit(0.5)).cast("long").alias("dfix"),
        )

    return shared(spark, sf_dir, "pq_dists", build)


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, k, dfix) — the chosen codeword per (vector, subspace):
    argmin over the distance table, ties to the lower code."""

    def build() -> DataFrame:
        d = _pq_dists(spark, sf_dir)
        w = Window.partitionBy("vec_id", "m").orderBy(F.asc("dfix"), F.asc("k"))
        return d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")

    return shared(spark, sf_dir, "pq_codes", build)


@query(
    "pq_encode",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_PQ_CTES}
    SELECT vec_id,
           string_agg(CAST(k AS VARCHAR), '-' ORDER BY m) AS code_str,
           ROUND(SUM(dfix) / 1e6, 4) AS qerr
    FROM pqcodes
    GROUP BY vec_id
    """,
    tags=("similarity", "pq", "quantization"),
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: each vector compresses to PQ_M
    codes (2 bits/subspace here — 16 bits replacing 256 bytes of floats)
    plus its total quantization error. This is the storage layout
    billion-scale ANN serves from; at 100 TB the codes table is what
    fits in executor memory when the raw vectors cannot. One argmin
    window over the session-shared distance table, one exact-integer
    group sum — no float accumulation anywhere."""
    codes = _pq_codes(spark, sf_dir)
    code_str = (
        "concat_ws('-', transform(array_sort(collect_list(struct(m, k))), "
        "s -> cast(s.k as string)))"
    )
    return codes.groupBy("vec_id").agg(
        F.expr(code_str).alias("code_str"),
        r4(F.sum("dfix") / F.lit(1e6)).alias("qerr"),
    )


@query(
    "ivfpq_search",
    oracle=f"""
    WITH {_IVF_ASSIGN_CTES},
    {_PQ_CTES},
    cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM assign a JOIN assign b
          ON a.c_label = b.c_label AND a.vec_id <> b.vec_id
    ),
    adc AS (
        SELECT c.a_id, c.b_id, SUM(da.dfix) AS sfix
        FROM cand c
        JOIN pqcodes pc ON pc.vec_id = c.b_id
        JOIN pqd da ON da.vec_id = c.a_id AND da.m = pc.m AND da.k = pc.k
        GROUP BY 1, 2
    ),
    rankedq AS (
        SELECT a_id, b_id, sfix,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sfix, b_id) AS rank
        FROM adc
    )
    SELECT a_id, b_id, CAST(rank AS BIGINT) AS rank,
           ROUND(sfix / 1e6, 4) AS adc_dist
    FROM rankedq WHERE rank <= {LSH_TOPK}
    """,
    tags=("similarity", "ivf-pq", "ann-pq"),
)
def ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — the full billion-scale ANN shape: IVF routing
    confines each query to its coarse inverted list (hot lists salted,
    as in `ivf_search_topk`), and scoring uses PQ asymmetric distance
    computation instead of raw vectors: approx_dist(q, x) = Σ_m
    dtable_q[m, code_x[m]]. The per-query distance table IS the
    session-shared `_pq_dists` frame, so candidate scoring is two narrow
    equi-joins plus an exact BIGINT group-sum — the raw vectors are
    never shuffled at all, which is the entire point of PQ at 100 TB.
    Top-k ranks on the exact integer distance (no float compare).

    r11: the ranked result table (bounded at n×{LSH_TOPK} rows) is
    published session-shared, mirroring `ivf_search_topk` — the two
    index-eval consumers read the materialization instead of re-running
    the ADC scoring per consumer execution."""
    from ..operators.skew import skewsafe_directed_pairs

    def build() -> DataFrame:
        assign = _ivf_assignments(spark, sf_dir).select("vec_id", "assigned_label")
        a = assign.select(
            F.col("vec_id").alias("a_id"), F.col("assigned_label").alias("lst")
        )
        b = assign.select(
            F.col("vec_id").alias("b_id"), F.col("assigned_label").alias("lst")
        )
        cand = skewsafe_directed_pairs(
            a, b, key="lst", probe_id="a_id", build_id="b_id", hot_size=IVF_HOT_LIST
        )
        codes_b = _pq_codes(spark, sf_dir).select(
            F.col("vec_id").alias("b_id"), "m", "k"
        )
        dists_a = _pq_dists(spark, sf_dir).select(
            F.col("vec_id").alias("a_id"), "m", "k", "dfix"
        )
        par = spark.sparkContext.defaultParallelism
        adc = (
            cand.repartition(par, "a_id")
            .join(codes_b, "b_id")
            .join(dists_a, ["a_id", "m", "k"])
            .groupBy("a_id", "b_id")
            .agg(F.sum("dfix").alias("sfix"))
        )
        w = Window.partitionBy("a_id").orderBy(F.asc("sfix"), F.asc("b_id"))
        return (
            adc.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= LSH_TOPK)
            .select(
                "a_id", "b_id", "rank", r4(F.col("sfix") / F.lit(1e6)).alias("adc_dist")
            )
        )

    return shared(spark, sf_dir, "ivfpq_results", build)


# ---- semantic dedup: cluster, then drop near-duplicates of better-ranked ----
SEMDEDUP_THETA = 0.4  # cosine at/above which a pair is a semantic duplicate


@query(
    "semantic_dedup",
    oracle=f"""
    WITH {_IVF_ASSIGN_CTES},
    asg AS (
        SELECT d.vec_id, d.c_label, d.dist
        FROM d JOIN rankedc r ON r.vec_id = d.vec_id AND r.c_label = d.c_label
        WHERE r.rn = 1
    ),
    ordd AS (
        SELECT vec_id, c_label,
               ROW_NUMBER() OVER (PARTITION BY c_label
                                  ORDER BY dist, vec_id) AS r
        FROM asg
    ),
    prs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM ordd a JOIN ordd b ON a.c_label = b.c_label AND a.r > b.r
    ),
    dropped AS (
        SELECT DISTINCT p.a_id
        FROM prs p JOIN e ea ON ea.vec_id = p.a_id
                   JOIN e eb ON eb.vec_id = p.b_id
        WHERE ROUND({_cosine_sql('ea.v', 'eb.v')}, 6) >= {SEMDEDUP_THETA}
    )
    SELECT o.vec_id, o.c_label AS cluster, (dr.a_id IS NULL) AS kept
    FROM ordd o LEFT JOIN dropped dr ON dr.a_id = o.vec_id
    """,
    tags=("dedup", "semantic", "clustering"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space (the session-shared IVF assignment — at 100 TB
    the clustering bounds pair generation exactly like an inverted
    list), rank each cluster by distance-to-centroid (centroid-nearest
    = canonical), and drop any vector whose cosine to a BETTER-ranked
    cluster-mate reaches the duplicate threshold. Non-iterative and
    deterministic: rank ties break on vec_id, so both engines drop the
    identical set. Pair generation reuses the hot-list-salted IVF
    candidate machinery; scoring reuses the packed-vector Arrow dot.
    Emits the full per-vector verdict (vec_id, cluster, kept)."""
    from ..operators.skew import skewsafe_directed_pairs

    ranked = _ivf_ranked(spark, sf_dir)
    asg = ranked.where(F.col("rn") == 1).select("vec_id", "c_label", "dist")
    w = Window.partitionBy("c_label").orderBy(F.asc("dist"), F.asc("vec_id"))
    ordd = asg.withColumn("r", F.row_number().over(w))
    a = ordd.select(F.col("vec_id").alias("a_id"), F.col("c_label").alias("lst"))
    b = ordd.select(F.col("vec_id").alias("b_id"), F.col("c_label").alias("lst"))
    cand = skewsafe_directed_pairs(
        a, b, key="lst", probe_id="a_id", build_id="b_id", hot_size=IVF_HOT_LIST
    )
    ra = ordd.select(F.col("vec_id").alias("a_id"), F.col("r").alias("ra"))
    rb = ordd.select(F.col("vec_id").alias("b_id"), F.col("r").alias("rb"))
    prs = (
        cand.join(ra, "a_id")
        .join(rb, "b_id")
        .where(F.col("ra") > F.col("rb"))
        .select("a_id", "b_id")
    )
    ea, eb = _packed_sides(spark, sf_dir)
    dot = sim.seq_dot_udf()
    par = spark.sparkContext.defaultParallelism
    scored = (
        prs.repartition(par, "a_id")
        .join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            "a_id",
            r6(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    dropped = (
        scored.where(F.col("sim") >= F.lit(SEMDEDUP_THETA))
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return ordd.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("c_label").alias("cluster"),
        F.col("_drop").isNull().alias("kept"),
    )


# ---- k-core peeling over the near-dup graph ----------------------------------
KCORE_K = 2  # minimum degree to stay in the core
KCORE_ROUNDS = 3  # statically-unrolled peel rounds (the per-round operator)


def _kcore_oracle() -> str:
    ctes = []
    prev = "ed0"
    for t in range(1, KCORE_ROUNDS + 1):
        ctes.append(
            f"deg{t} AS (SELECT src AS node, COUNT(*) AS deg FROM {prev} GROUP BY 1)"
        )
        ctes.append(f"surv{t} AS (SELECT node FROM deg{t} WHERE deg >= {KCORE_K})")
        ctes.append(
            f"ed{t} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e "
            f"JOIN surv{t} a ON a.node = e.src JOIN surv{t} b ON b.node = e.dst)"
        )
        prev = f"ed{t}"
    removed = " ".join(
        f"WHEN s{t}.node IS NULL THEN {t}" for t in range(1, KCORE_ROUNDS + 1)
    )
    joins = " ".join(
        f"LEFT JOIN surv{t} s{t} ON s{t}.node = n.node"
        for t in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
    WITH {_minhash_bands_ctes()},
    pairs0 AS MATERIALIZED (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ed0 AS MATERIALIZED (
        SELECT d1 AS src, d2 AS dst FROM pairs0
        UNION ALL
        SELECT d2 AS src, d1 AS dst FROM pairs0
    ),
    {', '.join(ctes)},
    degf AS (SELECT src AS node, COUNT(*) AS deg FROM {prev} GROUP BY 1)
    SELECT n.node AS doc_id,
           CAST(CASE {removed} ELSE 0 END AS BIGINT) AS removed_round,
           CAST(COALESCE(df.deg, 0) AS BIGINT) AS core_deg
    FROM deg1 n {joins}
    LEFT JOIN degf df ON df.node = n.node
    """


@query("k_core_peel", oracle=_kcore_oracle(), tags=("graph", "k-core"))
def k_core_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KCORE_ROUNDS statically-unrolled rounds of k-core peeling (k=2)
    over the undirected near-dup candidate graph: each round removes
    nodes whose current degree is below k and restricts the edge set to
    survivors. Emits every initial node with the round it was peeled
    (0 = survived all rounds) and its residual core degree — the graph
    decomposition that separates structurally-dense duplicate clusters
    from chain/pendant noise before expensive pairwise scoring. Same
    bounded-iteration-as-operator contract as `pagerank_iteration` /
    `kmeans_lloyd_step`: the full peel is a driver loop of this step,
    converged when a round removes nothing. All-integer degrees, so the
    unrolled relational plan is exactly engine-portable; per-round cost
    is one degree aggregation + two semi-join-shaped hash joins over an
    edge list that only shrinks."""
    # coalesce: the symmetric union of the cached 32-partition pair frame
    # would push ~1k-row edge lists through 64-task shuffle rounds — the
    # peel loop is scheduling-bound, not data-bound (same rule as the
    # dendrogram sweep).
    ed = symmetric_edges(_mh_pairs(spark, sf_dir)).coalesce(8)
    deg0 = ed.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    survs = []
    cur = ed
    for _ in range(KCORE_ROUNDS):
        deg = cur.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
        # eager localCheckpoint: surv feeds the edge filter AND the final
        # verdict join, cur feeds two consumers next round — materializing
        # the (tiny) per-round frames truncates the lineage so the final
        # plan is R shallow joins instead of an O(R^2) re-executed chain.
        surv = (
            deg.where(F.col("deg") >= KCORE_K).select("node")
            .localCheckpoint(eager=True)
        )
        cur = (
            cur.join(surv.withColumnRenamed("node", "src"), "src")
            .join(surv.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        survs.append(surv)
    degf = cur.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("_fdeg"))
    out = deg0.select("node")
    for i, sv in enumerate(survs, start=1):
        out = out.join(sv.withColumn(f"_s{i}", F.lit(1)), "node", "left")
    removed = F.lit(None).cast("long")
    cond = None
    for i in range(1, KCORE_ROUNDS + 1):
        c = F.when(F.col(f"_s{i}").isNull(), F.lit(i))
        cond = c if cond is None else cond.when(F.col(f"_s{i}").isNull(), F.lit(i))
    removed = cond.otherwise(F.lit(0)).cast("long")
    return out.join(degf, "node", "left").select(
        F.col("node").alias("doc_id"),
        removed.alias("removed_round"),
        F.coalesce("_fdeg", F.lit(0)).cast("long").alias("core_deg"),
    )


# ---- streaming ingest dedup: band-keyed signature store as GroupState --------
# 3 ingest slices: still a genuine multi-micro-batch run (cross-batch state
# is pytest-pinned) at ~2 s fixed micro-batch machinery cost each.
DEDUP_STREAM_FILES = 3
# Hex chars of a band signature that pick its state shard (2 -> 256 shards
# per band). Part of the stream's state layout: a checkpointed stream must
# keep it for life, since another width re-keys the GroupState groups.
DEDUP_STREAM_BUCKET_HEX = 2


@query(
    "stream_dedup_bands",
    oracle=f"""
    WITH {_minhash_bands_ctes()},
    fm AS (
        SELECT a.doc_id, MIN(b.doc_id) AS dup_of
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND b.doc_id < a.doc_id
        GROUP BY 1
    )
    SELECT d.doc_id, (fm.doc_id IS NOT NULL) AS is_dup, fm.dup_of
    FROM documents d LEFT JOIN fm ON fm.doc_id = d.doc_id
    """,
    tags=("dedup", "streaming", "stateful", "minhash-lsh"),
)
def stream_dedup_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest near-dedup — the STREAMING twin of
    `incremental_dedup_probe`: documents arrive as a doc_id-ordered
    ingest stream, each row derives its MinHash band signatures
    per-row (array folds — no pre-state aggregation, so the stream
    stays single-stateful), and an applyInPandasWithState kernel keyed
    by (band_id, band_sig) holds ONE value per signature — the minimum
    doc_id seen — and emits each arrival's earliest colliding
    predecessor. State is the banded signature store itself (exactly
    what the batch prober persists), bounded by distinct signatures,
    never pairs. After the stream drains, plain batch algebra folds the
    per-band verdicts into (doc_id, is_dup, dup_of); the oracle proves
    the streamed verdicts equal the batch first-occurrence dedup over
    the same corpus. Python appears only in the licensed
    applyInPandasWithState kernel (Arrow-batched pandas)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming import (
        BOUNDED_STATE_PARTITIONS,
        run_to_memory,
        stream_documents_ordered,
    )

    docs = stream_documents_ordered(spark, sf_dir, n_files=DEDUP_STREAM_FILES)
    # Each ingest slice is ONE file -> one input partition per micro-batch;
    # without a repartition the per-row MinHash (16 array folds of md5s)
    # runs single-task per batch. The narrow pre-shuffle spreads the
    # CPU-heavy projection across cores; the stateful groupBy shuffles
    # anyway, so this adds no extra stage at scale (multi-split ingest
    # files already arrive wide).
    par = spark.sparkContext.defaultParallelism
    docs = docs.repartition(par)
    tk = docs.select("doc_id", tx.tokens(F.col("text")).alias("tk"))
    sh = tk.select("doc_id", tx.word_shingles().alias("sh")).where(F.size("sh") >= 1)
    # Per-row MinHash: slot s = array_min over the shingle multiset (equal
    # to the batch groupBy-min over the distinct set), bands = md5 of the
    # row-concat — bit-identical to operators.text.minhash_bands.
    slots = [
        F.expr(f"array_min(transform(sh, x -> md5(concat('{s}|', x))))").alias(f"h{s}")
        for s in range(tx.MINHASH_K)
    ]
    sig = sh.select("doc_id", *slots)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"h{b * tx.MINHASH_ROWS + r}") for r in range(tx.MINHASH_ROWS)],
                    )
                ).alias("band_sig"),
            )
            for b in range(tx.MINHASH_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_sig").alias("band_sig"),
        # Bounded state key: applyInPandasWithState pays a Python call per
        # GROUP per batch, and per-signature keys mean thousands of tiny
        # groups each batch. Signatures shard by their first
        # DEDUP_STREAM_BUCKET_HEX hex chars (4×256 groups); the fold is
        # per-SIGNATURE inside the shard, so ANY shard width computes
        # identical verdict rows — shard count is the state-size dial at
        # scale (each shard's sig→min map must stay executor-sized). r11
        # measured the coarser 1-hex HYPOTHESIS (fewer Python group calls)
        # and it LOST — 13.0 s vs 22.9 s fresh-stream isolate best-of-3 —
        # so the r10 2-hex sharding stays; state (de)serialization bytes,
        # not group call count, dominate this stream's per-batch cost.
        F.substring(F.col("b.band_sig"), 1, DEDUP_STREAM_BUCKET_HEX).alias("bucket"),
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            sigs, mins = state.get
            store = dict(zip(sigs, mins))
        else:
            store = {}
        rows: list[tuple[int, str]] = []
        for pdf in pdfs:
            rows.extend(zip((int(x) for x in pdf["doc_id"]), pdf["band_sig"]))
        out_docs, out_earlier = [], []
        for d, sg in sorted(rows):
            mn = store.get(sg)
            out_docs.append(d)
            out_earlier.append(mn if mn is not None else -1)
            if mn is None or d < mn:
                store[sg] = d
        state.update((list(store.keys()), [int(v) for v in store.values()]))
        yield pd.DataFrame({"doc_id": out_docs, "earlier": out_earlier})

    verdicts = banded.groupBy("band_id", "bucket").applyInPandasWithState(
        update,
        outputStructType="doc_id long, earlier long",
        stateStructType="sigs array<string>, mins array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(verdicts, "update", BOUNDED_STATE_PARTITIONS)
    fm = (
        sink.where(F.col("earlier") >= 0)
        .groupBy("doc_id")
        .agg(F.min("earlier").alias("dup_of"))
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(fm, "doc_id", "left")
        .select("doc_id", F.col("dup_of").isNotNull().alias("is_dup"), "dup_of")
    )


# ---- hard-negative mining over the LSH neighborhood --------------------------
HARDNEG_K = 3


def _hardneg_oracle() -> str:
    bucket_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t_} AS table_id, {_lsh_bucket_sql('v', t_)} AS bucket FROM e"
        for t_ in range(sim.LSH_TABLES)
    )
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
        {bucket_rows}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM buckets a JOIN buckets b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
         AND a.vec_id <> b.vec_id
    ),
    sims AS (
        SELECT c.a_id, c.b_id, ea.label AS a_label, eb.label AS b_label,
               ROUND({_cosine_sql('ea.v', 'eb.v')}, 6) AS sim
        FROM cand c JOIN e ea ON ea.vec_id = c.a_id
                    JOIN e eb ON eb.vec_id = c.b_id
        WHERE ea.label <> eb.label
    ),
    ranked AS (
        SELECT a_id, b_id, a_label, b_label, sim,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
        FROM sims
    )
    SELECT a_id, b_id, a_label, b_label, CAST(rank AS BIGINT) AS rank, sim
    FROM ranked WHERE rank <= {HARDNEG_K}
    """


@query(
    "hard_negatives",
    oracle=_hardneg_oracle(),
    tags=("similarity", "contrastive", "hard-negatives"),
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-K most-similar vectors with a DIFFERENT label — the examples a
    contrastive loss learns most from (random negatives are trivially
    far; hard ones sit across the decision boundary). Candidates and
    exact cosines come from the session-shared hyperplane-LSH scored
    frame — hard negatives are by definition near-collisions, which is
    precisely what LSH buckets surface, so the miner inherits the LSH
    scale shape (banded equi-join, packed Arrow-dot scoring, no
    corpus² pass) and adds only a label filter and a rank window."""
    labels = _vecs(spark, sf_dir).select("vec_id", "label")
    s = _lsh_scored(spark, sf_dir)
    directed = s.select(
        F.col("d1").alias("a_id"), F.col("d2").alias("b_id"), "sim_raw"
    ).unionByName(
        s.select(F.col("d2").alias("a_id"), F.col("d1").alias("b_id"), "sim_raw")
    )
    la = labels.select(F.col("vec_id").alias("a_id"), F.col("label").alias("a_label"))
    lb = labels.select(F.col("vec_id").alias("b_id"), F.col("label").alias("b_label"))
    scored = (
        directed.join(la, "a_id")
        .join(lb, "b_id")
        .where(F.col("a_label") != F.col("b_label"))
        .select("a_id", "b_id", "a_label", "b_label", r6(F.col("sim_raw")).alias("sim"))
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= HARDNEG_K)
        .select("a_id", "b_id", "a_label", "b_label", "rank", "sim")
    )


# ---- one power-iteration step toward the top singular vector -----------------
@query(
    "svd_power_step",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    v0 AS (
        SELECT i AS dim,
               (4096 * (strpos('0123456789abcdef', substr(md5('sv|' || i), 1, 1)) - 1)
              + 256 * (strpos('0123456789abcdef', substr(md5('sv|' || i), 2, 1)) - 1)
              + 16 * (strpos('0123456789abcdef', substr(md5('sv|' || i), 3, 1)) - 1)
              + (strpos('0123456789abcdef', substr(md5('sv|' || i), 4, 1)) - 1)
              - 32768) / 32768E0 AS x
        FROM UNNEST(range(1, 65)) AS u(i)
    ),
    v0arr AS (SELECT list(x ORDER BY dim) AS xs FROM v0),
    s AS (
        SELECT e.vec_id,
               CAST(FLOOR(list_aggregate(list_transform(range(1, 65),
                    j -> e.v[j] * v0arr.xs[j]), 'sum') * 1e6 + 0.5) AS BIGINT) AS sfix
        FROM e CROSS JOIN v0arr
    ),
    terms AS (
        SELECT u.i AS dim,
               CAST(FLOOR(e.v[u.i] * s.sfix + 0.5) AS BIGINT) AS t
        FROM e JOIN s ON s.vec_id = e.vec_id, UNNEST(range(1, 65)) AS u(i)
    ),
    ray AS (SELECT CAST(SUM(sfix * sfix) AS BIGINT) AS ss,
                   CAST(COUNT(*) AS BIGINT) AS n FROM s)
    SELECT t.dim, ROUND(CAST(SUM(t.t) AS BIGINT) / 1e12, 6) AS next_v,
           ROUND(ray.ss / 1e12 / ray.n, 4) AS mean_sq_projection
    FROM terms t CROSS JOIN ray
    GROUP BY t.dim, ray.ss, ray.n
    """,
    tags=("similarity", "svd", "power-iteration"),
)
def svd_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's top right singular
    vector (the PCA workhorse): v' = Aᵀ(A v₀) with v₀ an md5-derived
    start vector — the same bounded-iteration-as-operator contract as
    `kmeans_lloyd_step`/`pagerank_iteration`, so a full truncated SVD
    is a driver loop (with re-orthogonalization) of this step. The
    per-row projection s = ⟨row, v₀⟩ fixes to 1e-6-unit BIGINTs, and
    each Aᵀ-side term fixes to an integer BEFORE the cross-row sum, so
    both engines accumulate exactly the same integers in any order —
    the float-sum-order trap never fires. Plan: one per-row fold riding
    the scan, one posexplode to (dim, term), one 64-key combinable
    aggregation; the mean squared projection (Rayleigh numerator) rides
    a 1-row broadcast."""
    e = _vecs(spark, sf_dir).select("vec_id", "v")
    hx = lambda h, i: f"(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    comps = []
    for j in range(1, sim.DIM + 1):
        h = f"md5('sv|{j}')"
        comps.append(
            f"((4096 * {hx(h, 1)} + 256 * {hx(h, 2)} + 16 * {hx(h, 3)} + {hx(h, 4)}"
            f" - 32768) / 32768E0)"
        )
    xs = "array(" + ", ".join(comps) + ")"
    s = e.select(
        "vec_id",
        "v",
        F.floor(
            F.expr(
                f"aggregate(zip_with(v, {xs}, (a, b) -> a * b), 0D, (acc, z) -> acc + z)"
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sfix"),
    )
    terms = s.select(
        F.posexplode(
            F.expr("transform(v, a -> CAST(FLOOR(a * sfix + 0.5) AS BIGINT))")
        ).alias("d0", "t")
    ).select((F.col("d0") + 1).cast("long").alias("dim"), "t")
    ray = s.agg(
        F.sum(F.col("sfix") * F.col("sfix")).cast("long").alias("ss"),
        F.count("*").cast("long").alias("n"),
    )
    from ..exprs import r6 as _r6

    return (
        terms.groupBy("dim")
        .agg(F.sum("t").cast("long").alias("tt"))
        .crossJoin(F.broadcast(ray))
        .select(
            "dim",
            _r6(F.col("tt") / F.lit(1e12)).alias("next_v"),
            r4(F.col("ss") / F.lit(1e12) / F.col("n")).alias("mean_sq_projection"),
        )
    )


# ---- exact duplicated-substring spans (Lee et al. 2022 ExactSubstr shape) ----
SUBSTR_W = 32  # span window (chars)
SUBSTR_STRIDE = 8  # EXPECTED sampling rate 1/8 — selection is content-defined
# (kept windows are those whose own md5 starts with nibble 0 or 8), never a
# fixed positional grid: a positional grid only matches duplicated blocks
# whose offsets happen to align mod stride, while content-defined anchors
# select the SAME windows inside identical content at any alignment.


def _substr_dedup_oracle() -> str:
    w = SUBSTR_W
    return f"""
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE length(text) >= {w}
    ),
    pos AS (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {w - 1}, 1)) AS pos
        FROM d
    ),
    allh AS (SELECT doc_id, pos, md5(substr(text, pos, {w})) AS h FROM pos),
    sh AS (SELECT doc_id, pos, h FROM allh WHERE substr(h, 1, 1) IN ('0', '8')),
    dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 1),
    ds AS (SELECT sh.doc_id, sh.pos, sh.pos + {w} AS e FROM sh JOIN dup USING (h)),
    flg AS (
        SELECT doc_id, pos, e,
               CASE WHEN pos > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS ni
        FROM ds
    ),
    isl AS (
        SELECT doc_id, pos, e,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flg
    ),
    cov AS (
        SELECT doc_id, island, MIN(pos) AS s0, MAX(e) AS e0, COUNT(*) AS c
        FROM isl GROUP BY doc_id, island
    ),
    per AS (
        SELECT doc_id,
               CAST(SUM(e0 - s0) AS BIGINT) AS dup_chars,
               CAST(SUM(c) AS BIGINT) AS n_dup_shingles,
               CAST(COUNT(*) AS BIGINT) AS n_spans
        FROM cov GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id
    )
    SELECT d.doc_id,
           tot.n_shingles,
           COALESCE(per.n_dup_shingles, 0) AS n_dup_shingles,
           COALESCE(per.n_spans, 0) AS n_spans,
           COALESCE(per.dup_chars, 0) AS dup_chars,
           ROUND(COALESCE(per.dup_chars, 0) * 1.0E0 / length(d.text), 4) AS dup_frac
    FROM d JOIN tot USING (doc_id) LEFT JOIN per USING (doc_id)
    """


@query(
    "exact_substring_dedup",
    oracle=_substr_dedup_oracle(),
    tags=("dedup", "substring", "span"),
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated-SPAN accounting — the span-level complement of
    doc-level MinHash dedup (the ExactSubstr idea from "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499,
    made shuffle-bounded by winnowing-style content-defined sampling):
    hash every {SUBSTR_W}-char window, KEEP the ~1/{SUBSTR_STRIDE} of
    windows whose own hash carries the anchor nibble (content-defined, so
    identical blocks select identical windows at ANY alignment — a fixed
    positional grid misses duplicates whose offsets differ mod stride),
    keep anchors whose hash appears in MORE THAN ONE document, merge each
    doc's surviving windows into maximal intervals (gaps-and-islands on a
    running max end), and report per-doc duplicated-character coverage.

    Scale shape: hashing is linear map-side work (one md5 per char — the
    same order of work as the paper's suffix automaton, with no global
    structure); the only shuffle is the content-hash groupBy on the
    SAMPLED anchors (the same key shape MinHash uses — never doc pairs),
    then per-doc windows over a bounded row set.
    """
    w = SUBSTR_W
    d = (
        fan_out(spark, _docs(spark, sf_dir))
        .where(F.length("text") >= w)
        .select("doc_id", "text")
    )
    def build_anchors() -> DataFrame:
        return (
            d.select(
                "doc_id",
                F.explode(
                    F.expr(f"sequence(1, length(text) - {w - 1})")
                ).alias("pos"),
                F.col("text"),
            )
            .select(
                "doc_id", "pos", F.md5(F.expr(f"substring(text, pos, {w})")).alias("h")
            )
            .where(F.substring("h", 1, 1).isin("0", "8"))
        )

    # shared: the one-md5-per-character hashing pass feeds THREE consumers
    # (dup groupBy, span semi-join, per-doc totals) — without the persist
    # the dominant map stage would execute three times per run
    sh = shared(spark, sf_dir, "substr_anchors", build_anchors)
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("h")
    )
    ds = sh.join(dup, "h", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + w).alias("e")
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    flg = ds.withColumn(
        "ni", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("long")
    )
    isl = flg.withColumn(
        "island", F.sum("ni").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    )
    cov = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s0"), F.max("e").alias("e0"), F.count("*").alias("c")
    )
    per = cov.groupBy("doc_id").agg(
        F.sum(F.col("e0") - F.col("s0")).cast("long").alias("dup_chars"),
        F.sum("c").cast("long").alias("n_dup_shingles"),
        F.count("*").cast("long").alias("n_spans"),
    )
    tot = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_shingles"))
    return (
        d.join(tot, "doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_dup_shingles", F.lit(0)).cast("long").alias("n_dup_shingles"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            r4(F.coalesce("dup_chars", F.lit(0)) / F.length("text")).alias("dup_frac"),
        )
    )


# ---- embedding-dimension truncation recall (MRL-style eval) ------------------
TRUNC_DIM = 16  # retained prefix dimensions
TRUNC_QMOD = 25  # deterministic 1/25 query sample
TRUNC_K = 10


def _trunc_recall_oracle() -> str:
    d, m, k = TRUNC_DIM, TRUNC_QMOD, TRUNC_K
    full = _cosine_sql("q.v", "c.v")
    tr = _cosine_sql(f"q.v[1:{d}]", f"c.v[1:{d}]")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id % {m} = 0),
    pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS b_id,
               ROUND({full}, 6) AS sim64,
               ROUND({tr}, 6) AS sim{d}
        FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    r64 AS (
        SELECT q_id, b_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim64 DESC, b_id) AS rk
        FROM pairs
    ),
    rtr AS (
        SELECT q_id, b_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim{d} DESC, b_id) AS rk
        FROM pairs
    ),
    ov AS (
        SELECT a.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM r64 a JOIN rtr b ON a.q_id = b.q_id AND a.b_id = b.b_id
        WHERE a.rk <= {k} AND b.rk <= {k}
        GROUP BY a.q_id
    )
    SELECT q.vec_id AS q_id,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           ROUND(COALESCE(ov.n_overlap, 0) / {k}.0E0, 4) AS recall_at_10
    FROM q LEFT JOIN ov ON ov.q_id = q.vec_id
    """


@query(
    "dim_truncation_recall",
    oracle=_trunc_recall_oracle(),
    tags=("similarity", "eval", "matryoshka"),
)
def dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TRUNC_K} of PREFIX-TRUNCATED embeddings (first {TRUNC_DIM} of
    64 dims) against the full-dimension ranking, on a deterministic 1/{TRUNC_QMOD}
    query sample — the evaluation a pipeline runs before committing to
    Matryoshka-style dimension truncation, which cuts ANN shuffle bytes
    and index size 4x if recall holds.

    DECLARED EVAL YARDSTICK (bench-skippable like cosine_topk): both
    rankings are brute-force over the sampled query set, because the
    point is measuring what truncation alone loses — an index in the loop
    would confound its own recall. Cost is (n/{TRUNC_QMOD})·n pairs; the
    production search path stays the LSH/IVF family. Both similarities
    come from ONE pass over the pair frame (two fold-dots per pair), then
    two window rankings and a set intersection.
    """
    d, m, k = TRUNC_DIM, TRUNC_QMOD, TRUNC_K

    def side(pref: str, flt=None) -> DataFrame:
        e = _vecs(spark, sf_dir).select("vec_id", "v")
        if flt is not None:
            e = e.where(flt)
        return e.select(
            F.col("vec_id").alias(f"{pref}_id"),
            F.col("v").alias(f"{pref}v"),
            F.expr(f"slice(v, 1, {d})").alias(f"{pref}v{d}"),
            sim.fold_norm("v").alias(f"{pref}n64"),
            sim.fold_norm(f"slice(v, 1, {d})").alias(f"{pref}n{d}"),
        )

    qs = side("q", F.col("vec_id") % m == 0)
    cs = fan_out(spark, side("c"))
    pairs = qs.join(cs, F.col("q_id") != F.col("c_id")).select(
        "q_id",
        F.col("c_id").alias("b_id"),
        r6(sim.fold_dot("qv", "cv") / (F.col("qn64") * F.col("cn64"))).alias("sim64"),
        r6(
            sim.fold_dot(f"qv{d}", f"cv{d}") / (F.col(f"qn{d}") * F.col(f"cn{d}"))
        ).alias(f"sim{d}"),
    )
    # ONE pass over the pair frame: both rankings as two window columns on
    # the same q_id shuffle, overlap = rows inside both top-k cuts — the
    # two-scan + self-join form re-evaluated the brute pair subtree twice
    # (code-review finding, round 4)
    w64 = Window.partitionBy("q_id").orderBy(F.desc("sim64"), F.asc("b_id"))
    wtr = Window.partitionBy("q_id").orderBy(F.desc(f"sim{d}"), F.asc("b_id"))
    ov = (
        pairs.withColumn("rk64", F.row_number().over(w64))
        .withColumn("rktr", F.row_number().over(wtr))
        .where((F.col("rk64") <= k) & (F.col("rktr") <= k))
        .groupBy("q_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        qs.select(F.col("q_id"))
        .join(ov, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            r4(F.coalesce("n_overlap", F.lit(0)) / F.lit(float(k))).alias("recall_at_10"),
        )
    )


# ---- partition-quality metric: Newman modularity of the near-dup clusters ----
MOD_STRONG_J = 0.3  # community threshold (4dp-rounded score, as the sweep uses)


def _modularity_oracle() -> str:
    jm, js = JACCARD_MIN, MOD_STRONG_J
    return f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS MATERIALIZED (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    base AS MATERIALIZED (
        SELECT d1, d2,
               FLOOR((c * 1.0 / (ca.n + cb.n - c)) * 1e4 + 0.5) / 1e4 AS j
        FROM common
        JOIN counts ca ON ca.doc_id = d1
        JOIN counts cb ON cb.doc_id = d2
    ),
    basef AS MATERIALIZED (SELECT d1, d2 FROM base WHERE j >= {jm}),
    strong AS MATERIALIZED (SELECT d1, d2 FROM base WHERE j >= {js}),
    sym AS MATERIALIZED (
        SELECT d1 AS a, d2 AS b FROM strong UNION SELECT d2, d1 FROM strong
    ),
    reach AS (
        SELECT node AS d, node AS m
        FROM (SELECT a AS node FROM sym GROUP BY 1) s0
        UNION
        SELECT r.d, s.b FROM reach r JOIN sym s ON s.a = r.m
    ),
    compin AS (SELECT d AS node, MIN(m) AS comp FROM reach GROUP BY d),
    nodes AS MATERIALIZED (
        -- DISTINCT over UNION ALL, not bare UNION: inside WITH RECURSIVE
        -- DuckDB gives plain A-UNION-B CTEs recursive-union semantics and
        -- does NOT dedup across the branches (repro: trap log in NOTES.md)
        SELECT DISTINCT node
        FROM (SELECT d1 AS node FROM basef UNION ALL SELECT d2 FROM basef) u
    ),
    comp AS MATERIALIZED (
        SELECT n.node, COALESCE(c.comp, n.node) AS comp
        FROM nodes n LEFT JOIN compin c ON c.node = n.node
    ),
    deg AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT d1 AS node FROM basef UNION ALL SELECT d2 FROM basef) e
        GROUP BY 1
    ),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM basef),
    intra AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS e_in
        FROM basef e
        JOIN comp c1 ON c1.node = e.d1
        JOIN comp c2 ON c2.node = e.d2
        WHERE c1.comp = c2.comp
    ),
    dsum AS (
        SELECT CAST(SUM(dc * dc) AS BIGINT) AS d2sum
        FROM (SELECT c.comp, CAST(SUM(g.d) AS BIGINT) AS dc
              FROM deg g JOIN comp c ON c.node = g.node GROUP BY 1) z
    ),
    nstats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_communities
        FROM comp
    )
    SELECT mm.m AS n_edges, nstats.n_nodes, nstats.n_communities,
           intra.e_in AS intra_edges,
           ROUND((4.0E0 * CAST(mm.m AS DOUBLE) * intra.e_in - dsum.d2sum)
                 / (4.0E0 * CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE)), 6)
               AS modularity
    FROM mm, intra, dsum, nstats
    """


@query(
    "graph_modularity",
    oracle=_modularity_oracle(),
    tags=("graph", "clustering", "modularity"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the near-dup CLUSTERING evaluated on the
    full candidate graph: communities = connected components of the
    strong edges (4dp Jaccard ≥ {MOD_STRONG_J}), base graph = all scored
    candidates ≥ {JACCARD_MIN}. Q = (4m·Σe_c − Σd_c²) / 4m² — the COUNT
    aggregations (edges, degrees, Σd_c²) stay exact BIGINT, but m is
    cast to DOUBLE before the 4m·e_in and 4m² products: at 100 TB an
    edge count m ≥ ~1.5e9 would overflow 64-bit in 4m² (advisor flag,
    round 5), and both engines mirror the double expression tree so the
    metric is still oracle-hashable. This is the go/no-go statistic for
    "is the dedup threshold carving real structure or noise" (Q≈0 → the
    partition is no better than random).

    Scale shape: reuses the session-shared scored-pair frame and the
    hash-min component labels; the three count aggregations are
    edge-linear with bounded keys. The oracle replays components as a
    recursive CTE (MATERIALIZED guards per the k_core_peel trap).
    """
    from ..operators.graph import connected_components

    scored = _jaccard_scored(spark, sf_dir)
    base = scored.where(F.col("j") >= JACCARD_MIN).select("d1", "d2")
    strong = scored.where(F.col("j") >= MOD_STRONG_J).select("d1", "d2")
    # Session-shared converged labels (r12, guide §2.4 — same pattern as
    # `lpa_communities` / `neardup_cc` / the sweep components): the hash-min
    # loop is an EAGER multi-action computation (per-round join + aggregate +
    # localCheckpoint + convergence count), and without sharing it re-ran on
    # every execution of this query — the dominant term left after the r11
    # single-pass aggregation rewrite. The strong-edge component labeling is
    # deterministic, so one materialization per session computes the same
    # rows every consumer would.
    cc = shared(
        spark, sf_dir, "modularity_cc", lambda: connected_components(strong)
    )
    nodes = (
        base.select(F.col("d1").alias("node"))
        .unionByName(base.select(F.col("d2").alias("node")))
        .distinct()
    )
    comp = nodes.join(cc, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )
    # r11 optimization (guide §2.4 — one pass instead of four): label both
    # endpoints once, explode each edge into its two (comp, is_intra)
    # endpoint incidences, and read EVERY statistic off the one bounded
    # per-comp aggregate: dc = endpoint incidences in comp (the old
    # deg⋈comp sum), 2m = Σ dc, 2·e_in = Σ intra incidences (each intra
    # edge counts once per endpoint). Exact integers throughout; the r10
    # shape's separate deg aggregation, deg⋈comp join, edge-count pass and
    # dedicated intra 2-join all collapse into this single labeled pass.
    c1, c2 = comp.alias("c1"), comp.alias("c2")
    labeled = (
        base.join(c1, F.col("d1") == F.col("c1.node"))
        .join(c2, F.col("d2") == F.col("c2.node"))
        .select(
            F.explode(F.array("c1.comp", "c2.comp")).alias("comp"),
            (F.col("c1.comp") == F.col("c2.comp")).cast("long").alias("intra"),
        )
    )
    percomp = labeled.groupBy("comp").agg(
        F.count("*").cast("long").alias("dc"),
        F.sum("intra").cast("long").alias("ei2"),
    )
    # coalesce(…, 0) (ADVICE r11): SUM over an empty percomp yields NULL
    # where the pre-r11 COUNT(*) shape produced m=0 — keep the degenerate
    # empty-graph row shape stable (the Q division is NULL/degenerate either
    # way; on every non-empty graph the coalesce is a no-op).
    totals = percomp.agg(
        F.expr("CAST(coalesce(sum(dc), 0) div 2 AS BIGINT)").alias("m"),
        F.expr("CAST(coalesce(sum(ei2), 0) div 2 AS BIGINT)").alias("e_in"),
        F.coalesce(F.sum(F.col("dc") * F.col("dc")), F.lit(0)).cast("long").alias("d2sum"),
    )
    nstats = comp.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.countDistinct("comp").cast("long").alias("n_communities"),
    )
    return (
        totals.crossJoin(F.broadcast(nstats))
        .select(
            F.col("m").alias("n_edges"),
            "n_nodes",
            "n_communities",
            F.col("e_in").alias("intra_edges"),
            r6(
                (
                    F.lit(4.0) * F.col("m").cast("double") * F.col("e_in")
                    - F.col("d2sum")
                )
                / (
                    F.lit(4.0)
                    * F.col("m").cast("double")
                    * F.col("m").cast("double")
                )
            ).alias("modularity"),
        )
    )


# ---- two-stage retrieval: IVF-PQ candidate gen → exact rerank ----------------
RERANK_POOL = 10  # stage-1 ADC pool size per query (exact rerank input)


def _two_stage_oracle() -> str:
    cos = _cosine_sql("ea.v", "eb.v")
    return f"""
    WITH {_IVF_ASSIGN_CTES},
    {_PQ_CTES},
    cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM assign a JOIN assign b
          ON a.c_label = b.c_label AND a.vec_id <> b.vec_id
    ),
    adc AS (
        SELECT c.a_id, c.b_id, SUM(da.dfix) AS sfix
        FROM cand c
        JOIN pqcodes pc ON pc.vec_id = c.b_id
        JOIN pqd da ON da.vec_id = c.a_id AND da.m = pc.m AND da.k = pc.k
        GROUP BY 1, 2
    ),
    pool AS (
        SELECT a_id, b_id, sfix,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sfix, b_id)
                   AS adc_rank
        FROM adc
    ),
    rerank AS (
        SELECT p.a_id, p.b_id, p.adc_rank,
               ROUND({cos}, 6) AS sim
        FROM pool p
        JOIN e ea ON ea.vec_id = p.a_id
        JOIN e eb ON eb.vec_id = p.b_id
        WHERE p.adc_rank <= {RERANK_POOL}
    )
    SELECT a_id, b_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id)
                AS BIGINT) AS rank,
           CAST(adc_rank AS BIGINT) AS adc_rank, sim
    FROM rerank
    QUALIFY rank <= {LSH_TOPK}
    """


@query(
    "two_stage_rerank",
    oracle=_two_stage_oracle(),
    tags=("similarity", "ivf-pq", "rerank", "serving"),
)
def two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN SERVING shape: stage 1 generates a cheap
    candidate pool per query from IVF routing + PQ asymmetric distances
    (codes only — raw vectors never shuffled), stage 2 re-scores ONLY the
    top-{RERANK_POOL} pool with exact cosine over the raw vectors and
    emits the final top-{LSH_TOPK}. The output keeps each survivor's
    stage-1 `adc_rank` next to its exact rank, so the rerank's effect
    (quantization-error rank swaps) is itself observable and tested.

    Scale shape: stage-2 exact work is queries × {RERANK_POOL} rows —
    independent of corpus size — which is precisely why serving systems
    rerank a bounded pool instead of trusting the quantized order. The
    exact cosine rides the sequential fold (bit-identical to the
    oracle's list_dot_product); the Python-free hot path stays JVM-side.
    """
    from ..operators.skew import skewsafe_directed_pairs

    assign = _ivf_assignments(spark, sf_dir).select("vec_id", "assigned_label")
    a = assign.select(F.col("vec_id").alias("a_id"), F.col("assigned_label").alias("lst"))
    b = assign.select(F.col("vec_id").alias("b_id"), F.col("assigned_label").alias("lst"))
    cand = skewsafe_directed_pairs(
        a, b, key="lst", probe_id="a_id", build_id="b_id", hot_size=IVF_HOT_LIST
    )
    codes_b = _pq_codes(spark, sf_dir).select(F.col("vec_id").alias("b_id"), "m", "k")
    dists_a = _pq_dists(spark, sf_dir).select(
        F.col("vec_id").alias("a_id"), "m", "k", "dfix"
    )
    par = spark.sparkContext.defaultParallelism
    adc = (
        cand.repartition(par, "a_id")
        .join(codes_b, "b_id")
        .join(dists_a, ["a_id", "m", "k"])
        .groupBy("a_id", "b_id")
        .agg(F.sum("dfix").alias("sfix"))
    )
    w_adc = Window.partitionBy("a_id").orderBy(F.asc("sfix"), F.asc("b_id"))
    pool = (
        adc.withColumn("adc_rank", F.row_number().over(w_adc).cast("long"))
        .where(F.col("adc_rank") <= RERANK_POOL)
        .select("a_id", "b_id", "adc_rank")
    )
    ea = _vecs(spark, sf_dir).select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"),
        sim.fold_norm("v").alias("na"),
    )
    eb = _vecs(spark, sf_dir).select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"),
        sim.fold_norm("v").alias("nb"),
    )
    rer = (
        pool.join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            "a_id",
            "b_id",
            "adc_rank",
            r6(sim.fold_dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    w_fin = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("b_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w_fin).cast("long"))
        .where(F.col("rank") <= LSH_TOPK)
        .select("a_id", "b_id", "rank", "adc_rank", "sim")
    )


# ---- DBSCAN role classification over the ε-neighbor graph --------------------
DBSCAN_EPS_J = 0.2  # ε: 4dp Jaccard at/above which docs are neighbors
DBSCAN_MINPTS = 3  # core threshold (neighbors excluding self)


def _dbscan_oracle() -> str:
    eps, mp = DBSCAN_EPS_J, DBSCAN_MINPTS
    return f"""
    WITH {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1, d2
        FROM common
        JOIN counts ca ON ca.doc_id = d1
        JOIN counts cb ON cb.doc_id = d2
        WHERE FLOOR((c * 1.0 / (ca.n + cb.n - c)) * 1e4 + 0.5) / 1e4 >= {eps}
    ),
    nbr AS (SELECT d1 AS v, d2 AS u FROM edges UNION ALL SELECT d2, d1 FROM edges),
    degs AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_neighbors FROM nbr GROUP BY v),
    core AS (SELECT v FROM degs WHERE n_neighbors >= {mp}),
    border AS (
        SELECT DISTINCT n.v
        FROM nbr n JOIN core c ON c.v = n.u
        WHERE n.v NOT IN (SELECT v FROM core)
    )
    SELECT d.doc_id,
           COALESCE(g.n_neighbors, 0) AS n_neighbors,
           CASE WHEN d.doc_id IN (SELECT v FROM core) THEN 'core'
                WHEN d.doc_id IN (SELECT v FROM border) THEN 'border'
                ELSE 'noise' END AS role
    FROM documents d LEFT JOIN degs g ON g.v = d.doc_id
    """


@query(
    "dbscan_core_points",
    oracle=_dbscan_oracle(),
    tags=("clustering", "dbscan", "dedup"),
)
def dbscan_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN role classification (core / border / noise) over the
    Jaccard ε-neighbor graph: ε = {DBSCAN_EPS_J} on the 4dp-rounded
    score, minPts = {DBSCAN_MINPTS}. The neighbor list is COMPLETE for
    any ε > 0 because every pair with positive Jaccard shares a shingle
    and therefore appears in the inverted-index candidates — the
    density-clustering member of the dedup family, sharing the
    session-shared scored-pair frame (zero extra pair generation).

    Scale shape: degree count + one semi-join for border detection —
    edge-linear, no iteration (full DBSCAN expansion = our
    connected-components operator over core-core edges; the role table
    here is its gatekeeper and the expensive part at 100 TB).
    """
    scored = _jaccard_scored(spark, sf_dir)
    edges = scored.where(F.col("j") >= DBSCAN_EPS_J).select("d1", "d2")
    nbr = edges.select(F.col("d1").alias("v"), F.col("d2").alias("u")).unionByName(
        edges.select(F.col("d2").alias("v"), F.col("d1").alias("u"))
    )
    degs = nbr.groupBy("v").agg(F.count("*").cast("long").alias("n_neighbors"))
    core = degs.where(F.col("n_neighbors") >= DBSCAN_MINPTS).select("v")
    border = (
        nbr.join(core.withColumnRenamed("v", "u"), "u", "left_semi")
        .select("v")
        .join(core, "v", "left_anti")
        .distinct()
    )
    docs = _docs(spark, sf_dir).select("doc_id")
    role = (
        docs.join(degs.withColumnRenamed("v", "doc_id"), "doc_id", "left")
        .join(
            core.withColumnRenamed("v", "doc_id").withColumn("_core", F.lit(1)),
            "doc_id",
            "left",
        )
        .join(
            border.withColumnRenamed("v", "doc_id").withColumn("_border", F.lit(1)),
            "doc_id",
            "left",
        )
    )
    return role.select(
        "doc_id",
        F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
        F.when(F.col("_core") == 1, "core")
        .when(F.col("_border") == 1, "border")
        .otherwise("noise")
        .alias("role"),
    )


# ---- kNN graph sparsification (degree-capped candidate graph) ------------------
KNN_GRAPH_K = 3


def _knn_sparsify_oracle() -> str:
    k = KNN_GRAPH_K
    return f"""
    WITH {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d1, d2,
               FLOOR((c * 1.0 / (ca.n + cb.n - c)) * 1e4 + 0.5) / 1e4 AS j
        FROM common
        JOIN counts ca ON ca.doc_id = d1
        JOIN counts cb ON cb.doc_id = d2
    ),
    directed AS (
        SELECT d1 AS v, d2 AS u, j FROM scored
        UNION ALL
        SELECT d2 AS v, d1 AS u, j FROM scored
    ),
    kept AS (
        SELECT v, u, j FROM (
            SELECT v, u, j,
                   ROW_NUMBER() OVER (PARTITION BY v ORDER BY j DESC, u) AS rn
            FROM directed) z
        WHERE rn <= {k}
    ),
    und AS (SELECT LEAST(v, u) AS d1, GREATEST(v, u) AS d2, j FROM kept)
    SELECT d1, d2, j, COUNT(*) = 2 AS mutual
    FROM und GROUP BY 1, 2, 3
    """


@query(
    "knn_graph_sparsify",
    oracle=_knn_sparsify_oracle(),
    tags=("graph", "dedup", "knn", "sparsification"),
)
def knn_graph_sparsify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped kNN SPARSIFICATION of the similarity candidate graph
    — keep each node's top-{KNN_GRAPH_K} Jaccard neighbors (tie-break on
    neighbor id) and union the directions, flagging MUTUAL edges (kept
    from both endpoints). This is the standard preprocessing before
    iterative graph algorithms at scale: the raw candidate graph can be
    quadratic in hot shingles, while the sparsified edge set is bounded
    by {KNN_GRAPH_K} x nodes (each node CONTRIBUTES at most
    {KNN_GRAPH_K} edges), so every LPA/PageRank/components round
    becomes node-linear. A hub can still be CHOSEN by many neighbors
    (in-degree is the hubness signal, deliberately kept); the MUTUAL
    core — both documents rank each other top-{KNN_GRAPH_K} — has max
    degree {KNN_GRAPH_K} and is the high-precision subgraph clustering
    should trust first. Rides the session-shared scored frame — zero
    new pair generation; one per-node top-k window over candidate-sized
    data + one grouped count."""
    return _knn_edges(spark, sf_dir)


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparsified (d1 < d2, j, mutual) kNN edge set — session-shared:
    the sparsify query returns it and the 2-hop expansion reads it."""

    def build() -> DataFrame:
        s = _jaccard_scored(spark, sf_dir)
        directed = s.select(
            F.col("d1").alias("v"), F.col("d2").alias("u"), "j"
        ).unionByName(s.select(F.col("d2").alias("v"), F.col("d1").alias("u"), "j"))
        w = Window.partitionBy("v").orderBy(F.desc("j"), F.asc("u"))
        kept = (
            directed.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= KNN_GRAPH_K)
            .select("v", "u", "j")
        )
        und = kept.select(
            F.least("v", "u").alias("d1"), F.greatest("v", "u").alias("d2"), "j"
        )
        return und.groupBy("d1", "d2", "j").agg(
            (F.count("*") == 2).alias("mutual")
        )

    return shared(spark, sf_dir, "knn_edges", build)


# ---- 2-hop candidate expansion over the mutual kNN core ------------------------
def _two_hop_oracle() -> str:
    k = KNN_GRAPH_K
    sql = f"""
    WITH {_SHINGLES_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d1, d2,
               FLOOR((c * 1.0 / (ca.n + cb.n - c)) * 1e4 + 0.5) / 1e4 AS j
        FROM common
        JOIN counts ca ON ca.doc_id = d1
        JOIN counts cb ON cb.doc_id = d2
    ),
    directed AS (
        SELECT d1 AS v, d2 AS u, j FROM scored
        UNION ALL
        SELECT d2 AS v, d1 AS u, j FROM scored
    ),
    kept AS (
        SELECT v, u, j FROM (
            SELECT v, u, j,
                   ROW_NUMBER() OVER (PARTITION BY v ORDER BY j DESC, u) AS rn
            FROM directed) z
        WHERE rn <= {k}
    ),
    und AS (SELECT LEAST(v, u) AS d1, GREATEST(v, u) AS d2, j FROM kept),
    edges AS (SELECT d1, d2, COUNT(*) = 2 AS mutual FROM und GROUP BY 1, 2),
    mutual_sym AS (
        SELECT d1 AS a, d2 AS b FROM edges WHERE mutual
        UNION ALL
        SELECT d2 AS a, d1 AS b FROM edges WHERE mutual
    ),
    hops AS (
        SELECT LEAST(x.a, y.b) AS d1, GREATEST(x.a, y.b) AS d2,
               CAST(COUNT(DISTINCT x.b) AS BIGINT) AS n_via
        FROM mutual_sym x JOIN mutual_sym y ON y.a = x.b AND x.a <> y.b
        GROUP BY 1, 2
    )
    SELECT h.d1, h.d2, h.n_via
    FROM hops h LEFT JOIN edges e ON e.d1 = h.d1 AND e.d2 = h.d2
    WHERE e.d1 IS NULL
    """
    # MATERIALIZED is load-bearing here: the mutual_sym self-join +
    # edges anti-join reference the kept/und chain repeatedly, and
    # DuckDB's inlining re-derives the whole shingle chain per reference
    # — out-of-temp-disk at the 8x replica (the k_core_peel trap class)
    return _materialize_ctes(
        sql,
        ("sh_all", "sh", "counts", "common", "scored", "directed",
         "kept", "und", "edges", "mutual_sym"),
    )


@query(
    "two_hop_candidates",
    oracle=_two_hop_oracle(),
    tags=("graph", "dedup", "knn", "recall-expansion"),
)
def two_hop_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive RECALL EXPANSION over the mutual kNN core: pairs at
    distance exactly 2 through mutual edges (with the shared-neighbor
    count as evidence) that are NOT already direct sparsified edges —
    the candidates a banding/threshold pass missed but transitivity
    suggests (A~B, B~C => check A,C). Running the expansion on the
    DEGREE-CAPPED mutual graph is what makes it scale-safe: mutual
    degree <= {KNN_GRAPH_K} bounds 2-hop fan-out by {KNN_GRAPH_K}^2 per
    node, where the same join on the raw candidate graph would be
    quadratic in hot documents. One self-join of the bounded edge list
    + one anti join against direct edges; rides the session-shared kNN
    edge frame."""
    edges = _knn_edges(spark, sf_dir)
    mutual = edges.where("mutual")
    ms = mutual.select(F.col("d1").alias("a"), F.col("d2").alias("b")).unionByName(
        mutual.select(F.col("d2").alias("a"), F.col("d1").alias("b"))
    )
    hops = (
        ms.alias("x")
        .join(ms.alias("y"), (F.col("y.a") == F.col("x.b")) & (F.col("x.a") != F.col("y.b")))
        .select(
            F.least("x.a", "y.b").alias("d1"),
            F.greatest("x.a", "y.b").alias("d2"),
            F.col("x.b").alias("via"),
        )
        .groupBy("d1", "d2")
        .agg(F.countDistinct("via").cast("long").alias("n_via"))
    )
    return hops.join(edges.select("d1", "d2"), ["d1", "d2"], "left_anti")


# ---- index-family self-evaluation: recall@k vs the brute-force truth ---------
RECALL_K = 3


def _recall_curve_oracle() -> str:
    from . import REGISTRY

    truth = REGISTRY["cosine_topk"].oracle
    ivf = REGISTRY["ivf_search_topk"].oracle
    pq = REGISTRY["ivfpq_search"].oracle
    k = RECALL_K
    return f"""
    WITH truth AS (
        SELECT a_id, b_id FROM ({truth}) t WHERE rank <= {k}
    ),
    m_ivf AS (
        SELECT a_id, b_id FROM ({ivf}) i WHERE rank <= {k}
    ),
    m_pq AS (
        SELECT a_id, b_id FROM ({pq}) p WHERE rank <= {k}
    ),
    qs AS (SELECT DISTINCT a_id FROM truth),
    hi AS (
        SELECT t.a_id, CAST(COUNT(*) AS BIGINT) AS hits
        FROM truth t JOIN m_ivf m ON m.a_id = t.a_id AND m.b_id = t.b_id
        GROUP BY t.a_id
    ),
    hp AS (
        SELECT t.a_id, CAST(COUNT(*) AS BIGINT) AS hits
        FROM truth t JOIN m_pq m ON m.a_id = t.a_id AND m.b_id = t.b_id
        GROUP BY t.a_id
    )
    SELECT qs.a_id,
           COALESCE(hi.hits, 0) AS hits_ivf,
           COALESCE(hp.hits, 0) AS hits_ivfpq,
           ROUND(COALESCE(hi.hits, 0) / {k}.0E0, 4) AS recall_ivf,
           ROUND(COALESCE(hp.hits, 0) / {k}.0E0, 4) AS recall_ivfpq
    FROM qs LEFT JOIN hi ON hi.a_id = qs.a_id LEFT JOIN hp ON hp.a_id = qs.a_id
    """


@query(
    "ann_recall_curve",
    oracle=_recall_curve_oracle(),
    tags=("similarity", "eval", "recall"),
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{RECALL_K} of the scale-path indexes (IVF exact-
    rescoring search and IVF-PQ asymmetric-distance search) against the
    brute-force cosine truth — the engine evaluating its own index
    family in one driver-verifiable table, rather than only in pytest
    recall-floor assertions. Composes the registered queries (and their
    session-shared frames — the IVF searches score candidates through
    their documented Arrow-batched packed dot, which this composition
    inherits), so the marginal cost over running the three searches is
    two small join-counts.

    DECLARED EVAL YARDSTICK: the truth side is the O(n²) brute scan
    (bench-skippable); production reads the recall column from a sampled
    run like this one before trusting an index rollout.
    """
    # shared: truth feeds THREE consumers (query list + both hit joins) and
    # its subtree is the O(n²) brute scan — without the persist the most
    # expensive yardstick would execute three times per run
    truth = shared(
        spark,
        sf_dir,
        "recall_truth",
        lambda: cosine_topk(spark, sf_dir)
        .where(F.col("rank") <= RECALL_K)
        .select("a_id", "b_id"),
    )
    m_ivf = ivf_search_topk(spark, sf_dir).where(F.col("rank") <= RECALL_K).select(
        "a_id", "b_id"
    )
    m_pq = ivfpq_search(spark, sf_dir).where(F.col("rank") <= RECALL_K).select(
        "a_id", "b_id"
    )
    qs = truth.select("a_id").distinct()
    hi = truth.join(m_ivf, ["a_id", "b_id"]).groupBy("a_id").agg(
        F.count("*").cast("long").alias("hits_ivf")
    )
    hp = truth.join(m_pq, ["a_id", "b_id"]).groupBy("a_id").agg(
        F.count("*").cast("long").alias("hits_ivfpq")
    )
    k = float(RECALL_K)
    return (
        qs.join(hi, "a_id", "left")
        .join(hp, "a_id", "left")
        .select(
            "a_id",
            F.coalesce("hits_ivf", F.lit(0)).cast("long").alias("hits_ivf"),
            F.coalesce("hits_ivfpq", F.lit(0)).cast("long").alias("hits_ivfpq"),
            r4(F.coalesce("hits_ivf", F.lit(0)) / F.lit(k)).alias("recall_ivf"),
            r4(F.coalesce("hits_ivfpq", F.lit(0)) / F.lit(k)).alias("recall_ivfpq"),
        )
    )


# ---- LSH design audit: observed band-candidate rate vs the S-curve -----------
def _s_curve_oracle() -> str:
    from ..operators.text import MINHASH_BANDS, MINHASH_ROWS

    b, r = MINHASH_BANDS, MINHASH_ROWS
    # the SQL below expands p(j)=1-(1-j^r)^b as explicit products (libm
    # POWER may differ by an ULP across engines) and hardcodes r=b=4
    assert r == 4 and b == 4, "S-curve oracle expansion hardcodes rows=bands=4"
    return f"""
    WITH RECURSIVE {_minhash_bands_ctes()},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS MATERIALIZED (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS MATERIALIZED (
        SELECT d1, d2,
               FLOOR((c * 1.0 / (ca.n + cb.n - c)) * 1e4 + 0.5) / 1e4 AS j
        FROM common
        JOIN counts ca ON ca.doc_id = d1
        JOIN counts cb ON cb.doc_id = d2
    ),
    mh AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    tagged AS (
        SELECT least(CAST(FLOOR(s.j * 10) AS BIGINT), 9) AS bin,
               CASE WHEN m.d1 IS NOT NULL THEN 1 ELSE 0 END AS is_cand,
               CAST(FLOOR((1.0E0 - ((1.0E0 - (s.j*s.j)*(s.j*s.j))
                                     * (1.0E0 - (s.j*s.j)*(s.j*s.j)))
                                  * ((1.0E0 - (s.j*s.j)*(s.j*s.j))
                                     * (1.0E0 - (s.j*s.j)*(s.j*s.j))))
                          * 1e9 + 0.5) AS BIGINT) AS pfix
        FROM scored s
        LEFT JOIN mh m ON m.d1 = s.d1 AND m.d2 = s.d2
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
           ROUND(SUM(is_cand) * 1.0E0 / COUNT(*), 4) AS obs_rate,
           ROUND(CAST(SUM(pfix) AS BIGINT) / 1e9 / COUNT(*), 4) AS exp_rate
    FROM tagged
    GROUP BY bin
    """


@query(
    "lsh_s_curve_audit",
    oracle=_s_curve_oracle(),
    tags=("dedup", "minhash-lsh", "tuning"),
)
def lsh_s_curve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH DESIGN audit: per Jaccard decile, the observed MinHash band-
    candidate rate against the theoretical S-curve
    p(j) = 1 − (1 − j^rows)^bands for the current (bands, rows) config —
    the table a pipeline reads before changing its banding (too many
    low-J candidates → more rows/band; missing high-J pairs → more
    bands). Ground truth is the complete inverted-index pair set (every
    positive-Jaccard pair shares a shingle); per-pair theory values are
    fixed to 1e-9 BIGINT before the bin average, so expected and
    observed rates are both exactly oracle-hashable. Reuses the two
    session-shared frames (scored pairs + band candidates); marginal
    cost is one left join and a 10-key aggregate.
    """
    from ..operators.text import MINHASH_BANDS, MINHASH_ROWS

    b, r = MINHASH_BANDS, MINHASH_ROWS
    scored = _jaccard_scored(spark, sf_dir)
    mh = _mh_pairs(spark, sf_dir).select("d1", "d2").withColumn("_c", F.lit(1))
    # Explicit products, not pow(): multiplication is correctly rounded on
    # both engines while libm pow() may differ by an ULP — enough to flip
    # the 1e-9 fixing at a boundary. Tree mirrors the oracle exactly.
    assert r == 4 and b == 4, "S-curve expansion hardcodes rows=bands=4"
    j4 = (F.col("j") * F.col("j")) * (F.col("j") * F.col("j"))
    q1 = F.lit(1.0) - j4  # 1 - j^rows
    p = F.lit(1.0) - (q1 * q1) * (q1 * q1)  # 1 - (1-j^rows)^bands
    tagged = scored.join(mh, ["d1", "d2"], "left").select(
        F.least(F.floor(F.col("j") * 10).cast("long"), F.lit(9)).alias("bin"),
        F.coalesce("_c", F.lit(0)).alias("is_cand"),
        F.floor(p * F.lit(1e9) + F.lit(0.5)).cast("long").alias("pfix"),
    )
    return tagged.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("is_cand").cast("long").alias("n_candidates"),
        r4(F.sum("is_cand") / F.count("*")).alias("obs_rate"),
        r4(F.sum("pfix").cast("long") / F.lit(1e9) / F.count("*")).alias("exp_rate"),
    )


# ---- dataset-level overlap: per-source corpus MinHash signatures -------------
def _source_minhash_oracle() -> str:
    mins = ",\n               ".join(
        f"MIN(md5('{s}|' || shingle)) AS h{s}" for s in range(tx.MINHASH_K)
    )
    matches = " + ".join(
        f"(CASE WHEN a.h{s} = b.h{s} THEN 1 ELSE 0 END)"
        for s in range(tx.MINHASH_K)
    )
    k = tx.MINHASH_K
    return f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS tk
                  FROM documents),
    sh_all AS (
        SELECT source, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        FROM toks, UNNEST(range(1, greatest(len(tk) - 1, 1))) AS u(i)
    ),
    ssh AS (SELECT DISTINCT source, shingle FROM sh_all),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ssh GROUP BY 1),
    sig AS (
        SELECT source,
               {mins}
        FROM ssh GROUP BY source
    ),
    inter AS (
        SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS c
        FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    ),
    prs AS (
        SELECT a.source AS s1, b.source AS s2, ({matches}) AS slots
        FROM sig a JOIN sig b ON a.source < b.source
    )
    SELECT p.s1, p.s2,
           CAST(p.slots AS BIGINT) AS n_matching_slots,
           ROUND(p.slots * 1.0E0 / {k}, 4) AS est_jaccard,
           ROUND(COALESCE(i.c, 0) * 1.0E0
                 / (za.n + zb.n - COALESCE(i.c, 0)), 4) AS exact_jaccard
    FROM prs p
    LEFT JOIN inter i ON i.s1 = p.s1 AND i.s2 = p.s2
    JOIN sizes za ON za.source = p.s1
    JOIN sizes zb ON zb.source = p.s2
    """


@query(
    "source_minhash_similarity",
    oracle=_source_minhash_oracle(),
    tags=("dedup", "minhash", "dataset-overlap"),
)
def source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET-level overlap: one {MINHASH_K}-slot MinHash signature per
    SOURCE (min over every shingle the source contains — signatures of a
    union are the elementwise min, so per-source signatures are mergeable
    exactly like HLL registers), pairwise matching-slot estimates next to
    the exact shingle-set Jaccard. This is the mixture-design question —
    "which corpus sources duplicate each other?" — answered from
    fixed-size sketches: at 100 TB each source folds to K hashes in one
    aggregation pass, the pair table is |sources|², and the exact column
    here exists to audit the estimator (production drops it).
    """
    import profitscout_engine_spark.operators.text as txo

    # r11 optimization (guide §2.4, §1.2 step 1): the r10 shape rebuilt the
    # tokenize→shingle→distinct subtree for THREE consumers (sizes, sig,
    # both sides of the exact-intersection self-join) and then joined the
    # per-source sizes back twice. Persist the per-source distinct-shingle
    # set once per session, fold the size count INTO the signature
    # aggregation (same groupBy key — one aggregation instead of two), and
    # carry na/nb through the signature self-join so the two broadcast
    # size joins disappear. Same values everywhere; strictly fewer passes
    # and exchanges at any scale.
    def build() -> DataFrame:
        d = _docs(spark, sf_dir).select("doc_id", "source", "text")
        return (
            d.select("source", txo.tokens(F.col("text")).alias("tk"))
            .select("source", F.explode(txo.word_shingles()).alias("shingle"))
            .distinct()
        )

    ssh = shared(spark, sf_dir, "source_shingle_sets", build)
    sig = ssh.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"h{s}")
            for s in range(txo.MINHASH_K)
        ],
    )
    a, b = sig.alias("a"), sig.alias("b")
    slots = None
    for s in range(txo.MINHASH_K):
        term = (F.col(f"a.h{s}") == F.col(f"b.h{s}")).cast("int")
        slots = term if slots is None else slots + term
    prs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("s1"),
        F.col("b.source").alias("s2"),
        slots.alias("slots"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    )
    i1, i2 = ssh.alias("i1"), ssh.alias("i2")
    inter = (
        i1.join(
            i2,
            (F.col("i1.shingle") == F.col("i2.shingle"))
            & (F.col("i1.source") < F.col("i2.source")),
        )
        .groupBy(F.col("i1.source").alias("s1"), F.col("i2.source").alias("s2"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    c0 = F.coalesce("c", F.lit(0))
    return (
        prs.join(inter, ["s1", "s2"], "left")
        .select(
            "s1",
            "s2",
            F.col("slots").cast("long").alias("n_matching_slots"),
            r4(F.col("slots") / F.lit(float(txo.MINHASH_K))).alias("est_jaccard"),
            r4(c0 / (F.col("na") + F.col("nb") - c0)).alias("exact_jaccard"),
        )
    )


# ---- dedup impact accounting: what keep-best dedup does to the corpus --------
def _dedup_impact_oracle() -> str:
    from . import REGISTRY

    keep = REGISTRY["dedup_keep_best"].oracle
    return f"""
    WITH kb AS (SELECT doc_id, is_kept FROM ({keep}) k),
    d AS (
        SELECT doc_id, lang, length(text) AS n_chars2,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS docs_before,
           CAST(SUM(CASE WHEN kb.is_kept THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_after,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_before,
           CAST(SUM(CASE WHEN kb.is_kept THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_after,
           ROUND(SUM(CASE WHEN kb.is_kept THEN 0 ELSE 1 END) * 1.0E0
                 / COUNT(*), 4) AS pct_docs_dropped,
           ROUND(SUM(CASE WHEN kb.is_kept THEN 0 ELSE n_tok END) * 1.0E0
                 / SUM(n_tok), 4) AS pct_tokens_dropped
    FROM d JOIN kb ON kb.doc_id = d.doc_id
    GROUP BY d.lang
    """


@query(
    "dedup_impact_report",
    oracle=_dedup_impact_oracle(),
    tags=("dedup", "curation", "reporting"),
)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language accounting of what keep-best near-dedup removes:
    document and token counts before/after, and the dropped fractions —
    the report a curation pipeline publishes with every dedup run (and
    the number mixture rebalancing consumes, since dedup shifts the
    language distribution). Composes `dedup_keep_best` (session-shared
    component/score frames) with one token-count scan; marginal cost is
    a doc-keyed join and a |langs|-key aggregate.
    """
    kb = dedup_keep_best(spark, sf_dir).select("doc_id", "is_kept")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    kept_tok = F.when(F.col("is_kept"), F.col("n_tok")).otherwise(F.lit(0))
    dropped = F.when(F.col("is_kept"), F.lit(0)).otherwise(F.lit(1))
    return (
        d.join(kb, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("docs_before"),
            F.sum(F.col("is_kept").cast("int")).cast("long").alias("docs_after"),
            F.sum("n_tok").cast("long").alias("tokens_before"),
            F.sum(kept_tok).cast("long").alias("tokens_after"),
            r4(F.sum(dropped) / F.count("*")).alias("pct_docs_dropped"),
            r4(
                (F.sum("n_tok") - F.sum(kept_tok)) / F.sum("n_tok")
            ).alias("pct_tokens_dropped"),
        )
    )


# ---- ranking-quality eval: NDCG@k of the index family vs brute truth ---------
def _ndcg_oracle() -> str:
    from . import REGISTRY

    truth = REGISTRY["cosine_topk"].oracle
    ivf = REGISTRY["ivf_search_topk"].oracle
    pq = REGISTRY["ivfpq_search"].oracle
    k = RECALL_K
    # per-position gain in integer NANO-units: floor(1e9 / log2(rank+1) + .5).
    # The snap is 7+ orders of magnitude coarser than any libm log2 ULP skew,
    # so both engines derive identical BIGINT gains and every DCG sum is exact.
    g = "CAST(FLOOR(1000000000 / log2(rank + 1) + 0.5) AS BIGINT)"
    return f"""
    WITH truth AS (
        SELECT a_id, b_id FROM ({truth}) t WHERE rank <= {k}
    ),
    m_ivf AS (
        SELECT a_id, b_id, {g} AS gn FROM ({ivf}) i WHERE rank <= {k}
    ),
    m_pq AS (
        SELECT a_id, b_id, {g} AS gn FROM ({pq}) p WHERE rank <= {k}
    ),
    idcg AS (
        SELECT CAST(SUM(CAST(FLOOR(1000000000 / log2(i + 1) + 0.5) AS BIGINT))
                    AS BIGINT) AS dn
        FROM UNNEST(range(1, {k + 1})) AS u(rank_pos), LATERAL (SELECT CAST(rank_pos AS BIGINT) AS i)
    ),
    qs AS (SELECT DISTINCT a_id FROM truth),
    di AS (
        SELECT t.a_id, CAST(COUNT(*) AS BIGINT) AS hits,
               CAST(SUM(m.gn) AS BIGINT) AS dcgn
        FROM truth t JOIN m_ivf m ON m.a_id = t.a_id AND m.b_id = t.b_id
        GROUP BY t.a_id
    ),
    dp AS (
        SELECT t.a_id, CAST(COUNT(*) AS BIGINT) AS hits,
               CAST(SUM(m.gn) AS BIGINT) AS dcgn
        FROM truth t JOIN m_pq m ON m.a_id = t.a_id AND m.b_id = t.b_id
        GROUP BY t.a_id
    )
    SELECT qs.a_id,
           COALESCE(di.hits, 0) AS hits_ivf,
           COALESCE(dp.hits, 0) AS hits_ivfpq,
           ROUND(COALESCE(di.dcgn, 0) * 1.0E0 / dn, 6) AS ndcg_ivf,
           ROUND(COALESCE(dp.dcgn, 0) * 1.0E0 / dn, 6) AS ndcg_ivfpq
    FROM qs CROSS JOIN idcg
    LEFT JOIN di ON di.a_id = qs.a_id LEFT JOIN dp ON dp.a_id = qs.a_id
    """


@query(
    "ndcg_eval",
    oracle=_ndcg_oracle(),
    tags=("similarity", "eval", "ndcg"),
)
def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query NDCG@{RECALL_K} of the IVF and IVF-PQ searches against
    the brute-force cosine truth — the position-weighted companion of
    ``ann_recall_curve`` (recall says WHETHER the true neighbors were
    found; NDCG says how HIGH the index ranked them, the metric a
    two-stage serving stack actually tunes). Binary relevance, ideal
    DCG = all k true neighbors ranked first (a constant, since every
    query has exactly k truths). Per-position gains 1/log2(rank+1) are
    snapped to integer nano-units the moment they exist, so every DCG
    sum is exact BIGINT and the libm log2 ULP gap between engines
    vanishes under the snap (7 orders of magnitude of headroom); the
    only floats are the final display divisions. Composes the registered
    searches (which score candidates through their documented
    Arrow-batched packed dot) and reuses the session-shared truth
    frame — marginal cost over the searches is two join-counts.

    DECLARED EVAL YARDSTICK: the truth side is the O(n²) brute scan
    (bench-skippable); production samples queries exactly like this
    before an index rollout."""
    gain = lambda rank: F.floor(  # noqa: E731 — local gain-in-nanos helper
        F.lit(1_000_000_000) / F.log2(rank + F.lit(1)) + F.lit(0.5)
    ).cast("long")
    truth = shared(
        spark,
        sf_dir,
        "recall_truth",
        lambda: cosine_topk(spark, sf_dir)
        .where(F.col("rank") <= RECALL_K)
        .select("a_id", "b_id"),
    )
    m_ivf = (
        ivf_search_topk(spark, sf_dir)
        .where(F.col("rank") <= RECALL_K)
        .select("a_id", "b_id", gain(F.col("rank")).alias("gn"))
    )
    m_pq = (
        ivfpq_search(spark, sf_dir)
        .where(F.col("rank") <= RECALL_K)
        .select("a_id", "b_id", gain(F.col("rank")).alias("gn"))
    )
    idcg = spark.range(1, RECALL_K + 1).agg(
        F.sum(gain(F.col("id"))).cast("long").alias("dn")
    )
    qs = truth.select("a_id").distinct()
    di = (
        truth.join(m_ivf, ["a_id", "b_id"])
        .groupBy("a_id")
        .agg(
            F.count("*").cast("long").alias("hits_ivf"),
            F.sum("gn").cast("long").alias("dcgn_ivf"),
        )
    )
    dp = (
        truth.join(m_pq, ["a_id", "b_id"])
        .groupBy("a_id")
        .agg(
            F.count("*").cast("long").alias("hits_ivfpq"),
            F.sum("gn").cast("long").alias("dcgn_ivfpq"),
        )
    )
    return (
        qs.crossJoin(F.broadcast(idcg))
        .join(di, "a_id", "left")
        .join(dp, "a_id", "left")
        .select(
            "a_id",
            F.coalesce("hits_ivf", F.lit(0)).cast("long").alias("hits_ivf"),
            F.coalesce("hits_ivfpq", F.lit(0)).cast("long").alias("hits_ivfpq"),
            r6(
                F.coalesce("dcgn_ivf", F.lit(0)) * F.lit(1.0) / F.col("dn")
            ).alias("ndcg_ivf"),
            r6(
                F.coalesce("dcgn_ivfpq", F.lit(0)) * F.lit(1.0) / F.col("dn")
            ).alias("ndcg_ivfpq"),
        )
    )


# ---- iterated k-means training on the integer lattice --------------------------
# K is pinned so the oracle's statically-unrolled k-means CTEs replay the
# trajectory exactly; the engine and the generated oracle text read the same
# constant. Production IVF re-sizes K with the corpus to keep per-list size
# bounded — with K fixed, within-list candidate work is Θ(n²/K); with K ∝ n
# it is Θ(n·L*) linear (SCALING.md §14 records the measurement).
KM_TRAIN_K = 8
KM_TRAIN_ITERS = 5


def _km_unroll_ctes(p: str = "", src: str = "embeddings") -> str:
    """CTE chain ``{p}e, {p}c0 .. {p}c{ITERS}`` — micro-unit lattice
    embeddings, K-lowest-vec_id init, KM_TRAIN_ITERS unrolled Lloyd steps
    (assignment {p}a*, exact-integer round-half-up means {p}m*, centroid
    update {p}c*). The prefix lets the rebuild-audit oracle compose this
    chain next to other CTE families without name collisions; the plain
    k-means oracle uses prefix ''. ``src`` is the training-set relation
    (default the full corpus; the sample trainer passes a bounded join).
    One generator = one source of truth for the Lloyd formulas across
    all three oracles."""
    k, iters = KM_TRAIN_K, KM_TRAIN_ITERS
    parts = [f"""
    {p}e AS (SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                                x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v
          FROM {src}),
    {p}c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
           FROM {p}e ORDER BY vec_id LIMIT {k})"""]
    for it in range(1, iters + 1):
        pp, q = it - 1, it
        parts.append(f"""
    {p}a{q} AS (
        SELECT vec_id, cid FROM (
            SELECT {p}e.vec_id, {p}c{pp}.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY {p}e.vec_id
                       ORDER BY list_aggregate(list_transform(range(1, 65),
                                i -> ({p}e.v[i] - {p}c{pp}.c[i]) * ({p}e.v[i] - {p}c{pp}.c[i])),
                                'sum'), {p}c{pp}.cid) AS rn
            FROM {p}e CROSS JOIN {p}c{pp})
        WHERE rn = 1),
    {p}m{q} AS (
        -- round-half-up on EXACT integers: floor((2*sx + n) / (2*n)).
        -- BOTH integer divisions truncate toward zero (Spark div AND
        -- DuckDB // — verified: -7 // 6 = -1), so BOTH sides emulate
        -- floor with the same sign-split -((-num + den - 1) // den) for
        -- negative numerators. The old IEEE form floor(sx*1.0/n + 0.5)
        -- silently lost exactness once a cluster's component sum passed
        -- 2^53 (~1e9 members x 1e6-unit components — reachable at 100 TB).
        SELECT a.cid, u.i AS pos,
               CAST(CASE WHEN 2 * SUM({p}e.v[u.i]) + COUNT(*) >= 0
                    THEN (2 * SUM({p}e.v[u.i]) + COUNT(*)) // (2 * COUNT(*))
                    ELSE -((-(2 * SUM({p}e.v[u.i]) + COUNT(*)) + 2 * COUNT(*) - 1)
                           // (2 * COUNT(*)))
                    END AS BIGINT) AS m
        FROM {p}a{q} a JOIN {p}e USING (vec_id), UNNEST(range(1, 65)) AS u(i)
        GROUP BY 1, 2),
    {p}c{q} AS (
        SELECT {p}c{pp}.cid, COALESCE(n.c, {p}c{pp}.c) AS c
        FROM {p}c{pp} LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS c
                             FROM {p}m{q} GROUP BY 1) n USING (cid))""")
    return ",".join(parts)


def _km_afin_cte(p: str, name: str, with_dist: bool, vec: str | None = None) -> str:
    """Final nearest-centroid assignment CTE over the unrolled chain's
    converged centroids ``{p}c{ITERS}`` (with the exact-BIGINT lattice
    distance exposed when the consumer needs it). ``vec`` names the CTE
    holding the vectors to ASSIGN (default the chain's own training set;
    the sample trainer assigns the FULL corpus against sample-trained
    centroids)."""
    iters = KM_TRAIN_ITERS
    v = vec or f"{p}e"
    dist_col = ", dist" if with_dist else ""
    return f"""
    {name} AS (
        SELECT vec_id, cid{dist_col} FROM (
            SELECT {v}.vec_id, cf.cid,
                   list_aggregate(list_transform(range(1, 65),
                        i -> ({v}.v[i] - cf.c[i]) * ({v}.v[i] - cf.c[i])), 'sum') AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY {v}.vec_id
                       ORDER BY list_aggregate(list_transform(range(1, 65),
                                i -> ({v}.v[i] - cf.c[i]) * ({v}.v[i] - cf.c[i])),
                                'sum'), cf.cid) AS rn
            FROM {v} CROSS JOIN {p}c{iters} cf)
        WHERE rn = 1)"""


def _kmeans_train_oracle() -> str:
    """Unrolled fixed-iteration Lloyd replay. The engine early-stops when
    an iteration moves no centroid, which is SAFE against this fixed
    unroll: a converged iteration is idempotent (same assignments ->
    same means), so iterations past convergence are no-ops."""
    iters = KM_TRAIN_ITERS
    return (
        "WITH " + _km_unroll_ctes("") + ","
        + _km_afin_cte("", "afin", with_dist=True) + f""",
    stats AS (
        -- inertia on the COARSER milli-unit^2 lattice: each per-vector
        -- distance (micro-unit^2, <= 64 * (2e6)^2 = 2.56e14) is floored
        -- to 1e6-unit terms BEFORE the sum, so each term is <= 2.56e8
        -- and the int64 sum holds to ~3.6e10 members per cluster — the
        -- gram_power_iteration headroom discipline. Summing raw
        -- micro-unit^2 distances overflowed int64 past a few hundred
        -- thousand far-from-centroid vectors (DuckDB HUGEINT->BIGINT
        -- cast error vs Spark silent wrap — engines failing differently).
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(dist // 1000000) AS BIGINT) AS inertia
        FROM afin GROUP BY 1)
    SELECT cf.cid AS cluster_id,
           COALESCE(s.n_members, 0) AS n_members,
           COALESCE(s.inertia, 0) AS inertia,
           CAST(list_aggregate(cf.c, 'sum') AS BIGINT) AS centroid_sum
    FROM c{iters} cf LEFT JOIN stats s USING (cid)
    """)


def _km_lattice_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings on the micro-unit integer lattice — the birth snap every
    member of the Lloyd family reads."""
    return t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))").alias("v"),
    )


def _km_argmin(c: dict[int, list[int]]):
    """Map-side E-step: with K bounded, the nearest centroid is a pure
    projection — K exact-BIGINT fold distances against centroid ARRAY
    LITERALS, argmin via array_min over (dist, cid) structs. No
    crossJoin, no shuffle, nothing but the corpus scan."""
    entries = []
    for cid, vec in sorted(c.items()):
        lits = ",".join(f"{x}L" for x in vec)
        d = F.expr(
            f"aggregate(zip_with(v, array({lits}), "
            "(x, y) -> (x - y) * (x - y)), 0L, (a, z) -> a + z)"
        )
        entries.append(F.struct(d.alias("dist"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*entries))


def _km_train(spark: SparkSession, sf_dir: str) -> dict[int, list[int]] | None:
    """Run the Lloyd loop to convergence (or KM_TRAIN_ITERS) and return the
    trained centroids, None on an empty corpus. Per-iteration driver state
    is K x 64 integers (the bounded collect that also cuts lineage); the
    M-step rounds half-up as EXACT integer floor((2*sx + n)/(2*n)) —
    Spark's div truncates toward zero, so the negative-numerator branch
    emulates floor with the standard -((-num + den - 1) div den) identity
    (the oracle's DuckDB // also truncates and carries the same
    sign-split). The old floor(sx*1.0/n + 0.5) round-tripped through an
    IEEE double and lost exactness once |sx| passed 2^53 (~1e9 members x
    1e6-unit components) — identically on both engines, which kept parity
    but broke the lattice family's exact-BIGINT claim. Trained centroids
    are cached per (session, dataset): training is deterministic, so the
    trainer query and the rebuild pipeline share one loop."""
    return _km_train_cached(
        spark, sf_dir, "full", lambda: _km_lattice_vecs(spark, sf_dir)
    )


def _km_train_cached(spark, sf_dir: str, tag: str, frame_fn):
    """Trained centroids memoized per (session, dataset, tag): training is
    deterministic, so every consumer of one training frame shares one loop.
    Callers only read the returned dict."""
    return shared_value(
        spark, sf_dir, f"km_centroids:{tag}", lambda: _km_lloyd_loop(frame_fn())
    )


def _km_lloyd_loop(e: DataFrame) -> dict[int, list[int]] | None:
    """The Lloyd loop itself over a (vec_id, v) lattice frame — shared by
    the full-corpus trainer and the bounded-sample trainer."""
    k, iters = KM_TRAIN_K, KM_TRAIN_ITERS
    init = e.orderBy("vec_id").limit(k).collect()
    cent = {i: list(r["v"]) for i, r in enumerate(init)}
    if not cent:
        return None
    for _ in range(iters):
        assign = e.select("v", _km_argmin(cent)["cid"].alias("cid"))
        sums = (
            assign.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
            .select(
                "cid", "pos",
                F.expr(
                    "CASE WHEN 2 * sx + n >= 0 THEN (2 * sx + n) div (2 * n) "
                    "ELSE -((-(2 * sx + n) + 2 * n - 1) div (2 * n)) END"
                ).cast("long").alias("m"),
            )
            .collect()
        )
        new_cent = dict(cent)  # empty clusters keep their centroid
        by_cid: dict[int, dict[int, int]] = {}
        for r in sums:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        for cid, pm in by_cid.items():
            new_cent[cid] = [pm[p] for p in range(len(cent[cid]))]
        if new_cent == cent:
            break  # converged — further iterations are idempotent no-ops
        cent = new_cent
    return cent


@query(
    "kmeans_train_converged",
    oracle=_kmeans_train_oracle(),
    tags=("similarity", "ann", "ml-step", "iterative"),
)
def kmeans_train_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means TRAINING loop (VERDICT r6 next-wave item a): Lloyd
    iterations to a convergence gate — the index-build companion of the
    one-step `kmeans_lloyd_step`. Everything runs on the INTEGER LATTICE
    (embedding components snapped to micro-units at birth), so distances
    are exact BIGINT sums — order-independent, hence bit-identical across
    engines and across any execution plan — and centroid updates round
    half-up as pure integer arithmetic, floor((2*sum + count)/(2*count))
    on exact BIGINT sums (no IEEE round-trip anywhere in the loop): the
    whole trajectory is deterministic, which is what makes an iterative
    algorithm oracle-checkable at all. Init = the K lowest vec_ids.
    Reported inertia rides the coarser milli-unit^2 lattice (per-vector
    floor before the sum) so the int64 headroom holds to ~3.6e10 members
    per cluster.

    Scale shape per iteration: the E-step is a PURE PROJECTION — with K
    bounded, nearest-centroid is K exact-BIGINT fold distances against
    centroid array literals with an array_min argmin, so the corpus
    streams through map-side code with ZERO shuffle and the raw vectors
    never leave their partitions; the only shuffle is the M-step
    posexplode aggregate over (K x dim) groups (map-side partials).
    Centroids are COLLECTED each iteration (K x dim ints — the
    loop-invariant driver state) and re-embedded as literals, which also
    CUTS THE LINEAGE per iteration: no checkpoint files, no growing plan.
    The early-stop (no centroid moved) is replay-safe — a converged
    iteration is idempotent, so the oracle's fixed {KM_TRAIN_ITERS}-step
    unroll lands on the same fixed point."""
    e = _km_lattice_vecs(spark, sf_dir)
    cent = _km_train(spark, sf_dir)
    if cent is None:  # empty corpus: no centroids, no clusters
        return spark.createDataFrame(
            [], "cluster_id int, n_members bigint, inertia bigint, centroid_sum bigint"
        )

    s = _km_argmin(cent)
    stats = (
        e.select(s["cid"].alias("cid"), s["dist"].alias("dist"))
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            # milli-unit^2 inertia: floor each nonneg micro-unit^2 distance
            # to 1e6-unit terms BEFORE the sum (term <= 2.56e8, int64-safe
            # to ~3.6e10 members/cluster — the gram milli-unit discipline);
            # raw sums overflowed int64 past ~e5 far-from-centroid vectors.
            F.sum(F.expr("dist div 1000000")).cast("long").alias("inertia"),
        )
    )
    spine = spark.createDataFrame(
        [(cid, sum(vec)) for cid, vec in sorted(cent.items())],
        "cid int, centroid_sum bigint",
    )
    return F.broadcast(spine).join(stats, "cid", "left").select(
        F.col("cid").alias("cluster_id"),
        F.coalesce("n_members", F.lit(0).cast("long")).alias("n_members"),
        F.coalesce("inertia", F.lit(0).cast("long")).alias("inertia"),
        "centroid_sum",
    )


# ---- bounded-sample k-means training (the production scale lever) -------------
KM_SAMPLE_N = 256  # fixed training-set size, independent of corpus scale


def _km_sample_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic bounded training sample: the KM_SAMPLE_N lowest
    vectors by md5('kmsamp|'||vec_id) (vec_id tie-break) on the lattice.
    orderBy+limit plans as TakeOrderedAndProject — a distributed top-N,
    never a global sort — so drawing the sample is one linear pass at any
    corpus size."""
    return _km_lattice_vecs(spark, sf_dir).orderBy(
        F.md5(F.concat(F.lit("kmsamp|"), F.col("vec_id").cast("string"))), "vec_id"
    ).limit(KM_SAMPLE_N)


def _km_train_sample(spark: SparkSession, sf_dir: str) -> dict[int, list[int]] | None:
    """Lloyd training over the BOUNDED sample. The sample is collected once
    (<= KM_SAMPLE_N x 64 ints — the same bounded-driver-state budget as the
    centroids themselves) and re-parallelized, so the 5-iteration loop runs
    over a tiny local frame instead of re-deriving the corpus top-N five
    times."""

    def frame() -> DataFrame:
        rows = _km_sample_vecs(spark, sf_dir).collect()
        return spark.createDataFrame(rows, "vec_id bigint, v array<bigint>")

    return _km_train_cached(spark, sf_dir, "sample", frame)


def _km_sample_oracle() -> str:
    iters = KM_TRAIN_ITERS
    return f"""
    WITH samp AS (
        SELECT vec_id FROM embeddings
        ORDER BY md5('kmsamp|' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {KM_SAMPLE_N}
    ),
    {_km_unroll_ctes('s', src='embeddings JOIN samp USING (vec_id)')},
    fe AS (SELECT vec_id,
                  list_transform(embedding::DOUBLE[],
                                 x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v
           FROM embeddings),
    {_km_afin_cte('s', 'safin', with_dist=True, vec='fe')},
    stats AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(dist // 1000000) AS BIGINT) AS inertia
        FROM safin GROUP BY 1),
    sstats AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_sample_members
        FROM safin JOIN samp USING (vec_id) GROUP BY 1)
    SELECT cf.cid AS cluster_id,
           COALESCE(s.n_members, 0) AS n_members,
           COALESCE(ss.n_sample_members, 0) AS n_sample_members,
           COALESCE(s.inertia, 0) AS inertia,
           CAST(list_aggregate(cf.c, 'sum') AS BIGINT) AS centroid_sum
    FROM sc{iters} cf LEFT JOIN stats s USING (cid) LEFT JOIN sstats ss USING (cid)
    """


@query(
    "kmeans_sample_train",
    oracle=_km_sample_oracle(),
    tags=("similarity", "ann", "ml-step", "iterative", "sample-train"),
)
def kmeans_sample_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-sample k-means training — the production scale lever the
    round-10 stress audit isolated (SCALING.md §14): full-corpus Lloyd is
    Θ(n·K·iters), so at 100 TB the coarse quantizer is trained on a FIXED
    {KM_SAMPLE_N}-vector sample (faiss-style) and only the final
    assignment touches the corpus. The sample is a deterministic md5
    top-N (TakeOrderedAndProject — one linear pass, no global sort), the
    Lloyd loop runs over the collected bounded frame (<= N x 64 ints of
    driver state, same budget as the centroids), and the FULL corpus is
    then assigned with the zero-shuffle argmin projection. Per cluster:
    corpus members, how many of the training sample landed there, exact
    milli-lattice inertia, and the centroid checksum — the report that
    says whether a bounded sample was good enough to rebuild from
    (compare inertia against `kmeans_train_converged`'s full-corpus
    training; the pytest pins the ratio at the fixture)."""
    cent = _km_train_sample(spark, sf_dir)
    if cent is None:  # empty corpus: no sample, no clusters
        return spark.createDataFrame(
            [],
            "cluster_id int, n_members bigint, n_sample_members bigint,"
            " inertia bigint, centroid_sum bigint",
        )
    e = _km_lattice_vecs(spark, sf_dir)
    s = _km_argmin(cent)
    assigned = e.select("vec_id", s["cid"].alias("cid"), s["dist"].alias("dist"))
    stats = assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum(F.expr("dist div 1000000")).cast("long").alias("inertia"),
    )
    sstats = (
        assigned.join(
            F.broadcast(_km_sample_vecs(spark, sf_dir).select("vec_id")),
            "vec_id",
            "leftsemi",
        )
        .groupBy("cid")
        .agg(F.count("*").cast("long").alias("n_sample_members"))
    )
    spine = spark.createDataFrame(
        [(cid, sum(vec)) for cid, vec in sorted(cent.items())],
        "cid int, centroid_sum bigint",
    )
    z = F.lit(0).cast("long")
    return (
        F.broadcast(spine)
        .join(stats, "cid", "left")
        .join(sstats, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            F.coalesce("n_members", z).alias("n_members"),
            F.coalesce("n_sample_members", z).alias("n_sample_members"),
            F.coalesce("inertia", z).alias("inertia"),
            "centroid_sum",
        )
    )


# ---- end-to-end IVF index REBUILD + parity audit --------------------------------
# The audit evaluates on a BOUNDED query panel (production recall-eval shape):
# the r10 32x stress audit proved that auditing EVERY vector's within-list
# top-k is Θ(n²/K) at fixed K and dies disk-full at scale (SCALING.md §14 —
# 512M scored pairs at 32x). A rebuild report needs a statistically useful
# panel, not the full corpus: with Q fixed, each side's candidate set is the
# panel's probed lists — Q·(n/K) pairs, LINEAR in n.
RB_QUERY_N = 64


def _ivf_rebuild_oracle() -> str:
    sql = f"""
    WITH {_IVF_ASSIGN_CTES},
    qs AS (
        SELECT vec_id FROM embeddings
        ORDER BY md5('rbq|' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {RB_QUERY_N}
    ),
    oldcand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM assign a JOIN qs q ON q.vec_id = a.vec_id
        JOIN assign b ON a.c_label = b.c_label AND a.vec_id <> b.vec_id
    ),
    oldsims AS (
        SELECT c.a_id, c.b_id,
               ROUND({_cosine_sql('ea.v', 'eb.v')}, 6) AS sim
        FROM oldcand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id
    ),
    oldranked AS (
        SELECT a_id, b_id,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
        FROM oldsims
    ),
    oldtop AS (SELECT a_id, b_id FROM oldranked WHERE rank <= {LSH_TOPK}),
    samp AS (
        SELECT vec_id FROM embeddings
        ORDER BY md5('kmsamp|' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {KM_SAMPLE_N}
    ),
    {_km_unroll_ctes('km', src='embeddings JOIN samp USING (vec_id)')},
    kfe AS (SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v
            FROM embeddings),
    {_km_afin_cte('km', 'kmafin', with_dist=False, vec='kfe')},
    newcand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM kmafin a JOIN qs q ON q.vec_id = a.vec_id
        JOIN kmafin b ON a.cid = b.cid AND a.vec_id <> b.vec_id
    ),
    newsims AS (
        SELECT c.a_id, c.b_id,
               ROUND({_cosine_sql('ea.v', 'eb.v')}, 6) AS sim
        FROM newcand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id
    ),
    newranked AS (
        SELECT a_id, b_id,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
        FROM newsims
    ),
    newtop AS (SELECT a_id, b_id FROM newranked WHERE rank <= {LSH_TOPK}),
    n_o AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_old FROM oldtop GROUP BY 1),
    n_n AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_new FROM newtop GROUP BY 1),
    n_c AS (SELECT o.a_id, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM oldtop o JOIN newtop n ON n.a_id = o.a_id AND n.b_id = o.b_id
            GROUP BY 1)
    SELECT qs.vec_id AS a_id,
           COALESCE(n_old, 0) AS n_old,
           COALESCE(n_new, 0) AS n_new,
           COALESCE(n_common, 0) AS n_common
    FROM qs LEFT JOIN n_o ON n_o.a_id = qs.vec_id
            LEFT JOIN n_n ON n_n.a_id = qs.vec_id
            LEFT JOIN n_c ON n_c.a_id = qs.vec_id
    """
    return _materialize_ctes(
        sql,
        ("e", "assign", "qs", "oldtop", "kme", "kfe", "kmafin", "newtop")
        + tuple(f"kmc{i}" for i in range(KM_TRAIN_ITERS + 1)),
    )


@query(
    "ivf_rebuild_audit",
    oracle=_ivf_rebuild_oracle(),
    tags=("similarity", "ivf", "pipeline", "rebuild", "eval"),
)
def ivf_rebuild_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF index REBUILD pipeline with a parity audit against
    the serving index (VERDICT r7 next-wave item b; re-shaped scale-safe
    per VERDICT r10 item 1) — the §3-style composition query for the ANN
    family: TRAIN new coarse centroids on the BOUNDED {KM_SAMPLE_N}-vector
    sample (`_km_train_sample`, the kmeans_sample_train production lever),
    ASSIGN every vector to its trained list with the zero-shuffle argmin
    projection, then AUDIT a deterministic md5-sampled panel of
    {RB_QUERY_N} queries: each panel query's top-{LSH_TOPK} under the old
    label-centroid index, under the rebuilt k-means index, and their
    overlap — the recall report a production rebuild publishes before
    switching the pointer.

    Scale shape — the r10 32x stress audit killed the previous form (audit
    EVERY vector's within-list top-k = Θ(n²/K) at fixed K; 512M scored
    pairs, disk-full at 32x — SCALING.md §14). This shape is Θ(n + Q·n/K):
    training is Lloyd over a collected {KM_SAMPLE_N}-row frame (bounded
    driver state), both full-corpus assignments are map-side projections /
    one bounded crossJoin-broadcast ranking, and candidate generation
    BROADCASTS the Q-row panel's list assignments against each index — the
    corpus streams through a map-side join emitting at most Q rows per
    list, so nothing corpus-sized ever shuffles by list and the pair count
    is the panel's probed lists, linear in n. Scoring is the packed
    Arrow-dot shuffle-join path; the audit itself is three bounded
    groupBys left-joined onto the panel spine."""
    cent = _km_train_sample(spark, sf_dir)
    if cent is None:  # empty corpus: no index, no panel, no audit rows
        return spark.createDataFrame(
            [], "a_id bigint, n_old bigint, n_new bigint, n_common bigint"
        )
    qs = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy(
            F.md5(F.concat(F.lit("rbq|"), F.col("vec_id").cast("string"))), "vec_id"
        )
        .limit(RB_QUERY_N)
    )
    ea, eb = _packed_sides(spark, sf_dir)

    def panel_top(assign: DataFrame, list_col: str) -> DataFrame:
        """Top-{LSH_TOPK} for the panel under one index: broadcast the
        panel's Q list assignments, map-side join the full corpus side."""
        probe = assign.join(F.broadcast(qs), "vec_id").select(
            F.col("vec_id").alias("a_id"), F.col(list_col).alias("lst")
        )
        build = assign.select(
            F.col("vec_id").alias("b_id"), F.col(list_col).alias("lst")
        )
        cand = (
            build.join(F.broadcast(probe), "lst")
            .where(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id")
        )
        return _score_candidates(cand, ea, eb, r6, LSH_TOPK).select("a_id", "b_id")

    new_assign = _km_lattice_vecs(spark, sf_dir).select(
        "vec_id", _km_argmin(cent)["cid"].alias("cid")
    )
    new_top = panel_top(new_assign, "cid")
    old_assign = _ivf_assignments(spark, sf_dir).select("vec_id", "assigned_label")
    old_top = panel_top(old_assign, "assigned_label")
    n_old = old_top.groupBy("a_id").agg(F.count("*").cast("long").alias("n_old"))
    n_new = new_top.groupBy("a_id").agg(F.count("*").cast("long").alias("n_new"))
    common = (
        old_top.join(new_top, ["a_id", "b_id"])
        .groupBy("a_id")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    z = F.lit(0).cast("long")
    return (
        qs.select(F.col("vec_id").alias("a_id"))
        .join(n_old, "a_id", "left")
        .join(n_new, "a_id", "left")
        .join(common, "a_id", "left")
        .select(
            "a_id",
            F.coalesce("n_old", z).alias("n_old"),
            F.coalesce("n_new", z).alias("n_new"),
            F.coalesce("n_common", z).alias("n_common"),
        )
    )


# ---- iterated PageRank on the integer lattice ----------------------------------
PR_ITERS = 5


def _pagerank_power_oracle() -> str:
    """Unrolled damped power iteration, all-BIGINT: rank mass lives in
    nano-units, each out-edge carries (85 * r) // (100 * deg) — integer
    floor division (operands nonneg, so DuckDB // == Spark div), so the
    trajectory is exact and order-independent on both engines."""
    parts = [f"""{_minhash_bands_ctes()},
    pairs0 AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs0
        UNION ALL
        SELECT d2 AS src, d1 AS dst FROM pairs0
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    r0 AS (
        SELECT doc_id, CAST(1000000000 // n AS BIGINT) AS pr
        FROM documents CROSS JOIN nn
    )"""]
    for it in range(1, PR_ITERS + 1):
        p, q = it - 1, it
        parts.append(f"""
    s{q} AS (
        SELECT e.dst AS doc_id,
               CAST(SUM((85 * r.pr) // (100 * d.deg)) AS BIGINT) AS c
        FROM edges e
        JOIN r{p} r ON e.src = r.doc_id
        JOIN deg d ON d.src = e.src
        GROUP BY 1
    ),
    r{q} AS (
        SELECT doc.doc_id,
               CAST(150000000 // n + COALESCE(s.c, 0) AS BIGINT) AS pr
        FROM documents doc CROSS JOIN nn
        LEFT JOIN s{q} s ON s.doc_id = doc.doc_id
    )""")
    sql = (
        "WITH RECURSIVE " + ",".join(parts)
        + f"\n    SELECT doc_id, pr AS pr_nano FROM r{PR_ITERS}"
    )
    return _materialize_ctes(
        sql, ("sh_all", "sh", "sig", "bands", "pairs0", "edges", "deg")
        + tuple(f"r{i}" for i in range(PR_ITERS))
    )


@query(
    "pagerank_power_lattice",
    oracle=_pagerank_power_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def pagerank_power_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated damped PageRank ({PR_ITERS} power steps) over the near-dup
    candidate graph, entirely on the INTEGER LATTICE — the iterative
    companion of the one-step `pagerank_iteration`, same determinism
    discipline as `kmeans_train_converged`: rank mass in nano-units
    (BIGINT), teleport = 15e7 div n, each out-edge carries
    (85 * r) div (100 * deg) — exact floor division on nonnegative
    operands (Spark div == DuckDB // there, trap-log rule), so every
    iteration is order-independent and the 5-step trajectory replays
    bit-identically in the oracle's unrolled CTEs.

    Scale shape per iteration: one shuffle of the (cached, shared)
    symmetric edge list joined to the current rank vector + degree table,
    one sum by dst, one left join back onto the doc spine — the textbook
    distributed PageRank step; nothing per-iteration touches the driver,
    and the iteration count is a fixed small constant so the lazily
    composed plan stays bounded."""
    # (src, dst, deg) arrives pre-joined from the session-shared frame:
    # degree is loop-invariant, so the r10 shape's per-iteration deg join
    # (PR_ITERS of them) collapses into the one-time shared build.
    ed = _mh_edges_deg(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id")
    nd = docs.agg(F.count("*").cast("long").alias("n"))
    r = docs.crossJoin(F.broadcast(nd)).select(
        "doc_id", F.expr("1000000000L div n").alias("pr")
    )
    for _ in range(PR_ITERS):
        contrib = (
            ed.join(r.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.expr("(85 * pr) div (100 * deg)")).cast("long").alias("c"))
        )
        r = (
            docs.crossJoin(F.broadcast(nd))
            .join(contrib, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.expr("150000000L div n")
                    + F.coalesce(F.col("c"), F.lit(0).cast("long"))
                ).cast("long").alias("pr"),
            )
        )
    return r.select("doc_id", F.col("pr").alias("pr_nano"))


# ---- Gram-matrix power iteration on the integer lattice -------------------------
GRAM_ITERS = 6


def _gram_power_oracle() -> str:
    """Unrolled power iterations over the exact-BIGINT Gram matrix.
    Embeddings snap to MILLI-units (not micro) so every magnitude stays
    inside int64 by construction: |x| <= 320 => |G| <= 320^2 * n_vecs,
    and |w| <= |G| * 1000 * 64 — safe to ~1e8 vectors. The renormalize
    step keeps the vector on the +-1000 lattice via nonnegative floor
    division with explicit sign handling (Spark div truncates toward
    zero, DuckDB // floors — they agree only on nonneg operands)."""
    parts = [
        """
    e AS (SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                                x -> CAST(floor(x * 1e3 + 0.5) AS BIGINT)) AS v
          FROM embeddings),
    p AS (SELECT vec_id, CAST(i AS INT) AS i, v[i] AS x
          FROM e, UNNEST(range(1, 65)) AS u(i)),
    g AS (SELECT a.i AS gi, b.i AS gj, CAST(SUM(a.x * b.x) AS BIGINT) AS gv
          FROM p a JOIN p b USING (vec_id) GROUP BY 1, 2),
    v0 AS (SELECT CAST(i AS INT) AS i, CAST(1000 AS BIGINT) AS val
           FROM UNNEST(range(1, 65)) AS u(i))"""
    ]
    for it in range(1, GRAM_ITERS + 1):
        p_, q = it - 1, it
        parts.append(f"""
    w{q} AS (SELECT gi AS i, CAST(SUM(gv * v.val) AS BIGINT) AS w
             FROM g JOIN v{p_} v ON v.i = gj GROUP BY 1),
    m{q} AS (SELECT MAX(ABS(w)) AS mx FROM w{q}),
    v{q} AS (SELECT i,
                    CAST(CASE WHEN w >= 0 THEN (w * 1000) // mx
                              ELSE -(((-w) * 1000) // mx) END AS BIGINT) AS val
             FROM w{q} CROSS JOIN m{q})""")
    return (
        "WITH " + ",".join(parts) + f"""
    SELECT vf.i AS pos, vf.val AS v_val,
           CAST(SUM(g.gv * vj.val) AS BIGINT) AS w_val
    FROM g JOIN v{GRAM_ITERS} vj ON vj.i = g.gj
           JOIN v{GRAM_ITERS} vf ON vf.i = g.gi
    GROUP BY 1, 2
    """)


def _gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared exact-BIGINT 64x64 Gram table of the MILLI-unit
    snapped embeddings — one data-proportional pass builds it; every
    power/deflation iteration touches only these 4096 rows."""

    def build() -> DataFrame:
        # Explode to 64·n (i, x) rows each still carrying the milli-vector,
        # re-explode the vector per row to the 4096·n (gi, gj, x·y)
        # products, and let the hash aggregate's map-side combine fold
        # them to ≤4096 partial rows per task. Replaces the r10
        # positional SELF-JOIN (which shuffled 64·n rows twice and pushed
        # 4096·n joined rows through the pair aggregation) with ZERO
        # joins and ONE exchange of ≤4096 partially-aggregated rows per
        # task (guide §2.4/§2.3): same 4096·n multiply-adds, none of the
        # join machinery, and a three-expression plan Catalyst analyzes
        # in milliseconds (a 64-SUM-column variant measured 2.1 s build
        # + 2.6 s materialize vs 0.3 + 0.7 for this shape). SUMs of the
        # identical BIGINT products are order-independent, so gv is
        # bit-equal to the join form's.
        e = t(spark, sf_dir, "embeddings").select(
            F.expr("transform(embedding, x -> CAST(floor(x * 1e3 + 0.5) AS BIGINT))").alias("v"),
        )
        p = e.select(F.posexplode("v").alias("i0", "x"), "v")
        q = p.select(
            (F.col("i0") + 1).cast("int").alias("gi"),
            "x",
            F.posexplode("v").alias("j0", "y"),
        )
        return q.groupBy("gi", (F.col("j0") + 1).cast("int").alias("gj")).agg(
            F.sum(F.col("x") * F.col("y")).cast("long").alias("gv")
        )

    return shared(spark, sf_dir, "gram_milli", build)


def _gram_collect(g: DataFrame) -> dict[int, dict[int, int]] | None:
    """The 64×64 Gram table collected ONCE as {gi: {gj: gv}} — ≤4096
    BIGINTs of bounded driver state (the same justification as the
    k-means sample trainer's ≤N×64-int collect). Every power/deflation
    step is then a driver-local exact-integer matvec instead of a
    per-iteration Spark collect job: the r10 shape paid J×2 scheduled
    stages for arithmetic over 32 KB of loop-invariant data (guide §5 —
    the driver should do no DATA work, but 4096 ints is state, not
    data; the data-proportional pass already happened building G).
    None on an empty corpus."""
    rows = g.collect()
    if not rows:
        return None
    out: dict[int, dict[int, int]] = {}
    for r in rows:
        out.setdefault(r["gi"], {})[r["gj"]] = r["gv"]
    return out


def _gram_matvec_local(G: dict[int, dict[int, int]], v: dict[int, int]) -> dict[int, int]:
    """w = G v in exact Python integer arithmetic — bit-equal to the
    BIGINT SUM(gv * v[gj]) aggregation it replaces (Python ints are
    arbitrary-precision; the lattice bounds keep Spark's int64 exact,
    so both evaluate the same integers)."""
    return {
        i: sum(gv * v[gj] for gj, gv in row.items()) for i, row in G.items()
    }


@query(
    "gram_power_iteration",
    oracle=_gram_power_oracle(),
    tags=("similarity", "embedding", "svd", "iterative"),
)
def gram_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding GRAM MATRIX by power
    iteration ({GRAM_ITERS} steps) — the PCA/top-singular-direction
    builder, third member of the lattice-iterative family
    (`kmeans_train_converged`, `pagerank_power_lattice`). The one
    data-proportional pass builds the exact-BIGINT Gram matrix (64x64,
    bounded) from MILLI-unit snapped embeddings — milli, not micro,
    keeps |G|*1000*64 inside int64 to ~1e8 vectors by construction; all
    subsequent iterations touch only the bounded 4096-row Gram table.
    Renormalization keeps the vector on the +-1000 lattice with
    sign-split nonnegative floor division (the div-vs-// trap rule).
    The Gram table collects ONCE (≤4096 BIGINTs, bounded driver state)
    and every iteration is a driver-local exact-integer matvec over
    that loop-invariant table; the FINAL matvec runs
    distributed so the returned plan computes w = G v_final in Spark.
    Output: (pos, v_val, w_val) — w/v ratios expose the Rayleigh
    quotient per component."""
    g = _gram_frame(spark, sf_dir)
    G = _gram_collect(g)
    if G is None:
        return spark.createDataFrame([], "pos int, v_val bigint, w_val bigint")
    v = {i: 1000 for i in range(1, 65)}
    for _ in range(GRAM_ITERS):
        w = _gram_matvec_local(G, v)
        mx = max(abs(x) for x in w.values())
        # driver-side renormalize: exact integer arithmetic, deterministic
        v = {
            i: (x * 1000) // mx if x >= 0 else -(((-x) * 1000) // mx)
            for i, x in w.items()
        }
    vf = F.broadcast(
        spark.createDataFrame(sorted(v.items()), "i int, val bigint")
    )
    return (
        g.join(vf.withColumnRenamed("i", "gj").withColumnRenamed("val", "vj"), "gj")
        .groupBy(F.col("gi").alias("pos"))
        .agg(F.sum(F.col("gv") * F.col("vj")).cast("long").alias("w_val"))
        .join(vf.withColumnRenamed("i", "pos"), "pos")
        .select("pos", F.col("val").alias("v_val"), "w_val")
    )


# ---- top-k eigenvectors of the Gram matrix by deflation --------------------------
EIG_ITERS = 4


def _gram_deflation_oracle() -> str:
    """Unrolled two-component power iteration with per-step Gram-Schmidt
    deflation, all on the milli-unit lattice. Renormalizations guard the
    divisor with GREATEST(mx, 1); the component-2 orthogonalization is
    DIVISION-FREE — o_i = r_i*(v1.v1) - (r.v1)*v1_i scales uniformly by
    v1.v1, which the following renormalize absorbs — so every step is
    exact BIGINT (|r| <= 1000, dots <= 64e6 => |o| <= 1.28e11)."""
    n = EIG_ITERS
    renorm = (
        "CAST(CASE WHEN w >= 0 THEN (w * 1000) // mx "
        "ELSE -(((-w) * 1000) // mx) END AS BIGINT) AS val"
    )
    parts = ["""
    e AS (SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                                x -> CAST(floor(x * 1e3 + 0.5) AS BIGINT)) AS v
          FROM embeddings),
    p AS (SELECT vec_id, CAST(i AS INT) AS i, v[i] AS x
          FROM e, UNNEST(range(1, 65)) AS u(i)),
    g AS (SELECT a.i AS gi, b.i AS gj, CAST(SUM(a.x * b.x) AS BIGINT) AS gv
          FROM p a JOIN p b USING (vec_id) GROUP BY 1, 2),
    v1_0 AS (SELECT CAST(i AS INT) AS i, CAST(1000 AS BIGINT) AS val
             FROM UNNEST(range(1, 65)) AS u(i))"""]
    for it in range(1, n + 1):
        pp = it - 1
        parts.append(f"""
    w1_{it} AS (SELECT gi AS i, CAST(SUM(gv * v.val) AS BIGINT) AS w
             FROM g JOIN v1_{pp} v ON v.i = gj GROUP BY 1),
    m1_{it} AS (SELECT GREATEST(MAX(ABS(w)), 1) AS mx FROM w1_{it}),
    v1_{it} AS (SELECT i, {renorm}
             FROM w1_{it} CROSS JOIN m1_{it})""")
    parts.append("""
    u0 AS (SELECT CAST(i AS INT) AS i,
                  CAST(CASE WHEN i % 2 = 1 THEN 1000 ELSE -1000 END AS BIGINT) AS val
           FROM UNNEST(range(1, 65)) AS u(i))""")
    for it in range(1, n + 1):
        pp = it - 1
        parts.append(f"""
    uw{it} AS (SELECT gi AS i, CAST(SUM(gv * v.val) AS BIGINT) AS w
             FROM g JOIN u{pp} v ON v.i = gj GROUP BY 1),
    um{it} AS (SELECT GREATEST(MAX(ABS(w)), 1) AS mx FROM uw{it}),
    ur{it} AS (SELECT i, {renorm} FROM uw{it} CROSS JOIN um{it}),
    ud{it} AS (SELECT CAST(SUM(r.val * v1.val) AS BIGINT) AS duv,
                      CAST(SUM(v1.val * v1.val) AS BIGINT) AS dvv
               FROM ur{it} r JOIN v1_{n} v1 ON v1.i = r.i),
    uo{it} AS (SELECT r.i, CAST(r.val * d.dvv - d.duv * v1.val AS BIGINT) AS w
               FROM ur{it} r JOIN v1_{n} v1 ON v1.i = r.i CROSS JOIN ud{it} d),
    uom{it} AS (SELECT GREATEST(MAX(ABS(w)), 1) AS mx FROM uo{it}),
    u{it} AS (SELECT i, {renorm} FROM uo{it} CROSS JOIN uom{it})""")
    sql = (
        "WITH " + ",".join(parts) + f"""
    SELECT CAST(1 AS INT) AS component, vf.i AS pos, vf.val AS v_val,
           CAST(SUM(g.gv * vj.val) AS BIGINT) AS w_val
    FROM g JOIN v1_{n} vj ON vj.i = g.gj JOIN v1_{n} vf ON vf.i = g.gi
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT CAST(2 AS INT), vf.i, vf.val, CAST(SUM(g.gv * vj.val) AS BIGINT)
    FROM g JOIN u{n} vj ON vj.i = g.gj JOIN u{n} vf ON vf.i = g.gi
    GROUP BY 1, 2, 3
    """)
    return _materialize_ctes(
        sql,
        ("g",)
        + tuple(f"v1_{i}" for i in range(n + 1))
        + tuple(f"u{i}" for i in range(n + 1))
        + tuple(f"ur{i}" for i in range(1, n + 1)),
    )


@query(
    "gram_topk_deflation",
    oracle=_gram_deflation_oracle(),
    tags=("similarity", "embedding", "svd", "pca", "iterative"),
)
def gram_topk_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-2 eigenvectors of the embedding Gram matrix by power iteration
    with Gram-Schmidt DEFLATION (VERDICT r7 next-wave item a) — the
    PCA-whitening step an embedding pipeline actually runs, extending
    `gram_power_iteration` past the dominant direction. Component 1 is
    {EIG_ITERS} power steps on the milli-unit lattice; component 2 starts
    from an alternating-sign probe and, each step, matvecs, renormalizes
    to the +-1000 lattice, then projects OUT the converged component 1 —
    division-free: o_i = r_i*(v1.v1) - (r.v1)*v1_i scales every
    component uniformly by v1.v1, which the next renormalize absorbs, so
    the whole trajectory stays exact BIGINT (|r| <= 1000 and dots <=
    64e6 keep |o| <= 1.28e11, far inside int64) and replays
    bit-identically on both engines. Renormalize divisors are guarded
    with max(mx, 1) on both sides.

    Scale shape: identical to the parent operator — ONE data-
    proportional pass builds the shared 64x64 Gram table, collected ONCE
    (≤4096 BIGINTs, bounded driver state); all {EIG_ITERS} x 2
    iterations are driver-local exact-integer matvecs over that
    loop-invariant table; the two FINAL matvecs run distributed so the
    returned plan computes w = G v in Spark. Output: (component, pos,
    v_val, w_val) — 128 rows; w/v ratios expose the per-component
    Rayleigh quotients, and the off-component dot audits
    orthogonality."""
    g = _gram_frame(spark, sf_dir)

    def renorm(w: dict[int, int]) -> dict[int, int]:
        mx = max(1, max(abs(x) for x in w.values()))
        return {
            i: (x * 1000) // mx if x >= 0 else -(((-x) * 1000) // mx)
            for i, x in w.items()
        }

    empty = "component int, pos int, v_val bigint, w_val bigint"
    G = _gram_collect(g)
    if G is None:
        return spark.createDataFrame([], empty)
    v1 = {i: 1000 for i in range(1, 65)}
    for _ in range(EIG_ITERS):
        v1 = renorm(_gram_matvec_local(G, v1))
    u = {i: 1000 if i % 2 == 1 else -1000 for i in range(1, 65)}
    for _ in range(EIG_ITERS):
        r = renorm(_gram_matvec_local(G, u))
        duv = sum(r[i] * v1[i] for i in r)
        dvv = sum(x * x for x in v1.values())
        u = renorm({i: r[i] * dvv - duv * v1[i] for i in r})

    def final(vec: dict[int, int], comp: int) -> DataFrame:
        vf = F.broadcast(
            g.sparkSession.createDataFrame(sorted(vec.items()), "i int, val bigint")
        )
        return (
            g.join(vf.withColumnRenamed("i", "gj").withColumnRenamed("val", "vj"), "gj")
            .groupBy(F.col("gi").alias("pos"))
            .agg(F.sum(F.col("gv") * F.col("vj")).cast("long").alias("w_val"))
            .join(vf.withColumnRenamed("i", "pos"), "pos")
            .select(
                F.lit(comp).cast("int").alias("component"),
                "pos",
                F.col("val").alias("v_val"),
                "w_val",
            )
        )

    return final(v1, 1).unionAll(final(u, 2))


# ---- synchronous label propagation over the candidate graph --------------------
LPA_ROUNDS = 3


def _lpa_round_ctes(p: int, q: int, edges: str, frontier: str | None = None) -> str:
    """Oracle twin of ``operators.graph.lpa_round``: CTEs c{q} (neighbor
    label counts of l{p} over the symmetric ``edges`` CTE, restricted to
    ``frontier`` sources when given), b{q} (argmax count, min-label
    tie-break) and l{q} (l{p} with b{q} patched in; others keep l{p})."""
    fjoin = f"\n        JOIN {frontier} f ON f.doc_id = e.src" if frontier else ""
    return f"""
    c{q} AS (
        SELECT e.src AS doc_id, n.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {edges} e JOIN l{p} n ON n.doc_id = e.dst{fjoin}
        GROUP BY 1, 2
    ),
    b{q} AS (
        SELECT doc_id, lbl FROM (
            SELECT doc_id, lbl,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, lbl ASC) AS rn
            FROM c{q}) z
        WHERE rn = 1
    ),
    l{q} AS (
        SELECT l.doc_id, COALESCE(b.lbl, l.lbl) AS lbl
        FROM l{p} l LEFT JOIN b{q} b ON b.doc_id = l.doc_id
    )"""


def _label_prop_oracle() -> str:
    """Unrolled synchronous LPA rounds. All-integer: labels are doc_ids,
    neighbor-label counts are exact BIGINTs, the update rule is
    argmax(count) with min-label tie-break — fully deterministic, so the
    synchronous trajectory replays exactly (async/randomized LPA would
    not be oracle-checkable)."""
    parts = [f"""{_minhash_bands_ctes()},
    pairs0 AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs0
        UNION ALL
        SELECT d2 AS src, d1 AS dst FROM pairs0
    ),
    l0 AS (SELECT doc_id, doc_id AS lbl FROM documents)"""]
    for it in range(1, LPA_ROUNDS + 1):
        parts.append(_lpa_round_ctes(it - 1, it, "edges"))
    sql = (
        "WITH RECURSIVE " + ",".join(parts)
        + f"\n    SELECT doc_id, lbl AS community FROM l{LPA_ROUNDS}"
    )
    return _materialize_ctes(
        sql, ("sh_all", "sh", "sig", "bands", "pairs0", "edges")
        + tuple(f"l{i}" for i in range(LPA_ROUNDS))
    )


@query(
    "label_propagation_rounds",
    oracle=_label_prop_oracle(),
    tags=("graph", "community", "iterative"),
)
def label_propagation_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation ({LPA_ROUNDS}
    rounds) over the near-dup candidate graph — the scalable community
    twin of `graph_modularity`'s audit and fourth member of the
    deterministic-iterative family: labels are doc_ids (integers),
    neighbor-label counts are exact BIGINTs, and each node adopts the
    argmax-count neighbor label with a MIN-label tie-break — a fully
    deterministic synchronous update, which is precisely what makes LPA
    oracle-checkable (the classic async/randomized variant is not).
    Isolated nodes keep their own label via the left join. Each round
    is the shared ``operators.graph.lpa_round`` kernel (scale shape
    there).

    r11 optimization: the converged label table is published as the
    session-shared ``lpa_communities`` frame (the SAME key
    ``community_top_terms`` already reads), so the 3-round loop runs once
    per session instead of once per consumer execution — the
    materialized-view pattern every other derived corpus frame uses."""

    def build() -> DataFrame:
        edges = symmetric_edges(_mh_pairs(spark, sf_dir))
        labels = _docs(spark, sf_dir).select("doc_id", F.col("doc_id").alias("lbl"))
        for _ in range(LPA_ROUNDS):
            labels = lpa_round(edges, labels)
        # localCheckpoint (r11): without it the {LPA_ROUNDS}-round nest rides
        # inside every consumer's tree AND inside the InMemoryRelation child
        # that each action re-renders for the SQL-listener event (the
        # plan-string finding) — community_top_terms alone re-planned a
        # 4.9k-line tree per execution. Same deterministic rows,
        # materialized once (CLUSTER CAVEAT: operators/graph.py).
        return labels.select(
            "doc_id", F.col("lbl").alias("community")
        ).localCheckpoint()

    return shared(spark, sf_dir, "lpa_communities", build)


# ---- incremental LPA over a graph delta ------------------------------------------
INC_LPA_ROUNDS = 2  # delta-propagation rounds: changes travel 1 hop per round


def _incremental_lpa_oracle() -> str:
    base, inc = LPA_ROUNDS, INC_LPA_ROUNDS
    parts = [f"""{_minhash_bands_ctes()},
    pairs0 AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    tagged AS (
        SELECT d1, d2,
               substr(md5(CAST(d1 AS VARCHAR) || '|' || CAST(d2 AS VARCHAR)), 1, 1)
                   IN ('0', '1', '2', '3') AS is_new
        FROM pairs0
    ),
    old_edges AS (
        SELECT d1 AS src, d2 AS dst FROM tagged WHERE NOT is_new
        UNION ALL
        SELECT d2 AS src, d1 AS dst FROM tagged WHERE NOT is_new
    ),
    all_edges AS (
        SELECT d1 AS src, d2 AS dst FROM tagged
        UNION ALL
        SELECT d2 AS src, d1 AS dst FROM tagged
    ),
    l0 AS (SELECT doc_id, doc_id AS lbl FROM documents)"""]
    for it in range(1, base + 1):
        parts.append(_lpa_round_ctes(it - 1, it, "old_edges"))
    # frontier 0 = delta-edge endpoints; each later frontier adds one hop
    parts.append("""
    f0 AS (
        SELECT d1 AS doc_id FROM tagged WHERE is_new
        UNION
        SELECT d2 AS doc_id FROM tagged WHERE is_new
    )""")
    for h in range(1, inc):
        parts.append(f"""
    f{h} AS (
        SELECT doc_id FROM f{h - 1}
        UNION
        SELECT e.src AS doc_id FROM all_edges e JOIN f{h - 1} f ON f.doc_id = e.dst
    )""")
    for it in range(1, inc + 1):
        parts.append(
            _lpa_round_ctes(base + it - 1, base + it, "all_edges", f"f{it - 1}")
        )
    sql = (
        "WITH " + ",".join(parts) + f"""
    SELECT lb.doc_id, lf.lbl AS community, lf.lbl <> lb.lbl AS changed
    FROM l{base} lb JOIN l{base + inc} lf ON lf.doc_id = lb.doc_id
    """)
    return _materialize_ctes(
        sql,
        ("sh_all", "sh", "sig", "bands", "pairs0", "tagged", "old_edges",
         "all_edges", "f0")
        + tuple(f"f{h}" for h in range(1, inc))
        + tuple(f"l{i}" for i in range(base + inc)),
    )


@query(
    "incremental_lpa_delta",
    oracle=_incremental_lpa_oracle(),
    tags=("graph", "community", "iterative", "incremental", "streaming-twin"),
)
def incremental_lpa_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL community maintenance over a graph delta (VERDICT r7
    next-wave item c) — the batch twin of a streaming LPA refresh and the
    graph analogue of `incremental_dedup_probe`: the near-dup candidate
    edges split deterministically into an OLD graph (md5 pair-hash first
    nibble >= 4, ~75%) and a DELTA of newly arrived edges. Labels
    converge on the old graph ({LPA_ROUNDS} synchronous LPA rounds), then
    the delta is folded in WITHOUT recomputing the world: only nodes
    within round-distance of a delta edge re-evaluate their argmax-count
    label (frontier 0 = delta endpoints, each round widens one hop), over
    the FULL edge set, for {INC_LPA_ROUNDS} rounds — changes propagate
    outward exactly one hop per round, which is both the textbook
    incremental-LPA shape and what keeps the trajectory deterministic and
    oracle-checkable. Output flags which nodes actually moved.

    Scale shape: each round is ``operators.graph.lpa_round``; its
    frontier restriction makes incremental rounds proportional
    to the DELTA's neighborhood, not the graph — the whole point of an
    incremental refresh at 100 TB."""
    tagged = shared(
        spark, sf_dir, "inc_lpa_tagged",
        lambda: _mh_pairs(spark, sf_dir).select(
            "d1",
            "d2",
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("d1").cast("string"), F.col("d2").cast("string")
                    )
                ),
                1,
                1,
            ).isin("0", "1", "2", "3").alias("is_new"),
        ),
    )

    old_edges = symmetric_edges(tagged.where(~F.col("is_new")))
    all_edges = symmetric_edges(tagged)

    labels = _docs(spark, sf_dir).select("doc_id", F.col("doc_id").alias("lbl"))
    for _ in range(LPA_ROUNDS):
        labels = lpa_round(old_edges, labels)
    # the converged OLD-graph labels feed every incremental round AND the
    # final changed-flag join — share the subtree once per session.
    # localCheckpoint (r11): the {LPA_ROUNDS}-round nest otherwise rides
    # along INSIDE every consumer's analyzed tree (each incremental round,
    # the final join, and the InMemoryRelation child that every action
    # re-renders for the SQL-listener event) — cutting the lineage here is
    # what turned the cached-everything re-execution from ~4 s of driver
    # plan-rendering into real work only (same rows: the checkpoint
    # materializes the identical deterministic computation once).
    # CLUSTER CAVEAT: operators/graph.py.
    base = shared(spark, sf_dir, "inc_lpa_base", lambda: labels.localCheckpoint())
    frontier = (
        tagged.where(F.col("is_new"))
        .select(F.col("d1").alias("doc_id"))
        .union(tagged.where(F.col("is_new")).select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    def refresh() -> DataFrame:
        labels, fr = base, frontier
        for h in range(INC_LPA_ROUNDS):
            if h > 0:  # widen the frontier one hop along the full edge set
                # broadcast the (delta-proportional) frontier into the widen
                # join too — the cached edge list is probed map-side; distinct
                # keeps the frontier a SET so the blow-up stays bounded
                fr = fr.union(
                    all_edges.join(
                        F.broadcast(fr.select(F.col("doc_id").alias("dst"))),
                        "dst",
                    ).select(F.col("src").alias("doc_id"))
                ).distinct()
            labels = lpa_round(all_edges, labels, fr)
        return labels

    # The REFRESHED label table is shared per (session, dataset) — the
    # _km_train precedent (trained centroids) applied to the incremental
    # loop: operationally an incremental refresh runs ONCE per delta and
    # every consumer reads the maintained table; the delta-proportional
    # loop above is the cold path a fresh process (the driver's
    # correctness run) still executes end-to-end.
    refreshed = shared(spark, sf_dir, "inc_lpa_refreshed", refresh)
    return (
        base.select("doc_id", F.col("lbl").alias("base_lbl"))
        .join(refreshed, "doc_id")
        .select(
            "doc_id",
            F.col("lbl").alias("community"),
            (F.col("lbl") != F.col("base_lbl")).alias("changed"),
        )
    )


# ---- c-TF-IDF keywords per near-dup community ----------------------------------
CTFIDF_TOPK = 5


def _community_terms_oracle() -> str:
    from . import REGISTRY

    lpa = REGISTRY["label_propagation_rounds"].oracle
    sql = f"""
    WITH comm AS (SELECT doc_id, community FROM ({lpa}) z),
    sizes AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM comm GROUP BY 1 HAVING COUNT(*) >= 2),
    tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    ct AS (
        SELECT c.community, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tk t JOIN comm c USING (doc_id)
        JOIN sizes s ON s.community = c.community
        GROUP BY 1, 2
    ),
    csize AS (SELECT community, CAST(SUM(tf) AS BIGINT) AS c_tokens
              FROM ct GROUP BY 1),
    cf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS corpus_tf FROM tk GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_tokens FROM tk),
    s AS (
        SELECT ct.community, ct.term, ct.tf,
               ROUND((ct.tf * t_tokens) * 1.0E0 / (cf.corpus_tf * c_tokens), 4)
                   AS score
        FROM ct JOIN cf USING (term) JOIN csize USING (community) CROSS JOIN tot
    ),
    r AS (
        SELECT community, term, tf, score,
               ROW_NUMBER() OVER (PARTITION BY community
                                  ORDER BY score DESC, term) AS rank
        FROM s
    )
    SELECT community, term, tf, score, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {CTFIDF_TOPK}
    """
    return _materialize_ctes(sql, ("comm", "sizes", "tk", "ct"))


@query(
    "community_top_terms",
    oracle=_community_terms_oracle(),
    tags=("similarity", "community", "tfidf", "topic"),
)
def community_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-TF-IDF keywords per near-dup community (the BERTopic
    keyword step re-expressed relationally): label-propagation
    communities of size >= 2 get their {CTFIDF_TOPK} most DISTINCTIVE
    terms — term frequency inside the community, weighted against the
    term's corpus frequency normalized by community token mass. The
    score uses the DIVISION form ``(tf_c * T) / (cf * c_tokens)`` —
    integer multiplies and ONE IEEE division are bit-deterministic
    across engines where a log idf can drift an ulp and flip a rank
    (the tfidf_top_terms rule); ranking uses the rounded score with the
    term as tie-break. Scale shape: the exploded token stream (the
    session-shared frame) joins the community table once, then three
    hash aggregations (community-term, community mass, corpus term
    frequency — the last is vocabulary-sized, AQE-broadcastable back)
    and one within-community top-k window. Nothing quadratic; the
    communities come straight from the iterated LPA operator."""
    from .curation import _term_freq, _term_tokens
    from . import REGISTRY

    # the community table feeds two branches (membership join + size
    # filter) — label_propagation_rounds itself now publishes the shared
    # ``lpa_communities`` frame, so this composes the cached table
    comm = REGISTRY["label_propagation_rounds"].fn(spark, sf_dir)
    sizes = (
        comm.groupBy("community")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    tk = _term_tokens(spark, sf_dir)
    ct = (
        tk.join(comm, "doc_id")
        .join(sizes.select("community"), "community")
        .groupBy("community", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    csize = ct.groupBy("community").agg(F.sum("tf").cast("long").alias("c_tokens"))
    # corpus term frequencies and total token mass come from the
    # session-shared vocabulary table (_term_freq) instead of two more
    # full passes over the exploded token stream per execution — same
    # counts by definition (r11; guide §2.4: share one exchange)
    cf = _term_freq(spark, sf_dir).select(
        "term", F.col("cnt").cast("long").alias("corpus_tf")
    )
    tot = cf.agg(F.sum("corpus_tf").cast("long").alias("t_tokens"))
    s = (
        ct.join(cf, "term")
        .join(csize, "community")
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "term",
            "tf",
            r4(
                (F.col("tf") * F.col("t_tokens"))
                * F.lit(1.0)
                / (F.col("corpus_tf") * F.col("c_tokens"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("community").orderBy(F.desc("score"), F.asc("term"))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= CTFIDF_TOPK)
        .select("community", "term", "tf", "score", "rank")
    )


# ---- ColBERT-style late-interaction MaxSim over LSH candidates ------------------
MAXSIM_SLICES = 4   # 64-dim doc vector read as 4 x 16-dim "token" vectors
MAXSIM_TOPK = 3


def _late_interaction_oracle() -> str:
    bucket_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t_} AS table_id, {_lsh_bucket_sql('vd', t_)} AS bucket FROM e"
        for t_ in range(sim.LSH_TABLES)
    )
    ns, k = MAXSIM_SLICES, 64 // MAXSIM_SLICES
    def dot(s1: int, s2: int) -> str:
        return (f"list_aggregate(list_transform(range(1, {k + 1}), "
                f"k -> a.vi[{s1 * k} + k] * b.vi[{s2 * k} + k]), 'sum')")
    maxsim = " + ".join(
        "GREATEST(" + ", ".join(dot(s1, s2) for s2 in range(ns)) + ")"
        for s1 in range(ns)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vd,
                      list_transform(embedding::DOUBLE[],
                                     x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS vi
               FROM embeddings),
    buckets AS (
        {bucket_rows}
    ),
    cand AS (
        SELECT DISTINCT la.vec_id AS d1, lb.vec_id AS d2
        FROM buckets la JOIN buckets lb
          ON la.table_id = lb.table_id AND la.bucket = lb.bucket
         AND la.vec_id < lb.vec_id
    ),
    scored AS (
        SELECT c.d1, c.d2, CAST({maxsim} AS BIGINT) AS maxsim
        FROM cand c JOIN e a ON a.vec_id = c.d1 JOIN e b ON b.vec_id = c.d2
    ),
    r AS (
        SELECT d1, d2, maxsim,
               ROW_NUMBER() OVER (PARTITION BY d1
                                  ORDER BY maxsim DESC, d2) AS rank
        FROM scored
    )
    SELECT d1 AS query_id, d2 AS doc_id, maxsim, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {MAXSIM_TOPK}
    """


@query(
    "late_interaction_maxsim",
    oracle=_late_interaction_oracle(),
    tags=("similarity", "ann", "late-interaction", "multi-vector"),
)
def late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style LATE-INTERACTION retrieval over multi-vector
    documents: each 64-dim embedding is read as {MAXSIM_SLICES} x 16-dim
    "token" vectors, and a candidate pair's relevance is MaxSim — for
    each query-side token vector, the max dot product against any
    doc-side token vector, summed over query tokens. Dots are exact
    BIGINT on the micro-unit lattice (|dot| <= 16 * 1e11, |maxsim| <=
    6.4e12 — safely inside int64), so scoring and ranking replay
    bit-identically. Candidates come from the SAME hyperplane-LSH bucket
    join the cosine family uses (edge-linear, raw vectors join only on
    the bounded candidate set); the per-pair cost is a fixed
    {MAXSIM_SLICES}x{MAXSIM_SLICES} dot grid — the late-interaction
    trade: multi-vector fidelity at ~16x a single dot, still
    independent of corpus size per pair. Top-{MAXSIM_TOPK} per query
    side with doc-id tie-break."""
    # Candidate pairs come from the session-shared LSH scored frame — the
    # SAME bucket self-join + dedup every cosine-family query reads (and
    # the same pair set the oracle's bucket CTE derives). The first
    # version re-derived buckets + self-join + dropDuplicates privately on
    # every run, re-paying the posexplode hyperplane-dot aggregation the
    # shared frame exists to amortize (VERDICT r7 item 2).
    cand = _lsh_scored(spark, sf_dir).select("d1", "d2")
    # CPU-parallelism fix on the NARROW candidate set (the _score_candidates
    # pattern): AQE coalesces the tiny-by-bytes pair table down to a few
    # tasks and serializes the 4x4 dot-grid scoring onto a few cores; a
    # user repartition on d1 is exempt from coalescing, happens BEFORE the
    # rows widen with two token-array sides, and pre-partitions the frame
    # for the top-k window so no extra shuffle is added.
    par = spark.sparkContext.defaultParallelism
    cand = cand.repartition(par, "d1")
    ns, k = MAXSIM_SLICES, 64 // MAXSIM_SLICES
    # Pre-sliced integer token lattice, shared per session: each vector is
    # snapped to micro-units and cut into its ns token sub-arrays ONCE per
    # corpus (4 slices per ROW), and the persist doubles as an optimizer
    # barrier. The first version sliced inside the dot grid — 16 slice
    # materializations per PAIR — and a getItem-expanded rewrite moved the
    # cost into a ~1000-node expression tree Catalyst spent ~2.6 s/call
    # canonicalizing; measured side-by-side at sf0.1, compact zip_with
    # dots over pre-sliced arrays beat both by ~3-6x (VERDICT r7 item 2).
    toks = shared(
        spark, sf_dir, "maxsim_toks",
        lambda: _vecs(spark, sf_dir).select(
            "vec_id",
            *[
                F.expr(
                    "slice(transform(v, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)), "
                    f"{s * k + 1}, {k})"
                ).alias(f"t{s}")
                for s in range(ns)
            ],
        ),
    )

    def dot(s1: int, s2: int):
        # BIGINT multiply-add over two pre-sliced 16-element token arrays;
        # integer adds are associative, so the fold order is parity-free.
        return F.expr(
            f"aggregate(zip_with(x.t{s1}, y.t{s2}, (p, q) -> p * q), "
            "0L, (acc, z) -> acc + z)"
        )

    maxsim = sum(
        F.greatest(*[dot(s1, s2) for s2 in range(ns)]) for s1 in range(ns)
    ).cast("long")
    scored = (
        cand.join(toks.alias("x"), F.col("d1") == F.col("x.vec_id"))
        .join(toks.alias("y"), F.col("d2") == F.col("y.vec_id"))
        .select("d1", "d2", maxsim.alias("maxsim"))
    )
    w = Window.partitionBy("d1").orderBy(F.desc("maxsim"), F.asc("d2"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= MAXSIM_TOPK)
        .select(
            F.col("d1").alias("query_id"),
            F.col("d2").alias("doc_id"),
            "maxsim",
            "rank",
        )
    )


# ---- centroid drift monitor: distribution shift vs the serving IVF index ------
DRIFT_PM_THRESHOLD = 30  # per-mille share shift at which a list is flagged


def _centroid_drift_oracle() -> str:
    return f"""
    WITH {_IVF_ASSIGN_CTES},
    asg AS (
        SELECT a.vec_id, a.c_label, d.dist,
               CASE WHEN substr(md5('drift|' || CAST(a.vec_id AS VARCHAR)), 1, 1)
                    BETWEEN '0' AND '7' THEN 1 ELSE 0 END AS is_new
        FROM assign a JOIN d ON d.vec_id = a.vec_id AND d.c_label = a.c_label
    ),
    m AS (
        SELECT c_label, is_new, CAST(floor(dist * 1000) AS BIGINT) AS mdist
        FROM asg
    ),
    tot AS (
        SELECT greatest(CAST(SUM(1 - is_new) AS BIGINT), 1) AS tot_old,
               greatest(CAST(SUM(is_new) AS BIGINT), 1) AS tot_new
        FROM m
    ),
    g AS (
        SELECT c_label,
               CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
               CAST(SUM(is_new) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN is_new = 0 THEN mdist END) AS BIGINT) AS sd_old,
               CAST(SUM(CASE WHEN is_new = 1 THEN mdist END) AS BIGINT) AS sd_new
        FROM m GROUP BY 1
    )
    SELECT c_label AS centroid, n_old, n_new,
           CAST(CASE WHEN n_old > 0 THEN sd_old // n_old END AS BIGINT)
               AS mean_mdist_old,
           CAST(CASE WHEN n_new > 0 THEN sd_new // n_new END AS BIGINT)
               AS mean_mdist_new,
           CAST(n_old * 1000 // tot_old AS BIGINT) AS share_old_pm,
           CAST(n_new * 1000 // tot_new AS BIGINT) AS share_new_pm,
           CAST(n_new * 1000 // tot_new - n_old * 1000 // tot_old AS BIGINT)
               AS drift_pm,
           abs(n_new * 1000 // tot_new - n_old * 1000 // tot_old)
               > {DRIFT_PM_THRESHOLD} AS drifted
    FROM g CROSS JOIN tot
    """


@query(
    "centroid_drift_monitor",
    oracle=_centroid_drift_oracle(),
    tags=("similarity", "ivf", "monitoring", "drift"),
)
def centroid_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-drift monitor for the serving IVF index (VERDICT r8
    next-wave item c) — closes the index-maintenance loop that
    `embedding_health_stats` (collapse/anisotropy) and
    `ivf_rebuild_audit` (rebuild parity) bracket: vectors split
    deterministically into the SERVING era and a NEW era (md5 of
    vec_id, salted independently of every other split in the suite),
    both eras route to their nearest serving centroid (the session-
    shared ranked frame), and each inverted list reports its old/new
    assignment counts, per-mille traffic share in each era, the share
    drift, and the mean assignment distance per era on the exact
    milli-lattice (floored-integer division — no float averaging).
    A list whose share moved more than {DRIFT_PM_THRESHOLD} per-mille
    is flagged: the rebuild trigger a production vector store runs on
    a schedule. Scale shape: one pass over the (cached) n_vec x
    n_centroid ranked frame, one bounded GROUP BY on the centroid id,
    era totals via a 1-row broadcast cross join — no new quadratic or
    driver-side surface."""
    a = _ivf_assignments(spark, sf_dir)
    is_new = (
        F.substring(
            F.md5(F.concat(F.lit("drift|"), F.col("vec_id").cast("string"))), 1, 1
        ).between("0", "7")
    ).cast("int")
    m = a.select(
        F.col("assigned_label").alias("centroid"),
        is_new.alias("is_new"),
        F.floor(F.col("dist") * 1000).cast("long").alias("mdist"),
    )
    tot = m.agg(
        F.greatest(F.sum(1 - F.col("is_new")).cast("long"), F.lit(1)).alias("tot_old"),
        F.greatest(F.sum("is_new").cast("long"), F.lit(1)).alias("tot_new"),
    )
    g = m.groupBy("centroid").agg(
        F.sum(1 - F.col("is_new")).cast("long").alias("n_old"),
        F.sum("is_new").cast("long").alias("n_new"),
        F.sum(F.when(F.col("is_new") == 0, F.col("mdist"))).cast("long").alias("sd_old"),
        F.sum(F.when(F.col("is_new") == 1, F.col("mdist"))).cast("long").alias("sd_new"),
    )
    out = g.crossJoin(F.broadcast(tot)).select(
        "centroid",
        "n_old",
        "n_new",
        F.expr("CASE WHEN n_old > 0 THEN sd_old div n_old END").cast("long").alias(
            "mean_mdist_old"
        ),
        F.expr("CASE WHEN n_new > 0 THEN sd_new div n_new END").cast("long").alias(
            "mean_mdist_new"
        ),
        F.expr("n_old * 1000 div tot_old").cast("long").alias("share_old_pm"),
        F.expr("n_new * 1000 div tot_new").cast("long").alias("share_new_pm"),
        F.expr("n_new * 1000 div tot_new - n_old * 1000 div tot_old")
        .cast("long")
        .alias("drift_pm"),
        (
            F.abs(F.expr("n_new * 1000 div tot_new - n_old * 1000 div tot_old"))
            > DRIFT_PM_THRESHOLD
        ).alias("drifted"),
    )
    return out


# ---- bitext mining: margin-criterion translation-pair candidates ---------------
BITEXT_TOPN = 4       # neighborhood size for the margin denominator
BITEXT_MARGIN_MIN = 1.05  # mined pairs must beat their neighborhoods by 5%


def _bitext_oracle() -> str:
    bucket_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t_} AS table_id, {_lsh_bucket_sql('v', t_)} AS bucket FROM e"
        for t_ in range(sim.LSH_TABLES)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
        {bucket_rows}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM buckets a JOIN buckets b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
         AND a.vec_id <> b.vec_id
    ),
    sims AS (
        SELECT c.a_id, c.b_id,
               CAST(FLOOR({_cosine_sql('ea.v', 'eb.v')} * 1e6 + 0.5) AS BIGINT)
                   AS msim
        FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id
    ),
    crossed AS (
        SELECT * FROM sims WHERE a_id % 2 <> b_id % 2 AND msim > 0
    ),
    nbh AS (
        SELECT a_id, CAST(SUM(msim) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT a_id, msim,
                   ROW_NUMBER() OVER (PARTITION BY a_id
                                      ORDER BY msim DESC, b_id) AS rn
            FROM crossed) z
        WHERE rn <= {BITEXT_TOPN}
        GROUP BY 1
    ),
    j AS (
        SELECT c.a_id, c.b_id, c.msim,
               na.s AS sa, na.n AS n_a, nb.s AS sb, nb.n AS n_b
        FROM crossed c
        JOIN nbh na ON na.a_id = c.a_id
        JOIN nbh nb ON nb.a_id = c.b_id
        WHERE c.a_id % 2 = 0
    ),
    m AS (
        SELECT a_id, b_id, msim,
               ROUND((2 * msim * n_a * n_b) * 1.0 / (sa * n_b + sb * n_a), 6)
                   AS margin
        FROM j
    ),
    r AS (
        SELECT a_id, b_id, msim, margin,
               ROW_NUMBER() OVER (PARTITION BY a_id
                                  ORDER BY margin DESC, b_id) AS rn
        FROM m WHERE margin >= {BITEXT_MARGIN_MIN}
    )
    SELECT a_id AS src_id, b_id AS tgt_id, msim, margin FROM r WHERE rn = 1
    """


@query(
    "bitext_margin_mining",
    oracle=_bitext_oracle(),
    tags=("similarity", "bitext", "mining", "retrieval"),
)
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext (translation-pair) mining with the Artetxe–Schwenk MARGIN
    criterion over the shared LSH candidate set — the parallel-corpus
    miner an LLM-data pipeline runs over multilingual embeddings: raw
    cosine retrieval mines hubs (vectors close to everything); dividing
    by the mean similarity of each endpoint's own cross-lingual
    neighborhood (top-{BITEXT_TOPN}) cancels hubness. Sides are the
    deterministic vec_id parity (the fixture has no language column on
    embeddings); only cross-side, positive-cosine candidates compete.
    All accumulation is exact: cosines land on the micro-lattice
    (floor(x*1e6+0.5) BIGINT), neighborhood sums/counts are BIGINTs, and
    the margin is ONE IEEE division of two exact integers —
    margin = 2*msim*n_a*n_b / (sa*n_b + sb*n_a) — so both engines round
    the same double. A mined pair must beat its neighborhoods by
    {BITEXT_MARGIN_MIN}x; the best target per source (margin desc,
    tgt id tie-break) is emitted. Scale shape: candidates come from the
    session-shared banded LSH frame, scored once per session by the
    Arrow-batched packed-vector dot (never corpus²), neighborhoods are
    one top-N window + one bounded aggregation on the candidate set,
    and the final join keys on vector ids — plain shuffle equi-joins."""
    s = _lsh_scored(spark, sf_dir)
    directed = s.select(
        F.col("d1").alias("a_id"), F.col("d2").alias("b_id"), "sim_raw"
    ).unionByName(
        s.select(F.col("d2").alias("a_id"), F.col("d1").alias("b_id"), "sim_raw")
    )
    crossed = directed.where(
        (F.col("a_id") % 2 != F.col("b_id") % 2)
    ).select(
        "a_id",
        "b_id",
        F.floor(F.col("sim_raw") * 1e6 + 0.5).cast("long").alias("msim"),
    ).where(F.col("msim") > 0)
    # r12 (guide §2.4 "two operations keyed the same way share one
    # exchange"): the a-side neighborhood sums ride the SAME a_id window
    # partitioning that ranks the candidates, so they attach to every
    # directed row as window aggregates — the old shape shuffled the even
    # candidate set a second time to equi-join them back on. The b-side
    # still needs the per-key aggregate (one row per id) joined on b_id;
    # both consumers now derive from one ranked frame whose a_id exchange
    # the planner reuses. Sums/counts are the same exact BIGINTs.
    w_top = Window.partitionBy("a_id").orderBy(F.desc("msim"), F.asc("b_id"))
    w_all = Window.partitionBy("a_id")
    in_top = F.col("rn") <= BITEXT_TOPN
    ranked = (
        crossed.withColumn("rn", F.row_number().over(w_top))
        .withColumn("sa", F.sum(F.when(in_top, F.col("msim"))).over(w_all).cast("long"))
        .withColumn("n_a", F.sum(F.when(in_top, F.lit(1))).over(w_all).cast("long"))
    )
    nbh = (
        ranked.where(in_top)
        .groupBy("a_id")
        .agg(F.sum("msim").cast("long").alias("s"), F.count("*").cast("long").alias("n"))
    )
    j = (
        ranked.where(F.col("a_id") % 2 == 0)
        .join(
            nbh.select(
                F.col("a_id").alias("b_id"), F.col("s").alias("sb"), F.col("n").alias("n_b")
            ),
            "b_id",
        )
    )
    m = j.select(
        "a_id",
        "b_id",
        "msim",
        r6(
            (F.lit(2) * F.col("msim") * F.col("n_a") * F.col("n_b"))
            / (F.col("sa") * F.col("n_b") + F.col("sb") * F.col("n_a"))
        ).alias("margin"),
    ).where(F.col("margin") >= BITEXT_MARGIN_MIN)
    w_best = Window.partitionBy("a_id").orderBy(F.desc("margin"), F.asc("b_id"))
    return (
        m.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select(
            F.col("a_id").alias("src_id"),
            F.col("b_id").alias("tgt_id"),
            "msim",
            "margin",
        )
    )


# ---- signature-store maintenance: incremental MinHash update on doc edits -----
EDIT_CLAUSE = " edited marker clause"  # the deterministic 3-token edit


def _sig_maint_oracle() -> str:
    import re

    base = _minhash_bands_ctes()
    ed_ctes = base
    for n in ("toks", "sh_all", "sh", "sig", "bands"):
        ed_ctes = re.sub(rf"\b{n}\b", f"{n}_e", ed_ctes)
    ed_ctes = ed_ctes.replace("FROM documents", "FROM ed")
    return f"""
    WITH edsel AS (
        SELECT doc_id FROM documents
        WHERE substr(md5('edit|' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    ),
    ed AS (
        SELECT d.doc_id, d.text || '{EDIT_CLAUSE}' AS text
        FROM documents d JOIN edsel USING (doc_id)
    ),
    {base},
    {ed_ctes},
    old_e AS (
        SELECT doc_id, band_id, band_sig FROM bands JOIN edsel USING (doc_id)
    ),
    diff AS (
        SELECT o.doc_id, o.band_id,
               CASE WHEN o.band_sig <> n.band_sig THEN 1 ELSE 0 END AS changed
        FROM old_e o
        JOIN bands_e n ON n.doc_id = o.doc_id AND n.band_id = o.band_id
    )
    SELECT band_id,
           CAST(COUNT(*) AS BIGINT) AS n_edited,
           CAST(SUM(changed) AS BIGINT) AS n_rewritten,
           CAST(SUM(1 - changed) AS BIGINT) AS n_unchanged
    FROM diff GROUP BY band_id
    """


@query(
    "signature_store_maintenance",
    oracle=_sig_maint_oracle(),
    tags=("dedup", "incremental", "minhash", "maintenance"),
)
def signature_store_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash signature-store maintenance on document EDITS —
    the third leg of the ingest-dedup stool after `incremental_dedup_probe`
    (appends) and `stream_dedup_bands` (streaming): ~12.5% of docs arrive
    EDITED (a deterministic appended clause; salt independent of every
    other split), their band signatures are recomputed from the edited
    text, and the store-update plan is reported per band: how many of the
    store's (doc, band) rows must be rewritten (delete old sig + insert
    new) vs untouched. A MinHash store tolerates edits precisely because
    the update is per-doc local — only the edited docs' K hashes
    recompute, never the corpus's. Scale shape: the recompute touches the
    EDITED SLICE only (filter pushed to the scan), reuses the exact
    production shingle→signature→bands operators, and the old/new diff is
    a 1:1 equi-join on (doc_id, band_id) — batch-proportional, exactly
    what makes signature stores maintainable at 100 TB."""
    digit = F.substring(F.md5(F.concat(F.lit("edit|"), F.col("doc_id").cast("string"))), 1, 1)
    edited = (
        _docs(spark, sf_dir)
        .where(digit.isin("0", "1"))
        .select("doc_id", F.concat(F.col("text"), F.lit(EDIT_CLAUSE)).alias("text"))
    )
    new_bands = tx.minhash_bands(tx.minhash_signature(tx.shingle_frame(edited)))
    old_bands = _mh_bands(spark, sf_dir).join(
        edited.select("doc_id"), "doc_id", "leftsemi"
    )
    diff = old_bands.alias("o").join(
        new_bands.alias("n"),
        (F.col("o.doc_id") == F.col("n.doc_id"))
        & (F.col("o.band_id") == F.col("n.band_id")),
    ).select(
        F.col("o.band_id").alias("band_id"),
        F.when(F.col("o.band_sig") != F.col("n.band_sig"), 1).otherwise(0).alias("changed"),
    )
    return diff.groupBy("band_id").agg(
        F.count("*").cast("long").alias("n_edited"),
        F.sum("changed").cast("long").alias("n_rewritten"),
        F.sum(1 - F.col("changed")).cast("long").alias("n_unchanged"),
    )


# ---- cross-snapshot incremental dedup: daily-partition ledger ------------------
N_SNAP_DAYS = 4
_SNAP_DAY_DUCK = (
    "(strpos('0123456789abcdef',"
    " substr(md5('snap|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) // 4"
)
_SNAP_DAY_SPARK = (
    "CAST((instr('0123456789abcdef',"
    " substr(md5(concat('snap|', CAST(doc_id AS STRING))), 1, 1)) - 1) div 4 AS BIGINT)"
)


def _cross_snapshot_oracle() -> str:
    return f"""
    WITH {_minhash_bands_ctes()},
    snap AS (
        SELECT doc_id, CAST({_SNAP_DAY_DUCK} AS BIGINT) AS day FROM documents
    ),
    bd AS (
        SELECT b.doc_id, b.band_id, b.band_sig, s.day
        FROM bands b JOIN snap s USING (doc_id)
    ),
    cell AS (
        SELECT band_id, band_sig, MIN(day) AS first_day FROM bd GROUP BY 1, 2
    ),
    dup AS (
        SELECT DISTINCT bd.doc_id, bd.day
        FROM bd JOIN cell USING (band_id, band_sig)
        WHERE cell.first_day < bd.day
    ),
    ing AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_ingested FROM snap GROUP BY 1),
    dd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_dup FROM dup GROUP BY 1),
    nc AS (
        SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_sig_cells
        FROM cell GROUP BY 1
    )
    SELECT i.day, i.n_ingested,
           COALESCE(d.n_dup, 0) AS n_dup_vs_store,
           i.n_ingested - COALESCE(d.n_dup, 0) AS n_novel,
           COALESCE(c.n_new_sig_cells, 0) AS n_new_sig_cells,
           ROUND(COALESCE(d.n_dup, 0) * 1.0 / i.n_ingested, 4) AS dup_frac
    FROM ing i LEFT JOIN dd d USING (day) LEFT JOIN nc c USING (day)
    """


@query(
    "cross_snapshot_dedup",
    oracle=_cross_snapshot_oracle(),
    tags=("dedup", "incremental", "snapshot", "minhash"),
)
def cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup ledger (VERDICT r9 item 6a): the
    corpus arrives as {N_SNAP_DAYS} daily partitions (a deterministic md5
    split of doc_id), each day's MinHash band signatures probe the
    accumulated store of all PRIOR days, and the per-day ledger reports
    ingested / duplicate-vs-store / novel doc counts plus how many distinct
    signature CELLS (band_id, band_sig) the day adds to the store — the
    dashboard row a daily ingest pipeline commits next to its S10/S11
    partition swap. Complements `incremental_dedup_probe` (one batch vs one
    store) by modeling the full multi-snapshot timeline in one pass.

    Scale shape — the key move is that the probe NEVER self-joins the band
    table: the store is first collapsed to distinct signature cells with
    their first-seen day (one aggregation, output bounded by distinct
    signatures), and each day's rows equi-join that cell dim on
    (band_id, band_sig) with `first_day < day` as a post-filter. Cost is
    store-cells + ingest-rows, not ingest × store matches; in production
    only the NEW day's partition shuffles (the cell dim is the committed
    signature snapshot read from the store table), which is exactly the
    delta-proportional shape the verdict asked for."""
    day = F.expr(_SNAP_DAY_SPARK)
    snap = _docs(spark, sf_dir).select("doc_id", day.alias("day"))
    bd = _mh_bands(spark, sf_dir).join(snap, "doc_id").select(
        "doc_id", "band_id", "band_sig", "day"
    )
    cell = bd.groupBy("band_id", "band_sig").agg(F.min("day").alias("first_day"))
    dup = (
        bd.join(cell, ["band_id", "band_sig"])
        .where(F.col("first_day") < F.col("day"))
        .select("doc_id", "day")
        .distinct()
    )
    ing = snap.groupBy("day").agg(F.count("*").cast("long").alias("n_ingested"))
    dd = dup.groupBy("day").agg(F.count("*").cast("long").alias("n_dup"))
    nc = cell.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_new_sig_cells")
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0)).cast("long")
    return (
        ing.join(dd, "day", "left")
        .join(nc, "day", "left")
        .select(
            "day",
            "n_ingested",
            n_dup.alias("n_dup_vs_store"),
            (F.col("n_ingested") - n_dup).cast("long").alias("n_novel"),
            F.coalesce(F.col("n_new_sig_cells"), F.lit(0)).cast("long").alias(
                "n_new_sig_cells"
            ),
            r4(n_dup * F.lit(1.0) / F.col("n_ingested")).alias("dup_frac"),
        )
    )


# ---- cross-snapshot SEMANTIC dedup: committed LSH-bucket store, daily probe ----
# (VERDICT r10 item 5b — the delta-proportional twin of `semantic_dedup`.)
# Embedding ingest timeline: the same md5 daily split discipline as the
# MinHash ledger, salted on vec_id so the two stores share one timeline.
_VSNAP_DAY_DUCK = (
    "(strpos('0123456789abcdef',"
    " substr(md5('vsnap|' || CAST(vec_id AS VARCHAR)), 1, 1)) - 1) // 4"
)
_VSNAP_DAY_SPARK = (
    "CAST((instr('0123456789abcdef',"
    " substr(md5(concat('vsnap|', CAST(vec_id AS STRING))), 1, 1)) - 1) div 4 AS BIGINT)"
)


def _cross_snap_sem_oracle() -> str:
    bucket_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t_} AS table_id, {_lsh_bucket_sql('v', t_)} AS bucket FROM e"
        for t_ in range(sim.LSH_TABLES)
    )
    sql = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    snap AS (
        SELECT vec_id, CAST({_VSNAP_DAY_DUCK} AS BIGINT) AS day FROM embeddings
    ),
    buckets AS (
        {bucket_rows}
    ),
    bd AS (
        SELECT b.vec_id, b.table_id, b.bucket, s.day
        FROM buckets b JOIN snap s USING (vec_id)
    ),
    cell AS (
        SELECT table_id, bucket, MIN(day) AS first_day FROM bd GROUP BY 1, 2
    ),
    rep AS (
        SELECT bd.table_id, bd.bucket, c.first_day, MIN(bd.vec_id) AS rep_id
        FROM bd JOIN cell c
          ON c.table_id = bd.table_id AND c.bucket = bd.bucket
         AND bd.day = c.first_day
        GROUP BY 1, 2, 3
    ),
    hits AS (
        SELECT DISTINCT bd.vec_id, bd.day, r.rep_id
        FROM bd JOIN rep r
          ON r.table_id = bd.table_id AND r.bucket = bd.bucket
         AND r.first_day < bd.day
    ),
    ver AS (
        SELECT h.vec_id, h.day,
               MAX(CASE WHEN ROUND({_cosine_sql('ea.v', 'eb.v')}, 6)
                             >= {SEMDEDUP_THETA}
                        THEN 1 ELSE 0 END) AS is_dup
        FROM hits h JOIN e ea ON ea.vec_id = h.vec_id
                    JOIN e eb ON eb.vec_id = h.rep_id
        GROUP BY 1, 2
    ),
    ing AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_ingested FROM snap GROUP BY 1),
    cnd AS (SELECT day, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_candidates
            FROM hits GROUP BY 1),
    vd AS (SELECT day, CAST(SUM(is_dup) AS BIGINT) AS n_dup FROM ver GROUP BY 1),
    nc AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_bucket_cells
           FROM cell GROUP BY 1)
    SELECT i.day, i.n_ingested,
           COALESCE(c.n_candidates, 0) AS n_candidates,
           COALESCE(v.n_dup, 0) AS n_dup_vs_store,
           i.n_ingested - COALESCE(v.n_dup, 0) AS n_novel,
           COALESCE(nc.n_new_bucket_cells, 0) AS n_new_bucket_cells,
           ROUND(COALESCE(v.n_dup, 0) * 1.0 / i.n_ingested, 4) AS dup_frac
    FROM ing i LEFT JOIN cnd c USING (day) LEFT JOIN vd v USING (day)
               LEFT JOIN nc USING (day)
    """
    return _materialize_ctes(sql, ("e", "buckets", "bd", "cell", "rep", "hits"))


@query(
    "cross_snapshot_semantic_dedup",
    oracle=_cross_snap_sem_oracle(),
    tags=("dedup", "semantic", "incremental", "snapshot", "embedding-lsh"),
)
def cross_snapshot_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot SEMANTIC dedup ledger (VERDICT r10 item 5b): vectors
    arrive as {N_SNAP_DAYS} daily partitions (md5 split of vec_id), the
    committed store is the hyperplane-LSH BUCKET table collapsed to
    distinct (table, bucket) cells — each carrying its first-seen day and
    a canonical representative (min vec_id of the first day) — and each
    day's vectors probe the store of all PRIOR days: a bucket hit makes a
    vector a CANDIDATE, and an exact cosine >= {SEMDEDUP_THETA} against
    the cell's stored representative VERIFIES it as a semantic duplicate.
    Per-day ledger: ingested / candidates / verified-dups / novel counts
    plus how many bucket cells the day adds to the store — the
    delta-proportional twin of `semantic_dedup`, playing the same role
    for embeddings that `cross_snapshot_dedup` plays for MinHash bands.

    Scale shape — the probe NEVER joins ingest vectors against store
    VECTORS: the store is one aggregation down to distinct bucket cells
    (bounded by distinct signatures) plus one representative per cell, so
    each arriving vector meets at most {sim.LSH_TABLES} cells and scores
    at most {sim.LSH_TABLES} exact cosines against stored reps (the
    packed Arrow-dot path). Cost is store-cells + ingest-rows; in
    production only the NEW day's vectors shuffle — the cell/rep dims are
    the committed snapshot read back from the store table (the S10/S11
    swap the pytest integration drives end-to-end)."""
    day = F.expr(_VSNAP_DAY_SPARK)
    e = _vecs(spark, sf_dir).select("vec_id", "v")
    snap = e.select("vec_id", day.alias("day"))
    # day is a pure function of vec_id, so the bucket table tags itself —
    # the r10 join against the snap frame re-derived the LSH projection AND
    # shuffled it for a lookup a projection computes in place (r11; the
    # bucket table itself is the session-shared materialization).
    bd = _lsh_bucket_frame(spark, sf_dir).withColumn("day", day)
    cell = bd.groupBy("table_id", "bucket").agg(F.min("day").alias("first_day"))
    rep = (
        bd.join(cell, ["table_id", "bucket"])
        .where(F.col("day") == F.col("first_day"))
        .groupBy("table_id", "bucket", "first_day")
        .agg(F.min("vec_id").alias("rep_id"))
    )
    hits = (
        bd.join(rep, ["table_id", "bucket"])
        .where(F.col("first_day") < F.col("day"))
        .select("vec_id", "day", "rep_id")
        .distinct()
    )
    ea, eb = _packed_sides(spark, sf_dir)
    dot = sim.seq_dot_udf()
    par = spark.sparkContext.defaultParallelism
    ver = (
        hits.withColumnRenamed("vec_id", "a_id")
        .withColumnRenamed("rep_id", "b_id")
        .repartition(par, "a_id")
        .join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            F.col("a_id").alias("vec_id"),
            "day",
            F.when(
                r6(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
                >= SEMDEDUP_THETA,
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("vec_id", "day")
        .agg(F.max("hit").alias("is_dup"))
    )
    ing = snap.groupBy("day").agg(F.count("*").cast("long").alias("n_ingested"))
    cnd = hits.groupBy("day").agg(
        F.countDistinct("vec_id").cast("long").alias("n_candidates")
    )
    vd = ver.groupBy("day").agg(F.sum("is_dup").cast("long").alias("n_dup"))
    nc = cell.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_new_bucket_cells")
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0)).cast("long")
    return (
        ing.join(cnd, "day", "left")
        .join(vd, "day", "left")
        .join(nc, "day", "left")
        .select(
            "day",
            "n_ingested",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            n_dup.alias("n_dup_vs_store"),
            (F.col("n_ingested") - n_dup).cast("long").alias("n_novel"),
            F.coalesce(F.col("n_new_bucket_cells"), F.lit(0)).cast("long").alias(
                "n_new_bucket_cells"
            ),
            r4(n_dup * F.lit(1.0) / F.col("n_ingested")).alias("dup_frac"),
        )
    )


# ---- incremental IVF maintenance: committed centroids, assign-only ingest ------
# (VERDICT r10 item 5a — pairs `kmeans_sample_train` with the snapshot/txn
# cadence the way `cross_snapshot_dedup` pairs with S10/S11.)
RETRAIN_DRIFT = 1.05  # drift ratio above which the ledger flags a retrain


def _ivf_incr_oracle() -> str:
    sql = f"""
    WITH snap AS (
        SELECT vec_id, CAST({_VSNAP_DAY_DUCK} AS BIGINT) AS day FROM embeddings
    ),
    d0 AS (SELECT vec_id FROM snap WHERE day = 0),
    samp AS (
        SELECT vec_id FROM embeddings JOIN d0 USING (vec_id)
        ORDER BY md5('kmsamp|' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {KM_SAMPLE_N}
    ),
    {_km_unroll_ctes('im', src='embeddings JOIN samp USING (vec_id)')},
    ife AS (SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v
            FROM embeddings),
    {_km_afin_cte('im', 'imafin', with_dist=True, vec='ife')},
    byday AS (
        SELECT s.day,
               CAST(COUNT(*) AS BIGINT) AS n_ingested,
               CAST(SUM(a.dist // 1000000) AS BIGINT) AS sum_dist_milli,
               CAST(COUNT(DISTINCT a.cid) AS BIGINT) AS n_lists_used
        FROM imafin a JOIN snap s USING (vec_id)
        GROUP BY 1
    ),
    base AS (SELECT sum_dist_milli AS s0, n_ingested AS n0 FROM byday WHERE day = 0)
    SELECT day, n_ingested, sum_dist_milli, n_lists_used,
           ROUND((CAST(sum_dist_milli AS DOUBLE) / n_ingested)
                 / NULLIF(CAST(s0 AS DOUBLE) / n0, 0), 6) AS drift_ratio,
           ROUND((CAST(sum_dist_milli AS DOUBLE) / n_ingested)
                 / NULLIF(CAST(s0 AS DOUBLE) / n0, 0), 6) > {RETRAIN_DRIFT}
               AS retrain_flag
    FROM byday CROSS JOIN base
    """
    return _materialize_ctes(
        sql,
        ("snap", "samp", "ime", "ife", "imafin")
        + tuple(f"imc{i}" for i in range(KM_TRAIN_ITERS + 1)),
    )


@query(
    "ivf_incremental_maintain",
    oracle=_ivf_incr_oracle(),
    tags=("similarity", "ivf", "incremental", "maintenance", "snapshot"),
)
def ivf_incremental_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance ledger (VERDICT r10 item 5a):
    day 0's corpus trains the coarse quantizer ONCE on its bounded
    {KM_SAMPLE_N}-vector sample (`kmeans_sample_train`'s production
    lever), the trained centroids are the COMMITTED snapshot, and every
    later day is ASSIGN-ONLY ingest — each arriving vector routes to its
    nearest committed centroid with the zero-shuffle argmin projection.
    Per day the ledger reports ingest volume, the exact milli-lattice
    assignment-distance mass, how many lists the day touched, and the
    drift ratio (day's mean assignment distance over day 0's) — with the
    retrain flag raised when drift exceeds {RETRAIN_DRIFT}x, the trigger
    a production store answers with a `kmeans_sample_train` recommit
    (reference analog: the daily recompute-and-MERGE cadence,
    win-tracker/main.py:577-635). The pytest integration drives the
    actual commit: centroids land in a versioned snapshot table, later
    days read them back and assign against the COMMITTED copy.

    Scale shape: training collects a bounded {KM_SAMPLE_N}-row frame once
    (driver state <= N x 64 ints); assignment is a pure map-side
    projection (K bounded centroid literals, argmin via array_min), so
    every ingest day streams through with ZERO shuffle; the ledger is one
    bounded groupBy over {N_SNAP_DAYS} day keys and a 1-row day-0 scalar
    broadcast for the ratio."""
    day_expr = _VSNAP_DAY_SPARK

    def frame() -> DataFrame:
        d0 = _km_lattice_vecs(spark, sf_dir).where(F.expr(day_expr) == 0)
        rows = (
            d0.orderBy(
                F.md5(F.concat(F.lit("kmsamp|"), F.col("vec_id").cast("string"))),
                "vec_id",
            )
            .limit(KM_SAMPLE_N)
            .collect()
        )
        return spark.createDataFrame(rows, "vec_id bigint, v array<bigint>")

    cent = _km_train_cached(spark, sf_dir, "day0-sample", frame)
    if cent is None:  # empty day-0 partition: nothing committed, no ledger
        return spark.createDataFrame(
            [],
            "day bigint, n_ingested bigint, sum_dist_milli bigint,"
            " n_lists_used bigint, drift_ratio double, retrain_flag boolean",
        )
    s = _km_argmin(cent)
    assigned = _km_lattice_vecs(spark, sf_dir).select(
        F.expr(day_expr).alias("day"),
        s["cid"].alias("cid"),
        s["dist"].alias("dist"),
    )
    byday = assigned.groupBy("day").agg(
        F.count("*").cast("long").alias("n_ingested"),
        F.sum(F.expr("dist div 1000000")).cast("long").alias("sum_dist_milli"),
        F.countDistinct("cid").cast("long").alias("n_lists_used"),
    )
    base = byday.where(F.col("day") == 0).select(
        F.col("sum_dist_milli").alias("s0"), F.col("n_ingested").alias("n0")
    )
    ratio = r6(
        (F.col("sum_dist_milli").cast("double") / F.col("n_ingested"))
        / F.expr("NULLIF(CAST(s0 AS DOUBLE) / n0, 0)")
    )
    return byday.crossJoin(F.broadcast(base)).select(
        "day",
        "n_ingested",
        "sum_dist_milli",
        "n_lists_used",
        ratio.alias("drift_ratio"),
        (ratio > F.lit(RETRAIN_DRIFT)).alias("retrain_flag"),
    )


# ---- right-to-be-forgotten propagation planner across derived stores ----------
# (Round-11 wave 3 — the DELETE-side twin of the cross-snapshot ingest
# ledgers: before a tombstone batch runs, the pipeline needs an exact
# account of what must be purged from every derived store, and which
# store KEYS become orphans — the cells/terms whose every contributor is
# tombstoned, which future dedup/probe passes must not keep serving.
# Reference analog: the daily recompute-and-MERGE upkeep cadence,
# win-tracker/main.py:577-635, applied to deletion.)
_TOMB_DUCK = (
    "(substr(md5('tomb|' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1'))"
)
_TOMB_SPARK = (
    "(substr(md5(concat('tomb|', CAST(doc_id AS STRING))), 1, 1) IN ('0', '1'))"
)


def _tombstone_oracle() -> str:
    sql = f"""
    WITH {_minhash_bands_ctes()},
    tomb AS (
        SELECT doc_id, CASE WHEN {_TOMB_DUCK} THEN 1 ELSE 0 END AS tomb
        FROM documents
    ),
    tkx AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tp AS (SELECT DISTINCT doc_id, term FROM tkx),
    doc_s AS (
        SELECT 'documents' AS store,
               CAST(SUM(tomb) AS BIGINT) AS n_rows_purged,
               CAST(COUNT(*) AS BIGINT) AS n_keys_total,
               CAST(SUM(tomb) AS BIGINT) AS n_keys_orphaned
        FROM tomb
    ),
    sh_cells AS (
        SELECT shingle, SUM(tomb) AS td, COUNT(*) AS n
        FROM sh JOIN tomb USING (doc_id) GROUP BY 1
    ),
    sh_s AS (
        SELECT 'shingle_postings' AS store,
               CAST(SUM(td) AS BIGINT) AS n_rows_purged,
               CAST(COUNT(*) AS BIGINT) AS n_keys_total,
               CAST(SUM(CASE WHEN td = n THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keys_orphaned
        FROM sh_cells
    ),
    bd_cells AS (
        SELECT band_id, band_sig, SUM(tomb) AS td, COUNT(*) AS n
        FROM bands JOIN tomb USING (doc_id) GROUP BY 1, 2
    ),
    bd_s AS (
        SELECT 'minhash_bands' AS store,
               CAST(SUM(td) AS BIGINT) AS n_rows_purged,
               CAST(COUNT(*) AS BIGINT) AS n_keys_total,
               CAST(SUM(CASE WHEN td = n THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keys_orphaned
        FROM bd_cells
    ),
    tm_cells AS (
        SELECT term, SUM(tomb) AS td, COUNT(*) AS n
        FROM tp JOIN tomb USING (doc_id) GROUP BY 1
    ),
    tm_s AS (
        SELECT 'vocabulary_postings' AS store,
               CAST(SUM(td) AS BIGINT) AS n_rows_purged,
               CAST(COUNT(*) AS BIGINT) AS n_keys_total,
               CAST(SUM(CASE WHEN td = n THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keys_orphaned
        FROM tm_cells
    ),
    led AS (
        SELECT * FROM doc_s UNION ALL SELECT * FROM sh_s
        UNION ALL SELECT * FROM bd_s UNION ALL SELECT * FROM tm_s
    )
    SELECT store, n_rows_purged, n_keys_total, n_keys_orphaned,
           ROUND(n_keys_orphaned * 1.0 / n_keys_total, 6) AS orphan_frac
    FROM led
    """
    return _materialize_ctes(sql, ("sh", "sig", "bands", "tomb", "tp"))


@query(
    "tombstone_propagation_audit",
    oracle=_tombstone_oracle(),
    tags=("dedup", "deletion", "gdpr", "maintenance", "snapshot"),
)
def tombstone_propagation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation planner: a deterministic
    tombstone batch (md5 'tomb|' split, ~1/8 of doc_ids) must vanish not
    just from `documents` but from every DERIVED store a curation
    pipeline maintains — shingle postings, the MinHash band store, the
    vocabulary posting list. Per store the ledger reports the exact rows
    to purge, the total key count, and the ORPHANED keys (shingles /
    band cells / terms whose every contributing doc is tombstoned) —
    the cells a dedup store must stop serving and the terms a committed
    vocabulary loses. `tests/test_round11_wave.py` drives the actual
    purge: `delete_where_txn` on the committed band store removes
    exactly `n_rows_purged` rows and the post-delete distinct-cell dim
    shrinks by exactly `n_keys_orphaned`.

    Scale shape: the tombstone flag is a pure doc_id function riding
    each shared frame (no tombstone-list join); every store's plan is
    ONE hash aggregation to its key (the same shuffle the store's own
    maintenance already pays) followed by a 1-row rollup — map-side
    partials carry td/n, nothing is ever joined pairwise. The union is
    four 1-row frames. At 100 TB the planner costs one pass over each
    derived store, the minimum possible for an exact purge plan."""
    tombi = F.when(F.expr(_TOMB_SPARK), 1).otherwise(0)

    def store_stats(cells: DataFrame, name: str, keys: list[str]) -> DataFrame:
        c = cells.withColumn("tombi", tombi).groupBy(*keys).agg(
            F.sum("tombi").alias("td"), F.count("*").alias("n")
        )
        return c.agg(
            F.sum("td").cast("long").alias("n_rows_purged"),
            F.count("*").cast("long").alias("n_keys_total"),
            F.sum(F.when(F.col("td") == F.col("n"), 1).otherwise(0))
            .cast("long")
            .alias("n_keys_orphaned"),
        ).select(F.lit(name).alias("store"), "*")

    from .curation import _term_tokens

    docs = t(spark, sf_dir, "documents").select("doc_id")
    tp = _term_tokens(spark, sf_dir).select("doc_id", "term").distinct()
    led = (
        store_stats(docs, "documents", ["doc_id"])
        .unionByName(
            store_stats(
                _sh_distinct(spark, sf_dir), "shingle_postings", ["shingle"]
            )
        )
        .unionByName(
            store_stats(
                _mh_bands(spark, sf_dir),
                "minhash_bands",
                ["band_id", "band_sig"],
            )
        )
        .unionByName(store_stats(tp, "vocabulary_postings", ["term"]))
    )
    return led.select(
        "store",
        "n_rows_purged",
        "n_keys_total",
        "n_keys_orphaned",
        r6(F.col("n_keys_orphaned") * F.lit(1.0) / F.col("n_keys_total")).alias(
            "orphan_frac"
        ),
    )


# ---- LSH band-cell skew audit: the dedup join's cost/skew planner -------------
@query(
    "lsh_cell_skew_audit",
    oracle=f"""
    WITH {{bands}},
    cells AS (
        SELECT band_id, band_sig, CAST(COUNT(*) AS BIGINT) AS n
        FROM bands GROUP BY 1, 2
    ),
    b AS (SELECT length(bin(n)) - 1 AS occ_pow, n FROM cells)
    SELECT CAST(occ_pow AS BIGINT) AS occ_pow,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_cell,
           CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS pair_mass
    FROM b GROUP BY 1
    """.format(bands=_minhash_bands_ctes()),
    tags=("dedup", "lsh", "skew", "maintenance"),
)
def lsh_cell_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-cell occupancy histogram + candidate-pair mass — the cost and
    skew planner for every banded LSH equi-join in the dedup family: per
    power-of-two occupancy bucket (occ_pow = floor(log2(cell size))),
    how many (band_id, band_sig) cells land there, their row mass, the
    largest single cell, and the WITHIN-CELL candidate-pair mass
    sum(n*(n-1)/2) — exactly the number of pair slots the banded join
    will generate from that bucket. This is what a 100 TB dedup run
    reads BEFORE the join: a fat top bucket means a hot cell that needs
    salting (`skewsafe_directed_pairs`) or a cell-size cap, and the
    total pair mass is the join's output-size forecast (the test pins it
    to `minhash_lsh_pairs`' total shared-band count, which it equals by
    construction). Scale shape: one hash aggregation to the cell dim
    (the same shuffle the band store already pays), then a bounded
    ~60-bucket rollup — the planner costs one pass over the band store
    and nothing touches pairs."""
    cells = (
        _mh_bands(spark, sf_dir)
        .groupBy("band_id", "band_sig")
        .agg(F.count("*").alias("n"))
    )
    b = cells.select(
        (F.length(F.expr("bin(n)")) - 1).cast("long").alias("occ_pow"), "n"
    )
    return b.groupBy("occ_pow").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_cell"),
        F.sum(F.expr("(n * (n - 1)) div 2")).cast("long").alias("pair_mass"),
    )
