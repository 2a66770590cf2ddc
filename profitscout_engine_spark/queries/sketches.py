"""Portable probabilistic structures — HyperLogLog, count-min, bloom —
built from md5 register arithmetic so the SKETCH ITSELF is cross-engine
verifiable.

Spark's built-in sketches (``approx_count_distinct`` HLL++,
``approx_percentile``) are implementation-defined: correct, but their
estimates can't be value-checked against another engine, which is why
``approx_distinct_sketch`` / ``approx_quantile_sketch`` are registered
rows-only. This module implements the same three structures every
100 TB pipeline leans on — cardinality (HLL), frequency (count-min),
and join pre-filtering (bloom) — from first principles as pure
relational algebra over md5, which both Spark and DuckDB evaluate
bit-identically. The estimates therefore get full driver value-hashes,
and the error behavior is pinned by property tests instead of trust.

Scale shapes:
- HLL: one hash aggregation to (group, register) then a tiny per-group
  fold — registers are bounded (m=256/group), so memory is fixed no
  matter how many rows stream through; this is exactly why HLL exists.
- Count-min: one aggregation to (seed, bucket) — d*w counters total —
  plus a probe join against the tiny sketch.
- Bloom: the bit-position table is k*n rows of ints (broadcast side);
  probing is k broadcast hash joins, no shuffle of the 100 TB probe —
  the same shape Spark's AQE runtime row-level filter injects, made
  explicit so the false-positive accounting is observable.

Hex→int bridging uses ``instr('0123456789abcdef', c) - 1`` (Spark) /
``strpos`` (DuckDB) — no engine-specific conv/from_hex — keeping to the
repo rule that md5 is the only shared randomness primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import r2, r4
from . import query
from ._util import fan_out, t

_HEX = "0123456789abcdef"


def _hx(instr_fn: str, char_expr: str) -> str:
    """0..15 value of one lowercase hex character."""
    return f"({instr_fn}('{_HEX}', {char_expr}) - 1)"


# --- HyperLogLog -------------------------------------------------------------
HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
# alpha_m for m >= 128, written inline so both engines fold the same double.
# Literals use scientific notation (0.7213E0): a plain `0.7213` parses as
# DECIMAL in Spark SQL — and decimal division rounds at ~1e-10, which is
# enough to flip a 4dp-rounded estimate across engines (DuckDB promotes
# division to DOUBLE). `xEy` is the approximate-numeric literal form both
# engines read as DOUBLE, so the whole fold stays in IEEE doubles.
_ALPHA = f"(0.7213E0 / (1.0E0 + 1.079E0 / {HLL_M}E0))"


def _hll_terms(instr_fn: str, value_expr: str) -> tuple[str, str]:
    """(register_index, rho) SQL for one hashed value.

    Register index: first two hex chars of md5 (0..255). Rho: leading-zero
    BITS of the remaining 30 hex chars (120 bits) + 1 — counted as
    4 * (leading '0' chars) + the intra-char zeros of the first non-zero
    hex digit, read off a CASE ladder. 120 bits never exhaust in practice;
    the all-zero guard maps to rho = 121 for completeness.
    """
    h = f"md5(cast({value_expr} as string))"
    c1 = _hx(instr_fn, f"substr({h}, 1, 1)")
    c2 = _hx(instr_fn, f"substr({h}, 2, 1)")
    idx = f"(16 * {c1} + {c2})"
    tail = f"substr({h}, 3, 30)"
    nz = f"length(regexp_extract({tail}, '^(0*)', 1))"
    first = f"substr({tail}, {nz} + 1, 1)"
    extra = (
        f"(CASE WHEN {first} = '1' THEN 3 "
        f"WHEN {first} IN ('2','3') THEN 2 "
        f"WHEN {first} IN ('4','5','6','7') THEN 1 ELSE 0 END)"
    )
    rho = f"(CASE WHEN {nz} >= 30 THEN 121 ELSE 4 * {nz} + {extra} + 1 END)"
    return idx, rho


def _hll_estimate_sql(table: str, group: str, value: str, instr_fn: str, out: str) -> str:
    """Grouped HLL estimate as a two-level aggregation (shared SQL text
    shape for both engines; only the instr function name differs)."""
    idx, rho = _hll_terms(instr_fn, value)
    m = HLL_M
    return f"""
    SELECT {group},
           CASE WHEN raw <= 2.5 * {m} AND zeros > 0
                THEN {m}.0 * ln({m}.0 / zeros)
                ELSE raw END AS {out}
    FROM (
        SELECT {group},
               {_ALPHA} * {m}.0 * {m}.0 / (s + ({m} - nreg)) AS raw,
               {m} - nreg AS zeros
        FROM (
            SELECT {group}, sum(power(2.0, -mx)) AS s, count(*) AS nreg
            FROM (
                SELECT {group}, {idx} AS ridx, max({rho}) AS mx
                FROM {table} GROUP BY {group}, {idx}
            ) regs
            GROUP BY {group}
        ) folded
    ) corrected
    """


def _with_registers(df: DataFrame) -> DataFrame:
    """Spark-side register parse over a frame with an ``h`` md5 column:
    adds ``ridx`` (first two hex chars) and ``rho`` (leading-zero bits of
    the 120-bit tail + 1). Hashes are parsed exactly once per row; the
    trim-based zero count is value-identical to the oracle's
    regexp_extract('^(0*)') length."""
    return (
        df.withColumn(
            "ridx",
            F.expr(
                f"16 * (instr('{_HEX}', substr(h, 1, 1)) - 1)"
                f" + (instr('{_HEX}', substr(h, 2, 1)) - 1)"
            ),
        )
        .withColumn("tail", F.expr("substr(h, 3, 30)"))
        .withColumn("nz", F.expr("length(tail) - length(trim(LEADING '0' FROM tail))"))
        .withColumn(
            "rho",
            F.expr(
                "CASE WHEN nz >= 30 THEN 121 ELSE 4 * nz + "
                "(CASE WHEN substr(tail, nz + 1, 1) = '1' THEN 3 "
                " WHEN substr(tail, nz + 1, 1) IN ('2','3') THEN 2 "
                " WHEN substr(tail, nz + 1, 1) IN ('4','5','6','7') THEN 1 "
                " ELSE 0 END) + 1 END"
            ),
        )
    )


def _est_case(s: str = "s", nreg: str = "nreg") -> str:
    """The bias-corrected estimate as one CASE expression over the folded
    (sum 2^-M, non-zero register count) pair — same text both engines
    (E0 literals keep Spark in doubles; see _ALPHA)."""
    m = HLL_M
    raw = f"{_ALPHA} * {m}E0 * {m}E0 / ({s} + ({m} - {nreg}))"
    return (
        f"CASE WHEN {raw} <= 2.5E0 * {m}E0 AND {m} - {nreg} > 0"
        f" THEN {m}E0 * ln({m}E0 / ({m} - {nreg}))"
        f" ELSE {raw} END"
    )


@query(
    "hll_distinct_portable",
    oracle=f"""
    WITH parts AS ({_hll_estimate_sql('lineitem', 'l_returnflag', 'l_partkey', 'strpos', 'est_parts')}),
    supps AS ({_hll_estimate_sql('lineitem', 'l_returnflag', 'l_suppkey', 'strpos', 'est_supps')}),
    exact AS (
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT exact.l_returnflag, exact_parts, ROUND(parts.est_parts, 4) AS hll_parts,
           exact_supps, ROUND(supps.est_supps, 4) AS hll_supps
    FROM exact
    JOIN parts ON exact.l_returnflag = parts.l_returnflag
    JOIN supps ON exact.l_returnflag = supps.l_returnflag
    """,
    tags=("sketch", "hll", "A19"),
)
def hll_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped distinct-count via a from-scratch HLL (p=8, m=256) whose
    registers come from md5 — so Spark and the DuckDB oracle compute the
    IDENTICAL estimate, unlike the implementation-defined built-in
    (``approx_distinct_sketch``, rows-only by necessity).

    The partkey branch (~2000 distinct) exercises the raw harmonic-mean
    estimator; the suppkey branch (100 distinct) lands under the 2.5m
    threshold and exercises linear counting — both correction paths get
    driver value-hashes. Fixed 256-register state per group is the whole
    point at 100 TB: cardinality never touches a dedup shuffle.
    """
    # Spark side is the performance shape: hash each key ONCE, fan both
    # sketches out of one scan as (which, h) pairs, parse registers in a
    # single projection, then one shuffle on (group, which, register).
    # The oracle SQL above recomputes md5 per term — same values, but at
    # sf0.1 the recompute shape costs ~7x (3.5 s vs 0.5 s measured), so
    # the engine path earns its keep exactly where 100 TB would.
    # Plan shape: this query's contract includes the EXACT distinct counts
    # (the driver's comparison target), and exact-distinct already pays a
    # dedup shuffle — so the sketch shares it. One scan explodes each row
    # into (group, which, key) ints, one distinct() dedups, and then BOTH
    # outputs are nearly free: exact = count(*) of the distinct frame, and
    # the HLL parses only the distinct keys (HLL over a multiset equals
    # HLL over its distinct set — registers are maxes). A standalone HLL
    # at 100 TB would skip the distinct() and fold straight to registers
    # with fixed memory; here the dedup is the exact twin's cost, not the
    # sketch's.
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey", "l_suppkey")
    keys = (
        li.select(
            "l_returnflag",
            F.explode(
                F.array(
                    F.struct(F.lit("p").alias("which"), F.col("l_partkey").alias("k")),
                    F.struct(F.lit("s").alias("which"), F.col("l_suppkey").alias("k")),
                )
            ).alias("x"),
        )
        .select("l_returnflag", F.col("x.which").alias("which"), F.col("x.k").alias("k"))
        .distinct()
    )
    parsed = _with_registers(keys.withColumn("h", F.md5(F.col("k").cast("string"))))
    regs = parsed.groupBy("l_returnflag", "which", "ridx").agg(F.max("rho").alias("mx"))
    folded = regs.groupBy("l_returnflag", "which").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("s"),
        F.count(F.lit(1)).alias("nreg"),
    )
    est = folded.select("l_returnflag", "which", F.expr(_est_case()).alias("est"))
    wide = est.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("which") == "p", F.col("est"))).alias("est_parts"),
        F.max(F.when(F.col("which") == "s", F.col("est"))).alias("est_supps"),
    )
    exact = keys.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("which") == "p", 1).otherwise(0)).cast("long").alias("exact_parts"),
        F.sum(F.when(F.col("which") == "s", 1).otherwise(0)).cast("long").alias("exact_supps"),
    )
    return exact.join(wide, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        r4(F.col("est_parts")).alias("hll_parts"),
        "exact_supps",
        r4(F.col("est_supps")).alias("hll_supps"),
    )


# --- count-min sketch --------------------------------------------------------
CMS_D = 4  # hash rows (seeds)
CMS_W = 64  # buckets per row — deliberately tight so collisions are observable


def _cms_bucket(instr_fn: str, seed: int, value_expr: str) -> str:
    h = f"md5(concat('{seed}|', {value_expr}))"
    c1 = _hx(instr_fn, f"substr({h}, 1, 1)")
    c2 = _hx(instr_fn, f"substr({h}, 2, 1)")
    return f"((16 * {c1} + {c2}) % {CMS_W})"


@query(
    "countmin_freq_portable",
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    cells AS (
        {" UNION ALL ".join(
            f"SELECT {s} AS seed, {_cms_bucket('strpos', s, 'w')} AS bucket, w FROM tok"
            for s in range(1, CMS_D + 1)
        )}
    ),
    sketch AS (
        SELECT seed, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY seed, bucket
    ),
    exact AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY w),
    probe AS (
        {" UNION ALL ".join(
            f"SELECT w, exact_cnt, {s} AS seed, {_cms_bucket('strpos', s, 'w')} AS bucket FROM exact"
            for s in range(1, CMS_D + 1)
        )}
    )
    SELECT probe.w AS token, any_value(exact_cnt) AS exact_cnt,
           CAST(min(cnt) AS BIGINT) AS cms_cnt,
           CAST(min(cnt) - any_value(exact_cnt) AS BIGINT) AS overcount
    FROM probe JOIN sketch ON probe.seed = sketch.seed AND probe.bucket = sketch.bucket
    GROUP BY probe.w
    """,
    tags=("sketch", "count-min", "textops"),
)
def countmin_freq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequencies through a from-scratch count-min sketch
    (d=4 seeded md5 rows, w=64 buckets — deliberately tight so bucket
    collisions actually happen and the min-over-rows recovery is
    visible in the ``overcount`` column, never negative by construction).

    Scale shape: the corpus aggregates once into d*w = 256 counters
    (map-side combined), and probing joins the tiny sketch — the
    fixed-memory frequency structure a 100 TB token stream needs, here
    with exact cross-engine value verification instead of an opaque
    estimate.
    """
    # Spark side makes ONE pass over the corpus: aggregate the token
    # stream to (token, exact_cnt) first — Spark's map-side combine does
    # this anyway — then fold the tiny per-token table into sketch cells
    # weighted by exact_cnt (mathematically identical to counting raw
    # occurrences, since every occurrence of a token lands in the same
    # d buckets). The oracle SQL re-scans per seed for clarity; this
    # shape replaces 4 corpus scans with 1 plus work proportional to the
    # vocabulary (measured 3.0 s -> sub-second at sf0.1).
    tok = (
        fan_out(spark, t(spark, sf_dir, "documents"))
        .select(F.explode(F.split("text", " ")).alias("w"))
    )
    exact = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    hashed = exact.select(
        "w",
        "exact_cnt",
        *[
            F.md5(F.concat(F.lit(f"{s}|"), F.col("w"))).alias(f"h{s}")
            for s in range(1, CMS_D + 1)
        ],
    )
    cells = hashed.select(
        "w",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        F.expr(
                            f"(16 * (instr('{_HEX}', substr(h{s}, 1, 1)) - 1)"
                            f" + (instr('{_HEX}', substr(h{s}, 2, 1)) - 1)) % {CMS_W}"
                        ).alias("bucket"),
                    )
                    for s in range(1, CMS_D + 1)
                ]
            )
        ).alias("c"),
    ).select("w", "exact_cnt", F.col("c.seed").alias("seed"), F.col("c.bucket").alias("bucket"))
    sketch = cells.groupBy("seed", "bucket").agg(F.sum("exact_cnt").alias("cnt"))
    return (
        cells.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("w")
        .agg(
            F.first("exact_cnt").alias("exact_cnt"),
            F.min("cnt").cast("long").alias("cms_cnt"),
            (F.min("cnt") - F.first("exact_cnt")).cast("long").alias("overcount"),
        )
        .withColumnRenamed("w", "token")
    )


# --- bloom-filter join pre-filtering ----------------------------------------
BLOOM_M = 4096  # bit space (3 hex chars)
BLOOM_K = 2  # hash functions
BLOOM_BUILD_PRED = "c_acctbal >= 5000"


def _bloom_pos(instr_fn: str, seed: int, value_expr: str) -> str:
    h = f"md5(concat('{seed}|', {value_expr}))"
    c1 = _hx(instr_fn, f"substr({h}, 1, 1)")
    c2 = _hx(instr_fn, f"substr({h}, 2, 1)")
    c3 = _hx(instr_fn, f"substr({h}, 3, 1)")
    return f"(256 * {c1} + 16 * {c2} + {c3})"


@query(
    "bloom_semijoin_account",
    oracle=f"""
    WITH build AS (SELECT c_custkey FROM customer WHERE {BLOOM_BUILD_PRED}),
    {" , ".join(
        f"bits{s} AS (SELECT DISTINCT {_bloom_pos('strpos', s, 'cast(c_custkey as string)')} AS pos FROM build)"
        for s in range(1, BLOOM_K + 1)
    )},
    probe AS (
        SELECT o_orderstatus, o_custkey,
               {", ".join(
                   f"{_bloom_pos('strpos', s, 'cast(o_custkey as string)')} AS p{s}"
                   for s in range(1, BLOOM_K + 1)
               )},
               CASE WHEN o_custkey IN (SELECT c_custkey FROM build) THEN 1 ELSE 0 END AS is_true
        FROM orders
    ),
    flagged AS (
        SELECT o_orderstatus, is_true,
               CASE WHEN {" AND ".join(f"b{s}.pos IS NOT NULL" for s in range(1, BLOOM_K + 1))}
                    THEN 1 ELSE 0 END AS bloom_pass
        FROM probe
        {" ".join(f"LEFT JOIN bits{s} b{s} ON probe.p{s} = b{s}.pos" for s in range(1, BLOOM_K + 1))}
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(sum(is_true) AS BIGINT) AS n_true,
           CAST(sum(bloom_pass) - sum(is_true) AS BIGINT) AS n_false_pos,
           ROUND((sum(bloom_pass) - sum(is_true)) * 1.0 / count(*), 4) AS fp_rate
    FROM flagged GROUP BY o_orderstatus
    """,
    tags=("sketch", "bloom", "J1"),
)
def bloom_semijoin_account(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pre-filtering through an explicit bloom filter (m=4096 bits,
    k=2 seeded md5 positions) with full false-positive accounting: the
    build side (customers over the balance threshold) sets bits; every
    order probes with k broadcast hash joins against the tiny
    bit-position table — the probe side NEVER shuffles, which is the
    entire value of a bloom pre-filter in front of a 100 TB join. Spark
    injects this same shape automatically as an AQE runtime row-level
    filter; making it explicit exposes n_false_pos / fp_rate, and the
    no-false-negative guarantee is pinned in tests.
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    build = cust.where(BLOOM_BUILD_PRED).select("c_custkey")
    truth = build.withColumnRenamed("c_custkey", "o_custkey").withColumn(
        "is_true_", F.lit(1)
    )
    flagged = (
        orders.select(
            "o_orderstatus",
            "o_custkey",
            *[
                F.expr(_bloom_pos("instr", s, "cast(o_custkey as string)")).alias(f"p{s}")
                for s in range(1, BLOOM_K + 1)
            ],
        )
        .join(F.broadcast(truth), "o_custkey", "left")
        .withColumn("is_true", F.coalesce(F.col("is_true_"), F.lit(0)))
        .drop("is_true_")
    )
    for s in range(1, BLOOM_K + 1):
        bits = (
            build.select(
                F.expr(_bloom_pos("instr", s, "cast(c_custkey as string)")).alias(f"pos{s}")
            )
            .distinct()
            .withColumn(f"hit{s}", F.lit(1))
        )
        flagged = flagged.join(
            F.broadcast(bits), flagged[f"p{s}"] == bits[f"pos{s}"], "left"
        )
    pass_cond = None
    for s in range(1, BLOOM_K + 1):
        c = F.col(f"hit{s}").isNotNull()
        pass_cond = c if pass_cond is None else (pass_cond & c)
    flagged = flagged.withColumn("bloom_pass", F.when(pass_cond, 1).otherwise(0))
    return flagged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum("bloom_pass").cast("long").alias("n_bloom_pass"),
        F.sum("is_true").cast("long").alias("n_true"),
        (F.sum("bloom_pass") - F.sum("is_true")).cast("long").alias("n_false_pos"),
        r4((F.sum("bloom_pass") - F.sum("is_true")) / F.count(F.lit(1))).alias("fp_rate"),
    )


# --- HLL mergeability: per-batch registers -> max-merge == union --------------
HLL_MERGE_PIVOT = "TIMESTAMP '1998-06-01 00:00:00'"


def _merge_oracle() -> str:
    idx, rho = _hll_terms("strpos", "k")
    return f"""
    WITH keyed AS (
        SELECT CASE WHEN l_shipdate < {HLL_MERGE_PIVOT} THEN 'a' ELSE 'b' END AS batch,
               l_orderkey AS k
        FROM lineitem
    ),
    dk AS (SELECT DISTINCT batch, k FROM keyed),
    regs AS (SELECT batch, {idx} AS ridx, max({rho}) AS mx FROM dk GROUP BY batch, {idx}),
    bfold AS (SELECT batch, sum(power(2.0, -mx)) AS s, count(*) AS nreg
              FROM regs GROUP BY batch),
    best AS (SELECT batch, {_est_case()} AS est FROM bfold),
    mreg AS (SELECT ridx, max(mx) AS mx FROM regs GROUP BY ridx),
    mfold AS (SELECT sum(power(2.0, -mx)) AS s, count(*) AS nreg FROM mreg),
    mest AS (SELECT {_est_case()} AS est FROM mfold),
    exact AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS exact_union FROM keyed)
    SELECT ROUND((SELECT est FROM best WHERE batch = 'a'), 4) AS hll_a,
           ROUND((SELECT est FROM best WHERE batch = 'b'), 4) AS hll_b,
           ROUND((SELECT est FROM mest), 4) AS hll_merged,
           exact_union
    FROM exact
    """


@query(
    "hll_merge_incremental",
    oracle=_merge_oracle(),
    tags=("sketch", "hll", "incremental"),
)
def hll_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches matter at 100 TB: MERGEABILITY.
    Orderkey HLL registers are built independently per shipdate batch
    ('a' before {pivot}, 'b' after), then merged by register-wise max —
    the merged estimate is the estimate of the UNION without ever
    rescanning batch 'a'. This is the incremental-ingest cardinality
    pattern: yesterday's registers are 256 ints in a metadata store;
    today's batch folds in with one tiny max-merge. The exact union
    count rides along as the comparison target, and
    tests/test_sketches.py pins merged == direct-over-union exactly
    (register max is associative, so it's an identity, not an
    approximation).
    """
    # One linear chain, no recomputed subtrees: groupBy(k) collapses the
    # scan to distinct keys WITH batch-membership flags (a key can be in
    # both batches), the register aggregation takes CONDITIONAL maxes per
    # register for batch-a / batch-b / merged in one pass, and a single
    # fold row carries every (sum 2^-M, register count) pair plus the
    # exact union count (sum of per-register key counts). Two shuffles
    # total — 600k rows then 256 rows — and zero branches.
    li = t(spark, sf_dir, "lineitem").select("l_shipdate", "l_orderkey")
    keyed = li.select(
        F.expr(
            f"CASE WHEN l_shipdate < {HLL_MERGE_PIVOT} THEN 'a' ELSE 'b' END"
        ).alias("batch"),
        F.col("l_orderkey").alias("k"),
    )
    per_key = keyed.groupBy("k").agg(
        F.max(F.when(F.col("batch") == "a", True).otherwise(False)).alias("in_a"),
        F.max(F.when(F.col("batch") == "b", True).otherwise(False)).alias("in_b"),
    )
    parsed = _with_registers(per_key.withColumn("h", F.md5(F.col("k").cast("string"))))
    regs = parsed.groupBy("ridx").agg(
        F.max(F.when(F.col("in_a"), F.col("rho"))).alias("mx_a"),
        F.max(F.when(F.col("in_b"), F.col("rho"))).alias("mx_b"),
        F.max("rho").alias("mx_m"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    fold = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mx_a"))).alias("s_a"),
        F.count("mx_a").alias("nreg_a"),
        F.sum(F.pow(F.lit(2.0), -F.col("mx_b"))).alias("s_b"),
        F.count("mx_b").alias("nreg_b"),
        F.sum(F.pow(F.lit(2.0), -F.col("mx_m"))).alias("s_m"),
        F.count("mx_m").alias("nreg_m"),
        F.sum("n_keys").cast("long").alias("exact_union"),
    )
    return fold.select(
        r4(F.expr(_est_case("s_a", "nreg_a"))).alias("hll_a"),
        r4(F.expr(_est_case("s_b", "nreg_b"))).alias("hll_b"),
        r4(F.expr(_est_case("s_m", "nreg_m"))).alias("hll_merged"),
        "exact_union",
    )


# --- deterministic weighted sampling (A-Res) ---------------------------------
WSAMPLE_K = 5


def _u01(instr_fn: str, h: str) -> str:
    """Uniform (0,1) draw from the first 8 hex chars of md5 column ``h`` —
    pure instr arithmetic, identical in both engines (E0 literals keep
    Spark in doubles; plain `268435456.0` would go DecimalType)."""
    v = " + ".join(
        f"{_hx(instr_fn, f'substr({h}, {i + 1}, 1)')} * {16 ** (7 - i)}E0"
        for i in range(8)
    )
    return f"(({v} + 0.5E0) / 4294967296E0)"


@query(
    "weighted_sample_ares",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               power({_u01('strpos', "md5(concat('ws|', cast(doc_id as string)))")},
                     1.0 / greatest(n_chars, 1)) AS wkey
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY wkey DESC, doc_id) AS rn
        FROM keyed
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {WSAMPLE_K}
    """,
    tags=("sketch", "sampling", "weighted"),
)
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis–Spirakis A-Res): each doc
    draws u = md5-uniform(doc_id) and keeps key u^(1/weight); the top-K
    keys per language are a weighted-without-replacement sample with
    inclusion probability proportional to weight (here n_chars — the
    importance-sampling primitive for training-data mixture tuning).

    Deterministic by construction (hash draws), so reruns and engines
    agree bit-for-bit — a reproducible eval-set draw, like
    ``per_lang_sample`` but weight-aware. Scale shape: one shuffle on
    the group key; the rank-head form computes as a bounded per-group
    top-K (TakeOrderedAndProject within partitions at scale), and the
    streaming form keeps only K keys per group in memory.
    """
    docs = t(spark, sf_dir, "documents")
    keyed = docs.withColumn(
        "h", F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string")))
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(f"power({_u01('instr', 'h')}, 1.0 / greatest(n_chars, 1))").alias("wkey"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("wkey").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= WSAMPLE_K)
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"), "rn")
    )


# --- streaming HLL: registers as GroupState, estimate == batch sketch ---------
def _streaming_hll_oracle() -> str:
    idx, rho = _hll_terms("strpos", "k")
    return f"""
    WITH dk AS (SELECT DISTINCT user_id AS k FROM events),
    regs AS (SELECT {idx} AS ridx, max({rho}) AS mx FROM dk GROUP BY {idx}),
    fold AS (SELECT sum(power(2.0, -mx)) AS s, count(*) AS nreg FROM regs)
    SELECT ROUND({_est_case()}, 4) AS hll_users,
           (SELECT CAST(count(*) AS BIGINT) FROM dk) AS exact_users
    FROM fold
    """


@query(
    "streaming_hll_users",
    oracle=_streaming_hll_oracle(),
    tags=("sketch", "hll", "streaming", "stateful"),
)
def streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cardinality maintained as STREAMING state: each
    micro-batch computes (register, rho) JVM-side, then an
    applyInPandasWithState keyed BY REGISTER folds the max into
    GroupState — 256 tiny states total, never a growing seen-set. After
    the stream drains (AvailableNow), the registers collapse to the
    estimate with plain batch algebra, and the oracle proves the
    streamed sketch equals the batch sketch over the same events —
    registers are maxes, so arrival order cannot matter.

    This is the streaming twin of ``hll_merge_incremental``: unbounded
    dedup state is THE scale problem for streaming distinct counts
    (dropDuplicates state grows with cardinality); HLL state is fixed
    at m registers regardless of stream length. The pandas hop is the
    licensed applyInPandasWithState kernel (SURVEY §2.10).
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming import BOUNDED_STATE_PARTITIONS, run_to_memory, stream_events

    ev = stream_events(spark, sf_dir, with_watermark=None)
    parsed = _with_registers(
        ev.select(F.md5(F.col("user_id").cast("string")).alias("h"))
    ).select("ridx", "rho")

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (ridx,) = key
        mx = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, int(pdf["rho"].max()))
        state.update((mx,))
        yield pd.DataFrame({"ridx": [ridx], "mx": [mx]})

    regs_stream = parsed.groupBy("ridx").applyInPandasWithState(
        update,
        outputStructType="ridx int, mx int",
        stateStructType="mx int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(regs_stream, "update", BOUNDED_STATE_PARTITIONS)
    # update-mode sink holds one row per (register, batch-it-changed-in);
    # register maxes are monotone, so latest state == max over emissions.
    regs = sink.groupBy("ridx").agg(F.max("mx").alias("mx"))
    fold = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("s"),
        F.count(F.lit(1)).alias("nreg"),
    )
    exact = t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    # 1-row × 1-row scalar assembly (documented _NL_JOIN_OK shape)
    return fold.crossJoin(exact).select(
        r4(F.expr(_est_case())).alias("hll_users"), "exact_users"
    )


# --- stream-stream interval join, driven to completion and oracle-checked -----
ATTRIB_COHORT_MOD = 5  # deterministic 1/5 user cohort keeps the streaming
# state-store volume (both sides buffer into per-key state) proportionate
# in the bench suite; the join semantics are unchanged.


@query(
    "click_attribution_stream",
    oracle=f"""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.ts AS p_ts,
           c.ts AS c_ts,
           ROUND(p.value, 2) AS purchase_value
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND p.user_id % {ATTRIB_COHORT_MOD} = 0
    """,
    tags=("streaming", "J7", "stateful"),
)
def click_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream interval join run as an ACTUAL Structured
    Streaming query (two watermarked sides, event-time bounds on both —
    the only join shape whose state is evictable on infinite streams),
    driven to completion with AvailableNow and value-checked against the
    equivalent batch interval join in DuckDB. Complements the pytest
    batch-parity test (tests/test_streaming.py) with a driver-visible
    oracle row; at 100 TB/day the same plan runs continuously with
    state bounded by watermark + lookback.
    """
    from ..streaming import BOUNDED_STATE_PARTITIONS, run_to_memory, stream_events
    from ..streaming.stateful import purchase_click_attribution

    ev = stream_events(spark, sf_dir, with_watermark=None).where(
        f"user_id % {ATTRIB_COHORT_MOD} = 0"
    )
    out = purchase_click_attribution(
        ev.where("event_type = 'purchase'"), ev.where("event_type = 'click'")
    )
    return run_to_memory(out, "append", BOUNDED_STATE_PARTITIONS).select(
        "user_id",
        "purchase_id",
        "click_id",
        "p_ts",
        "c_ts",
        r2(F.col("purchase_value")).alias("purchase_value"),
    )


# --- mergeable block-quantile digest ------------------------------------------
QD_SHARDS = 64
QD_QUANTILES = ((1, "q25"), (2, "q50"), (3, "q75"))  # numerator of q/4


def _qd_shard_sql(md5_expr: str, strpos: str) -> str:
    """0..QD_SHARDS-1 from the first two hex chars of an md5."""
    hi = _hx(strpos, f"substr({md5_expr}, 1, 1)")
    lo = _hx(strpos, f"substr({md5_expr}, 2, 1)")
    return f"(({hi} * 16 + {lo}) % {QD_SHARDS})"


def _qd_oracle() -> str:
    shard = _qd_shard_sql("md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR)", "strpos")
    picks = " OR ".join(
        f"pos = (ns * {p} + 3) // 4" for p, _ in QD_QUANTILES
    )
    label = "CASE " + " ".join(
        f"WHEN pos = (ns * {p} + 3) // 4 THEN '{lab}'" for p, lab in QD_QUANTILES
    ) + " END"
    return f"""
    WITH rows_ AS (
        SELECT l_extendedprice AS v,
               md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR) AS rk,
               {shard} AS shard
        FROM lineitem
    ),
    ranked AS (
        SELECT shard, v, rk,
               ROW_NUMBER() OVER (PARTITION BY shard ORDER BY v, rk) AS pos,
               COUNT(*) OVER (PARTITION BY shard) AS ns
        FROM rows_
    ),
    digest AS (
        SELECT shard, ns, v, {label} AS quantile
        FROM ranked WHERE {picks}
    )
    SELECT quantile,
           ROUND(SUM(ns * v) / SUM(ns), 4) AS est,
           CAST(SUM(ns) AS BIGINT) AS n_total
    FROM digest
    GROUP BY quantile
    """


@query("quantile_digest_merge", oracle=_qd_oracle(), tags=("sketch", "quantile", "A13"))
def quantile_digest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable block-quantile digest — the quantile member of the
    portable sketch family (cardinality/frequency/membership/sampling
    already have exact cross-engine twins; Spark's built-in
    approx_percentile is implementation-defined, hence rows-only).

    Rows hash (md5) into QD_SHARDS blocks; each block contributes its
    EXACT type-1 order statistics (value at ceil(q·n) — a pure
    row_number pick with a unique tie-break, no interpolation
    arithmetic to drift between engines); the merge is the
    size-weighted mean of block quantiles. This is the block-digest
    shape KLL/t-digest industrialize: per-block compaction (here a
    partition-local sort bounded by n/QD_SHARDS), tiny digests to the
    merger, one number out. Estimator error vs the true quantile is
    pinned by a pytest envelope; the digest itself is exactly
    replayable, so the driver value-checks every cell."""
    li = t(spark, sf_dir, "lineitem")
    strpos, md5e = "instr", "md5(concat(cast(l_orderkey as string), '|', cast(l_linenumber as string)))"
    rows = li.selectExpr(
        "l_extendedprice AS v",
        f"{md5e} AS rk",
        f"{_qd_shard_sql(md5e, strpos)} AS shard",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("v", "rk")
    ranked = rows.select(
        "shard",
        "v",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(Window.partitionBy("shard")).alias("ns"),
    )
    pick = None
    label = None
    for p, lab in QD_QUANTILES:
        cond = F.col("pos") == F.expr(f"(ns * {p} + 3) div 4")
        pick = cond if pick is None else (pick | cond)
        label = (
            F.when(cond, F.lit(lab)) if label is None else label.when(cond, F.lit(lab))
        )
    digest = ranked.where(pick).select("shard", "ns", "v", label.alias("quantile"))
    return digest.groupBy("quantile").agg(
        r4(F.sum(F.col("ns") * F.col("v")) / F.sum("ns")).alias("est"),
        F.sum("ns").cast("long").alias("n_total"),
    )


# --- join-size estimation (pre-join optimizer statistic) ----------------------
JS_D = 4  # count-min rows
JS_W = 256  # buckets (two hex chars, no modulo bias)
JS_SAMPLE_RATE = 16  # universe sampling keeps 1/16 of the KEY space


def _js_bucket(instr_fn: str, seed: int, value_expr: str) -> str:
    h = f"md5(concat('{seed}|', {value_expr}))"
    c1 = _hx(instr_fn, f"substr({h}, 1, 1)")
    c2 = _hx(instr_fn, f"substr({h}, 2, 1)")
    return f"(16 * {c1} + {c2})"


@query(
    "join_size_estimate",
    oracle=f"""
    WITH a AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY l_partkey
    ),
    b AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey
    ),
    exact AS (
        SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS exact_pairs
        FROM a JOIN b ON a.k = b.k
    ),
    cells_a AS (
        {" UNION ALL ".join(
            f"SELECT {s} AS seed, {_js_bucket('strpos', s, 'CAST(k AS STRING)')} AS bucket, "
            f"CAST(SUM(c) AS BIGINT) AS cnt FROM a GROUP BY 1, 2"
            for s in range(1, JS_D + 1)
        )}
    ),
    cells_b AS (
        {" UNION ALL ".join(
            f"SELECT {s} AS seed, {_js_bucket('strpos', s, 'CAST(k AS STRING)')} AS bucket, "
            f"CAST(SUM(c) AS BIGINT) AS cnt FROM b GROUP BY 1, 2"
            for s in range(1, JS_D + 1)
        )}
    ),
    cm AS (
        SELECT CAST(MIN(ip) AS BIGINT) AS cm_est
        FROM (
            SELECT ca.seed, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS ip
            FROM cells_a ca JOIN cells_b cb
              ON ca.seed = cb.seed AND ca.bucket = cb.bucket
            GROUP BY ca.seed
        )
    ),
    uni AS (
        SELECT CAST({JS_SAMPLE_RATE} * COALESCE(SUM(a.c * b.c), 0) AS BIGINT)
                   AS universe_est
        FROM a JOIN b ON a.k = b.k
        WHERE substr(md5(concat('u|', CAST(a.k AS STRING))), 1, 1) = '0'
    )
    SELECT exact.exact_pairs,
           cm.cm_est,
           CAST(cm.cm_est - exact.exact_pairs AS BIGINT) AS cm_overcount,
           uni.universe_est,
           ROUND(100.0E0 * (uni.universe_est - exact.exact_pairs)
                 / exact.exact_pairs, 4) AS universe_err_pct
    FROM exact, cm, uni
    """,
    tags=("sketch", "join-size", "optimizer"),
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality estimation — the optimizer statistic that
    decides whether a join is broadcastable, shuffle-safe, or about to
    explode, WITHOUT running the join. |A ⋈ B| = Σ_k cA(k)·cB(k) is
    estimated two ways and checked against the exact sum:

    - count-min inner product (AMS-style): each side folds its per-key
      counts into d×w = 1024 counters; Σ_bucket a·b per seed upper-bounds
      the true size (collisions only ADD), and min-over-seeds tightens
      it. Fixed memory regardless of key cardinality — the 100 TB path.
    - universe sampling: both sides keep the SAME deterministic 1/16 of
      the KEY space (first md5 hex char = '0'), so matching pairs
      survive intact and 16 × the sampled pair-sum is unbiased — the
      estimator of choice when collision noise at d×w memory is too
      coarse (error pinned in tests/test_sketches.py).

    Every count, product, and sum is integer, so both engines produce
    bit-identical estimates — the estimates themselves are driver-
    hashed, not just sanity-checked. Scale shape: two per-key
    aggregations (map-side combined), then all arithmetic happens on
    bounded sketch tables; the exact twin exists only as the yardstick
    column. Probe side here is the returns slice against the full fact
    on the part key — the asymmetric m×n join whose size a planner
    actually needs before choosing a strategy."""
    li = t(spark, sf_dir, "lineitem")
    a = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    b = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pairs = a.alias("a").join(b.alias("b"), "k").select(
        F.col("k"), (F.col("a.c") * F.col("b.c")).alias("p")
    )
    exact = pairs.agg(F.sum("p").cast("long").alias("exact_pairs"))

    def cells(side: DataFrame) -> DataFrame:
        hashed = side.select(
            "c",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("seed"),
                            F.expr(
                                _js_bucket("instr", s, "CAST(k AS STRING)")
                            ).alias("bucket"),
                        )
                        for s in range(1, JS_D + 1)
                    ]
                )
            ).alias("sb"),
        )
        return hashed.groupBy(
            F.col("sb.seed").alias("seed"), F.col("sb.bucket").alias("bucket")
        ).agg(F.sum("c").cast("long").alias("cnt"))

    ca, cb = cells(a), cells(b)
    cm = (
        ca.alias("ca")
        .join(cb.alias("cb"), ["seed", "bucket"])
        .groupBy("seed")
        .agg(F.sum(F.col("ca.cnt") * F.col("cb.cnt")).cast("long").alias("ip"))
        .agg(F.min("ip").cast("long").alias("cm_est"))
    )
    uni = (
        pairs.where(
            F.substring(F.md5(F.concat(F.lit("u|"), F.col("k").cast("string"))), 1, 1)
            == "0"
        )
        .agg(
            (F.lit(JS_SAMPLE_RATE) * F.coalesce(F.sum("p"), F.lit(0)))
            .cast("long")
            .alias("universe_est")
        )
    )
    return (
        exact.join(F.broadcast(cm))
        .join(F.broadcast(uni))
        .select(
            "exact_pairs",
            "cm_est",
            (F.col("cm_est") - F.col("exact_pairs")).cast("long").alias("cm_overcount"),
            "universe_est",
            r4(
                F.lit(100.0)
                * (F.col("universe_est") - F.col("exact_pairs"))
                / F.col("exact_pairs")
            ).alias("universe_err_pct"),
        )
    )


# --- KMV (theta-style) sketch: set INTERSECTION cardinality -------------------
KMV_K = 256


def _kmv_oracle() -> str:
    u = _u01("strpos", "md5(concat('kmv|', cast(user_id as string)))")
    return f"""
    WITH a AS (
        SELECT DISTINCT user_id, {u} AS h FROM events WHERE event_type = 'click'
    ),
    b AS (
        SELECT DISTINCT user_id, {u} AS h FROM events WHERE event_type = 'purchase'
    ),
    ka AS (SELECT user_id, h FROM a ORDER BY h LIMIT {KMV_K}),
    kb AS (SELECT user_id, h FROM b ORDER BY h LIMIT {KMV_K}),
    uni AS (
        SELECT user_id, h
        FROM (SELECT user_id, h FROM ka UNION SELECT user_id, h FROM kb) z
        ORDER BY h LIMIT {KMV_K}
    ),
    th AS (SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS ku FROM uni),
    inter AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c
        FROM uni JOIN ka ON ka.user_id = uni.user_id
                 JOIN kb ON kb.user_id = uni.user_id
    ),
    exact AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS na,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS nb,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM a JOIN b ON b.user_id = a.user_id) AS ninter
    )
    SELECT exact.na AS exact_a, exact.nb AS exact_b,
           exact.ninter AS exact_intersection,
           ROUND(CASE WHEN th.ku < 256 THEN th.ku * 1.0E0
                      ELSE (th.ku - 1) / th.hk END, 4) AS union_est,
           ROUND(CASE WHEN th.ku < 256 THEN inter.c * 1.0E0
                      ELSE inter.c * 1.0E0 / th.ku * ((th.ku - 1) / th.hk) END, 4)
               AS intersection_est
    FROM th CROSS JOIN inter CROSS JOIN exact
    """


@query("kmv_intersect_users", oracle=_kmv_oracle(), tags=("sketch", "kmv", "theta"))
def kmv_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta-style) sketch — the set-INTERSECTION
    member of the sketch family: HLL unions merge losslessly but
    intersections via inclusion-exclusion blow up in error, which is
    exactly why theta sketches exist. Each set (clickers, purchasers)
    keeps its K smallest md5-uniform hashes; the union sketch is the K
    smallest of the merged samples, union_est = (K−1)/h_K, and the
    intersection estimate scales the union estimate by the fraction of
    union-sample members present in BOTH input sketches; a union sample
    smaller than K means the sketch saw every element, so both
    estimates switch to the exact sampled counts (the standard KMV
    exact-below-K rule). All md5
    arithmetic, so the ESTIMATES get exact driver value-checks (the
    exact counts ride along for the error to be visible). Scale: each
    sketch is one distinct pass + a bounded top-K (TakeOrdered, no
    global sort materialized); combination touches only 3K rows."""
    u = _u01("instr", "md5(concat('kmv|', cast(user_id as string)))")
    ev = t(spark, sf_dir, "events")

    def side(etype: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .select("user_id")
            .distinct()
            .withColumn("h", F.expr(u))
        )

    a, b = side("click"), side("purchase")
    ka = a.orderBy("h").limit(KMV_K)
    kb = b.orderBy("h").limit(KMV_K)
    uni = ka.unionByName(kb).distinct().orderBy("h").limit(KMV_K)
    th = uni.agg(F.max("h").alias("hk"), F.count("*").cast("long").alias("ku"))
    inter = (
        uni.join(ka.select("user_id"), "user_id")
        .join(kb.select("user_id"), "user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    exact = (
        a.agg(F.count("*").cast("long").alias("na"))
        .crossJoin(b.agg(F.count("*").cast("long").alias("nb")))
        .crossJoin(
            a.join(b.select("user_id"), "user_id")
            .agg(F.count("*").cast("long").alias("ninter"))
        )
    )
    return (
        th.crossJoin(inter)
        .crossJoin(exact)
        .select(
            F.col("na").alias("exact_a"),
            F.col("nb").alias("exact_b"),
            F.col("ninter").alias("exact_intersection"),
            r4(
                F.when(F.col("ku") < KMV_K, F.col("ku") * F.lit(1.0)).otherwise(
                    (F.col("ku") - 1) / F.col("hk")
                )
            ).alias("union_est"),
            r4(
                F.when(F.col("ku") < KMV_K, F.col("c") * F.lit(1.0)).otherwise(
                    F.col("c") * F.lit(1.0) / F.col("ku")
                    * ((F.col("ku") - 1) / F.col("hk"))
                )
            ).alias("intersection_est"),
        )
    )


# --- streaming heavy hitters: count-min registers as GroupState --------------
HH_TOPK = 10


def _hh_oracle() -> str:
    cells = " UNION ALL ".join(
        f"SELECT u, exact_cnt, {s} AS seed, "
        f"{_cms_bucket('strpos', s, 'u')} AS bucket FROM exact"
        for s in range(1, CMS_D + 1)
    )
    return f"""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u FROM events),
    exact AS (SELECT u, CAST(count(*) AS BIGINT) AS exact_cnt FROM ev GROUP BY u),
    cells AS ({cells}),
    sketch AS (
        SELECT seed, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS cnt
        FROM cells GROUP BY seed, bucket
    ),
    probed AS (
        SELECT c.u, any_value(c.exact_cnt) AS exact_cnt,
               CAST(min(s.cnt) AS BIGINT) AS est_cnt
        FROM cells c JOIN sketch s ON s.seed = c.seed AND s.bucket = c.bucket
        GROUP BY c.u
    )
    SELECT CAST(u AS BIGINT) AS user_id, est_cnt, exact_cnt,
           CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
    FROM probed
    ORDER BY est_cnt DESC, CAST(u AS BIGINT) LIMIT {HH_TOPK}
    """


@query(
    "stream_heavy_hitters_cms",
    oracle=_hh_oracle(),
    tags=("sketch", "count-min", "streaming", "stateful"),
)
def stream_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users from a STREAM through count-min registers held
    as GroupState: each event derives its d=(seed, bucket) cells JVM-side,
    an applyInPandasWithState keyed BY CELL accumulates the counter —
    d·w = {CMS_D * CMS_W} bounded states total no matter how many users
    or events stream through (the per-key-counts alternative grows with
    user cardinality, which is exactly what kills streaming top-k at
    scale). Counters are order-independent sums, so the streamed sketch
    equals the batch sketch and the whole query is value-hashable.

    After the stream drains, the DISTINCT user set probes the sketch
    (min over rows) and the top-{HH_TOPK} by estimate is reported with
    exact counts and the non-negative CM overcount. This is the
    frequency twin of ``streaming_hll_users`` — together they give a
    stream bounded-memory cardinality AND frequency at once.

    Events arrive via the deterministic out-of-order 5-slice stage
    (arrival order cannot matter and the multi-batch run proves it).
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming import (
        BOUNDED_STATE_PARTITIONS,
        run_to_memory,
        stream_events_shuffled,
    )

    ev = stream_events_shuffled(spark, sf_dir, n_files=5).select(
        F.col("user_id").cast("string").alias("u")
    )
    def _cells(df: DataFrame, keep: tuple = ()) -> DataFrame:
        """Derive the d (seed, bucket) CMS cells for column `u` — ONE
        definition for the stream accumulate side and the batch probe
        side, so the two can never hash to different cells."""
        return df.select(
            *keep,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("seed"),
                            F.expr(_cms_bucket("instr", s, "u")).alias("bucket"),
                        )
                        for s in range(1, CMS_D + 1)
                    ]
                )
            ).alias("c"),
        ).select(*keep, F.col("c.seed").alias("seed"), F.col("c.bucket").alias("bucket"))

    cells = _cells(ev)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seed, bucket = key
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"seed": [seed], "bucket": [bucket], "cnt": [cnt]})

    reg_stream = cells.groupBy("seed", "bucket").applyInPandasWithState(
        update,
        outputStructType="seed int, bucket int, cnt long",
        stateStructType="cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # counters are monotone; latest state == max over update emissions
    sketch = (
        run_to_memory(reg_stream, "update", BOUNDED_STATE_PARTITIONS)
        .groupBy("seed", "bucket")
        .agg(F.max("cnt").cast("long").alias("cnt"))
    )
    exact = (
        t(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("u"))
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("exact_cnt"))
    )
    probe = _cells(exact, keep=("u", "exact_cnt"))
    probed = (
        probe.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("u")
        .agg(
            F.first("exact_cnt").alias("exact_cnt"),
            F.min("cnt").cast("long").alias("est_cnt"),
        )
    )
    return (
        probed.select(
            F.col("u").cast("long").alias("user_id"),
            "est_cnt",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            (F.col("est_cnt") - F.col("exact_cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("est_cnt"), F.asc("user_id"))
        .limit(HH_TOPK)
    )
