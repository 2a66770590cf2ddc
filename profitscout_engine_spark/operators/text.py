"""Text-analysis / dedup kernels for large-scale training-data pipelines
(SURVEY §7.2 Phase 5 — the north-star extensions over ``documents``).

Everything here is pure ``Column`` algebra over the JVM (whole-stage
codegen): tokenization, shingling, MinHash signatures, SimHash bits.
The only hashes used are ``md5`` (identical across engines, so every
kernel has an exact DuckDB twin) — at 100 TB the hash calls are the
cheap part; what matters is that

- MinHash computes all ``K`` signature slots in ONE aggregation pass
  over the exploded-shingle frame (no K-way seed explosion: the shuffle
  carries each shingle once, and the map-side partial min does the rest);
- SimHash candidate generation is BANDED (4×8-bit bands): pairs are
  generated by an equi-join on a band key, never by an O(n²) cross join.
  For Hamming radius ≤ 3, pigeonhole guarantees one clean band, so the
  banded join finds *exactly* the brute-force pair set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Number of MinHash signature slots and LSH band layout (4 rows × 4 bands).
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 × 8-bit bands → exact for Hamming radius ≤ 3

# Odd hex digits — a hex digit's low bit, the cross-engine-safe way to
# read one pseudo-random bit out of an md5 without hex→int conversion.
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (documents fixture is single-spaced ASCII)."""
    return F.split(text, " ")


def word_shingles(n: int = 3) -> Column:
    """Word n-gram shingles (array<string>, with multiplicity) from a
    tokenized column named ``tk``."""
    parts = ", ' ', ".join(f"element_at(tk, i + {j})" for j in range(n))
    return F.expr(
        f"transform(sequence(1, greatest(size(tk) - {n - 1}, 0)),"
        f" i -> concat({parts}))"
    )


def shingle_frame(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) — exploded word 3-grams, optionally set-semantics.

    Repartitions the input first: the fixture parquet is a single split,
    and tokenize+explode+md5 is the CPU-heavy map side of every dedup
    kernel — it must fan out across cores (on a cluster: across
    executors) before the per-doc aggregations shuffle.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    tk = docs.repartition(par).select("doc_id", tokens(F.col("text")).alias("tk"))
    sh = tk.select("doc_id", F.explode(word_shingles()).alias("shingle"))
    return sh.dropDuplicates(["doc_id", "shingle"]) if distinct else sh


def minhash_signature(shingles: DataFrame) -> DataFrame:
    """One row per doc_id with columns h0..h{K-1}: the MinHash signature.

    slot s = min over the doc's distinct shingles of md5('s|' || shingle).
    Single groupBy — the K mins ride one shuffle with map-side partials.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"h{s}")
        for s in range(MINHASH_K)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def minhash_bands(signature: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_sig) — signature sliced into LSH bands.

    band_sig = md5 of the band's row-concat; docs sharing any (band_id,
    band_sig) are near-dup candidates (equi-join, shuffle on band key).
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"h{b * MINHASH_ROWS + r}") for r in range(MINHASH_ROWS)],
                    )
                ).alias("band_sig"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return signature.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_sig").alias("band_sig")
    )


def simhash(shingles: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash over shingles WITH multiplicity.

    Bit i's vote for a shingle is ±1 by the parity of hex digit i of the
    shingle's md5; the signature bit is the sign of the vote sum. One
    groupBy, 32 conditional-sum aggregates, all codegen'd.
    """
    m = F.md5(F.col("shingle"))
    votes = [
        F.sum(
            F.when(F.substring(m, i + 1, 1).isin(*_ODD_HEX), 1).otherwise(-1)
        ).alias(f"c{i}")
        for i in range(SIMHASH_BITS)
    ]
    bits = shingles.groupBy("doc_id").agg(*votes)
    build = " + ".join(
        f"(CASE WHEN c{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(SIMHASH_BITS)
    )
    return bits.select("doc_id", F.expr(build).alias("simhash"))


def simhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_val) — the 4 bytes of the simhash.

    Candidate pairs = docs agreeing on ≥1 byte. By pigeonhole, any pair
    within Hamming distance 3 agrees on at least one of the 4 bytes, so
    banding loses nothing at radius ≤ 3 while avoiding the O(n²) scan.
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(f"CAST(shiftright(simhash, {b * width}) & {(1 << width) - 1} AS INT)").alias(
                    "band_val"
                ),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    return sig.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
        "doc_id", "simhash", F.col("b.band_id").alias("band_id"), F.col("b.band_val").alias("band_val")
    )


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
