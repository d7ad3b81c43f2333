"""Cross-engine deterministic hashing, shingling, MinHash and SimHash.

All hashes derive from md5 (available and bit-identical in Spark and
DuckDB): the top 15 hex chars -> 60-bit non-negative bigint. That keeps
every dedup operator oracle-checkable — the DuckDB SQL computes the exact
same signatures.

At scale all of these are single-projection + hash-agg shapes: shingling
and hashing are per-row array expressions (JVM codegen, no Python), and
dedup candidates come from groupBy on signatures (partial agg, skew-safe).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# --- 60-bit md5 hash -------------------------------------------------------


def md5_long_expr(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_long_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# --- word shingles ---------------------------------------------------------


def exploded_shingles(df, id_col: str, text: Column, k: int = 3):
    """(id_col, shingle) rows — the whole-stage-codegen shingle path.

    ``explode(sequence)`` generates shingle start indices and
    ``array_join(slice(...))`` builds each shingle: every expression is
    codegen'd, unlike an ``F.transform`` lambda, which Spark 4.1.2
    evaluates interpreted per row (the repo's measured 20x lesson). Docs
    with fewer than k words produce no rows. This is the form every
    corpus-wide operator must use.
    """
    words = F.split(text, " ")
    base = df.select(id_col, words.alias("_w")).where(F.size("_w") >= k)
    return base.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.size("_w") - (k - 1))).alias("_i"),
        F.col("_w"),
    ).select(id_col, F.array_join(F.slice(F.col("_w"), F.col("_i"), k), " ").alias("shingle"))


def exploded_shingle_positions(df, id_col: str, text: Column, k: int):
    """(id_col, pos, h) rows: 1-based word position of each k-word shingle
    plus its 60-bit md5 hash — the positioned variant of
    :func:`exploded_shingles` for substring-granularity dedup. Same
    whole-stage-codegen shape (explode(sequence) + array_join(slice));
    docs with fewer than k words produce no rows."""
    words = F.split(text, " ")
    base = df.select(id_col, words.alias("_w")).where(F.size("_w") >= k)
    return base.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.size("_w") - (k - 1))).alias("pos"),
        F.col("_w"),
    ).select(
        id_col,
        F.col("pos").cast("bigint"),
        md5_long_expr(F.array_join(F.slice(F.col("_w"), F.col("pos"), k), " ")).alias("h"),
    )


def shingle_positions_sql(table: str, id_col: str, text_expr: str, k: int) -> str:
    """DuckDB mirror of :func:`exploded_shingle_positions` (a FROM-able
    subquery producing (id_col, pos, h))."""
    words = f"string_split({text_expr}, ' ')"
    return (
        f"(SELECT {id_col}, pos, "
        f"('0x' || substr(md5(array_to_string(list_slice(_w, pos, pos + {k - 1}), ' ')), 1, 15))::BIGINT AS h "
        f"FROM (SELECT {id_col}, {words} AS _w FROM {table} WHERE len({words}) >= {k}), "
        f"unnest(generate_series(1, len(_w) - {k - 1})) AS _t(pos))"
    )


def shingles_sql(expr: str, k: int = 3) -> str:
    words = f"string_split({expr}, ' ')"
    return (
        f"CASE WHEN len({words}) >= {k} THEN "
        f"list_transform(generate_series(1, len({words}) - {k - 1}), "
        f"i -> array_to_string(list_slice({words}, i, i + {k - 1}), ' ')) "
        f"ELSE [] END"
    )


# --- MinHash ---------------------------------------------------------------
#
# Standard universal-hash MinHash: shingles are hashed ONCE (md5 -> 60-bit),
# then each permutation is a cheap affine map (a_i * h + b_i) mod P over the
# base hashes — one md5 per shingle total instead of one per (shingle, perm).
# P = 2^31-1 keeps every product inside int64 (ANSI-safe in Spark, exact in
# DuckDB), and the (a, b) constants derive deterministically from the seed.

MINHASH_P = 2147483647  # 2^31 - 1 (prime)


def minhash_perm_consts(seed: int) -> tuple[int, int]:
    a = ((1103515245 * (seed + 1) + 12345) % MINHASH_P) | 1
    b = (2654435761 * (seed + 1)) % MINHASH_P
    return a, b


def shingle_hashes_sql(expr: str, k: int = 3) -> str:
    return (
        f"list_transform({shingles_sql(expr, k)}, "
        f"s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)"
    )


def minhash_sql(expr: str, seed: int, k: int = 3) -> str:
    a, b = minhash_perm_consts(seed)
    return (
        f"list_min(list_transform({shingle_hashes_sql(expr, k)}, "
        f"h -> ({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P}))"
    )




# --- SimHash ---------------------------------------------------------------
#
# 60-bit fingerprints (the full md5-derived 60-bit token hash, the repo's
# cross-engine convention). Round 1 used 16 bits with 2 blocks: 256 buckets
# per side makes the blocking self-join O((n/256)^2) and guarantees recall
# only to Hamming distance 1. 60 bits gives 2^15+ buckets per 15-bit block
# and the pigeonhole scheme in simhash_near_pairs guarantees recall to
# n_blocks-1 differing bits.

SIMHASH_BITS = 60


def simhash_bit_balance_aggs(n_bits: int = SIMHASH_BITS) -> list[Column]:
    """Aggregates over an exploded (doc_id, token_hash) frame: per-bit
    balance = sum(+1 if bit set else -1). Partial-aggregatable. (The
    reference formulation; the hot path uses the SWAR-packed variant
    below, and the DuckDB oracle keeps THIS independent formulation so the
    two implementations cross-check each other.)"""
    return [
        F.sum(
            F.when((F.shiftright(F.col("token_hash"), b).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
        ).alias(f"bal{b}")
        for b in range(n_bits)
    ]


def simhash_from_balances(n_bits: int = SIMHASH_BITS) -> Column:
    """Combine per-bit balances into the fingerprint int (bit b set iff
    balance >= 0 — ties resolve to 1 deterministically)."""
    acc = F.lit(0).cast("bigint")
    for b in range(n_bits):
        acc = acc + F.when(F.col(f"bal{b}") >= 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return acc


# SWAR packing for the 60-bit fingerprint: 2 bit-counters of 32 bits ride in
# each 64-bit sum, so the per-token aggregation runs 30 packed sums + one
# count instead of 60 conditional sums — per-group aggregation state halves
# (31 int64 buffers instead of 60), which is what matters in a 10^12-row
# shuffle. Lane k of packed sum s counts bit (s + 30*k).
#
# Overflow proof (ANSI-safe — this session THROWS on bigint sum overflow,
# ADVICE r2): per-token contribution <= 1 + 2^32 < 2^33, and a Spark string
# caps at 2^31 bytes so a doc has < 2^30 whitespace tokens; the packed sum
# is therefore <= 2^30 * (2^32 + 1) < 2^63 — no wraparound is ever reached,
# and lane 0 (max 2^30 < 2^32) can never carry into lane 1. The earlier
# 4x16 packing put weight 2^48 on the top lane and crashed (ANSI
# ARITHMETIC_OVERFLOW) at ~32k same-bit tokens per doc.
_SWAR_LANES = 2
_SWAR_WIDTH = 32


def simhash_packed_aggs(n_bits: int = SIMHASH_BITS) -> list[Column]:
    n_sums = n_bits // _SWAR_LANES  # 30 packed sums for 60 bits
    out = []
    h = F.col("token_hash")
    for s in range(n_sums):
        expr = None
        for lane in range(_SWAR_LANES):
            bit = s + n_sums * lane
            contrib = F.shiftleft(
                F.shiftright(h, bit).bitwiseAND(F.lit(1)), lane * _SWAR_WIDTH
            )
            expr = contrib if expr is None else expr + contrib
        out.append(F.sum(expr).alias(f"pk{s}"))
    out.append(F.count(F.lit(1)).alias("n_tok"))
    return out


def simhash_from_packed(n_bits: int = SIMHASH_BITS) -> Column:
    """Fingerprint from the packed counters: bit b set iff 2*count_b >=
    n_tokens — identical to balance >= 0 in the per-bit formulation."""
    n_sums = n_bits // _SWAR_LANES
    acc = F.lit(0).cast("bigint")
    for s in range(n_sums):
        for lane in range(_SWAR_LANES):
            bit = s + n_sums * lane
            count = F.shiftright(F.col(f"pk{s}"), lane * _SWAR_WIDTH).bitwiseAND(
                F.lit((1 << _SWAR_WIDTH) - 1)
            )
            acc = acc + F.when(
                count * 2 >= F.col("n_tok"), F.lit(1 << bit).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
    return acc


def simhash_sql(n_bits: int = SIMHASH_BITS) -> tuple[str, str]:
    """(per-bit balance select list, fingerprint expr over those balances)."""
    balances = ", ".join(
        f"sum(CASE WHEN (token_hash >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bal{b}"
        for b in range(n_bits)
    )
    fp = " + ".join(f"(CASE WHEN bal{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(n_bits))
    return balances, f"({fp})::BIGINT"


def hamming_distance_expr(a: Column, b: Column, n_bits: int = SIMHASH_BITS) -> Column:
    """popcount(a XOR b) — one codegen'd instruction, any width <= 63 bits
    (fingerprints are non-negative, so two's-complement popcount is exact)."""
    del n_bits  # popcount covers the full word
    return F.bit_count(a.bitwiseXOR(b))
