"""Declarative constraint rules — the user-facing check DSL.

The image suite (plans/validation.py) is a fixed, tuned pipeline; this
module is the open surface for arbitrary tables: users declare rules, the
engine compiles them into ONE narrow scan per table (every row-level rule
becomes an optional struct in a single exploded projection — the same
one-pass shape as operators/domain.py) plus one aggregation pass for
dataset-level rules.

Rule kinds:
  * ``row_rule(name, condition)``      — violation when condition is FALSE
  * ``not_null(col)`` / ``in_domain(col, values)`` / ``in_range(col, lo, hi)``
    / ``matches(col, regex)``          — convenience constructors
  * ``unique(cols)``                   — dataset-level duplicate-key check
    (partial-agg groupBy, hot-key safe like operators/uniqueness.py)

Everything compiles to built-in expressions; the whole rule set stays
inside whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from schema_inference_spark.sources.tables import local_frame


@dataclass(frozen=True)
class RowRule:
    name: str
    condition: Column  # row passes when TRUE
    evidence: tuple[str, ...] = ()  # columns echoed into the detail payload


@dataclass(frozen=True)
class UniqueRule:
    name: str
    cols: tuple[str, ...]


def row_rule(name: str, condition: Column, evidence: tuple[str, ...] = ()) -> RowRule:
    return RowRule(name, condition, evidence)


def not_null(col: str) -> RowRule:
    return RowRule(f"not_null_{col}", F.col(col).isNotNull(), (col,))


def in_domain(col: str, values: tuple) -> RowRule:
    return RowRule(
        f"domain_{col}", F.col(col).isNotNull() & F.col(col).isin(*values), (col,)
    )


def in_range(col: str, lo, hi) -> RowRule:
    return RowRule(
        f"range_{col}",
        F.col(col).isNotNull() & (F.col(col) >= lo) & (F.col(col) <= hi),
        (col,),
    )


def matches(col: str, regex: str) -> RowRule:
    return RowRule(f"matches_{col}", F.col(col).isNotNull() & F.col(col).rlike(regex), (col,))


def unique(*cols: str) -> UniqueRule:
    return UniqueRule("unique_" + "_".join(cols), tuple(cols))


def apply_rules(
    df: DataFrame,
    rules: list,
    id_cols: tuple[str, ...],
    broadcast_dup_keys: bool = True,
) -> DataFrame:
    """Violations DataFrame (rule_name, <id_cols...>, detail) for all rules.

    Row rules share one scan; each unique rule adds one partial-agg
    groupBy + broadcast join back (small dup-key sets)."""
    row_rules = [r for r in rules if isinstance(r, RowRule)]
    unique_rules = [r for r in rules if isinstance(r, UniqueRule)]

    out: DataFrame | None = None
    if row_rules:
        structs = [
            F.when(
                ~F.coalesce(r.condition, F.lit(False)),
                F.struct(
                    F.lit(r.name).alias("rule_name"),
                    F.to_json(F.struct(*[F.col(c) for c in r.evidence]) if r.evidence else F.struct(F.lit(r.name).alias("rule"))).alias("detail"),
                ),
            )
            for r in row_rules
        ]
        # explode + codegen WHERE, not an interpreted filter() lambda
        hits = F.array(*structs)
        out = df.select(*id_cols, F.explode(hits).alias("v")).where(
            F.col("v").isNotNull()
        ).select(
            F.col("v.rule_name").alias("rule_name"), *id_cols, F.col("v.detail").alias("detail")
        )

    for r in unique_rules:
        dups = (
            df.groupBy(*r.cols)
            .count()
            .where(F.col("count") > 1)
            .withColumnRenamed("count", "dup_count")
        )
        if broadcast_dup_keys:
            dups = F.broadcast(dups)
        v = df.join(dups, list(r.cols), "inner").select(
            F.lit(r.name).alias("rule_name"),
            *id_cols,
            F.to_json(F.struct(*[F.col(c) for c in r.cols], F.col("dup_count"))).alias("detail"),
        )
        out = v if out is None else out.unionByName(v)

    if out is None:
        raise ValueError("no rules given")
    return out


def rule_verdicts(df: DataFrame, violations: DataFrame, rules: list) -> DataFrame:
    """(rule_name, n_rows, n_violations, passed) — dataset-level verdicts."""
    n_rows = df.count()
    names = [r.name for r in rules]
    grid = local_frame(df.sparkSession, [(n,) for n in names], "rule_name string")
    counts = violations.groupBy("rule_name").agg(F.count(F.lit(1)).alias("n_violations"))
    return (
        grid.join(counts, "rule_name", "left")
        .select(
            "rule_name",
            F.lit(n_rows).cast("bigint").alias("n_rows"),
            F.coalesce("n_violations", F.lit(0)).cast("bigint").alias("n_violations"),
            (F.coalesce("n_violations", F.lit(0)) == 0).alias("passed"),
        )
    )
