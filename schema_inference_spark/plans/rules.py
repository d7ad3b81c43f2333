"""Declarative constraint rules — the user-facing check DSL.

The one check compiler: users declare rules and the engine compiles them
into ONE narrow scan per table (every row-level rule becomes an optional
struct in a single exploded projection) plus one aggregation pass per
dataset-level rule. The image suite (plans/validation.py) declares its
domain, null, uniqueness and pixel checks here too.

Rule kinds:
  * ``row_rule(name, condition)``      — violation when condition is not TRUE
  * ``not_null(col)`` / ``in_domain(col, values)`` / ``in_range(col, lo, hi)``
    — convenience constructors
  * ``unique(cols)``                   — dataset-level duplicate-key check
    (partial-agg groupBy, hot-key safe: operators/uniqueness.py)

Everything compiles to built-in expressions; the whole rule set stays
inside whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from schema_inference_spark.operators.uniqueness import duplicate_rows
from schema_inference_spark.sources.tables import local_frame


@dataclass(frozen=True)
class RowRule:
    name: str
    condition: Column  # row passes when TRUE
    evidence: tuple = ()  # column names or Columns echoed into the detail payload


@dataclass(frozen=True)
class UniqueRule:
    name: str
    cols: tuple[str, ...]


def row_rule(name: str, condition: Column, evidence: tuple = ()) -> RowRule:
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


def unique(*cols: str) -> UniqueRule:
    return UniqueRule("unique_" + "_".join(cols), tuple(cols))


def apply_rules(
    df: DataFrame,
    rules: list,
    id_cols: tuple[str, ...],
    broadcast_dup_keys: bool = True,
) -> DataFrame:
    """Violations DataFrame (rule_name, <id_cols...>, detail) for all rules.

    Row rules share one scan and flag a row unless their condition is
    TRUE; each unique rule adds one partial-agg groupBy + (broadcast) join
    back (operators/uniqueness.py)."""
    row_rules = [r for r in rules if isinstance(r, RowRule)]
    unique_rules = [r for r in rules if isinstance(r, UniqueRule)]

    out: DataFrame | None = None
    if row_rules:
        structs = [
            F.when(
                ~F.coalesce(r.condition, F.lit(False)),
                F.struct(
                    F.lit(r.name).alias("rule_name"),
                    F.to_json(F.struct(*r.evidence) if r.evidence else F.struct(F.lit(r.name).alias("rule"))).alias("detail"),
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
        v = duplicate_rows(df, r.cols, broadcast_dup_keys).select(
            F.lit(r.name).alias("rule_name"),
            *id_cols,
            F.to_json(F.struct(*r.cols, "dup_count")).alias("detail"),
        )
        out = v if out is None else out.unionByName(v)

    if out is None:
        raise ValueError("no rules given")
    return out


def rule_verdicts(df: DataFrame, violations: DataFrame, rules: list) -> DataFrame:
    """(rule_name, n_rows, n_violations, passed) — dataset-level verdicts.

    Lazy: the row count is a one-row aggregate in the same plan, so building
    the frame starts no Spark job."""
    grid = local_frame(df.sparkSession, [(r.name,) for r in rules], "rule_name string")
    n_rows = df.agg(F.count(F.lit(1)).alias("n_rows"))
    counts = violations.groupBy("rule_name").agg(F.count(F.lit(1)).alias("n_violations"))
    return (
        grid.join(counts, "rule_name", "left")
        .crossJoin(n_rows)
        .select(
            "rule_name",
            "n_rows",
            F.coalesce("n_violations", F.lit(0)).cast("bigint").alias("n_violations"),
            (F.coalesce("n_violations", F.lit(0)) == 0).alias("passed"),
        )
    )
