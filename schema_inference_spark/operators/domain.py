"""Declarative schema + value-domain checks.

The inversion of the reference's schema *inference*: the table schema is
declared (BASELINE.json input_hint), so the engine validates (a) the
DataFrame schema structurally against the declared StructType and (b) row
values against domain rules — all as pure filter expressions (codegen'd,
pushdown-friendly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def schema_mismatches(df: DataFrame, declared: T.StructType) -> list[str]:
    """Structural diff vs the declared schema: human-readable mismatch list
    (driver-side, metadata only — no data read)."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    expected = {f.name: f.dataType.simpleString() for f in declared.fields}
    problems = []
    for name, dtype in expected.items():
        if name not in actual:
            problems.append(f"missing column {name}:{dtype}")
        elif actual[name] != dtype:
            problems.append(f"type mismatch {name}: declared {dtype}, actual {actual[name]}")
    for name in actual:
        if name not in expected:
            problems.append(f"unexpected column {name}:{actual[name]}")
    return problems


def domain_violations(
    images: DataFrame,
    fmt_domain: tuple[str, ...] = ("png", "jpeg", "webp"),
    part_col: str = "part",
) -> DataFrame:
    """fmt-domain + dimension-positivity + null-caption violations.

    ONE narrow scan: each rule emits an optional struct; the array of hits
    is exploded. (A union of three filters would re-scan the table per
    rule — same data, 3x the IO.)
    """
    fmt_v = F.when(
        F.col("fmt").isNull() | ~F.col("fmt").isin(*fmt_domain),
        F.struct(
            F.lit("domain_fmt").alias("check_name"),
            F.to_json(F.struct("fmt")).alias("detail"),
        ),
    )
    dims_v = F.when(
        F.col("w").isNull() | F.col("h").isNull() | (F.col("w") <= 0) | (F.col("h") <= 0),
        F.struct(
            F.lit("domain_dims").alias("check_name"),
            F.to_json(F.struct("w", "h")).alias("detail"),
        ),
    )
    cap_v = F.when(
        F.col("caption").isNull(),
        F.struct(
            F.lit("null_caption").alias("check_name"),
            F.to_json(F.struct(F.lit("caption is null").alias("reason"))).alias("detail"),
        ),
    )
    # explode-then-WHERE instead of a filter() lambda: HOFs evaluate
    # interpreted per row in Spark 4.1.2, and this runs once per image.
    # explode emits the null slots; the codegen'd WHERE drops them in the
    # same whole-stage span.
    viols = F.array(fmt_v, dims_v, cap_v)
    return images.select(
        F.col(part_col).alias("part"), "image_id", F.explode(viols).alias("v")
    ).where(F.col("v").isNotNull()).select(
        "part",
        F.col("v.check_name").alias("check_name"),
        "image_id",
        F.col("v.detail").alias("detail"),
    )
