"""Referential-integrity checks between the image and caption tables.

The reference never joins (SURVEY.md §2.4) — these are the north_rule's
required additions. Orphan detection is a LEFT ANTI join each way; Catalyst
+ AQE pick broadcast vs sort-merge by size, and the caller can force
broadcast for a known-small side. Caption equality is an inner join plus a
null-safe comparison; violations carry both values as JSON detail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphan_violations(
    left: DataFrame, right: DataFrame, check_name: str, broadcast_right: bool = False
) -> DataFrame:
    """Rows of ``left`` whose image_id has no match in ``right`` (left_anti)."""
    rhs = right.select("image_id").distinct()
    if broadcast_right:
        rhs = F.broadcast(rhs)
    return left.join(rhs, "image_id", "left_anti").select(
        "part",
        F.lit(check_name).alias("check_name"),
        "image_id",
        F.to_json(F.struct(F.lit(check_name).alias("reason"))).alias("detail"),
    )


def caption_equality_violations(images: DataFrame, captions: DataFrame) -> DataFrame:
    """Images whose caption differs from the reference caption (null-safe:
    a null image caption with a present reference caption is a violation)."""
    ref = captions.select(
        F.col("image_id"), F.col("caption").alias("ref_caption")
    )
    joined = images.select("image_id", "caption", "part").join(ref, "image_id", "inner")
    return (
        joined.where(~F.col("caption").eqNullSafe(F.col("ref_caption")))
        .select(
            "part",
            F.lit("caption_equality").alias("check_name"),
            F.col("image_id"),
            F.to_json(F.struct("caption", "ref_caption")).alias("detail"),
        )
    )
