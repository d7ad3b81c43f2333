"""The full constraint-suite plan: the engine's flagship pipeline.

Generalizes the reference lifecycle (SeqFilesScan.java:282-373 — one
distributed aggregation, one evidence table, driver-side artifact emission)
into a constraint suite over the image+caption table:

  stats profile (1 pass, blob-free)  ─┐
  domain + null rules (one scan)      ├─> violations (unionByName)
  unique rules (agg + broadcast join) │      + per-partition verdicts
  referential (anti joins)            │      + profile table
  caption equality (inner join)       │
  pixel rules (Arrow UDF scan)       ─┘
  drift vs snapshot profile (tiny histogram join)

The domain, null, uniqueness and pixel checks are rules (plans/rules.py)
compiled by ``apply_rules``; only the cross-table checks have operators of
their own (operators/referential.py).

Everything stays distributed; the driver only sees verdict aggregates
(vs the reference's collectAsMap of every distinct schema,
SeqFilesScan.java:315). Violation rows generalize the reference's
schema+exemplar evidence table (SeqFilesScan.java:239-255) by keeping ALL
offending rows with the check name and a JSON detail payload.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schema_inference_spark.datagen.images import FMT_DOMAIN, IMAGES_SCHEMA
from schema_inference_spark.operators.domain import schema_mismatches
from schema_inference_spark.operators.drift import drift_verdicts
from schema_inference_spark.operators.pixels import pixel_check_results
from schema_inference_spark.operators.profile import profile_images
from schema_inference_spark.operators.referential import (
    caption_equality_violations,
    orphan_violations,
)
from schema_inference_spark.plans.rules import apply_rules, in_domain, row_rule, unique
from schema_inference_spark.sources.tables import local_frame

ROW_CHECKS = (
    "domain_fmt",
    "domain_dims",
    "null_caption",
    "unique_image_id",
    "unique_phash",
    "ref_orphan_image",
    "ref_orphan_caption",
    "caption_equality",
    "pixel_decode",
    "pixel_dims",
    "pixel_psnr",
)


@dataclass
class ValidationConfig:
    fmt_domain: tuple[str, ...] = FMT_DOMAIN
    psnr_min_db: float = 40.0
    psi_threshold: float = 0.25
    ks_threshold: float = 0.25
    check_pixels: bool = True
    broadcast_dup_keys: bool = True


@dataclass
class ValidationResult:
    verdicts: DataFrame  # (part, check_name, n_rows, n_violations, passed)
    violations: DataFrame  # (part, check_name, image_id, detail)
    profile: DataFrame  # per-partition stats/histograms
    schema_problems: list[str] = field(default_factory=list)

    def exemplars(self, k: int = 5) -> DataFrame:
        """Up to k deterministic exemplar image_ids per failing check — the
        reference's schema+sample evidence table (A5, SeqFilesScan.java:241)
        generalized, built hot-key-safe via salted two-phase collection
        (a check like unique_phash can flag 1/3 of the corpus)."""
        from schema_inference_spark.operators.salting import salted_exemplars

        return salted_exemplars(self.violations, "check_name", "image_id", k=k)


def image_rules(fmt_domain: tuple[str, ...]) -> list:
    """The checks over the images table: the three row rules share one scan,
    each unique rule is one partial-agg groupBy."""
    return [
        in_domain("fmt", fmt_domain),
        # a null w or h makes the condition null, which flags the row
        row_rule("domain_dims", (F.col("w") > 0) & (F.col("h") > 0), ("w", "h")),
        row_rule(
            "null_caption", F.col("caption").isNotNull(), (F.lit("caption is null").alias("reason"),)
        ),
        unique("image_id"),
        unique("phash"),
    ]


def pixel_rules(psnr_min_db: float) -> list:
    """The checks over ``pixel_check_results``. Each flags a row only when
    its violation condition is TRUE (a null comparison is no violation),
    so the pass condition is ``~coalesce(violation, false)``."""

    def flag(name: str, violation, evidence: tuple):
        return row_rule(name, ~F.coalesce(violation, F.lit(False)), evidence)

    decoded = F.col("decode_ok")
    return [
        flag("pixel_decode", ~decoded, (F.lit("decode failed").alias("reason"),)),
        flag(
            "pixel_dims",
            decoded & ((F.col("actual_w") != F.col("w")) | (F.col("actual_h") != F.col("h"))),
            ("w", "h", "actual_w", "actual_h"),
        ),
        flag(
            "pixel_psnr",
            decoded & (F.col("psnr_db") < psnr_min_db),
            (F.round("psnr_db", 2).alias("psnr_db"),),
        ),
    ]


def collect_violations(
    images: DataFrame, captions: DataFrame, config: ValidationConfig
) -> DataFrame:
    """Union of all row-level violation tables (lazy)."""
    ids = ("part", "image_id")
    v = apply_rules(
        images, image_rules(config.fmt_domain), ids, broadcast_dup_keys=config.broadcast_dup_keys
    )
    if config.check_pixels:
        # one decode per image: every pixel rule reads the same UDF output
        v = v.unionByName(
            apply_rules(pixel_check_results(images), pixel_rules(config.psnr_min_db), ids)
        )
    v = v.select("part", F.col("rule_name").alias("check_name"), "image_id", "detail")
    v = v.unionByName(orphan_violations(images, captions, "ref_orphan_image"))
    v = v.unionByName(orphan_violations(captions, images, "ref_orphan_caption"))
    return v.unionByName(caption_equality_violations(images, captions))


def run_validation(
    spark: SparkSession,
    images: DataFrame,
    captions: DataFrame,
    config: ValidationConfig | None = None,
    snapshot_profile: DataFrame | None = None,
    materialize: bool = False,
) -> ValidationResult:
    """Build the suite. With ``materialize=True`` the violations table is
    persisted before the verdict aggregation, so consumers that trigger
    both (count violations AND read verdicts) pay for the scan pipeline
    once — the DataFrame analog of the reference's missing ``.persist()``
    (its count + reduceByKey recomputed the whole parse lineage twice,
    SeqFilesScan.java:284,297)."""
    config = config or ValidationConfig()
    declared = T.StructType([f for f in IMAGES_SCHEMA.fields if f.name != "part"])
    schema_problems = schema_mismatches(images.drop("part"), declared)

    profile = profile_images(images)
    violations = collect_violations(images, captions, config)
    if materialize:
        violations = violations.persist()
        if snapshot_profile is not None:
            # the profile feeds both the result and the drift comparison;
            # it is tiny (one row per partition) — cache it
            profile = profile.persist()

    # per-partition verdicts: parts x checks grid left-joined to violation
    # counts; the grid derives from the SAME part_rows aggregate (one scan,
    # not a distinct + a groupBy)
    checks = local_frame(spark, [(c,) for c in ROW_CHECKS], "check_name string")
    part_rows = images.groupBy("part").agg(F.count(F.lit(1)).alias("n_rows"))
    grid = part_rows.select("part").crossJoin(F.broadcast(checks))
    counts = violations.groupBy("part", "check_name").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    verdicts = (
        grid.join(counts, ["part", "check_name"], "left")
        .join(part_rows, "part", "left")
        .select(
            "part",
            "check_name",
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
            (F.coalesce("n_violations", F.lit(0)) == 0).alias("passed"),
        )
    )

    if snapshot_profile is not None:
        dv = drift_verdicts(
            profile,
            snapshot_profile,
            psi_threshold=config.psi_threshold,
            ks_threshold=config.ks_threshold,
        ).join(part_rows, "part", "left")
        verdicts = verdicts.unionByName(
            dv.select(
                "part",
                "check_name",
                F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
                F.when(F.col("passed"), F.lit(0)).otherwise(F.lit(1)).alias("n_violations"),
                "passed",
            )
        )

    return ValidationResult(
        verdicts=verdicts,
        violations=violations,
        profile=profile,
        schema_problems=schema_problems,
    )
