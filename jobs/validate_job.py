#!/usr/bin/env python
"""Production entry point: the full constraint suite as a spark-submit job.

Launch (north_rule launch mode):

    python jobs/package_pyfiles.py                       # build the zip once
    spark-submit --py-files /tmp/schema_inference_spark.zip \
        jobs/validate_job.py \
        --images  <parquet/iceberg path> \
        --captions <parquet path> \
        --output  <results dir> \
        [--snapshot <profile parquet>] [--checkpoint <lineage dir>] \
        [--run-id run-1] [--no-pixels]

Appends three result tables under --output (violations/, verdicts/,
profile/), appends per-partition lineage to --checkpoint, and skips
partitions already recorded there (resume). Exit code 1 if any check
failed — suitable for orchestrator gating.

The three writes are the steps of the package's one step runner
(plans/steps.py) and, the suite being lazy, the whole validation phase:
their summed seconds are the lineage rows' ``wall_sec``, and the run's
record is <output>/metrics.json.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--captions", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshot", default=None)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument("--no-pixels", action="store_true")
    ap.add_argument("--psnr-min-db", type=float, default=40.0)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from schema_inference_spark.plans.checkpoint import (
        filter_for_resume,
        unvalidated_parts,
        write_checkpoint,
    )
    from schema_inference_spark.plans.steps import Steps
    from schema_inference_spark.plans.validation import ValidationConfig, run_validation

    # under spark-submit the session is provided/configured by the launcher
    spark = SparkSession.builder.getOrCreate()

    def gate_from_checkpoint() -> int:
        """Exit code from the FULL lineage table, not just this run: a
        partition with no 'validated' row in any run fails the gate
        (ADVICE r1 — a fully-checkpointed rerun must not mask failures)."""
        if not args.checkpoint:
            return 0
        bad = unvalidated_parts(spark, args.checkpoint)
        if bad is None:
            return 0
        n_bad = bad.count()
        if n_bad:
            print(f"gate: {n_bad} partition(s) have no successful validation")
        return 1 if n_bad else 0

    images = spark.read.parquet(args.images)
    captions = spark.read.parquet(args.captions)
    if args.checkpoint:
        images = filter_for_resume(spark, images, args.checkpoint)
        captions = filter_for_resume(spark, captions, args.checkpoint)
    if images.isEmpty():
        print("all partitions already validated; deriving gate from checkpoint")
        return gate_from_checkpoint()

    snapshot_profile = spark.read.parquet(args.snapshot) if args.snapshot else None
    config = ValidationConfig(check_pixels=not args.no_pixels, psnr_min_db=args.psnr_min_db)
    res = run_validation(
        spark, images, captions, config, snapshot_profile=snapshot_profile, materialize=True
    )

    # Append, tagged by run_id: a resumed run carries only the remaining
    # partitions, so overwriting would destroy the prior runs' tables
    # (ADVICE r1). Consumers read the union and can filter by run_id.
    run = Steps("validate", args.output, {k: v for k, v in vars(args).items() if k != "output"})
    run.begin(spark)
    for name in ("violations", "verdicts", "profile"):
        tagged = getattr(res, name).withColumn("run_id", F.lit(args.run_id))
        # partition-pruned reads for per-partition consumers/re-runs
        # (Iceberg: the results table's partition spec; parquet: partitionBy)
        part = ("part",) if "part" in tagged.columns else None
        run.step(name, lambda: tagged, mode="append", partition_by=part)
    if args.checkpoint:
        wall_sec = round(sum(s["sec"] for s in run.stages.values()), 2)
        write_checkpoint(res.verdicts, args.checkpoint, args.run_id, wall_sec=wall_sec)

    n = run.stages["verdicts"]["rows"]
    failed = res.verdicts.where(~res.verdicts.passed).count()
    run.finish(run_id=args.run_id, verdicts=n, failed_checks=failed,
               schema_problems=res.schema_problems)
    print(f"run {args.run_id}: {n} verdicts, {failed} failed checks; "
          f"schema problems: {res.schema_problems or 'none'}")
    res.violations.unpersist()
    if args.checkpoint:
        return 1 if (gate_from_checkpoint() or res.schema_problems) else 0
    return 1 if failed or res.schema_problems else 0


if __name__ == "__main__":
    sys.exit(main())
