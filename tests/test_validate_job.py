"""End-to-end drive of the production entry point (jobs/validate_job.py):
exit codes, resume, append-not-overwrite outputs, and the full-lineage gate."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F

from jobs.validate_job import main
from schema_inference_spark.datagen.images import generate_image_corpus, images_spark_df


def _write_corpus(spark, d, with_violations):
    corpus = generate_image_corpus(400, n_parts=2, with_violations=with_violations)
    images, captions = images_spark_df(spark, corpus)
    images.write.mode("overwrite").parquet(f"{d}/images")
    captions.write.mode("overwrite").parquet(f"{d}/captions")


def _args(d, run_id):
    return [
        "--images", f"{d}/images",
        "--captions", f"{d}/captions",
        "--output", f"{d}/out",
        "--checkpoint", f"{d}/ckpt",
        "--run-id", run_id,
    ]


def test_clean_corpus_validates_resumes_and_appends(spark):
    with tempfile.TemporaryDirectory() as d:
        _write_corpus(spark, d, with_violations=False)
        assert main(_args(d, "r1")) == 0

        # each lineage row carries the run's validation seconds: the summed
        # wall time of the three step writes in the run's record
        walls = {r["wall_sec"] for r in spark.read.parquet(f"{d}/ckpt").collect()}
        assert min(walls) > 0
        stages = json.load(open(f"{d}/out/metrics.json"))["stages"]
        assert walls == {round(sum(s["sec"] for s in stages.values()), 2)}

        verdicts = spark.read.parquet(f"{d}/out/verdicts")
        assert {r["run_id"] for r in verdicts.select("run_id").distinct().collect()} == {"r1"}
        assert "part" in verdicts.columns  # partitioned output

        # rerun: everything validated -> nothing to do, gate still 0,
        # and prior outputs are NOT clobbered
        n_before = verdicts.count()
        assert main(_args(d, "r2")) == 0
        assert spark.read.parquet(f"{d}/out/verdicts").count() == n_before


def test_failing_corpus_gates_and_retries(spark):
    with tempfile.TemporaryDirectory() as d:
        _write_corpus(spark, d, with_violations=True)
        assert main(_args(d, "r1")) == 1

        # failed partitions retry on rerun (still failing -> still 1),
        # and the retried run APPENDS its outputs under the new run_id
        assert main(_args(d, "r2")) == 1
        runs = {
            r["run_id"]
            for r in spark.read.parquet(f"{d}/out/verdicts").select("run_id").distinct().collect()
        }
        assert runs == {"r1", "r2"}
        ckpt = spark.read.parquet(f"{d}/ckpt")
        assert ckpt.where(F.col("status") == "validated").count() == 0


def test_spark_submit_pyfiles_launch(spark, tmp_path):
    """The north_rule launch mode, literally: package the engine as a
    --py-files zip and run the job via spark-submit in its own JVM (the
    in-process tests above cannot catch a module that is importable from
    the repo checkout but missing from the shipped zip, or session config
    the job silently inherits from the test fixture)."""
    import os
    import shutil
    import subprocess
    import sys

    if shutil.which("spark-submit") is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    d = str(tmp_path)
    _write_corpus(spark, d, with_violations=False)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    from package_pyfiles import build

    zip_path = build(f"{d}/engine.zip")
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(repo, "jobs", "validate_job.py"),
            "--images", f"{d}/images",
            "--captions", f"{d}/captions",
            "--output", f"{d}/out",
            "--run-id", "submit-smoke",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]

    # the run's record: the verdict summary and the three validation steps,
    # each with the rows its write produced and its wall seconds
    record = json.load(open(f"{d}/out/metrics.json"))
    assert record["run_id"] == "submit-smoke" and record["failed_checks"] == 0
    assert list(record["stages"]) == ["violations", "verdicts", "profile"]
    assert record["stages"]["verdicts"]["rows"] == record["verdicts"] > 0
    assert sum(s["sec"] for s in record["stages"].values()) > 0

    verdicts = spark.read.parquet(f"{d}/out/verdicts")
    assert verdicts.where(~F.col("passed")).count() == 0
    assert {r["run_id"] for r in verdicts.select("run_id").distinct().collect()} == {
        "submit-smoke"
    }
