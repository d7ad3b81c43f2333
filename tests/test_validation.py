"""End-to-end constraint suite vs the generator's plain-Python oracle.

This is the engine's analog of the reference's golden regression data
(data/distinct/part-*.json): the corpus generator plants violations AND
simulates every check itself, so expected violation sets are exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schema_inference_spark.datagen.images import generate_image_corpus, images_spark_df
from schema_inference_spark.operators.profile import profile_images
from schema_inference_spark.plans.validation import ROW_CHECKS, ValidationConfig, run_validation

N = 1500


@pytest.fixture(scope="module")
def corpus():
    return generate_image_corpus(N, n_parts=4)


@pytest.fixture(scope="module")
def result(spark, corpus):
    images, captions = images_spark_df(spark, corpus)
    res = run_validation(spark, images, captions, ValidationConfig())
    violations = res.violations.cache()
    violations.count()
    return corpus, res, violations


def test_all_checks_match_oracle(result):
    corpus, _res, violations = result
    got = {
        check: sorted(
            r["image_id"]
            for r in violations.where(F.col("check_name") == check)
            .select("image_id")
            .distinct()
            .collect()
        )
        for check in ROW_CHECKS
    }
    for check in ROW_CHECKS:
        assert got[check] == corpus.expected[check], f"{check}: mismatch"


def test_violation_rows_match_simulation(result):
    """ROW-level parity (r3): the engine's violation table equals the
    plain-pandas simulation as a MULTISET of (part, check_name, image_id) —
    multiplicity and part attribution included, not just distinct ids.
    This is the same simulation the driver's DuckDB oracle consumes for the
    pixel_* checks, so it is pinned against the engine independently here."""
    from schema_inference_spark.datagen.images import simulate_violation_rows

    corpus, _res, violations = result
    expected = simulate_violation_rows(corpus.images, corpus.captions)
    got = sorted(
        (r["part"], r["check_name"], r["image_id"])
        for r in violations.select("part", "check_name", "image_id").collect()
    )
    want = sorted(map(tuple, expected.itertuples(index=False)))
    assert got == want


def test_verdict_grid_consistency(result):
    corpus, res, violations = result
    verdicts = res.verdicts.collect()
    # one verdict per (part, check)
    assert len(verdicts) == 4 * len(ROW_CHECKS)
    # verdict counts agree with the violations table
    vc = {
        (r["part"], r["check_name"]): r["cnt"]
        for r in violations.groupBy("part", "check_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for row in verdicts:
        expected = vc.get((row["part"], row["check_name"]), 0)
        assert row["n_violations"] == expected
        assert row["passed"] == (expected == 0)
        assert row["n_rows"] > 0


def test_clean_corpus_passes_everything(spark):
    clean = generate_image_corpus(400, n_parts=2, with_violations=False)
    images, captions = images_spark_df(spark, clean)
    res = run_validation(spark, images, captions)
    bad = res.verdicts.where(~F.col("passed")).collect()
    assert bad == []
    assert res.schema_problems == []


def test_profile_stats_match_pandas(spark, corpus):
    images, _ = images_spark_df(spark, corpus)
    prof = {r["part"]: r for r in profile_images(images).collect()}
    pdf = corpus.images
    for part, grp in pdf.groupby("part"):
        row = prof[part]
        assert row["n_rows"] == len(grp)
        assert row["null_fmt"] == int(grp.fmt.isna().sum())
        assert row["null_caption"] == int(grp.caption.isna().sum())
        assert row["min_w"] == int(grp.w.min()) and row["max_w"] == int(grp.w.max())
        assert sum(row["w_hist"]) == len(grp)
        assert sum(row["phash_hist"]) == len(grp)


def test_profile_never_reads_bytes(spark, corpus):
    """Column pruning: the stats pass must not scan the blob column.

    The corpus is written to parquet and the profile's physical plan is
    checked for its ReadSchema — 'bytes' must be pruned."""
    import tempfile

    images, _ = images_spark_df(spark, corpus)
    with tempfile.TemporaryDirectory() as d:
        images.write.mode("overwrite").parquet(f"{d}/images")
        on_disk = spark.read.parquet(f"{d}/images")
        plan = profile_images(on_disk)._jdf.queryExecution().executedPlan().toString()
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema, plan
        assert "bytes" not in read_schema[0]


def test_violation_details_on_planted_rows(spark):
    """The violations table's schema and every check's detail payload, one
    planted row per check (two for a duplicated key). Null phash keys are
    never duplicates."""
    import json

    from schema_inference_spark.datagen import codec
    from schema_inference_spark.datagen.images import CAPTIONS_SCHEMA, IMAGES_SCHEMA

    def img(image_id, fmt="png", w=8, h=8, caption="c", phash=None, part=0, buf=None, step=None):
        if buf is None:
            px = codec.reference_pixels(image_id, 8, 8)
            buf = codec.encode_image(px, "jpeg", step) if step else codec.encode_image(px, "png")
        return (image_id, buf, w, h, fmt, caption, phash, part)

    rows = [
        img("ok"),
        img("bad_fmt", fmt="bmp"),
        img("bad_dims", w=0),
        img("no_caption", caption=None, phash=1),
        img("dup", phash=2),
        img("dup", phash=3, part=1),
        img("hot_a", phash=7),
        img("hot_b", phash=7, part=1),
        img("orphan", phash=4),
        img("corrupt", buf=b"not an image", phash=5),
        img("blurry", fmt="jpeg", step=codec.BAD_QUALITY_STEP, phash=6),
    ]
    images = spark.createDataFrame(rows, IMAGES_SCHEMA)
    ref_captions = {r[0]: ("ref" if r[0] == "no_caption" else "c", r[7]) for r in rows}
    del ref_captions["orphan"]
    ref_captions["lonely"] = ("c", 1)
    captions = spark.createDataFrame(
        [(i, c, p) for i, (c, p) in ref_captions.items()], CAPTIONS_SCHEMA
    )

    res = run_validation(spark, images, captions)
    assert res.violations.schema.simpleString() == (
        "struct<part:int,check_name:string,image_id:string,detail:string>"
    )
    _w, _h, px = codec.decode_image(rows[-1][1])
    psnr = round(codec.psnr(px, codec.reference_pixels("blurry", 8, 8)), 2)
    want = sorted([
        (0, "domain_fmt", "bad_fmt", '{"fmt":"bmp"}'),
        (0, "domain_dims", "bad_dims", '{"w":0,"h":8}'),
        (0, "null_caption", "no_caption", '{"reason":"caption is null"}'),
        (0, "caption_equality", "no_caption", '{"ref_caption":"ref"}'),
        (0, "unique_image_id", "dup", '{"image_id":"dup","dup_count":2}'),
        (1, "unique_image_id", "dup", '{"image_id":"dup","dup_count":2}'),
        (0, "unique_phash", "hot_a", '{"phash":7,"dup_count":2}'),
        (1, "unique_phash", "hot_b", '{"phash":7,"dup_count":2}'),
        (0, "ref_orphan_image", "orphan", '{"reason":"ref_orphan_image"}'),
        (1, "ref_orphan_caption", "lonely", '{"reason":"ref_orphan_caption"}'),
        (0, "pixel_decode", "corrupt", '{"reason":"decode failed"}'),
        (0, "pixel_dims", "bad_dims", '{"w":0,"h":8,"actual_w":8,"actual_h":8}'),
        (0, "pixel_psnr", "blurry", json.dumps({"psnr_db": psnr}, separators=(",", ":"))),
    ])
    assert psnr < 40.0
    assert sorted(tuple(r) for r in res.violations.collect()) == want
