"""Physical-plan regression tests: the scale properties claimed in
README/COVERAGE must be visible in the executed plan, not just intended."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schema_inference_spark.datagen.images import generate_image_corpus, images_spark_df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan_of(df) -> str:
    """The executed adaptive plan without its '== Initial Plan ==' half."""
    return plan_of(df).split("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def images_on_disk(spark, tmp_path_factory):
    corpus = generate_image_corpus(300, n_parts=2)
    images, captions = images_spark_df(spark, corpus)
    d = tmp_path_factory.mktemp("plans")
    images.write.parquet(f"{d}/images")
    captions.write.parquet(f"{d}/captions")
    return spark.read.parquet(f"{d}/images"), spark.read.parquet(f"{d}/captions")


def test_q1_filter_pushdown_and_partial_agg(spark, sf_dir):
    from schema_inference_spark.queries.catalog_core import q1_pricing_summary

    df = q1_pricing_summary(spark, sf_dir)
    df.collect()  # finalize the adaptive plan so codegen spans are visible
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "partial_sum" in plan  # map-side combine
    assert plan.count("*(") >= 1  # whole-stage-codegen spans ('*(n)' prefix)


def test_q3_broadcasts_customer_dim(spark, sf_dir):
    from schema_inference_spark.queries.catalog_core import q3_topk_revenue

    plan = plan_of(q3_topk_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_uniqueness_partial_agg_and_broadcast(images_on_disk):
    from schema_inference_spark.operators.uniqueness import duplicate_row_violations

    images, _ = images_on_disk
    plan = plan_of(duplicate_row_violations(images, "phash", "u"))
    assert "partial_count" in plan  # hot key combined map-side
    assert "BroadcastHashJoin" in plan  # dup-key set broadcast, big side unshuffled


def test_profile_prunes_bytes_and_single_agg(images_on_disk):
    from schema_inference_spark.operators.profile import profile_images

    images, _ = images_on_disk
    plan = plan_of(profile_images(images))
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "bytes" not in scan
    # exactly one aggregation pair (partial+final) — single-pass claim
    assert plan.count("HashAggregate") == 2 or plan.count("SortAggregate") == 2


def test_orphan_check_is_anti_join(images_on_disk):
    from schema_inference_spark.operators.referential import orphan_violations

    images, captions = images_on_disk
    plan = plan_of(orphan_violations(images, captions, "o", broadcast_right=True))
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_pixel_scan_reads_bytes_once(images_on_disk):
    from schema_inference_spark.operators.pixels import pixel_violations

    images, _ = images_on_disk
    plan = plan_of(pixel_violations(images))
    # exactly one scan carries the blob column
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert sum("bytes" in s for s in scans) == 1
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_hll_profile_single_scan_no_expand(spark, sf_dir):
    """Profiler production (HLL) mode: ONE aggregation pass, no Expand node.
    Exact multi-column distinct plans Expand the input once per distinct
    column; HLL must keep one sketch per column instead (VERDICT r1 #10)."""
    from schema_inference_spark.queries.catalog_rules import (
        lineitem_generic_profile,
        lineitem_profile_hll,
    )

    hll = lineitem_profile_hll(spark, sf_dir)
    hll.collect()
    plan = plan_of(hll)
    assert "Expand" not in plan
    assert "approx_count_distinct" in plan

    # HLL estimates track the exact counts at test scale (within 15%)
    exact = {
        (r["column"], r["metric"]): r["value"]
        for r in lineitem_generic_profile(spark, sf_dir).collect()
    }
    est = {
        (r["column"], r["metric"]): r["value"]
        for r in hll.collect()
    }
    assert set(est) == set(exact)
    for key, v in exact.items():
        if key[1] == "n_distinct" and v > 0:
            assert abs(est[key] - v) / v < 0.15, (key, est[key], v)
        elif key[1] != "n_distinct":
            assert est[key] == v


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """SCALE.md layout claim made real: co-bucketed tables join with ZERO
    Exchange on either side (bucket-aligned SortMergeJoin). This is the
    plan that removes the suite's largest shuffle at 10^12 rows."""
    from schema_inference_spark.sources.bucketed import bucketed_join, write_bucketed

    images = spark.range(0, 2000).selectExpr(
        "id AS image_id", "id % 7 AS w", "id % 5 AS h"
    )
    captions = spark.range(0, 2000).selectExpr(
        "id AS image_id", "concat('cap-', id) AS caption"
    )
    write_bucketed(images, "t_images_b", "image_id", 4, path=f"{tmp_path}/imgs")
    write_bucketed(captions, "t_captions_b", "image_id", 4, path=f"{tmp_path}/caps")
    # tiny test tables would broadcast; force the sort-merge path the big
    # tables would take so the bucketing property is what's asserted
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_images_b", "t_captions_b", "image_id")
        assert joined.count() == 2000
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # control: the same join WITHOUT bucketing must show an Exchange,
        # proving the assertion above is meaningful
        plain = images.join(captions, "image_id")
        plain.collect()
        assert "Exchange" in plan_of(plain)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_images_b")
        spark.sql("DROP TABLE IF EXISTS t_captions_b")


def test_no_interpreted_hof_anywhere_in_registry(spark, sf_dir):
    """VERDICT r2 #1: Spark 4.1.2 evaluates higher-order-function lambdas
    (transform/filter/aggregate) interpreted, row-at-a-time — the measured
    20x tax. EVERY catalog query (driver registry + the strict-harness
    extras) must plan without a single lambdafunction expression."""
    from schema_inference_spark.queries import registry
    from schema_inference_spark.queries.catalog_extra import extra_specs

    specs = {**registry(), **{s.name: s for s in extra_specs()}}
    offenders = []
    for name, spec in specs.items():
        plan = spec.fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        if "lambdafunction" in plan:
            offenders.append(name)
    assert offenders == [], offenders


def test_cosine_plan_has_no_interpreted_hof(spark, sf_dir):
    """The r2 kernel rewrite: ANN cosine must be an ArrowEvalPython
    projection, with no higher-order-function expressions (Spark 4.1.2
    evaluates transform/aggregate lambdas interpreted, per row)."""
    from schema_inference_spark.queries.catalog_vectors import embedding_topk_cosine

    df = embedding_topk_cosine(spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    assert "ArrowEvalPython" in plan
    for hof in ("transform(", "aggregate(", "lambdafunction"):
        assert hof not in plan, hof
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_window_no_cartesian(spark, sf_dir):
    """The union+window as-of design: no per-group pandas, no cartesian or
    range-condition nested-loop join in the executed plan."""
    from schema_inference_spark.queries.catalog_core import error_asof_last_click

    df = error_asof_last_click(spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("RunningWindowFunction") + plan.count("Window") >= 1


def test_partitioned_results_prune_on_read(spark, tmp_path):
    """Result tables written partitionBy('part') must prune at read time:
    a part-filtered scan shows PartitionFilters and reads only that
    partition's files — the layout that keeps per-partition re-validation
    and downstream consumers from scanning the whole 10^12-row history."""
    df = spark.range(0, 10000).selectExpr(
        "id", "id % 8 AS part", "id * 2 AS n_violations"
    )
    df.write.partitionBy("part").parquet(f"{tmp_path}/verdicts")
    read = spark.read.parquet(f"{tmp_path}/verdicts").where(F.col("part") == 3)
    assert read.count() == 1250
    plan = plan_of(read)
    assert "PartitionFilters: [isnotnull(part" in plan or "PartitionFilters: [(part" in plan, plan


def test_shape_udf_runs_once_per_row(spark, tmp_path):
    """A ``schema IS NOT NULL`` filter on the shape UDF's output is pushed
    below the projection and planned as a second ArrowEvalPython, so every
    row crosses into Python twice. shape_counts and shape_exemplars drop the
    null group after the aggregate instead, and the percent total reads the
    counts shuffle as a ReusedExchange rather than re-scanning."""
    from schema_inference_spark.functions.json_shape import flat_json_shape_expr
    from schema_inference_spark.operators.shapes import shape_counts, shape_exemplars

    docs = ['{"a": 1}'] * 5 + ['{"a": "x", "b": 2}'] * 3 + ["not json", None]
    spark.createDataFrame([(d,) for d in docs], "doc string").write.parquet(f"{tmp_path}/docs")
    df = spark.read.parquet(f"{tmp_path}/docs")

    counts = shape_counts(df, flat_json_shape_expr(F.col("doc")))
    rows = counts.collect()
    plan = final_plan_of(counts)
    assert plan.count("FileScan") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    total_branch = plan.split("BroadcastExchange", 1)[1]
    assert "ReusedExchange" in total_branch and "FileScan" not in total_branch, plan
    # the two unparseable rows are in neither the rows nor the percent total
    assert all(r["schema"] is not None for r in rows)
    assert sorted((r["count"], r["percent"]) for r in rows) == [(3, 37), (5, 62)]

    ex = shape_exemplars(df, flat_json_shape_expr(F.col("doc")), F.col("doc"))
    assert sorted(r["colvalue"] for r in ex.collect()) == ['{"a": "x", "b": 2}', '{"a": 1}']
    plan = final_plan_of(ex)
    assert plan.count("FileScan") == plan.count("ArrowEvalPython") == 1, plan
