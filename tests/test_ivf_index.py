"""Persisted IVF index edge cases shared by every layout: how a query picks
its cells (one probe rule: (−cos, id), a zero norm scores 0), how the
encoders fail on a cell they cannot encode, and what one query costs in
Spark jobs and plan shape.

The probe tests write their indexes by hand, so each controls exactly what
the centroids/ table holds and in which row order it is stored; the
schema, job and plan tests query indexes written by the build_* functions.
"""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from schema_inference_spark.operators.ivf2 import FINE_SCHEMA, build_ivf2_index
from schema_inference_spark.operators.pq import (
    CODEBOOK_SCHEMA,
    SCALES_SCHEMA,
    _codebooks_to_dict,
    build_pq_index,
    build_sq_index,
    pq_encode,
    pq_train_codebooks,
    query_pq_index,
    query_sq_index,
    sq_encode,
)
from schema_inference_spark.operators.similarity import (
    _cosine_fold,
    _query_norm,
    build_ivf_index,
    centroids_schema,
    cosine_to_query_udf,
    cosine_topk,
    cosine_topk_ivf,
    query_ivf_index,
)
from schema_inference_spark.sources.iceberg import write_table

CELLS = {
    0: [(0, [1.0, 0.2, 0.0, 0.1]), (1, [0.9, 0.0, 0.3, 0.0]), (2, [1.0, 0.5, 0.5, 0.0])],
    1: [(10, [0.0, 1.0, 0.1, 0.0]), (11, [0.1, 0.9, 0.0, 0.2]), (12, [0.3, 1.0, 0.0, 0.0])],
    2: [(20, [0.0, 0.1, 1.0, 0.0]), (21, [0.2, 0.0, 0.9, 0.1])],
}


def _vectors(spark):
    rows = [(i, v, cid) for cid, vs in CELLS.items() for i, v in vs]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, centroid_id int")


def _write_index(spark, path, centroids, codec=None):
    """vectors/ partitioned by centroid_id (with a ``codes`` column for the
    sq/pq codecs) and centroids/ as ONE file holding ``centroids`` in the
    given row order."""
    vectors = _vectors(spark)
    if codec == "float16":
        vectors = sq_encode(vectors, "float16", out_col="codes")
    elif codec == "pq":
        cb_df = pq_train_codebooks(vectors, m=2, ncodes=2, train_sample=10, max_iter=2)
        write_table(cb_df, f"{path}/codebooks", mode="overwrite")
        vectors = pq_encode(vectors, _codebooks_to_dict(cb_df.collect()))
    write_table(vectors, f"{path}/vectors", mode="overwrite", partition_by=("centroid_id",))
    spark.createDataFrame(
        centroids, "centroid_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def _ids(df):
    return {r["vec_id"] for r in df.collect()}


def test_zero_norm_centroid_scores_zero(spark, tmp_path):
    """A zero centroid (a k-means cell seeded by, and holding only, zero
    vectors) has no cosine; the probe scores it 0 instead of dividing by
    zero, both in memory and on a persisted index."""
    zero, e0, e1 = [0.0] * 4, [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    q = [1.0, 0.1, 0.0, 0.0]

    path = str(tmp_path / "idx")
    _write_index(spark, path, [(0, zero), (1, e1), (2, e0)])
    assert _ids(query_ivf_index(spark, path, q, k=10, n_probe=1)) == {20, 21}
    assert _ids(query_ivf_index(spark, path, q, k=10, n_probe=2)) == {10, 11, 12, 20, 21}
    # orthogonal to every centroid: all score 0 and the lowest id wins
    assert _ids(query_ivf_index(spark, path, [0.0, 0.0, 0.0, 1.0], k=10, n_probe=1)) == {0, 1, 2}

    df = _vectors(spark).drop("centroid_id")
    cents = [(0, zero), (1, e0), (2, e1)]
    got = cosine_topk_ivf(df, q, cents, k=5, n_probe=3).collect()
    assert got == cosine_topk(df, q, k=5).collect()


@pytest.mark.parametrize("layout", ["raw", "float16", "pq"])
def test_probe_tie_breaks_to_lower_id(spark, tmp_path, layout):
    """Two identical centroids tie exactly on cosine. The centroids/ file
    lists them in DESCENDING id order, so a probe that falls back to the
    collect() order would pick cell 1; the rule picks the lower id, cell
    0, for every layout."""
    c = [0.5, 0.5, 0.5, 0.5]
    path = str(tmp_path / layout)
    _write_index(spark, path, [(1, c), (0, c)], codec=None if layout == "raw" else layout)
    q = [0.2, 1.0, 0.1, 0.0]  # nearer to cell 1's vectors than to cell 0's
    if layout == "raw":
        got = query_ivf_index(spark, path, q, k=10, n_probe=1)
    elif layout == "float16":
        got = query_sq_index(spark, path, q, dtype="float16", k=10, n_probe=1)
    else:
        got = query_pq_index(spark, path, q, k=10, n_probe=1)
    assert _ids(got) == {0, 1, 2}


def test_pq_encode_names_cells_without_codebook(spark):
    """Codebooks trained on a sample that missed a cell: encoding that
    cell raises a ValueError naming it, not a bare KeyError."""
    vectors = _vectors(spark)
    cb = _codebooks_to_dict(
        pq_train_codebooks(
            vectors.where(F.col("centroid_id") != 1), m=2, ncodes=2, train_sample=10, max_iter=2
        ).collect()
    )
    with pytest.raises(Exception) as err:
        pq_encode(vectors, cb).collect()
    msg = str(err.value)
    assert "ValueError" in msg and "no trained PQ codebook for centroid_id 1" in msg, msg


# --- indexes written by the build_* functions (k=3 cells over the 8 vectors)

SIDE_TABLES = {
    "raw": {"centroids": centroids_schema()},
    "float16": {"centroids": centroids_schema()},
    "int8": {"centroids": centroids_schema(), "scales": SCALES_SCHEMA},
    "pq": {"centroids": centroids_schema(), "codebooks": CODEBOOK_SCHEMA},
    "ivf2": {"centroids": centroids_schema("coarse_id"), "fine_centroids": FINE_SCHEMA},
}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    df = _vectors(spark).drop("centroid_id")
    root = tmp_path_factory.mktemp("built")
    paths = {layout: str(root / layout) for layout in SIDE_TABLES}
    build_ivf_index(df, paths["raw"], k=3, max_iter=2)
    build_sq_index(df, paths["float16"], "float16", k=3, max_iter=2)
    build_sq_index(df, paths["int8"], "int8", k=3, max_iter=2)
    build_pq_index(df, paths["pq"], k=3, m=2, ncodes=2, max_iter=2, pq_max_iter=2)
    build_ivf2_index(df, paths["ivf2"], k_coarse=2, k_fine=2, max_iter=2, fine_max_iter=2)
    return paths


@pytest.mark.parametrize("layout", list(SIDE_TABLES))
def test_declared_side_schemas_match_files(spark, built, layout):
    """Queries read the side tables with their declared DDL instead of
    inferring it. A declared column the files lack would come back as
    nulls with no error, so every table must read identically both ways."""
    for table, ddl in SIDE_TABLES[layout].items():
        where = f"{built[layout]}/{table}"
        declared = spark.read.schema(ddl).parquet(where)
        inferred = spark.read.parquet(where)
        assert declared.schema == inferred.schema, (layout, table)
        rows = declared.collect()
        assert rows and sorted(rows) == sorted(inferred.collect()), (layout, table)


def _hex(x: float | None) -> str | None:
    return None if x is None else float(x).hex()


def _fold_and_udf(df, q):
    qv, qn = _query_norm(q)
    return df.select(
        "id",
        cosine_to_query_udf(q)(F.col("v")).alias("udf"),
        _cosine_fold(F.col("v"), F.lit(qv.tolist()), F.lit(qn)).alias("fold"),
    ).collect()


@pytest.mark.parametrize("dtype", ["float", "double"])
@pytest.mark.parametrize("d", [1, 64])
def test_cosine_fold_bit_identical_to_numpy_kernel(spark, dtype, d):
    """The re-rank's native fold and cosine_to_query_udf's numpy kernel
    give the same doubles, bit for bit, on float32 and float64 rows. A
    zero row and a zero query have no cosine: numpy's 0/0 NaN reaches
    Spark as null through Arrow, and the fold gives null too."""
    rng = np.random.default_rng(d)
    rows = rng.normal(size=(40, d))
    if dtype == "float":
        rows = rows.astype(np.float32)
    data = [(i, [float(x) for x in r]) for i, r in enumerate(rows)] + [(40, [0.0] * d)]
    df = spark.createDataFrame(data, f"id int, v array<{dtype}>")
    for q in (rng.normal(size=d).tolist(), [0.0] * d):
        got = _fold_and_udf(df, q)
        assert len(got) == 41
        assert [_hex(r["fold"]) for r in got] == [_hex(r["udf"]) for r in got]
        undefined = {r["id"] for r in got if r["fold"] is None}
        assert undefined == ({40} if any(q) else set(range(41)))


def test_cosine_fold_divides_by_zero_like_numpy(spark):
    """A nonzero dot over a denominator that underflowed to 0 is ±inf in
    numpy; the fold must give the same, not raise Spark's ANSI
    divide-by-zero error."""
    df = spark.createDataFrame(
        [(0, [1e-170]), (1, [-1e-170]), (2, [0.0])], "id int, v array<double>"
    )
    got = _fold_and_udf(df, [1e150])
    assert [(r["udf"], r["fold"]) for r in got] == [
        (float("inf"), float("inf")), (float("-inf"), float("-inf")), (None, None)
    ]


def _collect_counting_jobs(spark, make_df):
    """(the DataFrame ``make_df()`` builds, its rows, and the number of
    Spark jobs building and collecting it started)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = make_df()
        rows = df.collect()
    finally:
        sc._jsc.clearJobGroup()
    return df, rows, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("layout", ["pq", "int8"])
def test_quantized_query_is_four_jobs_one_plan(spark, built, layout):
    """One quantized-index query is four Spark jobs: the centroids/ and
    codebooks/ (or scales/) collects, the vectors/ schema read, and one
    plan that cuts candidates and re-ranks them. That plan scans vectors/
    once, pruned to the probed cells, and has one Python stage (the bulk
    lane)."""
    q = [0.2, 1.0, 0.1, 0.0]
    if layout == "pq":
        def make_df():
            return query_pq_index(spark, built["pq"], q, k=2, n_probe=3)
    else:
        def make_df():
            return query_sq_index(spark, built["int8"], q, dtype="int8", k=2, n_probe=3)

    df, rows, jobs = _collect_counting_jobs(spark, make_df)
    assert len(rows) == 2
    assert jobs == 4
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("FileScan") == 1 and f"{layout}/vectors" in plan, plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:120], plan


@pytest.mark.parametrize("layout", ["pq", "float16", "int8"])
def test_quantized_query_with_no_probe_is_empty(spark, built, layout):
    """n_probe=0 probes no cell: the empty (vec_id, cosine_sim) result, as
    query_ivf2_index gives."""
    q = [0.2, 1.0, 0.1, 0.0]
    if layout == "pq":
        got = query_pq_index(spark, built["pq"], q, k=5, n_probe=0)
    else:
        got = query_sq_index(spark, built[layout], q, dtype=layout, k=5, n_probe=0)
    assert got.columns == ["vec_id", "cosine_sim"]
    assert got.collect() == []
