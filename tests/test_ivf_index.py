"""Persisted IVF index edge cases shared by every layout: how a query picks
its cells (one probe rule: (−cos, id), a zero norm scores 0) and how the
encoders fail on a cell they cannot encode.

The indexes here are written by hand, so each test controls exactly what
the centroids/ table holds and in which row order it is stored.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schema_inference_spark.operators.pq import (
    _codebooks_to_dict,
    pq_encode,
    pq_train_codebooks,
    query_pq_index,
    query_sq_index,
    sq_encode,
)
from schema_inference_spark.operators.similarity import (
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
