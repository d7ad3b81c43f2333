"""Two-level IVF tests — SCALE.md's nlist-at-10^12 shape (coarse x fine
partition key, no single k-means over the full corpus) as a real kernel:
``build_index(k_fine=...)``. Pytest-pinned like the other ANN kernels
(iterative training has no SQL oracle); its full-probe exactness, under
every codec, is tests/test_ivf_index.py::test_full_probe_equals_brute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schema_inference_spark.operators.pq import (
    build_index,
    query_index,
    train_fine_centroids,
)
from schema_inference_spark.operators.similarity import (
    cosine_topk,
    ivf_assignments,
    kmeans_train,
)
from schema_inference_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def ivf2_index(spark, emb, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf2"))
    build_index(emb, d, k=4, k_fine=4, max_iter=3, fine_max_iter=4)
    return d


def _query_vec(emb, vec_id=0):
    return [
        float(x)
        for x in emb.where(F.col("vec_id") == vec_id).collect()[0]["embedding"]
    ]


def test_ivf2_probe_recall_on_clustered_corpus(spark, tmp_path):
    """Recall under a REAL prune, on data with the locality IVF exists to
    exploit: 4 planted direction-clusters of 100 vectors each; probing 2
    of 4 coarse and the best 4 of 16 cells (~25% of the data) must
    recover >= 0.9 of the true top-10 for a query inside a cluster.
    (The sf embeddings table is near-uniform in 64-d — there, recall
    necessarily tracks scan fraction, which tests nothing; the planted
    corpus is the meaningful probe, same approach as the banded-SRP
    recall test.)"""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(4, 64))
    rows = []
    for c in range(4):
        pts = centers[c][None, :] + 0.15 * rng.normal(size=(100, 64))
        for i, p in enumerate(pts):
            rows.append((c * 100 + i, [float(x) for x in p]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "ivf2c")
    build_index(df, path, k=4, k_fine=4, max_iter=4, fine_max_iter=4)
    q = [float(x) for x in (centers[2] + 0.05 * rng.normal(size=64))]
    got = {
        r["vec_id"]
        for r in query_index(
            spark, path, q, k=10, n_probe_coarse=2, n_probe=4
        ).collect()
    }
    brute = {r["vec_id"] for r in cosine_topk(df, q, k=10).collect()}
    assert len(got & brute) / 10 >= 0.9


def test_ivf2_layout_is_two_level(spark, ivf2_index):
    """The persisted table is genuinely partitioned on BOTH keys: more
    distinct (coarse, fine) cells than coarse partitions alone, and every
    row carries a fine_id in [0, k_fine)."""
    vec = spark.read.parquet(f"{ivf2_index}/vectors")
    cells = vec.select("centroid_id", "fine_id").distinct().collect()
    assert len(cells) > 4
    assert all(0 <= r["fine_id"] < 4 for r in cells)


def test_ivf2_partition_pruning_on_both_keys(spark, emb, ivf2_index):
    """A probe's scan must prune on the (centroid_id, fine_id) partition
    keys — the OR-of-cells predicate reaches PartitionFilters."""
    q = _query_vec(emb)
    got = query_index(spark, ivf2_index, q, k=5, n_probe_coarse=2, n_probe=3)
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters")[1][:300]
    assert "centroid_id" in tail and "fine_id" in tail, plan


def test_ivf2_fine_training_layout_proof(spark, emb):
    """Fine centroids are a pure function of each coarse partition's data:
    bit-identical under two different physical layouts (the r4 lesson as
    a requirement, same as PQ codebooks and int8 scales)."""
    cents = kmeans_train(emb, k=3, max_iter=2)
    assigned = ivf_assignments(emb, cents)

    def snap(df):
        return sorted(
            (r["centroid_id"], r["fine_id"], tuple(r["centroid"]))
            for r in train_fine_centroids(df, k_fine=4, max_iter=3).collect()
        )

    assert snap(assigned.repartition(1)) == snap(assigned.repartition(6, "vec_id"))


def test_ivf2_empty_probe_returns_empty(spark, emb, ivf2_index):
    """No probed cell — n_probe=0, or n_probe_coarse=0 which leaves no
    fine-centroid rows — is an empty (vec_id, cosine_sim) result, not a
    crash on a missing scan predicate."""
    q = _query_vec(emb)
    for kw in ({"n_probe": 0}, {"n_probe_coarse": 0}):
        got = query_index(spark, ivf2_index, q, k=5, **kw)
        assert got.columns == ["vec_id", "cosine_sim"]
        assert got.collect() == [], kw
