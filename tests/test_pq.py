"""Product-quantization (IVF-PQ) kernel tests — the 10^12-vector memory
rung of SCALE.md's ANN ladder, implemented (not just documented) in r5.

PQ has no SQL-expressible oracle (codebook training is iterative
k-means), so like the HLL profile and the packing kernel it is pinned by
invariants: exact-re-rank equality with the brute-force scan, byte-level
compression factor, bit-identical codebooks under different physical
layouts (the r4 lesson as a REQUIREMENT), ADC's candidate coverage, and
partition pruning on the codes scan.
"""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from schema_inference_spark.operators.pq import (
    _codebooks_to_dict,
    adc_scores,
    build_pq_index,
    pq_encode,
    pq_train_codebooks,
    query_pq_index,
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
def pq_index(spark, emb, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pq_idx"))
    cents = build_pq_index(
        emb, d, k=8, m=16, ncodes=16, max_iter=4, pq_max_iter=6,
        train_sample=500,
    )
    return d, cents


def _query_vec(emb, vec_id=0):
    return [
        float(x)
        for x in emb.where(F.col("vec_id") == vec_id).collect()[0]["embedding"]
    ]


def test_pq_rerank_recovers_exact_topk(spark, emb, pq_index):
    """With every partition probed, ADC over-retrieve + exact re-rank must
    reproduce the brute-force top-10 EXACTLY (ids and cosine values): the
    candidate stage only prunes, the re-rank is the same exact kernel."""
    path, _ = pq_index
    q = _query_vec(emb)
    got = query_pq_index(spark, path, q, k=10, n_probe=8, over_retrieve=8)
    got_rows = [(r["vec_id"], r["cosine_sim"]) for r in got.collect()]
    brute_rows = [
        (r["vec_id"], r["cosine_sim"]) for r in cosine_topk(emb, q, k=10).collect()
    ]
    assert got_rows == brute_rows


def test_pq_probe_recall_vs_brute(spark, emb, pq_index):
    """At the production probe setting (n_probe=2 of 8) recall@10 vs the
    full brute-force scan stays at the exact-IVF level (gate 0.6, same as
    test_ivf_with_trained_centroids_recall — PQ must not cost recall
    beyond what probing already costs)."""
    path, _ = pq_index
    q = _query_vec(emb)
    got = {r["vec_id"] for r in query_pq_index(spark, path, q, k=10, n_probe=2).collect()}
    brute = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    assert len(got & brute) / 10 >= 0.6


def test_pq_codes_are_m_bytes(spark, pq_index):
    """Every persisted code is exactly m bytes: 16 B/vector vs the raw
    64 x float32 = 256 B — the 16x factor SCALE.md's table promises."""
    path, _ = pq_index
    rows = spark.read.parquet(f"{path}/vectors").select("codes", "embedding").collect()
    assert rows
    for r in rows:
        assert len(r["codes"]) == 16
        assert len(r["embedding"]) * 4 == 16 * len(r["codes"])


def test_pq_codebooks_layout_proof(spark, emb):
    """Codebooks are a pure function of the data: training over the same
    assigned frame under two different physical layouts yields
    bit-identical codewords (the r4 packing lesson as a requirement)."""
    cents = kmeans_train(emb, k=4, max_iter=3)
    assigned = ivf_assignments(emb, cents)

    def snap(df):
        rows = pq_train_codebooks(
            df, m=8, ncodes=8, train_sample=500, max_iter=4
        ).collect()
        return sorted(
            (r["centroid_id"], r["subspace"], r["code"], tuple(r["codeword"]))
            for r in rows
        )

    a = snap(assigned.repartition(1))
    b = snap(assigned.repartition(7, "vec_id"))
    assert a == b


def test_pq_adc_candidates_cover_exact_topk(spark, emb, pq_index):
    """Bare ADC (no re-rank) is lossy but its top-50 must contain the
    exact top-10 of the probed data — the property that makes
    over-retrieve + re-rank exact in practice."""
    path, _ = pq_index
    q = _query_vec(emb)
    qa = np.asarray(q, dtype=np.float64)
    q_unit = qa / np.sqrt((qa * qa).sum())
    codebooks = _codebooks_to_dict(spark.read.parquet(f"{path}/codebooks").collect())
    luts = {
        cid: np.einsum("ms,mcs->mc", q_unit.reshape(cb.shape[0], cb.shape[2]),
                       cb.astype(np.float64))
        for cid, cb in codebooks.items()
    }
    vectors = spark.read.parquet(f"{path}/vectors")
    scored = adc_scores(vectors.select("vec_id", "centroid_id", "codes"), luts)
    adc_top50 = {
        r["vec_id"]
        for r in scored.orderBy(F.col("adc_score").desc(), "vec_id").limit(50).collect()
    }
    exact_top10 = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    assert exact_top10 <= adc_top50


def test_pq_adc_score_tracks_cosine(spark, emb, pq_index):
    """ADC approximates cosine through the reconstruction: mean absolute
    error over the corpus stays small (ncodes=16 per 4-dim subspace)."""
    path, _ = pq_index
    q = _query_vec(emb)
    qa = np.asarray(q, dtype=np.float64)
    q_unit = qa / np.sqrt((qa * qa).sum())
    codebooks = _codebooks_to_dict(spark.read.parquet(f"{path}/codebooks").collect())
    luts = {
        cid: np.einsum("ms,mcs->mc", q_unit.reshape(cb.shape[0], cb.shape[2]),
                       cb.astype(np.float64))
        for cid, cb in codebooks.items()
    }
    vectors = spark.read.parquet(f"{path}/vectors")
    scored = adc_scores(vectors.select("vec_id", "centroid_id", "codes"), luts)
    adc = {r["vec_id"]: r["adc_score"] for r in scored.collect()}
    exact = {
        r["vec_id"]: r["cosine_sim"]
        for r in cosine_topk(emb, q, k=500).collect()
    }
    errs = [abs(adc[i] - exact[i]) for i in exact]
    assert len(errs) == 500
    assert float(np.mean(errs)) < 0.15


def test_pq_partition_pruning_on_codes_scan(spark, emb, pq_index):
    """The probe's bulk lane reads only the probed partitions: the codes
    scan must carry PartitionFilters on centroid_id (same plan assertion
    as the raw-IVF lifecycle test)."""
    path, _ = pq_index
    q = _query_vec(emb)
    got = query_pq_index(spark, path, q, k=5, n_probe=2)
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters")[1][:120]
    assert "centroid_id" in tail, plan


def test_pq_batch_query_equals_per_query(spark, emb, pq_index):
    """The query-many path (one scan + broadcast probe-map + windows)
    must return, per qid, EXACTLY the rows of the per-query path — same
    kernels, same tie rules, bit-for-bit cosines — at a setting where
    probes differ per query."""
    from schema_inference_spark.operators.pq import query_pq_index_batch

    path, _ = pq_index
    queries = [_query_vec(emb, v) for v in (0, 7, 123)]
    batch = query_pq_index_batch(
        spark, path, queries, k=10, n_probe=2, over_retrieve=4
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["qid"], []).append((r["vec_id"], r["cosine_sim"]))
    for qid, q in enumerate(queries):
        single = [
            (r["vec_id"], r["cosine_sim"])
            for r in query_pq_index(
                spark, path, q, k=10, n_probe=2, over_retrieve=4
            ).collect()
        ]
        assert got[qid] == single, f"qid {qid} diverged"


def test_sq_int8_scales_layout_proof(spark, emb):
    """int8 scales are min/max aggregates — exact and layout-independent;
    require bit-identity under two physical layouts like the codebooks."""
    from schema_inference_spark.operators.pq import sq_train_scales

    cents = kmeans_train(emb, k=4, max_iter=2)
    assigned = ivf_assignments(emb, cents)

    def snap(df):
        return sorted(
            (r["centroid_id"], r["dim"], r["scale"])
            for r in sq_train_scales(df).collect()
        )

    assert snap(assigned.repartition(1)) == snap(assigned.repartition(5, "vec_id"))


def test_sq_int8_bulk_lane_tracks_cosine(spark, emb, tmp_path):
    """The int8 dequantized-cosine lane is a tight approximation (the
    reason 1-2% recall loss is recoverable by re-rank): mean abs error
    vs exact cosine < 0.02 over the corpus."""
    from schema_inference_spark.operators.pq import (
        _scales_to_dict,
        build_index,
        sq_cosine_scores,
    )

    path = str(tmp_path / "sq8e")
    build_index(emb, path, "int8", k=8, max_iter=3)
    q = _query_vec(emb)
    scales = _scales_to_dict(spark.read.parquet(f"{path}/scales").collect())
    vectors = spark.read.parquet(f"{path}/vectors")
    scored = sq_cosine_scores(
        vectors.select("vec_id", "centroid_id", "codes"), q, "int8", scales
    )
    approx = {r["vec_id"]: r["sq_score"] for r in scored.collect()}
    exact = {
        r["vec_id"]: r["cosine_sim"] for r in cosine_topk(emb, q, k=500).collect()
    }
    errs = [abs(approx[i] - exact[i]) for i in exact]
    assert len(errs) == 500
    assert float(np.mean(errs)) < 0.02


def test_pq_zero_vector_encodes_deterministically(spark):
    """An all-zero vector must encode (code row, no NaN) and never crash
    the query path — cosine against it is undefined, so it simply ranks
    by its zero reconstruction."""
    df = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [1.0] * 8), (2, [1.0, 0.0] * 4), (3, [-1.0] * 8)],
        "vec_id bigint, embedding array<float>",
    )
    cents = kmeans_train(df, k=2, max_iter=2)
    assigned = ivf_assignments(df, cents)
    cb = _codebooks_to_dict(
        pq_train_codebooks(assigned, m=4, ncodes=2, train_sample=10, max_iter=3).collect()
    )
    enc = pq_encode(assigned, cb).collect()
    assert all(len(r["codes"]) == 4 for r in enc)
