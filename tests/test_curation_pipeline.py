"""End-to-end LLM-corpus curation pipeline composition:

  near-dup detection (MinHash-LSH + Jaccard verify)
    -> connected components (dedup groups)
      -> keep one representative per group
        -> leakage-safe train/val/test split
          -> sequence packing into token-budget bins

One test proving the operator family composes into the actual workflow a
100 TB training-data pipeline runs, with the invariants that matter:
no surviving near-dup pairs, no cross-split leakage, no overfull bins,
and fully deterministic output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from schema_inference_spark.functions import text as TX
from schema_inference_spark.operators.dedup import (
    duplicate_components,
    lsh_candidate_pairs,
    verify_pairs,
)
from schema_inference_spark.operators.packing import pack_documents
from schema_inference_spark.operators.sampling import leakage_safe_split
from schema_inference_spark.sources.tables import load_table


def test_full_curation_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    # 1. near-dup pairs: LSH candidates, exact-Jaccard verified
    cands = lsh_candidate_pairs(docs, "doc_id", "text", n_perm=4, band_size=2)
    pairs = verify_pairs(cands, docs, None, "doc_id", "text", threshold=0.6)

    # 2. components -> one representative (smallest id) per dup group
    comps = duplicate_components(pairs, "doc_id")
    drop = comps.where(F.col("doc_id") != F.col("component")).select("doc_id")
    kept = docs.join(drop, "doc_id", "left_anti")
    n_dropped = drop.count()
    assert kept.count() == n_docs - n_dropped

    # no verified near-dup pair survives in the kept set
    kept_ids = kept.select("doc_id")
    surviving = (
        pairs.join(kept_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(kept_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
    )
    assert surviving.count() == 0

    # 3. leakage-safe split over the kept docs (components already
    #    collapsed, but route by component anyway: belt and braces for
    #    sub-threshold candidates)
    split_docs = leakage_safe_split(kept, cands, "doc_id")
    counts = {r["split"]: r["n"] for r in split_docs.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"} and counts["train"] > 0

    # 4. pack the train split into 512-token bins
    train = split_docs.where(F.col("split") == "train").select(
        "doc_id", TX.token_count_expr(F.col("text")).cast("long").alias("n_tokens")
    )
    packed = pack_documents(train, max_tokens=512, n_partitions=4)
    assert packed.count() == train.count()
    overfull = (
        packed.where(~F.col("truncated"))
        .groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("t"))
        .where(F.col("t") > 512)
        .count()
    )
    assert overfull == 0

    # determinism of the whole pipeline under a different input layout
    docs2 = docs.repartition(11)
    cands2 = lsh_candidate_pairs(docs2, "doc_id", "text", n_perm=4, band_size=2)
    pairs2 = verify_pairs(cands2, docs2, None, "doc_id", "text", threshold=0.6)
    comps2 = duplicate_components(pairs2, "doc_id")
    drop2 = comps2.where(F.col("doc_id") != F.col("component")).select("doc_id")
    assert sorted(r["doc_id"] for r in drop.collect()) == sorted(
        r["doc_id"] for r in drop2.collect()
    )


def test_embedding_curation_chain(spark):
    """The MULTIMODAL sibling of the text chain: banded-SRP embedding
    near-dup pairs -> connected components -> leakage-safe split. Plants
    three clusters of near-identical vectors (cosine > 0.99) plus
    background noise; the chain must group each cluster, keep exactly one
    representative per cluster, and never separate a cluster across
    train/val/test (eval contamination)."""
    import numpy as np

    from schema_inference_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.RandomState(11)
    rows, clusters = [], {0: [0, 1, 2], 1: [10, 11], 2: [20, 21, 22, 23]}
    base = {c: rng.randn(16) for c in clusters}
    for c, ids in clusters.items():
        for i in ids:
            v = base[c] + 0.001 * rng.randn(16)
            rows.append((i, (v / np.linalg.norm(v)).astype(float).tolist()))
    for i in range(30, 60):  # background: independent random directions
        v = rng.randn(16)
        rows.append((i, (v / np.linalg.norm(v)).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = embedding_near_dup_pairs(df, threshold=0.98)
    comps = duplicate_components(pairs, "vec_id")
    got = {}
    for r in comps.collect():
        got.setdefault(r["component"], set()).add(r["vec_id"])
    assert {frozenset(v) for v in got.values()} == {
        frozenset(ids) for ids in clusters.values()
    }

    # representative = min id per cluster; split must route whole clusters
    drop = comps.where(F.col("vec_id") != F.col("component"))
    assert drop.count() == sum(len(v) - 1 for v in clusters.values())
    split_df = leakage_safe_split(
        df.withColumnRenamed("vec_id", "doc_id"),
        pairs.selectExpr("id_a", "id_b"),
        "doc_id",
    )
    by_cluster = {
        c: {r["split"] for r in split_df.where(F.col("doc_id").isin(ids)).collect()}
        for c, ids in clusters.items()
    }
    assert all(len(s) == 1 for s in by_cluster.values()), by_cluster
