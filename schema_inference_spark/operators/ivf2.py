"""Two-level IVF — the nlist-at-10^12 shape from SCALE.md ("sqrt(n)=10^6
centroids is beyond one k-means job's comfort; train two-level (coarse
10^3 x fine 10^3)"). Until r5 that was a design note; this module is the
kernel.

Structure: a driver-side coarse k-means (kmeans_train — k_coarse stays
small by construction) assigns every vector a ``coarse_id``; fine
centroids are then trained PER COARSE PARTITION in one
``groupBy(coarse_id).applyInPandas`` pass (the same distributed-training
shape as the PQ codebooks: deterministic hash-ordered sample, rows
sorted before any float fold, so fine centroids are bit-identical under
any physical layout). The persisted table is partitioned by
``(coarse_id, fine_id)`` — nlist = k_coarse x k_fine partitions while no
single k-means ever sees more than one partition's sample, and the
two-key layout bounds per-file row counts for the Iceberg spec exactly
as SCALE.md prescribes.

Query: pick ``n_probe_coarse`` coarse centroids driver-side, read ONLY
their fine-centroid rows (a k_coarse x k_fine table at most — tiny),
pick the best ``n_probe`` (coarse, fine) cells globally by cosine, and
scan just those cells (an OR-of-equalities predicate Spark turns into
partition pruning on both keys), exact brute-force within. Assignment
ties break to the lowest fine_id (np.argmax first-max), mirroring
ivf_assignments' rule.

Public provenance: hierarchical (two-level) coarse quantization is the
standard answer to nlist >> one k-means job — cf. the residual/2-level
coarse quantizers in the IVF literature (Jegou et al. TPAMI 2011 §V;
FAISS's IVF-on-IVF composite indexes). Reference provenance: the
reference engine has no ANN surface; the
persisted build-once/query-many lifecycle extends build_ivf_index
(operators/similarity.py), seeded by the reference's persisted-output
re-analysis pattern (SeqScanAsJson.java:66-77).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from schema_inference_spark.operators.pq import (
    _by_cell,
    _group_sorted,
    _kmeans_1sub,
    _train_per_cell,
    _unit_rows,
)
from schema_inference_spark.operators.similarity import (
    _build_index,
    _persist_side,
    _probe,
    _query_index,
    _read_side,
    _stack_rows,
    centroids_schema,
)

FINE_SCHEMA = "coarse_id int, fine_id int, centroid array<double>"


def train_fine_centroids(
    assigned: DataFrame,
    k_fine: int = 8,
    max_iter: int = 6,
    train_sample: int = 200_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-coarse-partition fine k-means in one grouped Arrow pass.

    Output rows: (coarse_id, fine_id, centroid). Each group samples up to
    ``train_sample`` rows by md5(id) order and runs the deterministic
    Lloyd's kernel over FULL vectors (``_kmeans_1sub`` is
    dimension-generic); a group with fewer distinct vectors than k_fine
    repeats its last distinct point in the tail centroids (those cells
    simply stay empty at assignment)."""

    def fit(cid: int, sample: np.ndarray) -> list:
        cb = _kmeans_1sub(sample.astype(np.float64), k_fine, max_iter)
        return [(cid, f, cb[f].astype(np.float64).tolist()) for f in range(k_fine)]

    return _train_per_cell(
        assigned, "coarse_id", id_col, vec_col, train_sample, fit, FINE_SCHEMA
    )


def _fine_to_dict(rows) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """{coarse_id: (fine_id array, unit-row centroid matrix)} — tie rule
    is argmax-first over the fine_id-sorted rows (lowest fine_id wins)."""
    return {
        cid: (
            np.asarray([r["fine_id"] for r in rs], dtype=np.int32),
            _unit_rows(np.asarray([r["centroid"] for r in rs], dtype=np.float64), np.float64),
        )
        for cid, rs in _group_sorted(rows, "coarse_id", "fine_id").items()
    }


def fine_assignments(
    assigned: DataFrame,
    fine: dict[int, tuple[np.ndarray, np.ndarray]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each coarse-assigned vector its max-cosine fine centroid —
    one Arrow projection (per-row norms cancel in the argmax, same
    argument as ivf_assignments' GEMM path)."""

    @pandas_udf("int")
    def _assign(cid_s: pd.Series, vec_s: pd.Series) -> pd.Series:
        n = len(vec_s)
        if n == 0:
            return pd.Series([], dtype="int32")
        mat = _stack_rows(vec_s.values).astype(np.float64)
        out = np.empty(n, dtype=np.int32)
        for cid, idx in _by_cell(cid_s.values):
            fids, cmat = fine[cid]
            out[idx] = fids[np.argmax(mat[idx] @ cmat.T, axis=1)]
        return pd.Series(out)

    return assigned.withColumn(
        "fine_id", _assign(F.col("coarse_id"), F.col(vec_col))
    )


def build_ivf2_index(
    df: DataFrame,
    path: str,
    k_coarse: int = 4,
    k_fine: int = 4,
    max_iter: int = 6,
    fine_max_iter: int = 6,
    train_sample: int = 200_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the two-level index: vectors/ partitioned by
    (coarse_id, fine_id), coarse centroids/, fine_centroids/."""

    def encode(assigned: DataFrame) -> DataFrame:
        assigned = assigned.withColumnRenamed("centroid_id", "coarse_id")
        fine_df = train_fine_centroids(
            assigned, k_fine=k_fine, max_iter=fine_max_iter,
            train_sample=train_sample, id_col=id_col, vec_col=vec_col,
        )
        fine = _fine_to_dict(_persist_side(fine_df, path, "fine_centroids", FINE_SCHEMA))
        full = fine_assignments(assigned, fine, vec_col)
        return full.select(id_col, vec_col, "coarse_id", "fine_id")

    _build_index(
        df, path, k_coarse, max_iter, id_col, vec_col, encode, keys=("coarse_id", "fine_id")
    )


def query_ivf2_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe_coarse: int = 2,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the best n_probe (coarse, fine) cells within the
    n_probe_coarse closest coarse centroids; scan only those partitions.
    Both picks are ``_probe``'s (−cos, id) rule; no cell -> empty result."""
    cents = _read_side(spark, path, "centroids", centroids_schema("coarse_id"))
    coarse_ids = _probe(cents, query_vec, n_probe_coarse)
    fine_rows = _read_side(spark, path, "fine_centroids", FINE_SCHEMA, "coarse_id", coarse_ids)
    cells = _probe(
        (((r["coarse_id"], r["fine_id"]), r["centroid"]) for r in fine_rows),
        query_vec, n_probe,
    )
    return _query_index(
        spark, path, query_vec, k, cells, id_col, vec_col, keys=("coarse_id", "fine_id")
    )
