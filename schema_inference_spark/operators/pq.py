"""The persisted IVF index: one entry point, ``build_index`` /
``query_index``, over every codec and level, plus the codec kernels —
ALL THREE rungs of the ANN memory ladder (SCALE.md "ANN memory at
10^9-10^12"): float16 (2x) and int8 scalar quantization (4x) via the
``sq_*`` kernels, and product quantization (16x) via the ``pq_*`` family.

* ``pq_train_codebooks`` — per-IVF-cell codebooks (m subspaces x ncodes
  centroids each), trained DISTRIBUTEDLY with one
  ``groupBy(centroid_id).applyInPandas`` pass. Training is a pure
  function of each cell's data (deterministic hash-ordered sample, rows
  sorted before any float fold), so codebooks are bit-identical under
  any physical layout — the r4 packing lesson applied from the start.
  The int8 scales and the two-level fine centroids are trained the
  same way, per coarse cell.
* ``pq_encode`` / ``sq_encode`` — one Arrow projection mapping each
  vector to a fixed-width ``binary`` code (m bytes for pq: 16x smaller
  than the raw 64 x float32 at the reference shape). No shuffle: rows
  already carry ``centroid_id`` from IVF assignment.
* ``build_index`` / ``open_index`` / ``query_index`` — the
  build-once/query-many lifecycle. ``codec`` (raw, float16, int8, pq) and
  ``k_fine`` (two-level cells: nlist = k x k_fine partitions while no
  single k-means sees more than one coarse cell's sample — SCALE.md's
  10^12 shape) are configuration: every codec lane keys on the coarse
  ``centroid_id``, so two-level x any codec needs no code of its own. The
  build writes a manifest (index.json) with a fresh build id last.
  ``open_index`` returns the path's open index (``Index``), memoized while
  its manifest and SparkSession stay the same: it keeps the centroids and
  an LRU of the probed cells' side data (fine centroids, scales,
  codebooks) on the driver. A query (``query_index`` =
  ``open_index(...).query(...)``) probes there, then runs one plan over
  ONLY the probed partitions (partition pruning): one scan reads (vec_id,
  centroid_id, codes, raw) and only centroid_id and codes cross into
  Python, where an ADC lookup table (pq) or a dequantized dot (sq) scores
  them; the top ``over_retrieve * k`` rows per task and then overall are
  re-ranked exactly on the raw column in the JVM, so recall@k returns to
  the exact-probe level. The raw column is read with the codes, but never
  serialized to Python and never shuffled beyond the per-task top-n.
  Spark jobs per query: the plan, plus on a cold open one collect of
  centroids/, plus one collect per side table whose probed cells are not
  cached yet — a warm query is 1 job. ``build_pq_index`` /
  ``query_pq_index`` / ``query_pq_index_batch`` keep the pq names
  perfbench calls.

Public provenance: product quantization with asymmetric distance
computation follows Jegou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) — the IVFADC layout (coarse
quantizer + per-cell PQ codes + over-retrieve/re-rank) is the standard
FAISS-style design; scalar int8 quantization with symmetric per-dim
scales is the common ANN-serving variant of the same idea; two-level
coarse quantization is the standard answer to nlist >> one k-means job
(Jegou et al. TPAMI 2011 §V; FAISS's IVF-on-IVF composite indexes).

Cosine-ADC convention: vectors are unit-normalized BEFORE encoding, so
``dot(q_unit, reconstruction(x)) ~= cosine(q, x)`` and the lookup table
is just per-subspace dot products against the query. Zero vectors encode
as themselves (all-zero subvectors pick code 0 deterministically).

Scale notes (the 100 TB story): codebooks are tiny by construction
(k_ivf x m x ncodes x (d/m) floats — ~0.5 MB at k=8, m=16, ncodes=256,
d=64) and ship in UDF closures like the IVF centroid matrix; training
reads a bounded per-partition sample; encoding and scoring are
single-pass Arrow projections; the query path collects only the probed
cells' side-table rows, once per open index (``SIDE_CACHE_BYTES`` bounds
what it keeps), and the k result rows (same bound class as every top-k
in this repo); the centroids an open index keeps cost k x d doubles.
Reference provenance: the reference engine has no ANN surface — this
extends the curation family; the persisted build-once/query-many
lifecycle is seeded by the reference's persisted-output re-analysis
(SeqScanAsJson.java:66-77).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import uuid
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from schema_inference_spark.operators.similarity import (
    CENTROIDS_SCHEMA,
    _cell_keys,
    _cosine_fold,
    _persist_side,
    _probe_matrix,
    _query_index,
    _query_norm,
    _read_side,
    _stack_rows,
    ivf_assignments,
    kmeans_train,
)
from schema_inference_spark.sources.iceberg import read_table, write_table
from schema_inference_spark.sources.tables import local_frame

CODEBOOK_SCHEMA = (
    "centroid_id int, subspace int, code int, codeword array<float>"
)
SCALES_SCHEMA = "centroid_id int, dim int, scale double"
FINE_SCHEMA = "centroid_id int, fine_id int, centroid array<double>"
CODECS = ("raw", "float16", "int8", "pq")
MANIFEST = "index.json"


def _unit(query_vec) -> np.ndarray:
    """The query as a float64 unit vector (a zero query stays zero) — the
    operand of every quantized lane's lookup table or dequantized dot."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.sqrt((q * q).sum())
    return q / qn if qn else q


def _unit_rows(m: np.ndarray, dtype=np.float32) -> np.ndarray:
    """Row-normalize to unit L2; all-zero rows stay zero (cosine undefined,
    and a zero subvector must still encode deterministically)."""
    norms = np.sqrt((m.astype(np.float64) ** 2).sum(axis=1))
    norms[norms == 0.0] = 1.0
    return (m / norms[:, None]).astype(dtype)


def _by_cell(key: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """(cell, row indices) for each distinct cell key of a batch."""
    return [(int(kv), np.nonzero(key == kv)[0]) for kv in pd.unique(key)]


def _train_per_cell(
    assigned: DataFrame, cell: str, id_col: str, vec_col: str, n: int, fit, schema: str
) -> DataFrame:
    """Per-cell training in one grouped Arrow pass: ``fit(cell_id, sample)``
    turns each cell's sample — up to ``n`` vectors in md5(id) order, ties
    by id, so reproducible across runs and partitionings with no RNG
    state — into output rows."""
    import hashlib

    def _train(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[id_col].map(lambda x: hashlib.md5(str(x).encode()).hexdigest())
        order = np.lexsort((pdf[id_col].values, keys.values))
        # positional columns: applyInPandas matches them to ``schema`` by position
        return pd.DataFrame(fit(int(pdf[cell].iloc[0]), _stack_rows(pdf[vec_col].values[order[:n]])))

    return assigned.select(cell, id_col, vec_col).groupBy(cell).applyInPandas(_train, schema)


def _codes_column(assigned: DataFrame, vec_col: str, out_col: str, encode_cell) -> DataFrame:
    """One Arrow projection, no shuffle: ``encode_cell(cid, vectors)`` maps
    one cell's rows of a batch to an (n, width) array, stored per row as a
    fixed-width binary."""

    @pandas_udf("binary")
    def _enc(cid_s: pd.Series, vec_s: pd.Series) -> pd.Series:
        mat = _stack_rows(vec_s.values)
        rows = np.empty((len(vec_s),), dtype=object)
        for cid, idx in _by_cell(cid_s.values):
            for i, row in zip(idx, encode_cell(cid, mat[idx])):
                rows[i] = row.tobytes()
        return pd.Series(rows)

    return assigned.withColumn(out_col, _enc(F.col("centroid_id"), F.col(vec_col)))


def _decode(cells, dtype) -> np.ndarray:
    """Fixed-width binary cells -> (n, width) array: one join, one
    zero-copy frombuffer."""
    return np.frombuffer(b"".join(cells), dtype=dtype).reshape(len(cells), -1)


def _lut(q_unit: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """ADC lookup table of one cell: (m, ncodes) per-subspace dots of the
    unit query against its (m, ncodes, sub_d) codebook."""
    m, _, sub_d = cb.shape
    return np.einsum("ms,mcs->mc", q_unit.reshape(m, sub_d), cb.astype(np.float64))


def _adc_sum(luts: dict[int, np.ndarray], key: np.ndarray, codes: np.ndarray) -> pd.Series:
    """ADC kernel: per row, the float64 sum of the m entries its codes pick
    from ``luts[key]`` — the 16-add replacement for the 64-mul dot. Each
    row's value depends only on its own codes and table, so the grouping
    (by cell, or by (query, cell) in the batch path) never changes it."""
    out = np.empty(len(codes), dtype=np.float64)
    for kv, idx in _by_cell(key):
        lut = luts[kv]
        out[idx] = lut[np.arange(lut.shape[0])[None, :], _decode(codes[idx], np.uint8)].sum(axis=1)
    return pd.Series(out)


def _kmeans_1sub(pts: np.ndarray, ncodes: int, max_iter: int) -> np.ndarray:
    """Deterministic Lloyd's over one subspace's sample points.

    ``pts`` arrives in a caller-fixed order (hash-ordered sample), so
    init (first ncodes DISTINCT points) and every mean fold are pure
    functions of the partition's data — no RNG, no layout dependence.
    Returns an (ncodes, sub_d) float32 codebook; when the sample has
    fewer distinct points than ncodes the tail codewords repeat the last
    distinct point (they simply never win an argmin).
    """
    pts64 = pts.astype(np.float64)
    _, first_idx = np.unique(pts64, axis=0, return_index=True)
    distinct = pts64[np.sort(first_idx)]
    if len(distinct) >= ncodes:
        cb = distinct[:ncodes].copy()
    else:
        pad = np.repeat(distinct[-1:], ncodes - len(distinct), axis=0)
        cb = np.concatenate([distinct, pad], axis=0)
    pn2 = (pts64 * pts64).sum(axis=1)
    for _ in range(max_iter):
        # squared-L2 argmin via the GEMM form ||x||^2 - 2 x.c + ||c||^2 —
        # O(n*ncodes) memory instead of the pairwise broadcast's
        # O(n*ncodes*sub_d) (819 MB per group at a 100k sample, ncodes=256,
        # sub_d=4 — the broadcast form OOMs production-sized samples);
        # ties -> lowest code id (np.argmin first-max)
        d2 = pn2[:, None] - 2.0 * (pts64 @ cb.T) + (cb * cb).sum(axis=1)[None, :]
        assign = np.argmin(d2, axis=1)
        new_cb = cb.copy()
        for c in np.unique(assign):
            new_cb[c] = pts64[assign == c].mean(axis=0)
        if np.array_equal(new_cb, cb):
            break
        cb = new_cb
    return cb.astype(np.float32)


def pq_train_codebooks(
    assigned: DataFrame,
    m: int = 16,
    ncodes: int = 256,
    train_sample: int = 100_000,
    max_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train per-IVF-partition PQ codebooks in one grouped Arrow pass.

    Output rows: (centroid_id, subspace, code, codeword). Each group
    samples up to ``train_sample`` rows by md5(id) order (reproducible
    across runs and partitionings), unit-normalizes, splits the d dims
    into ``m`` contiguous subspaces of d/m dims, and runs deterministic
    Lloyd's per subspace. d % m must be 0 (checked at encode/query too).
    """

    def fit(cid: int, sample: np.ndarray) -> list:
        mat = _unit_rows(sample)
        d = mat.shape[1]
        if d % m != 0:
            raise ValueError(f"dim {d} not divisible by m={m}")
        sub_d = d // m
        out = []
        for j in range(m):
            cb = _kmeans_1sub(mat[:, j * sub_d : (j + 1) * sub_d], ncodes, max_iter)
            for c in range(ncodes):
                out.append((cid, j, c, cb[c].tolist()))
        return out

    return _train_per_cell(
        assigned, "centroid_id", id_col, vec_col, train_sample, fit, CODEBOOK_SCHEMA
    )


def _group_sorted(rows, cell: str, *order: str) -> dict[int, list]:
    """Driver-side regroup of a small per-cell table (codebooks/, scales/,
    fine_centroids/): {cell: its rows sorted by ``order``}."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: [r[c] for c in order]):
        out.setdefault(r[cell], []).append(r)
    return out


def _codebooks_to_dict(rows) -> dict[int, np.ndarray]:
    """The codebook table (complete, as pq_train_codebooks writes it) as
    {centroid_id: (m, ncodes, sub_d) float32}."""
    return {
        cid: np.asarray([r["codeword"] for r in rs], dtype=np.float32).reshape(
            1 + rs[-1]["subspace"], 1 + rs[-1]["code"], -1
        )
        for cid, rs in _group_sorted(rows, "centroid_id", "subspace", "code").items()
    }


def pq_encode(
    assigned: DataFrame,
    codebooks: dict[int, np.ndarray],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Encode each (already IVF-assigned) vector to m uint8 codes packed
    as an m-byte binary — one Arrow projection, no shuffle. Codes pick
    the squared-L2-nearest codeword per subspace (ties -> lowest code)."""

    def encode_cell(cid: int, vecs: np.ndarray) -> np.ndarray:
        if cid not in codebooks:
            raise ValueError(
                f"no trained PQ codebook for centroid_id {cid} (codebooks "
                f"cover {sorted(codebooks)}): train on a sample of every cell"
            )
        cb = codebooks[cid].astype(np.float64)  # (m, ncodes, sub_d)
        m, ncodes, sub_d = cb.shape
        sub = _unit_rows(vecs).reshape(len(vecs), m, sub_d).astype(np.float64)
        cn2 = (cb * cb).sum(axis=2)  # (m, ncodes)
        codes = np.empty((len(sub), m), dtype=np.uint8)
        # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant per
        # row. The dot is an s-unrolled elementwise fold (fixed order
        # s=0..sub_d-1, per-element, no GEMM tiles) — 2.5-2.8x faster
        # than einsum here AND bit-stable under any batch geometry,
        # which the cross-width identity checks require (BLAS edge
        # tiles may round differently per geometry — the
        # ivf_assignments GEMM-path caveat).
        for j in range(m):
            sj = sub[:, j, :]
            cj = cb[j]  # (ncodes, sub_d)
            d = sj[:, 0, None] * cj[None, :, 0]
            for t in range(1, sub_d):
                d += sj[:, t, None] * cj[None, :, t]
            codes[:, j] = np.argmin(cn2[j][None, :] - 2.0 * d, axis=1)
        return codes

    return _codes_column(assigned, vec_col, out_col, encode_cell)


def build_pq_index(
    df: DataFrame,
    path: str,
    k: int = 8,
    m: int = 16,
    ncodes: int = 256,
    max_iter: int = 10,
    pq_max_iter: int = 8,
    train_sample: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """``build_index(codec="pq")``, under the name perfbench calls."""
    return build_index(
        df, path, "pq", k=k, max_iter=max_iter, m=m, ncodes=ncodes,
        pq_max_iter=pq_max_iter, train_sample=train_sample, id_col=id_col, vec_col=vec_col,
    )


def query_pq_index_batch(
    spark,
    path: str,
    query_vecs: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    over_retrieve: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query-many serving path on a flat pq index: answer a BATCH of
    queries in one plan. Probes, centroids and codebooks come from the
    open index (``open_index``), as for a single query; the manifest names
    the columns (``id_col``/``vec_col`` stay only for the signature) and
    gives the vectors/ DDL. Shape: one scan of (id, centroid_id, codes)
    filtered to the union of all probed partitions, fanned out per
    probing query by a broadcast join against the tiny (qid, centroid_id)
    probe map, ADC-scored with per-(qid, cid) lookup tables and cut to the
    top over_retrieve*k (qid, id) candidates by a window partitioned by
    qid. Only the candidates meet the raw column: a second pruned scan of
    (id, raw) joins them as a broadcast, and the single query's
    ``_cosine_fold`` re-ranks them, with each query's vector and norm
    joined in from a broadcast (qid, _q, _qn) frame. Returns (qid,
    vec_id, cosine_sim) — per qid, EXACTLY the rows
    ``query_pq_index(query_vecs[qid], ...)`` returns (same kernels, same
    tie rules; asserted bit-for-bit in tests).

    Scale shape: both scans are partition-pruned to the union of probes;
    the broadcast sides are n_queries x n_probe probe rows and
    n_queries x over_retrieve*k candidates. The candidate-cut window
    shuffles only (qid, id, score) of the fanned rows, at most
    over_retrieve*k per qid per task after Spark's partial window-group
    limit: the raw vector column is never shuffled. One scan is amortized
    across the whole batch.
    """
    from pyspark.sql import Window

    index = open_index(spark, path)
    manifest = index.manifest
    if manifest["codec"] != "pq" or manifest["two_level"]:
        raise ValueError(f"{path} is not a flat pq index: {manifest}")
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    if not query_vecs:
        return local_frame(spark, [], f"qid int, {id_col} bigint, cosine_sim double")

    probe_pairs = [
        (qid, cid) for qid, qv in enumerate(query_vecs) for cid in index.probe(qv, n_probe)
    ]
    probe_ids_all = sorted({cid for _, cid in probe_pairs})
    codebooks = index.side("codebooks", probe_ids_all)
    # one int key per (qid, cid) pair, so the batch ADC groups like the
    # single-query one
    stride = 1 + max(probe_ids_all, default=0)
    q_units = [_unit(qv) for qv in query_vecs]
    luts = {
        qid * stride + cid: _lut(q_units[qid], codebooks[cid])
        for qid, cid in probe_pairs
        if cid in codebooks
    }

    @pandas_udf("double")
    def _adc(qid_s: pd.Series, cid_s: pd.Series, codes_s: pd.Series) -> pd.Series:
        key = qid_s.values.astype(np.int64) * stride + cid_s.values
        return _adc_sum(luts, key, codes_s.values)

    # the single query's re-rank fold, with each candidate's query vector
    # and norm joined in from a broadcast (qid, _q, _qn) frame
    q_df = F.broadcast(local_frame(
        spark,
        [(qid, q.tolist(), qn) for qid, (q, qn) in enumerate(map(_query_norm, query_vecs))],
        "qid int, _q array<double>, _qn double",
    ))

    probe_df = F.broadcast(local_frame(spark, probe_pairs, "qid int, centroid_id int"))
    vectors = read_table(spark, f"{path}/vectors", manifest["vectors"]).where(
        F.col("centroid_id").isin(probe_ids_all)
    )
    scored = vectors.select(id_col, "centroid_id", "codes").join(probe_df, "centroid_id").select(
        "qid", id_col, _adc(F.col("qid"), F.col("centroid_id"), F.col("codes")).alias("adc_score")
    )
    cand_w = Window.partitionBy("qid").orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    cands = (
        scored.withColumn("rn", F.row_number().over(cand_w))
        .where(F.col("rn") <= over_retrieve * k)
        .select("qid", id_col)
    )
    exact = (
        vectors.select(id_col, vec_col)
        .join(F.broadcast(cands), id_col)
        .join(q_df, "qid")
        .select(
            "qid", id_col,
            F.round(_cosine_fold(F.col(vec_col), F.col("_q"), F.col("_qn")), 6).alias("cosine_sim"),
        )
    )
    topk_w = Window.partitionBy("qid").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        exact.withColumn("rn", F.row_number().over(topk_w))
        .where(F.col("rn") <= k)
        .select("qid", id_col, "cosine_sim")
    )


def sq_train_scales(
    assigned: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """int8 scalar-quantization scales: per-IVF-partition, per-dimension
    max(|min|, |max|) — one posexplode + partial-aggregated min/max pass
    (k*d result rows; min/max are order-insensitive, so scales are exact
    and layout-proof by construction)."""
    return (
        assigned.select(
            "centroid_id", F.posexplode(vec_col).alias("dim", "val")
        )
        .groupBy("centroid_id", "dim")
        .agg(
            F.greatest(
                F.abs(F.min(F.col("val").cast("double"))),
                F.abs(F.max(F.col("val").cast("double"))),
            ).alias("scale")
        )
    )


def _scales_to_dict(rows) -> dict[int, np.ndarray]:
    return {
        cid: np.asarray([r["scale"] for r in rs], dtype=np.float64)
        for cid, rs in _group_sorted(rows, "centroid_id", "dim").items()
    }


def sq_encode(
    assigned: DataFrame,
    dtype: str = "float16",
    scales: dict[int, np.ndarray] | None = None,
    vec_col: str = "embedding",
    out_col: str = "qcodes",
) -> DataFrame:
    """Scalar quantization — rungs 1-2 of the SCALE.md memory ladder.

    ``float16`` (2x): straight downcast packed as d*2 bytes; max
    representable error ~2^-11 relative, effectively recall-free for
    cosine. ``int8`` (4x): symmetric per-partition per-dimension scale
    (``sq_train_scales``) — code = clip(round(x/scale*127)); zero scale
    (constant-zero dim) encodes 0. One Arrow projection either way."""
    if dtype not in ("float16", "int8"):
        raise ValueError(f"unsupported sq dtype {dtype!r}")
    if dtype == "int8" and scales is None:
        raise ValueError("int8 quantization requires trained scales")

    def encode_cell(cid: int, vecs: np.ndarray) -> np.ndarray:
        mat = vecs.astype(np.float64)
        if dtype == "float16":
            return mat.astype(np.float16)
        sc = scales[cid].copy()
        sc[sc == 0.0] = 1.0
        return np.clip(np.rint(mat / sc[None, :] * 127.0), -127, 127).astype(np.int8)

    return _codes_column(assigned, vec_col, out_col, encode_cell)


def sq_cosine_scores(
    codes_df: DataFrame,
    query_vec: list[float],
    dtype: str,
    scales: dict[int, np.ndarray] | None = None,
    out_col: str = "sq_score",
) -> DataFrame:
    """Cosine of the query against DEQUANTIZED codes — the bulk-scan lane
    for scalar quantization (the dequantize + dot runs in one Arrow
    kernel; float64 accumulate via the GEMM is fine here because the lane
    is approximate by construction and re-ranked exactly)."""
    q_unit = _unit(query_vec)

    @pandas_udf("double")
    def _score(cid_s: pd.Series, codes_s: pd.Series) -> pd.Series:
        n = len(codes_s)
        if n == 0:
            return pd.Series([], dtype=float)
        out = np.empty(n, dtype=np.float64)
        codes = codes_s.values
        if dtype == "float16":
            groups = [(np.arange(n), None)]
        else:
            groups = [(idx, scales[cid] / 127.0) for cid, idx in _by_cell(cid_s.values)]
        for idx, sc in groups:
            mat = _decode(codes[idx], np.dtype(dtype)).astype(np.float64)
            if sc is not None:
                mat = mat * sc[None, :]
            norms = np.sqrt((mat * mat).sum(axis=1))
            norms[norms == 0.0] = 1.0
            out[idx] = (mat @ q_unit) / norms
        return pd.Series(out)

    return codes_df.withColumn(out_col, _score(F.col("centroid_id"), F.col("codes")))


def adc_scores(
    codes_df: DataFrame,
    luts: dict[int, np.ndarray],
    out_col: str = "adc_score",
) -> DataFrame:
    """Asymmetric-distance scores: per row, sum m lookup-table entries
    (float64 accumulate) — the 16-add replacement for the 64-mul dot."""

    @pandas_udf("double")
    def _score(cid_s: pd.Series, codes_s: pd.Series) -> pd.Series:
        return _adc_sum(luts, cid_s.values, codes_s.values)

    return codes_df.withColumn(out_col, _score(F.col("centroid_id"), F.col("codes")))


def query_pq_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    over_retrieve: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``query_index`` under the name perfbench calls. The manifest names
    the columns; ``id_col``/``vec_col`` stay only for the signature."""
    return query_index(spark, path, query_vec, k, n_probe, over_retrieve)


# --- two-level cells: fine centroids trained per coarse cell


def train_fine_centroids(
    assigned: DataFrame,
    k_fine: int = 8,
    max_iter: int = 6,
    train_sample: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-coarse-cell fine k-means in one grouped Arrow pass.

    Output rows: (centroid_id, fine_id, centroid). Each group samples up
    to ``train_sample`` rows by md5(id) order and runs the deterministic
    Lloyd's kernel over FULL vectors (``_kmeans_1sub`` is
    dimension-generic), so fine centroids are bit-identical under any
    physical layout; a group with fewer distinct vectors than k_fine
    repeats its last distinct point in the tail centroids (those cells
    simply stay empty at assignment)."""

    def fit(cid: int, sample: np.ndarray) -> list:
        cb = _kmeans_1sub(sample.astype(np.float64), k_fine, max_iter)
        return [(cid, f, cb[f].astype(np.float64).tolist()) for f in range(k_fine)]

    return _train_per_cell(
        assigned, "centroid_id", id_col, vec_col, train_sample, fit, FINE_SCHEMA
    )


def _fine_cells(rows) -> dict[int, tuple[list, np.ndarray]]:
    """The fine_centroids/ rows as {centroid_id: (its (centroid_id,
    fine_id) cell ids, their centroids as a float64 matrix)}, sorted by
    fine_id — the probe's operands for a two-level index."""
    return {
        cid: (
            [(cid, r["fine_id"]) for r in rs],
            np.asarray([r["centroid"] for r in rs], dtype=np.float64),
        )
        for cid, rs in _group_sorted(rows, "centroid_id", "fine_id").items()
    }


def _fine_to_dict(rows) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """{centroid_id: (fine_id array, unit-row centroid matrix)} — tie rule
    is argmax-first over the fine_id-sorted rows (lowest fine_id wins)."""
    return {
        cid: (np.asarray([f for _, f in ids], dtype=np.int32), _unit_rows(cmat, np.float64))
        for cid, (ids, cmat) in _fine_cells(rows).items()
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

    return assigned.withColumn("fine_id", _assign(F.col("centroid_id"), F.col(vec_col)))


# --- the one entry point: build_index / query_index over a manifest


def _read_manifest(path: str) -> dict:
    """The index's manifest, written last by ``build_index``: codec,
    two_level, id_col, vec_col and the vectors/ DDL. A local JSON file,
    like the jobs' reports."""
    try:
        with open(f"{path}/{MANIFEST}", encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"no index at {path}: {MANIFEST} is missing (never built, or a rebuild did not finish)"
        ) from None


def build_index(
    df: DataFrame,
    path: str,
    codec: str = "raw",
    k_fine: int | None = None,
    k: int = 8,
    max_iter: int = 10,
    fine_max_iter: int = 6,
    m: int = 16,
    ncodes: int = 256,
    pq_max_iter: int = 8,
    train_sample: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Build-once side of the ANN lifecycle; returns the coarse centroids.

    kmeans_train (``k`` cells) -> ivf_assignments -> with ``k_fine``, fine
    centroids per coarse cell (fine_centroids/) and a ``fine_id`` per row
    -> with a ``codec`` other than raw, its side table per coarse cell
    (int8 scales/, pq codebooks/) and a ``codes`` lane per row -> vectors/
    PARTITIONED BY the cell keys (centroid_id, and fine_id when two-level)
    -> centroids/ -> the manifest, index.json, last. The partitioned
    layout is what makes a probe an index read (parquet partition pruning,
    asserted on the query plans in tests). Every per-cell trainer samples
    up to ``train_sample`` rows of its cell.

    The manifest is the commit marker: the old one is deleted before
    anything is written, so a build that fails part way leaves no index
    a query would answer from. It holds what a query reads: codec,
    two_level, id_col, vec_col and the DDL of vectors/, as inference
    returns it for the files just written. The flat raw index keeps
    every input column; the others keep only the columns a query reads.
    Codecs: float16 (d*2-byte codes), int8 (d bytes, per-cell per-dim
    scales), pq (m bytes, per-cell codebooks of ``ncodes`` codewords)."""
    if codec not in CODECS:
        raise ValueError(f"codec must be one of {CODECS}, got {codec!r}")
    spark = df.sparkSession
    if os.path.exists(f"{path}/{MANIFEST}"):
        os.remove(f"{path}/{MANIFEST}")
    centroids = kmeans_train(df, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col)
    vectors = ivf_assignments(df, centroids, id_col, vec_col)
    keys = _cell_keys(bool(k_fine))
    if k_fine:
        fine_df = train_fine_centroids(
            vectors, k_fine=k_fine, max_iter=fine_max_iter,
            train_sample=train_sample, id_col=id_col, vec_col=vec_col,
        )
        fine = _fine_to_dict(_persist_side(fine_df, path, "fine_centroids", FINE_SCHEMA))
        vectors = fine_assignments(vectors, fine, vec_col)
    lanes = []
    if codec == "pq":
        cb_df = pq_train_codebooks(
            vectors, m=m, ncodes=ncodes, train_sample=train_sample,
            max_iter=pq_max_iter, id_col=id_col, vec_col=vec_col,
        )
        codebooks = _codebooks_to_dict(_persist_side(cb_df, path, "codebooks", CODEBOOK_SCHEMA))
        vectors, lanes = pq_encode(vectors, codebooks, vec_col=vec_col), ["codes"]
    elif codec != "raw":
        scales = None
        if codec == "int8":
            scales = _scales_to_dict(
                _persist_side(sq_train_scales(vectors, vec_col), path, "scales", SCALES_SCHEMA)
            )
        vectors = sq_encode(vectors, dtype=codec, scales=scales, vec_col=vec_col, out_col="codes")
        lanes = ["codes"]
    if k_fine or lanes:
        vectors = vectors.select(id_col, vec_col, *keys, *lanes)
    # Iceberg analog: vectors table partitioned by the cell keys in the spec
    write_table(vectors, f"{path}/vectors", mode="overwrite", partition_by=keys)
    cents_df = local_frame(spark, centroids, CENTROIDS_SCHEMA)
    write_table(cents_df, f"{path}/centroids", mode="overwrite")
    manifest = {
        "codec": codec, "two_level": bool(k_fine), "id_col": id_col, "vec_col": vec_col,
        "vectors": spark.read.parquet(f"{path}/vectors").schema.toDDL(),
        "build_id": uuid.uuid4().hex,
    }
    with open(f"{path}/{MANIFEST}", "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=2)
    return centroids


# per-coarse-cell side tables an open index loads on first probe, and their
# driver-side form
_SIDES = {
    "fine_centroids": (FINE_SCHEMA, _fine_cells),
    "scales": (SCALES_SCHEMA, _scales_to_dict),
    "codebooks": (CODEBOOK_SCHEMA, _codebooks_to_dict),
}

# Byte budget of one open index's per-cell side cache, an LRU over the
# numpy arrays of the cells its queries probed. A pq cell at m=16,
# ncodes=256, d=64 is 64 KiB, so the budget holds about a thousand.
SIDE_CACHE_BYTES = 64 << 20
# open indexes memoized per process, the least recently opened dropped first
OPEN_INDEXES = 4
_open: OrderedDict[str, Index] = OrderedDict()
_open_lock = threading.Lock()


def _nbytes(value) -> int:
    """Bytes of one cached cell's arrays (None: a cell the table lacks)."""
    parts = value if isinstance(value, tuple) else (value,)
    return sum(p.nbytes for p in parts if isinstance(p, np.ndarray))


class Index:
    """An open index: the manifest, the centroids (coarse ones for a
    two-level index) collected on first use, and an LRU of the probed
    cells' side data (fine centroids, int8 scales, pq codebooks),
    converted to numpy once. A query collects only the side rows of the
    cells it probes that no earlier query loaded — one collect per side
    table, all its missing cells at once — so a query whose cells are
    cached is one Spark job: its plan. Build with ``open_index``."""

    def __init__(self, spark, path: str, manifest: dict):
        self.spark, self.path, self.manifest = spark, path, manifest
        self._cells: OrderedDict[tuple[str, int], object] = OrderedDict()
        self._cell_bytes = 0
        self._lock = threading.Lock()  # queries may run on several driver threads

    @functools.cached_property
    def centroids(self) -> tuple[list[int], np.ndarray]:
        """(ids, float64 matrix) of centroids/, in its stored row order."""
        rows = _read_side(self.spark, self.path, "centroids", CENTROIDS_SCHEMA)
        return [r["centroid_id"] for r in rows], np.asarray(
            [r["centroid"] for r in rows], dtype=np.float64
        )

    def probe(self, query_vec, n: int) -> list[int]:
        """The ``n`` (coarse) cells closest to the query, ``_probe``'s rule."""
        return _probe_matrix(*self.centroids, query_vec, n)

    def side(self, table: str, cids) -> dict:
        """{cid: that cell's converted rows of ``table``} for the ``cids``
        the table has rows for: cached cells from the LRU, the missing
        ones in one collect (a cell without rows is cached as None, so it
        is not collected again). Cells past ``SIDE_CACHE_BYTES`` are
        evicted, least recently used first, after this query holds its
        own."""
        schema, convert = _SIDES[table]
        with self._lock:
            out = {}
            for cid in cids:
                if (table, cid) in self._cells:
                    self._cells.move_to_end((table, cid))
                    out[cid] = self._cells[table, cid]
            missing = [cid for cid in cids if cid not in out]
            if missing:
                rows = _read_side(self.spark, self.path, table, schema, "centroid_id", missing)
                loaded = convert(rows)
                for cid in missing:
                    out[cid] = self._cells[table, cid] = loaded.get(cid)
                    self._cell_bytes += _nbytes(out[cid])
                while self._cell_bytes > SIDE_CACHE_BYTES:
                    self._cell_bytes -= _nbytes(self._cells.popitem(last=False)[1])
        return {cid: v for cid, v in out.items() if v is not None}

    def query(
        self,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 2,
        over_retrieve: int = 8,
        n_probe_coarse: int = 2,
    ) -> DataFrame:
        """The top k (id, cosine_sim) by (cosine DESC, id); ``query_index``
        documents the arguments."""
        if self.manifest["two_level"]:
            coarse = self.probe(query_vec, n_probe_coarse)
            fine = list(self.side("fine_centroids", coarse).values())
            cells = _probe_matrix(
                [cell for ids, _ in fine for cell in ids],
                np.concatenate([m for _, m in fine]) if fine else np.empty((0, 0)),
                query_vec, n_probe,
            )
            cids = sorted({cid for cid, _ in cells})
        else:
            cells = cids = self.probe(query_vec, n_probe)
        codec, bulk = self.manifest["codec"], None
        if codec == "pq":
            q_unit = _unit(query_vec)
            luts = {cid: _lut(q_unit, cb) for cid, cb in self.side("codebooks", cids).items()}
            bulk = functools.partial(adc_scores, luts=luts, out_col="_score")
        elif codec != "raw":
            scales = None
            if codec == "int8":
                scales = self.side("scales", cids)
            bulk = functools.partial(
                sq_cosine_scores, query_vec=query_vec, dtype=codec, scales=scales, out_col="_score"
            )
        return _query_index(
            self.spark, self.path, self.manifest, query_vec, k, cells, bulk, over_retrieve
        )


def open_index(spark, path: str) -> Index:
    """The open index at ``path``. The manifest is read on every call (a
    local file, no Spark job; none raises ``no index at <path>``), and the
    handle memoized for ``path`` is reused only if its manifest is the
    same, build id included, and it was opened in this SparkSession. A
    rebuild therefore opens a fresh handle, and so does every call on a
    manifest without a build id (an index written before build ids, or
    by hand). At most ``OPEN_INDEXES`` handles stay memoized."""
    manifest = _read_manifest(path)
    key = os.path.abspath(path)  # one handle for every spelling of the path
    with _open_lock:
        if "build_id" not in manifest:
            _open.pop(key, None)
            return Index(spark, path, manifest)
        index = _open.get(key)
        if index is None or index.manifest != manifest or index.spark is not spark:
            index = _open[key] = Index(spark, path, manifest)
        _open.move_to_end(key)
        while len(_open) > OPEN_INDEXES:
            _open.popitem(last=False)
        return index


def query_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    over_retrieve: int = 8,
    n_probe_coarse: int = 2,
) -> DataFrame:
    """Query-many side: the top k (id, cosine_sim) by (cosine DESC, id);
    ``open_index(spark, path).query(...)``.

    Picks the ``n_probe`` closest cells driver-side — for a two-level
    index, among the fine cells of the ``n_probe_coarse`` closest coarse
    cells; both picks are ``_probe``'s (−cos, id) rule — from the open
    index's centroids and side data. Then one plan (``_query_index``)
    scans only those cells of vectors/: brute force for raw, else the
    codec's bulk lane scores the codes, the top over_retrieve*k are cut
    and re-ranked exactly on the raw column. No probed cell -> the empty
    result. Spark jobs: the first query on an open index also collects
    centroids/, and any query collects the side rows (fine_centroids/,
    then scales/ or codebooks/) of probed cells not yet cached, one job
    per table; a query whose cells are all cached is one job."""
    return open_index(spark, path).query(query_vec, k, n_probe, over_retrieve, n_probe_coarse)
