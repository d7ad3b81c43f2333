"""Quantized-vector kernels inside IVF partitions — ALL THREE rungs of
the ANN memory ladder (SCALE.md "ANN memory at 10^9-10^12"): float16
(2x) and int8 scalar quantization (4x) via ``sq_*``/``build_sq_index``/
``query_sq_index``, and product quantization (16x) via the ``pq_*``
family below.

Until r5 these were documented swap points; they are now real kernels:

* ``pq_train_codebooks`` — per-IVF-partition codebooks (m subspaces x
  ncodes centroids each), trained DISTRIBUTEDLY with one
  ``groupBy(centroid_id).applyInPandas`` pass. Training is a pure
  function of each partition's data (deterministic hash-ordered sample,
  rows sorted before any float fold), so codebooks are bit-identical
  under any physical layout — the r4 packing lesson applied from the
  start.
* ``pq_encode`` — one Arrow projection mapping each vector to m uint8
  codes packed as an m-byte ``binary`` column (16x smaller than the raw
  64 x float32 at the reference shape). No shuffle: rows already carry
  ``centroid_id`` from IVF assignment.
* ``build_pq_index`` / ``query_pq_index`` — the build-once/query-many
  lifecycle. A query is one plan over ONLY the probed partitions
  (partition pruning): one scan reads (vec_id, centroid_id, codes, raw)
  and only centroid_id and codes cross into Python, where an ADC lookup
  table scores them (m adds per row instead of a d-mul dot); the top
  ``over_retrieve * k`` rows per task and then overall are re-ranked
  exactly on the raw column in the JVM, so recall@k returns to the
  exact-probe level. The raw column is read with the codes, but never
  serialized to Python and never shuffled beyond the per-task top-n.

Public provenance: product quantization with asymmetric distance
computation follows Jegou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) — the IVFADC layout (coarse
quantizer + per-cell PQ codes + over-retrieve/re-rank) is the standard
FAISS-style design; scalar int8 quantization with symmetric per-dim
scales is the common ANN-serving variant of the same idea.

Cosine-ADC convention: vectors are unit-normalized BEFORE encoding, so
``dot(q_unit, reconstruction(x)) ~= cosine(q, x)`` and the lookup table
is just per-subspace dot products against the query. Zero vectors encode
as themselves (all-zero subvectors pick code 0 deterministically).

Scale notes (the 100 TB story): codebooks are tiny by construction
(k_ivf x m x ncodes x (d/m) floats — ~0.5 MB at k=8, m=16, ncodes=256,
d=64) and ship in UDF closures like the IVF centroid matrix; training
reads a bounded per-partition sample; encoding and scoring are
single-pass Arrow projections; the query path collects only the probed
cells' side-table rows and the k result rows (same bound class as every
top-k in this repo). Reference provenance: the reference engine
has no ANN surface — this extends the curation family the brief asks
for; the persisted-index lifecycle mirrors build_ivf_index
(operators/similarity.py), whose layout the reference's persisted-output
re-analysis seeded (SeqScanAsJson.java:66-77).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from schema_inference_spark.operators.similarity import (
    _build_index,
    _cosine_fold,
    _persist_side,
    _probe,
    _query_index,
    _query_norm,
    _read_side,
    _stack_rows,
    centroids_schema,
)
from schema_inference_spark.sources.tables import local_frame

CODEBOOK_SCHEMA = (
    "centroid_id int, subspace int, code int, codeword array<float>"
)
SCALES_SCHEMA = "centroid_id int, dim int, scale double"


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
    """IVF-PQ build: train coarse centroids (kmeans_train), assign, train
    per-partition codebooks, encode, and persist three tables —
    vectors/ (vec_id, raw vector, m-byte codes; partitioned by
    centroid_id: the codes are the bulk-scan lane, the raw column the
    re-rank lane in the SAME files so column pruning splits them),
    centroids/, codebooks/."""

    def encode(assigned: DataFrame) -> DataFrame:
        cb_df = pq_train_codebooks(
            assigned, m=m, ncodes=ncodes, train_sample=train_sample,
            max_iter=pq_max_iter, id_col=id_col, vec_col=vec_col,
        )
        codebooks = _codebooks_to_dict(_persist_side(cb_df, path, "codebooks", CODEBOOK_SCHEMA))
        encoded = pq_encode(assigned, codebooks, vec_col=vec_col)
        return encoded.select(id_col, vec_col, "centroid_id", "codes")

    return _build_index(df, path, k, max_iter, id_col, vec_col, encode)


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
    """Query-many serving path: answer a BATCH of queries in one plan —
    per-query ``query_pq_index`` calls serialize on driver scheduling
    (four jobs per query: the centroids/ and codebooks/ collects, the
    vectors/ schema read and the query plan), which the PQ scaling bench
    showed dominates small probes. Shape: one scan filtered to the union
    of all probed partitions, fanned out per probing query by a
    broadcast join against the tiny (qid, centroid_id) probe map,
    ADC-scored with per-(qid, cid) lookup tables, candidate-cut and
    re-ranked with two windows partitioned by qid; the re-rank is the
    single query's ``_cosine_fold``, with each query's vector and norm
    joined in from a broadcast (qid, _q, _qn) frame. Returns (qid,
    vec_id, cosine_sim) — per qid, EXACTLY the rows
    ``query_pq_index(query_vecs[qid], ...)`` returns (same kernels, same
    tie rules; asserted bit-for-bit in tests).

    Scale shape: the scan is still partition-pruned to the union of
    probes; the broadcast side is n_queries x n_probe rows. Only the
    re-rank window is bounded (over_retrieve*k rows per query): the
    candidate-cut window shuffles EVERY fanned row — each qid's reducer
    receives all rows of its probed partitions, raw vector column
    included — so its shuffle grows with n_queries x n_probe x cell size.
    One scan is still amortized across the whole batch.
    """
    from pyspark.sql import Window

    if not query_vecs:
        return local_frame(spark, [], f"qid int, {id_col} bigint, cosine_sim double")

    cents = _read_side(spark, path, "centroids", centroids_schema())
    probe_pairs = [
        (qid, cid)
        for qid, qv in enumerate(query_vecs)
        for cid in _probe(cents, qv, n_probe)
    ]
    probe_ids_all = sorted({cid for _, cid in probe_pairs})
    codebooks = _codebooks_to_dict(
        _read_side(spark, path, "codebooks", CODEBOOK_SCHEMA, "centroid_id", probe_ids_all)
    )
    # one int key per (qid, cid) pair, so the batch ADC groups like the
    # single-query one
    stride = 1 + max(probe_ids_all, default=0)
    q_units = [_unit(qv) for qv in query_vecs]
    luts = {
        qid * stride + cid: _lut(q_units[qid], codebooks[cid])
        for qid, cid in probe_pairs
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
    vectors = spark.read.parquet(f"{path}/vectors").where(
        F.col("centroid_id").isin(probe_ids_all)
    )
    fanned = vectors.join(probe_df, "centroid_id")
    scored = fanned.withColumn(
        "adc_score", _adc(F.col("qid"), F.col("centroid_id"), F.col("codes"))
    )
    cand_w = Window.partitionBy("qid").orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    cands = (
        scored.withColumn("rn", F.row_number().over(cand_w))
        .where(F.col("rn") <= over_retrieve * k)
        .drop("rn")
    )
    exact = cands.join(q_df, "qid").withColumn(
        "cosine_sim", F.round(_cosine_fold(F.col(vec_col), F.col("_q"), F.col("_qn")), 6)
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


def build_sq_index(
    df: DataFrame,
    path: str,
    dtype: str = "float16",
    k: int = 8,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Scalar-quantized IVF index: same three-table layout as the PQ index
    (vectors/ partitioned by centroid_id carrying raw + codes, centroids/,
    and for int8 a scales/ table)."""

    def encode(assigned: DataFrame) -> DataFrame:
        scales = None
        if dtype == "int8":
            scales = _scales_to_dict(
                _persist_side(sq_train_scales(assigned, vec_col), path, "scales", SCALES_SCHEMA)
            )
        encoded = sq_encode(assigned, dtype=dtype, scales=scales, vec_col=vec_col, out_col="codes")
        return encoded.select(id_col, vec_col, "centroid_id", "codes")

    return _build_index(df, path, k, max_iter, id_col, vec_col, encode)


def query_sq_index(
    spark,
    path: str,
    query_vec: list[float],
    dtype: str = "float16",
    k: int = 10,
    n_probe: int = 2,
    over_retrieve: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized probe: prune to n_probe partitions, score the
    dequantized codes column, over-retrieve, exact re-rank on raw — the
    same two-lane shape as query_pq_index with a cheaper bulk lane."""
    probe_ids = _probe(_read_side(spark, path, "centroids", centroids_schema()), query_vec, n_probe)
    scales = None
    if dtype == "int8":
        scales = _scales_to_dict(
            _read_side(spark, path, "scales", SCALES_SCHEMA, "centroid_id", probe_ids)
        )
    return _query_index(
        spark, path, query_vec, k, probe_ids, id_col, vec_col,
        bulk=lambda codes: sq_cosine_scores(codes, query_vec, dtype, scales, "_score"),
        over_retrieve=over_retrieve,
    )


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
    """IVF-PQ probe: (1) pick n_probe centroids driver-side; (2) scan ONLY
    those partitions and ADC-score their codes (only centroid_id and codes
    go to Python); (3) keep the top over_retrieve*k rows, a per-task top-n
    before a single-partition shuffle; (4) exact re-rank those rows on
    the raw column, natively in the same plan. Steps 2-4 are one Spark
    job. Ties in the candidate cut break by vec_id so the candidate SET
    is deterministic."""
    probe_ids = _probe(_read_side(spark, path, "centroids", centroids_schema()), query_vec, n_probe)
    codebooks = _codebooks_to_dict(
        _read_side(spark, path, "codebooks", CODEBOOK_SCHEMA, "centroid_id", probe_ids)
    )
    q_unit = _unit(query_vec)
    luts = {cid: _lut(q_unit, cb) for cid, cb in codebooks.items()}
    return _query_index(
        spark, path, query_vec, k, probe_ids, id_col, vec_col,
        bulk=lambda codes: adc_scores(codes, luts, "_score"),
        over_retrieve=over_retrieve,
    )
