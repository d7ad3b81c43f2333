"""The persisted IVF index through its one entry point, build_index /
query_index, under every codec x {flat, two-level}: how a query picks its
cells (one probe rule: (−cos, id), a zero norm scores 0), that a full
probe is exact, how the encoders fail on a cell they cannot encode, the
manifest as the build's commit marker, what one query costs in Spark
jobs and plan shape, and when an open index (open_index) is reused.

The probe tests write their indexes by hand, so each controls exactly what
the centroids/ table holds and in which row order it is stored; the
exactness, schema, job and plan tests query the indexes build_index
writes over the embeddings table.
"""

from __future__ import annotations

import json
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from schema_inference_spark.operators import pq
from schema_inference_spark.operators.pq import (
    CODEBOOK_SCHEMA,
    CODECS,
    FINE_SCHEMA,
    MANIFEST,
    SCALES_SCHEMA,
    _codebooks_to_dict,
    build_index,
    open_index,
    pq_encode,
    pq_train_codebooks,
    query_index,
    query_pq_index,
    query_pq_index_batch,
    sq_encode,
)
from schema_inference_spark.operators.similarity import (
    CENTROIDS_SCHEMA,
    _cosine_fold,
    _query_norm,
    cosine_to_query_udf,
    cosine_topk,
    cosine_topk_ivf,
)
from schema_inference_spark.sources.iceberg import write_table
from schema_inference_spark.sources.tables import load_table

CELLS = {
    0: [(0, [1.0, 0.2, 0.0, 0.1]), (1, [0.9, 0.0, 0.3, 0.0]), (2, [1.0, 0.5, 0.5, 0.0])],
    1: [(10, [0.0, 1.0, 0.1, 0.0]), (11, [0.1, 0.9, 0.0, 0.2]), (12, [0.3, 1.0, 0.0, 0.0])],
    2: [(20, [0.0, 0.1, 1.0, 0.0]), (21, [0.2, 0.0, 0.9, 0.1])],
}


def _vectors(spark):
    rows = [(i, v, cid) for cid, vs in CELLS.items() for i, v in vs]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, centroid_id int")


def _write_index(spark, path, centroids, codec="raw"):
    """A flat index written by hand: vectors/ partitioned by centroid_id
    (with a ``codes`` column for the sq/pq codecs), centroids/ as ONE file
    holding ``centroids`` in the given row order, and the manifest."""
    vectors = _vectors(spark)
    if codec == "float16":
        vectors = sq_encode(vectors, "float16", out_col="codes")
    elif codec == "pq":
        cb_df = pq_train_codebooks(vectors, m=2, ncodes=2, train_sample=10, max_iter=2)
        write_table(cb_df, f"{path}/codebooks", mode="overwrite")
        vectors = pq_encode(vectors, _codebooks_to_dict(cb_df.collect()))
    write_table(vectors, f"{path}/vectors", mode="overwrite", partition_by=("centroid_id",))
    _write_centroids(spark, path, centroids)
    manifest = {
        "codec": codec, "two_level": False, "id_col": "vec_id", "vec_col": "embedding",
        "vectors": spark.read.parquet(f"{path}/vectors").schema.toDDL(),
    }
    with open(f"{path}/{MANIFEST}", "w", encoding="utf-8") as f:
        json.dump(manifest, f)


def _write_centroids(spark, path, centroids):
    spark.createDataFrame(centroids, CENTROIDS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")


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
    assert _ids(query_index(spark, path, q, k=10, n_probe=1)) == {20, 21}
    assert _ids(query_index(spark, path, q, k=10, n_probe=2)) == {10, 11, 12, 20, 21}
    # orthogonal to every centroid: all score 0 and the lowest id wins
    assert _ids(query_index(spark, path, [0.0, 0.0, 0.0, 1.0], k=10, n_probe=1)) == {0, 1, 2}

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
    _write_index(spark, path, [(1, c), (0, c)], codec=layout)
    q = [0.2, 1.0, 0.1, 0.0]  # nearer to cell 1's vectors than to cell 0's
    assert _ids(query_index(spark, path, q, k=10, n_probe=1)) == {0, 1, 2}


def test_negative_probe_count_raises(spark, tmp_path, built):
    """A negative probe count is an error, not a slice that quietly probes
    every cell but the farthest: n_probe and, on a two-level index,
    n_probe_coarse, in the persisted and in the in-memory probe."""
    path = str(tmp_path / "idx")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])]
    _write_index(spark, path, cents)
    q = [1.0, 0.1, 0.0, 0.0]
    with pytest.raises(ValueError, match="probe count"):
        query_index(spark, path, q, k=10, n_probe=-1)
    with pytest.raises(ValueError, match="probe count"):
        cosine_topk_ivf(_vectors(spark).drop("centroid_id"), q, cents, n_probe=-1)
    with pytest.raises(ValueError, match="probe count"):
        query_index(spark, built[("raw", True)], [1.0] * 64, k=10, n_probe_coarse=-1)


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


# --- indexes written by build_index: every codec x {flat, two-level} over
# the embeddings table

LAYOUTS = [(codec, two_level) for codec in CODECS for two_level in (False, True)]
LAYOUT_IDS = [f"{codec}-{'two_level' if two else 'flat'}" for codec, two in LAYOUTS]
CODE_BYTES = {"float16": lambda d: 2 * d, "int8": lambda d: d, "pq": lambda d: 16}
# candidates per result row a full probe needs to be exact: the lossier the
# bulk lane, the more
OVER_RETRIEVE = {"raw": 1, "float16": 4, "int8": 4, "pq": 8}


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def built(spark, emb, tmp_path_factory):
    """{(codec, two_level): path}. Flat indexes have 8 cells; two-level
    ones 4 coarse x 4 fine."""
    root = tmp_path_factory.mktemp("built")
    paths = {}
    for codec, two_level in LAYOUTS:
        paths[codec, two_level] = path = str(root / f"{codec}-{int(two_level)}")
        build_index(
            emb, path, codec, k_fine=4 if two_level else None, k=4 if two_level else 8,
            max_iter=3, fine_max_iter=4, m=16, ncodes=16, pq_max_iter=6, train_sample=500,
        )
    return paths


def _query_vec(emb, vec_id):
    return [float(x) for x in emb.where(F.col("vec_id") == vec_id).collect()[0]["embedding"]]


@pytest.mark.parametrize("layout", LAYOUTS, ids=LAYOUT_IDS)
def test_full_probe_equals_brute(spark, emb, built, layout):
    """Probing every cell reproduces the brute-force top-10 exactly, ids
    and cosines: the index only partitions, the lossy bulk lane only
    over-retrieves, and the re-rank is the exact fold. Codes are m bytes
    (pq), d bytes (int8) or 2d bytes (float16)."""
    codec, _ = layout
    for vec_id in (5, 7):
        q = _query_vec(emb, vec_id)
        got = query_index(
            spark, built[layout], q, k=10, n_probe=16, over_retrieve=OVER_RETRIEVE[codec],
            n_probe_coarse=4,
        )
        brute = cosine_topk(emb, q, k=10)
        assert [tuple(r) for r in got.collect()] == [tuple(r) for r in brute.collect()], vec_id
    if codec != "raw":
        rows = spark.read.parquet(f"{built[layout]}/vectors").select("codes", "embedding").collect()
        assert rows and all(
            len(r["codes"]) == CODE_BYTES[codec](len(r["embedding"])) for r in rows
        )


def _side_tables(codec, two_level):
    tables = {"centroids": CENTROIDS_SCHEMA}
    if two_level:
        tables["fine_centroids"] = FINE_SCHEMA
    if codec == "int8":
        tables["scales"] = SCALES_SCHEMA
    if codec == "pq":
        tables["codebooks"] = CODEBOOK_SCHEMA
    return tables


@pytest.mark.parametrize("layout", LAYOUTS, ids=LAYOUT_IDS)
def test_declared_side_schemas_match_files(spark, built, layout):
    """Queries read the side tables with their declared DDL, and vectors/
    with the manifest's, instead of inferring them. A declared column the
    files lack would come back as nulls with no error, so every table
    must read identically both ways."""
    path = built[layout]
    with open(f"{path}/{MANIFEST}", encoding="utf-8") as f:
        manifest = json.load(f)
    assert manifest["codec"] == layout[0] and manifest["two_level"] == layout[1]
    tables = {**_side_tables(*layout), "vectors": manifest["vectors"]}
    for table, ddl in tables.items():
        declared = spark.read.schema(ddl).parquet(f"{path}/{table}")
        inferred = spark.read.parquet(f"{path}/{table}")
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


@pytest.mark.parametrize("layout", LAYOUTS, ids=LAYOUT_IDS)
def test_index_query_jobs_and_plan(spark, built, layout):
    """A cold open — the first query on a path — is one collect per side
    table it reads — centroids/, then fine_centroids/ when two-level,
    then scales/ (int8) or codebooks/ (pq), every probed cell at once —
    plus one plan; vectors/ is read by the manifest's DDL, so no
    schema-inference job (pq and int8: 3 jobs). A warm query, whose cells
    an earlier query loaded, is the plan alone: 1 job, same rows. That
    plan scans vectors/ once, pruned on every cell key, and has one
    Python stage (the bulk lane, or raw's cosine)."""
    codec, two_level = layout
    q = [float(x) for x in np.linspace(-1.0, 1.0, 64)]

    def make_df():
        return query_index(spark, built[layout], q, k=2, n_probe=3, n_probe_coarse=2)

    pq._open.clear()  # no handle yet: the next query opens the index
    _, cold, jobs = _collect_counting_jobs(spark, make_df)
    assert len(cold) == 2
    assert jobs == 2 + two_level + (codec in ("int8", "pq"))
    df, rows, jobs = _collect_counting_jobs(spark, make_df)
    assert rows == cold and jobs == 1
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("FileScan") == 1 and f"{built[layout]}/vectors" in plan, plan
    pruned = plan.split("PartitionFilters")[1][:300]
    assert "centroid_id" in pruned and ("fine_id" in pruned) == two_level, plan


@pytest.mark.parametrize("layout", LAYOUTS, ids=LAYOUT_IDS)
def test_index_query_with_no_probe_is_empty(spark, built, layout):
    """n_probe=0 probes no cell: the empty (vec_id, cosine_sim) result."""
    q = [float(x) for x in np.linspace(-1.0, 1.0, 64)]
    got = query_index(spark, built[layout], q, k=5, n_probe=0)
    assert got.columns == ["vec_id", "cosine_sim"]
    assert got.collect() == []


def test_pq_batch_needs_a_flat_pq_index(spark, built):
    """The batch path serves one layout, flat pq; the manifest of any
    other is refused before a job starts."""
    for layout in [("pq", True), ("int8", False)]:
        with pytest.raises(ValueError, match="not a flat pq index"):
            query_pq_index_batch(spark, built[layout], [[1.0] * 64])


def test_manifest_is_the_commit_marker(spark, tmp_path):
    """build_index deletes the old manifest before it writes anything and
    writes the new one last. A rebuild that fails inside training (m does
    not divide the dim) leaves no index a query would answer from: the
    query raises, naming the path, instead of reading the old manifest
    over whatever vectors/ now holds. A path never built raises the same
    way; an unknown codec is refused before the old index is touched."""
    df = _vectors(spark).drop("centroid_id")
    path = str(tmp_path / "idx")
    q = [0.2, 1.0, 0.1, 0.0]
    with pytest.raises(ValueError, match=f"no index at {path}"):
        query_index(spark, path, q)
    build_index(df, path, "pq", k=3, max_iter=2, m=2, ncodes=2, pq_max_iter=2)
    assert len(query_index(spark, path, q, k=2).collect()) == 2
    with pytest.raises(ValueError, match="codec"):
        build_index(df, path, "int4", k=3, max_iter=2)
    assert len(query_index(spark, path, q, k=2).collect()) == 2
    with pytest.raises(Exception, match="not divisible by m=3"):
        build_index(df, path, "pq", k=3, max_iter=2, m=3, ncodes=2, pq_max_iter=2)
    with pytest.raises(ValueError, match=f"no index at {path}"):
        query_index(spark, path, q)


def test_rebuild_opens_a_fresh_handle(spark, emb, tmp_path):
    """An open index is reused only while the manifest, build id
    included, is the one it opened: after a rebuild with other k and m
    at the same path, a query answers from the new build, as a fresh
    session does. A rebuild that fails leaves no index to answer from,
    however recently the old one was open."""
    path = str(tmp_path / "idx")
    q = _query_vec(emb, 5)
    build_index(emb, path, "pq", k=4, max_iter=2, m=16, ncodes=8, pq_max_iter=2)
    before = query_index(spark, path, q, k=5, n_probe=1).collect()
    old = open_index(spark, path)
    assert open_index(spark, f"{path}/") is old and len(before) == 5
    build_index(emb, path, "pq", k=6, max_iter=2, m=8, ncodes=8, pq_max_iter=2)
    assert open_index(spark, path) is not old
    got = query_index(spark, path, q, k=5, n_probe=1).collect()
    assert got == query_index(spark.newSession(), path, q, k=5, n_probe=1).collect()
    with pytest.raises(Exception, match="not divisible by m=7"):
        build_index(emb, path, "pq", k=6, max_iter=2, m=7, ncodes=8, pq_max_iter=2)
    with pytest.raises(ValueError, match=f"no index at {path}"):
        query_index(spark, path, q)


def test_manifest_without_build_id_is_reread(spark, tmp_path):
    """A manifest without a build id (written before build ids, or by
    hand) opens a fresh handle on every call: each query collects
    centroids/ again and sees it rewritten in place."""
    path = str(tmp_path / "idx")
    e0, e1, e2 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]
    _write_index(spark, path, [(0, e0), (1, e1), (2, e2)])
    assert open_index(spark, path) is not open_index(spark, path)
    q = [1.0, 0.1, 0.0, 0.0]

    def make_df():
        return query_index(spark, path, q, k=10, n_probe=1)

    _, rows, jobs = _collect_counting_jobs(spark, make_df)
    assert {r["vec_id"] for r in rows} == {0, 1, 2} and jobs == 2
    _write_centroids(spark, path, [(0, e2), (1, e1), (2, e0)])
    _, rows, jobs = _collect_counting_jobs(spark, make_df)
    assert {r["vec_id"] for r in rows} == {20, 21} and jobs == 2


def _pq_query(spark, path, q):
    return query_pq_index(spark, path, q, k=10, n_probe=3).collect()


def test_side_cache_budget_evicts_cells(spark, emb, built, monkeypatch):
    """The per-cell side cache holds at most SIDE_CACHE_BYTES: with room
    for two pq cells, queries probing three cells each evict the least
    recently used, reload what they need, and answer exactly as with the
    default budget."""
    path = built["pq", False]
    queries = [_query_vec(emb, v) for v in (5, 7, 123, 5)]
    want = [_pq_query(spark, path, q) for q in queries]
    cell = open_index(spark, path).side("codebooks", [0])[0].nbytes
    monkeypatch.setattr(pq, "SIDE_CACHE_BYTES", 2 * cell)
    pq._open.clear()
    index = open_index(spark, path)
    for q, rows in zip(queries, want):
        assert _pq_query(spark, path, q) == rows
        assert len(index._cells) == 2 and index._cell_bytes == 2 * cell
    assert open_index(spark, path) is index


def _exchange_inputs(df, key: str) -> list[str]:
    """The input columns of each shuffle Exchange of ``df``'s executed
    plan that hash-partitions by ``key``."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return [
        sec.split("\n")[1]
        for sec in plan.split("\n\n")
        if sec.split("\n")[0].endswith(") Exchange") and f"hashpartitioning({key}#" in sec
    ]


def test_pq_batch_cut_shuffles_no_raw_column(spark, emb, built):
    """The batch path's candidate cut partitions by qid over (qid, id,
    score) only: no qid Exchange carries the raw embedding column, which
    meets just the cut candidates, and the batch still equals the single
    queries row for row."""
    path = built["pq", False]
    queries = [_query_vec(emb, v) for v in (0, 7, 123)]
    df = query_pq_index_batch(spark, path, queries, k=10, n_probe=2, over_retrieve=4)
    rows = df.collect()
    inputs = _exchange_inputs(df, "qid")
    assert inputs and not any("embedding" in i for i in inputs), inputs
    for qid, q in enumerate(queries):
        single = query_pq_index(spark, path, q, k=10, n_probe=2, over_retrieve=4).collect()
        assert [(r["vec_id"], r["cosine_sim"]) for r in rows if r["qid"] == qid] == [
            tuple(r) for r in single
        ]


def test_side_cache_stays_consistent_under_threads(monkeypatch):
    """Queries on several driver threads share one open index: with more
    threads than cores, a short switch interval and a budget of a few
    cells, every side() call returns exactly the cells it asked for and
    the cache's byte count stays the sum of the cells it holds. The
    collect is replaced by rows built in memory, so no Spark job runs."""
    import sys
    import threading

    def fake_read_side(spark, path, table, schema, key, ids):
        return [
            {"centroid_id": cid, "subspace": j, "code": c, "codeword": [float(cid)] * 2}
            for cid in ids for j in range(2) for c in range(2)
        ]

    monkeypatch.setattr(pq, "_read_side", fake_read_side)
    monkeypatch.setattr(pq, "SIDE_CACHE_BYTES", 3 * 2 * 2 * 2 * 4)  # three cells
    index = pq.Index(None, "unused", {})
    errors = []

    def worker(seed):
        rng = np.random.default_rng(seed)
        try:
            for _ in range(300):
                cids = sorted({int(c) for c in rng.integers(0, 12, size=3)})
                got = index.side("codebooks", cids)
                assert sorted(got) == cids
                assert all((cb == float(cid)).all() for cid, cb in got.items())
        except Exception as err:  # noqa: BLE001 — reported by the main thread
            errors.append(err)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert index._cell_bytes == sum(pq._nbytes(v) for v in index._cells.values())
    assert index._cell_bytes <= pq.SIDE_CACHE_BYTES
