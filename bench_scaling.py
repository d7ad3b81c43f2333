#!/usr/bin/env python
"""N-vs-4N scaling evidence for the north rule, one harness for every axis.

The criterion is the IDENTICAL job at N and 4N cores on the same input:
efficiency = (throughput@4N / throughput@N) / 4 >= 0.8. Each width is a
separate local[] JVM on one machine; N=1 vs 4N=4 is the pair BASELINE.md's
core sweep picked (wider pairs hit the memory-bandwidth ceiling first).

Usage: python bench_scaling.py <axis> [n] [n_base] [rounds]

  image        the validation suite over n synthetic images
  submit       the same suite launched as spark-submit --py-files
               jobs/validate_job.py (timed by its record's validation steps)
  dedup        MinHash-LSH candidate pairs over n docs
  curation     jobs/curate_job.py end to end (dedup -> split -> packing)
  incremental  an n/2-doc new batch deduped against a persisted n-doc prior
  ann          IVF assignment (k=256) + a 4-query n_probe=2 top-k batch
  pq           IVF-PQ encode + a 4-query ADC / exact re-rank batch
  shape        jobs/schema_infer_job.py --format parquet-kv over n ^A/^B/^C
               rows (the distinct shapes' sha is the identity)

Throughput counts images, docs, new-batch docs, vectors or rows. The defaults are
each axis' documented run (BASELINE.md); the image corpus regime is
BENCH_DIMS_SCALE, default 8 here. Prints one JSON line.

The protocol, the same for every axis:
  * ``prepare(spark, n)`` builds the /tmp-cached inputs once, in one
    local[8] setup JVM, never timed (each width's JVM then finds them warm);
  * every JVM has BLAS pinned to one thread, so local[1] uses one core;
  * a width's JVM runs one warmup, then the best of 2 timed rounds, each
    starting with an empty CacheManager; its rounds must agree;
  * N and 4N rounds interleave (the host is shared, and one pair can land
    on opposite sides of a load swing); the best-of-rounds throughput per
    width gives the efficiency, and every round's own is reported too;
  * outputs that differ across widths stop the run: scaling that changes
    answers is not scaling.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import time
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bench import (
    assert_no_cached_plans, ensure_images_parquet, images_cache_path,
    run_validation_suite,
)
from jobs.curate_job import main as curate_job
from jobs.schema_infer_job import main as schema_infer_job
from schema_inference_spark.operators.dedup import (
    band_pairs, cross_batch_exact_dups, dedup_signatures, verify_pairs,
)
from schema_inference_spark.operators.pq import (
    _codebooks_to_dict, _lut, _unit, adc_scores, pq_encode, pq_train_codebooks,
)
from schema_inference_spark.operators.profile import profile_images
from schema_inference_spark.operators.similarity import (
    _probe, _query_index, cosine_topk, ivf_assignments,
)
from schema_inference_spark.session import get_spark, session_conf
from schema_inference_spark.sources.delimited import FIELD_SEP, KV_SEP, PAIR_SEP
from schema_inference_spark.sources.iceberg import write_table

REPO = os.path.dirname(os.path.abspath(__file__))
# honest core accounting: BLAS must not spawn its own thread pool, or
# local[1] silently uses >1 core (Spark's Python workers inherit this env)
PINNED = {v: "1" for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")}
CRITERION = "efficiency >= 0.8 between N and 4N parallelism"


class Axis(NamedTuple):
    prepare: Callable  # (spark, n): builds the /tmp caches, returns the inputs
    run_once: Callable | None  # (spark, n) -> outputs: the timed pipeline
    n: int  # default size
    rounds: int = 2
    rows: Callable = lambda n: n  # rows a run processes, for throughput
    launch: Callable | None = None  # (cpus, n) -> width record, replacing the child


# --- the protocol


def best_of(run: Callable, before_round: Callable, rounds: int = 2) -> tuple[float, object]:
    """One warmup call of ``run``, then the best wall time of ``rounds``
    timed calls, each after ``before_round``. Every call must return the
    warmup's outputs: a job that disagrees with itself in one JVM cannot
    be compared across two."""
    outputs, best = run(), float("inf")
    for _ in range(rounds):
        before_round()
        t0 = time.perf_counter()
        got = run()
        best = min(best, time.perf_counter() - t0)
        if got != outputs:
            raise SystemExit(f"outputs differ between rounds: {got} vs {outputs}")
    return best, outputs


def _efficiency(at_4n: dict, at_n: dict) -> float:
    return round(at_4n["rows_per_sec"] / at_n["rows_per_sec"] / 4.0, 3)


def interleave(run_at: Callable, n_base: int, rounds: int) -> dict:
    """Alternate ``run_at(n_base)`` and ``run_at(4 * n_base)`` for
    ``rounds`` rounds. Each returns a width record ``{cpus, sec,
    rows_per_sec, outputs}``; all outputs must be equal. The efficiency
    is taken between each width's best-throughput record."""
    per_round, best, outputs = [], {}, None
    for _ in range(rounds):
        pair = run_at(n_base), run_at(4 * n_base)
        for r in pair:
            outputs = r["outputs"] if outputs is None else outputs
            if r["outputs"] != outputs:
                raise SystemExit(f"outputs differ across widths: {r['outputs']} vs {outputs}")
            if r["rows_per_sec"] > best.get(r["cpus"], {"rows_per_sec": 0})["rows_per_sec"]:
                best[r["cpus"]] = {k: v for k, v in r.items() if k != "outputs"}
        per_round.append(_efficiency(pair[1], pair[0]))
    eff = _efficiency(best[4 * n_base], best[n_base])
    return {
        "local_n": best[n_base],
        "local_4n": best[4 * n_base],
        "scaling_efficiency": eff,
        "per_round_efficiency": per_round,
        "outputs": outputs,
        "outputs_identical": True,
        "criterion": CRITERION,
        "passed": eff >= 0.8,
    }


def child(name: str, cpus: int, n: int, timed: bool = True) -> None:
    """One JVM: ``prepare`` the axis' inputs, then (if ``timed``) print the
    width record of ``best_of`` its ``run_once``."""
    axis = AXES[name]
    spark = get_spark(app_name=f"{name}-scaling-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=16)
    axis.prepare(spark, n)
    if timed:
        sec, outputs = best_of(lambda: axis.run_once(spark, n),
                               lambda: assert_no_cached_plans(spark))
        print(json.dumps({"cpus": cpus, "sec": round(sec, 3),
                          "rows_per_sec": round(axis.rows(n) / sec, 1),
                          "outputs": outputs}))


def _run(cmd: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                          env={**os.environ, **PINNED})


def spawn(name: str, cpus: int, n: int, timed: bool = True) -> dict | None:
    out = _run([sys.executable, "-c",
                f"import bench_scaling as b; b.child({name!r}, {cpus}, {n}, {timed})"])
    if out.returncode:
        raise SystemExit(f"{name} at local[{cpus}] failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]) if timed else None


# --- shared inputs


def dedup_corpus_path(n: int) -> str:
    return f"/tmp/spark_graft_dedup_corpus_{n}"


@functools.cache
def dedup_corpus(spark, n: int) -> DataFrame:
    """The dedup and curation axes' deterministic corpus, cached in /tmp."""
    path = dedup_corpus_path(n)
    if not os.path.exists(f"{path}/_done"):
        # deterministic corpus: 30 md5-derived words per doc; every 100th doc is
        # a near-dup of its predecessor (one word changed)
        expr = ("concat_ws(' ', transform(sequence(0, 29), "
                "j -> substr(md5(concat(cast(CASE WHEN id % 100 = 99 AND j > 0 "
                "THEN id - 1 ELSE id END AS string), "
                "'-', cast(j AS string))), 1, 8))) AS text")
        docs = spark.range(n).selectExpr("id AS doc_id", expr)
        # 16 files so both parallelism levels get real input splits
        docs.repartition(16).write.mode("overwrite").parquet(path + "/docs")
        open(path + "/_done", "w").write("ok")
    return spark.read.parquet(path + "/docs")


def ensure_corpus(n: int, files: int = 16) -> None:
    """Deterministic 64-dim vectors from a numpy integer mix keyed only on
    (vec_id, dim) — identical content regardless of file layout — written
    driver-side with pyarrow (the in-Spark Arrow conversion of tens of
    millions of list rows was ~10x slower than this). 16 files so both
    parallelism levels get real input splits. Cached in /tmp, never
    measured."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if n % files != 0 or n < files:
        raise SystemExit(
            f"n_vectors must be a positive multiple of {files} (got {n}): "
            "the corpus is written as equal-size files and the report "
            "divides by the requested n"
        )
    root = f"/tmp/spark_graft_ann_corpus_v2_{n}"
    if os.path.exists(f"{root}/_done"):
        return
    os.makedirs(f"{root}/vecs", exist_ok=True)
    per = n // files
    j = np.arange(64, dtype=np.int64)
    for f in range(files):
        ids = np.arange(f * per, (f + 1) * per, dtype=np.int64)
        x = ids[:, None] * 64 + j[None, :]
        x = (x * 2654435761) & 0xFFFFFFFF
        x ^= x >> 16
        x = (x * 0x45D9F3B) & 0xFFFFFFFF
        x ^= x >> 16
        v = (((x % 1000) - 500) / 500.0).astype(np.float32)
        offsets = np.arange(0, (per + 1) * 64, 64, dtype=np.int32)
        arr = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel()))
        tbl = pa.table({"vec_id": pa.array(ids), "embedding": arr})
        pq.write_table(tbl, f"{root}/vecs/part-{f:05d}.parquet", row_group_size=per)
    open(f"{root}/_done", "w").write("ok")


def _vectors(spark, n: int, k: int) -> tuple[DataFrame, list]:
    """The ANN corpus and its first ``k`` vectors as (id, vector) centroid
    seeds, id-sorted: the same rows in every JVM."""
    ensure_corpus(n)
    vecs = spark.read.parquet(f"/tmp/spark_graft_ann_corpus_v2_{n}/vecs")
    seed_rows = vecs.where(F.col("vec_id") < k).collect()
    return vecs, [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
                  for r in sorted(seed_rows, key=lambda r: r["vec_id"])]


def _topk(probes: list[DataFrame]) -> list:
    """One job for the whole query batch (per-query jobs would serialize on
    driver scheduling cost): per qid, (id, cosine) by (-cosine, id)."""
    tops = [[] for _ in probes]
    for r in functools.reduce(DataFrame.unionByName, probes).collect():
        tops[r["qid"]].append((int(r["vec_id"]), round(float(r["cosine_sim"]), 6)))
    return [sorted(t, key=lambda x: (-x[1], x[0])) for t in tops]


# --- the axes


_images = functools.cache(ensure_images_parquet)


def image(spark, n: int) -> dict:
    return run_validation_suite(spark, *_images(spark, n))


def submit_prepare(spark, n: int) -> None:
    """The image corpus plus its snapshot profile, which the job reads."""
    ensure_images_parquet(spark, n)
    path = images_cache_path(n)
    if not os.path.exists(f"{path}/_profile_done"):
        snap = spark.read.parquet(f"{path}/snapshot_images")
        profile_images(snap).write.mode("overwrite").parquet(f"{path}/snapshot_profile")
        open(f"{path}/_profile_done", "w").write("ok")


def submit(cpus: int, n: int) -> dict:
    """The production job through the real cluster entry point: the engine
    ships as a --py-files zip, and the session comes from --master/--conf.
    The width's time is one cold run's validation steps, the summed step
    seconds of the job's metrics.json (JVM startup and the driver-side
    set-up are launch overhead a long-running job amortizes); its outputs
    are the record's verdict summary."""
    from jobs.package_pyfiles import build

    corpus = images_cache_path(n)
    conf = [a for k, v in session_conf(16).items() for a in ("--conf", f"{k}={v}")]
    with tempfile.TemporaryDirectory() as out_dir:
        out = _run([
            "spark-submit", "--master", f"local[{cpus}]", *conf, "--py-files", build(),
            os.path.join(REPO, "jobs", "validate_job.py"),
            "--images", f"{corpus}/images", "--captions", f"{corpus}/captions",
            "--snapshot", f"{corpus}/snapshot_profile", "--output", out_dir,
            "--run-id", f"submit-bench-{cpus}",
        ])
        # the corpus has planted violations, so the job's gate exits 1 by
        # design: its record is the measurement
        try:
            with open(os.path.join(out_dir, "metrics.json"), encoding="utf-8") as f:
                record = json.load(f)
        except FileNotFoundError:
            raise SystemExit(f"no metrics.json from spark-submit at local[{cpus}]:\n"
                             f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}") from None
    sec = sum(s["sec"] for s in record.pop("stages").values())
    record.pop("run_id")
    return {"cpus": cpus, "sec": round(sec, 3), "rows_per_sec": round(n / sec, 1),
            "outputs": record}


def dedup(spark, n: int) -> dict:
    sigs = dedup_signatures(dedup_corpus(spark, n), n_perm=4)
    return {"n_pairs": band_pairs(sigs, n_perm=4, band_size=2).count()}


def curation(spark, n: int) -> dict:
    """The shipped job, not a copy of its pipeline: curate_job.main into a
    per-round temp dir; its metrics.json minus the per-stage timings is the
    round's outputs."""
    dedup_corpus(spark, n)
    with tempfile.TemporaryDirectory() as out:
        rc = curate_job(["--input", f"{dedup_corpus_path(n)}/docs", "--output", out,
                         "--max-tokens", "512", "--pack-groups", "16"])
        if rc:
            raise SystemExit(f"curate_job exited {rc}")
        with open(f"{out}/metrics.json", encoding="utf-8") as f:
            metrics = json.load(f)
    metrics.pop("stages")
    return metrics


@functools.cache
def incremental_corpus(spark, n: int) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The prior corpus, its persisted signature table (what curate_job's
    signatures/ stage ships: the rolling crawl reads it, never recomputes
    it) and an n/2-doc new batch: ~0.5% exact copies of prior docs, ~1%
    near copies (last of 30 words changed), the rest fresh."""
    path = f"/tmp/spark_graft_incr_corpus_{n}"
    if not os.path.exists(f"{path}/_done"):
        # prior corpus: 30 md5-derived words per doc, ids 0..n-1
        prior_expr = ("concat_ws(' ', transform(sequence(0, 29), "
                      "j -> substr(md5(concat(cast(id AS string), "
                      "'-', cast(j AS string))), 1, 8))) AS text")
        prior = spark.range(n).selectExpr("id AS doc_id", prior_expr)
        prior.repartition(16).write.mode("overwrite").parquet(path + "/prior")
        dedup_signatures(spark.read.parquet(path + "/prior"), n_perm=4) \
            .repartition(16).write.mode("overwrite").parquet(path + "/prior_sigs")
        # new batch: ids offset by 10^7; word seed reuses the small id, so
        # id%200==0 -> exact copy of prior doc id, id%100==50 -> near copy
        # (word 29 salted differently), rest fresh (all words salted)
        new_expr = ("concat_ws(' ', transform(sequence(0, 29), "
                    "j -> substr(md5(concat(cast(CASE "
                    "WHEN id % 200 = 0 THEN id "
                    "WHEN id % 100 = 50 AND j < 29 THEN id "
                    "ELSE id + 50000000 END AS string), "
                    "'-', cast(j AS string))), 1, 8))) AS text")
        new = spark.range(n // 2).selectExpr("id + 10000000 AS doc_id", new_expr)
        new.repartition(16).write.mode("overwrite").parquet(path + "/new")
        open(f"{path}/_done", "w").write("ok")
    return tuple(spark.read.parquet(f"{path}/{t}") for t in ("prior", "prior_sigs", "new"))


def incremental(spark, n: int) -> dict:
    prior, prior_sigs, new = incremental_corpus(spark, n)
    exact = cross_batch_exact_dups(new, prior_sigs).persist()
    ex = exact.agg(
        F.count(F.lit(1)).alias("n"), F.sum("id_new").alias("chk")
    ).collect()[0]
    cands = band_pairs(dedup_signatures(new, n_perm=4), prior_sigs, n_perm=4, band_size=2)
    near = verify_pairs(cands, new, prior, threshold=0.6).join(
        exact.select(F.col("id_new").alias("id_a")), "id_a", "left_anti"
    )
    nr = near.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("chk"),
    ).collect()[0]
    exact.unpersist()
    return {"n_exact": ex["n"], "exact_chk": ex["chk"],
            "n_near": nr["n"], "near_chk": nr["chk"]}


@functools.cache
def ann_index(spark, n: int) -> tuple[DataFrame, list, DataFrame]:
    """The corpus, 256 centroid seeds (production-shaped k: at toy k=16 the
    job is dominated by the memory-bandwidth-bound array-column scan) and
    the persisted IVF index. The index is deterministic, so both widths
    share it; its parquet commit is driver-serial and would time the file
    system, while the timed run still does the full assignment pass."""
    vecs, centroids = _vectors(spark, n, 256)
    idx = f"/tmp/spark_graft_ann_idx_v2_{n}_k{len(centroids)}"
    if not os.path.exists(f"{idx}/_done"):
        write_table(ivf_assignments(vecs, centroids, exact_fold=False),
                    f"{idx}/vectors",
                    mode="overwrite", partition_by=("centroid_id",))
        open(f"{idx}/_done", "w").write("ok")
    return vecs, centroids, spark.read.parquet(f"{idx}/vectors")


def ann(spark, n: int) -> list:
    vecs, centroids, index_vecs = ann_index(spark, n)
    # BUILD side: the full-corpus assignment pass on the production BLAS
    # path, forced by the per-centroid histogram (index construction's compute)
    (ivf_assignments(vecs, centroids, exact_fold=False)
     .groupBy("centroid_id").agg(F.count(F.lit(1)).alias("cnt")).collect())
    # PROBE side: the query batch over the partition-pruned index
    return _topk([
        cosine_topk(index_vecs.where(F.col("centroid_id").isin(_probe(centroids, q, 2))),
                    q, k=10).withColumn("qid", F.lit(i))
        for i, (_, q) in enumerate(centroids[:4])
    ])


# ncodes=64 (6-bit codes in byte cells) keeps the deterministic encode
# kernel's local[1] leg ~1 min at 3.2M vectors (measured 55k rows/s/core;
# 256 codes runs the same plan 2.8x slower — the shape, not the size, is
# what the axis measures)
K_COARSE, M, NCODES = 64, 16, 64


@functools.cache
def pq_index(spark, n: int) -> tuple[DataFrame, list, dict, str]:
    """The ANN corpus, per-cell codebooks trained once on a deterministic
    1-in-20 sample (the production shape: kmeans bounded by train_sample)
    and the encoded index, persisted partitioned by centroid_id under the
    returned root."""
    vecs, centroids = _vectors(spark, n, K_COARSE)
    root = f"/tmp/spark_graft_pq_idx_v1_{n}_k{K_COARSE}_m{M}_c{NCODES}"
    built = os.path.exists(f"{root}/_done")
    if not built:
        sample = vecs.where(F.pmod(F.col("vec_id"), F.lit(20)) == 0)
        write_table(pq_train_codebooks(
            ivf_assignments(sample, centroids, exact_fold=False),
            m=M, ncodes=NCODES, train_sample=20000, max_iter=6,
        ), f"{root}/codebooks", mode="overwrite")
    codebooks = _codebooks_to_dict(spark.read.parquet(f"{root}/codebooks").collect())
    if not built:
        encoded = pq_encode(ivf_assignments(vecs, centroids, exact_fold=False), codebooks)
        write_table(encoded.select("vec_id", "embedding", "centroid_id", "codes"),
                    f"{root}/vectors", mode="overwrite", partition_by=("centroid_id",))
        open(f"{root}/_done", "w").write("ok")
    return vecs, centroids, codebooks, root


# what build_index's manifest would say of the vectors/ table pq_index writes
PQ_MANIFEST = {
    "two_level": False, "id_col": "vec_id", "vec_col": "embedding",
    "vectors": "vec_id bigint, embedding array<float>, codes binary, centroid_id int",
}


def pq(spark, n: int) -> dict:
    vecs, centroids, codebooks, root = pq_index(spark, n)
    # BUILD lane: assignment + PQ encode over the full corpus, forced by a
    # crc32-of-codes checksum: encode is a pure per-row function given the
    # shared codebooks, so the checksum must be bit-equal at every width
    enc = pq_encode(ivf_assignments(vecs, centroids, exact_fold=False), codebooks)
    chk = enc.agg(F.sum(F.crc32(F.col("codes"))).alias("s"),
                  F.count(F.lit(1)).alias("c")).collect()[0]
    if chk["c"] != n:
        raise SystemExit(f"pq encoded {chk['c']} of {n} vectors")
    # PROBE lane: per query, the one-plan query over the pruned index: ADC
    # cut of the top 80 by (score DESC, id), exact re-rank to the top 10
    probes = []
    for i, (_, q) in enumerate(centroids[:4]):
        pids = _probe(centroids, q, 2)
        luts = {cid: _lut(_unit(q), codebooks[cid]) for cid in pids}
        probes.append(_query_index(
            spark, root, PQ_MANIFEST, q, 10, pids,
            bulk=lambda c: adc_scores(c, luts, "_score"), over_retrieve=8,
        ).withColumn("qid", F.lit(i)))
    return {"checksum": int(chk["s"]), "rows": int(chk["c"]), "topk": _topk(probes)}


def kv_rows(spark, n: int) -> str:
    """The shape axis' deterministic ^A/^B/^C rows, cached in /tmp: one hot
    shape on a third of the rows, 3000 tail shapes (each with its own
    ``attr_<t>`` key), and a nested-JSON value on two of every three tail
    shapes. Returns the parquet path."""
    path = f"/tmp/spark_graft_kv_rows_{n}"
    if not os.path.exists(f"{path}/_done"):
        i, t = F.col("id"), (F.col("id") / 3).cast("long") % 3000

        def pair(key, value):
            return F.concat(key if isinstance(key, Column) else F.lit(key), F.lit(KV_SEP),
                            value.cast("string"))

        user = F.element_at(F.array(*[F.lit(f"user{j}") for j in range(8)]), (i % 8 + 1).cast("int"))
        hot = F.concat_ws(PAIR_SEP, pair("host", F.concat(F.lit("web"), (i % 64).cast("string"))),
                          pair("status", 200 + i % 400), pair("ts_ms", 10**12 + i), pair("user", user))
        nested = F.concat(F.lit('{"a":'), (i % 99).cast("string"), F.lit(',"b":["x","y"],"c":{"d":'),
                          F.when(t % 2 == 0, F.lit("true")).otherwise(F.lit("false")), F.lit("}}"))
        tags = F.concat(F.lit("["), (i % 50).cast("string"), F.lit(","), (i % 7).cast("string"), F.lit("]"))
        tail = F.concat_ws(
            PAIR_SEP, pair("ts_ms", 10**12 + i), pair("user", user),
            pair(F.concat(F.lit("attr_"), t.cast("string")),
                 F.concat((i % 1000).cast("string"), F.lit("."), (i % 97 + 1).cast("string"))),
            F.when(t % 3 == 0, pair("payload", nested)), F.when(t % 3 == 1, pair("tags", tags)),
        )
        value = F.concat_ws(FIELD_SEP, (1_700_000_000 + i).cast("string"),
                            F.concat(F.lit("host"), (i % 97).cast("string")),
                            F.when(i % 3 == 0, hot).otherwise(tail))
        spark.range(n).select(value.alias("value")).repartition(16).write.mode(
            "overwrite").parquet(f"{path}/rows")
        open(f"{path}/_done", "w").write("ok")
    return f"{path}/rows"


def shape(spark, n: int) -> dict:
    """The shipped job on the kv rows; the round's outputs are the count and
    the sha of its sorted distinct (schema, count, percent) rows."""
    rows = kv_rows(spark, n)
    with tempfile.TemporaryDirectory() as out:
        rc = schema_infer_job(["--input", rows, "--format", "parquet-kv", "--output", out])
        if rc:
            raise SystemExit(f"schema_infer_job exited {rc}")
        distinct = sorted(tuple(r) for r in spark.read.parquet(f"{out}/distinct").collect())
    return {"shapes": len(distinct),
            "sha": hashlib.sha1(json.dumps(distinct).encode()).hexdigest()}


AXES = {
    "image": Axis(_images, image, 400_000),
    "submit": Axis(submit_prepare, None, 400_000, launch=submit),
    "dedup": Axis(dedup_corpus, dedup, 300_000),
    "curation": Axis(dedup_corpus, curation, 4_800_000, rounds=1),
    "incremental": Axis(incremental_corpus, incremental, 2_400_000, rounds=1,
                        rows=lambda n: n // 2),
    "ann": Axis(ann_index, ann, 25_600_000),
    "pq": Axis(pq_index, pq, 3_200_000),
    "shape": Axis(kv_rows, shape, 400_000),
}


def main(argv: list[str]) -> None:
    if not argv or argv[0] not in AXES:
        raise SystemExit(f"usage: bench_scaling.py <{'|'.join(AXES)}> [n] [n_base] [rounds]")
    name, axis = argv[0], AXES[argv[0]]
    n, n_base, rounds = [int(a) for a in argv[1:4]] + [axis.n, 1, axis.rounds][len(argv) - 1:]
    os.environ.setdefault("BENCH_DIMS_SCALE", "8")
    spawn(name, 8, n, timed=False)
    run_at = functools.partial(axis.launch, n=n) if axis.launch else (
        lambda cpus: spawn(name, cpus, n))
    print(json.dumps({"axis": name, "n": n, **interleave(run_at, n_base, rounds)}))


if __name__ == "__main__":
    main(sys.argv[1:])
