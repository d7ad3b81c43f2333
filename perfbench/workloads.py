"""The four workloads: how each opens its inputs, runs one operation through
the package's public entry points, and checks the operation's output
against the oracle its generator wrote (``expected.json``).

An operation is one call a user of the system would make: a whole
``validate_job`` / ``schema_infer_job`` / ``curate_job`` run, or one
``query_pq_index`` against the index ``build_pq_index`` made at set-up.
Each check returns a list of problems; an empty list means the output is
correct.
"""

from __future__ import annotations

import hashlib
import json
import os


def _load(inputs: str, name: str):
    with open(os.path.join(inputs, name), encoding="utf-8") as f:
        return json.load(f)


def dir_bytes(path: str) -> int:
    """Bytes of every data file under ``path`` (Spark's .crc side files and
    markers excluded)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def _unit_rows(path: str):
    """The corpus as unit-norm float64 rows indexed by vec_id."""
    import numpy as np
    import pyarrow.parquet as pq

    from perfbench.inputs import unit_rows

    tbl = pq.read_table(path)
    emb = tbl["embedding"].combine_chunks().flatten().to_numpy().reshape(tbl.num_rows, -1)
    return unit_rows(emb[np.argsort(tbl["vec_id"].to_numpy())])


class Workload:
    """Inputs and oracle shared by every workload. The job workloads add
    ``run(out, i)`` and ``check(result, out)``; ``AnnPq`` adds its build,
    query and batch operations."""

    name = ""

    def __init__(self, spark, inputs: str, spec: dict, cache: str):
        self.spark, self.inputs, self.spec, self.cache = spark, inputs, spec, cache
        self.rows = _load(inputs, "meta.json")["rows"]
        self.expected = _load(inputs, "expected.json")


class ValidateImages(Workload):
    name = "validate_images"

    def __init__(self, spark, inputs, spec, cache):
        super().__init__(spark, inputs, spec, cache)
        from perfbench.inputs import snapshot_dir

        self.snapshot = os.path.join(snapshot_dir(cache, spec), "profile")

    def run(self, out, i):
        from jobs.validate_job import main

        return main([
            "--images", os.path.join(self.inputs, "images"),
            "--captions", os.path.join(self.inputs, "captions"),
            "--output", out, "--snapshot", self.snapshot, "--run-id", f"op{i}",
        ])

    def check(self, result, out):
        # planted violations make the job's gate fail: exit code 1 is correct
        problems = [] if result == 1 else [f"exit code {result}, expected 1"]
        got: dict[str, set[str]] = {}
        for r in self.spark.read.parquet(os.path.join(out, "violations")).select(
            "check_name", "image_id"
        ).collect():
            got.setdefault(r["check_name"], set()).add(r["image_id"])
        for check, ids in self.expected.items():
            if got.get(check, set()) != set(ids):
                problems.append(f"{check}: {len(got.get(check, ()))} ids, expected {len(ids)}")
        problems += [f"unexpected check {c}" for c in set(got) - set(self.expected)]
        return problems


class SchemaInferKv(Workload):
    name = "schema_infer_kv"

    def run(self, out, i):
        from jobs.schema_infer_job import main

        return main([
            "--input", os.path.join(self.inputs, "rows"), "--format", "parquet-kv",
            "--output", out, "--top-k", str(self.spec["top_k"]),
        ])

    def check(self, result, out):
        problems = [] if result == 0 else [f"exit code {result}"]
        exp = self.expected["shape_counts"]
        counts = sorted(
            (r["count"] for r in self.spark.read.parquet(os.path.join(out, "distinct")).collect()),
            reverse=True,
        )
        if counts != exp:
            problems.append(f"distinct shapes: {len(counts)} (sum {sum(counts)}), "
                            f"expected {len(exp)} (sum {sum(exp)})")
        with open(os.path.join(out, "top_schemas.json"), encoding="utf-8") as f:
            top = [json.loads(line) for line in f]
        if [t["count"] for t in top] != exp[: self.spec["top_k"]]:
            problems.append("top-k counts differ from the planted frequencies")
        elif sorted(json.loads(top[0]["schema"])["properties"]) != self.expected["hot_keys"]:
            problems.append("top shape is not the planted hot shape")
        return problems


class CurateDedup(Workload):
    name = "curate_dedup"

    def __init__(self, spark, inputs, spec, cache):
        super().__init__(spark, inputs, spec, cache)
        self.planted = {tuple(p) for p in self.expected["planted_pairs"]}
        self.fingerprint = None
        self.recall = None

    def run(self, out, i):
        from jobs.curate_job import main

        return main([
            "--input", os.path.join(self.inputs, "docs"), "--output", out,
            "--max-tokens", str(self.spec["max_tokens"]),
        ])

    def check(self, result, out):
        problems = [] if result == 0 else [f"exit code {result}"]
        pairs = sorted(
            (r["id_a"], r["id_b"])
            for r in self.spark.read.parquet(os.path.join(out, "pairs")).select("id_a", "id_b").collect()
        )
        with open(os.path.join(out, "metrics.json"), encoding="utf-8") as f:
            summary = {k: v for k, v in json.load(f).items() if k != "stages"}
        self.recall = len(self.planted & set(pairs)) / len(self.planted)
        if self.recall < self.spec["min_planted_recall"]:
            problems.append(f"planted-pair recall {self.recall:.4f} < {self.spec['min_planted_recall']}")
        self.n_pairs = len(pairs)
        fp = hashlib.sha1(json.dumps([pairs, summary], sort_keys=True).encode()).hexdigest()
        if self.fingerprint is None:
            self.fingerprint = fp
        elif fp != self.fingerprint:
            problems.append("output differs from the run's first operation")
        return problems


    def verified_ratio(self) -> float:
        """Verified pairs per LSH candidate pair, at the job's default
        n_perm=4, band_size=2 (counted outside any timed operation)."""
        from schema_inference_spark.operators.dedup import lsh_candidate_pairs

        docs = self.spark.read.parquet(os.path.join(self.inputs, "docs"))
        cands = lsh_candidate_pairs(docs, "doc_id", "text", n_perm=4, band_size=2).count()
        return self.n_pairs / cands if cands else 0.0


class AnnPq(Workload):
    """Set-up builds the index; the timed operation is one single query,
    cycling through the query set; one batch of every query closes the run
    and must return, per query, exactly the single query's rows."""

    name = "ann_pq"

    def __init__(self, spark, inputs, spec, cache):
        super().__init__(spark, inputs, spec, cache)
        self.vecs = spark.read.parquet(os.path.join(inputs, "vectors"))
        self.queries = self.expected["queries"]
        self.unit = _unit_rows(os.path.join(inputs, "vectors"))
        self.index = None
        self.single: dict[int, list[tuple[int, float]]] = {}
        self.recalls: list[float] = []

    def build(self, out):
        from schema_inference_spark.operators.pq import build_pq_index

        s = self.spec
        build_pq_index(self.vecs, out, k=s["k"], m=s["m"], ncodes=s["ncodes"],
                       max_iter=s["max_iter"], pq_max_iter=s["pq_max_iter"])
        self.index = out
        return out

    def check_build(self, out):
        n = self.spark.read.parquet(os.path.join(out, "vectors")).count()
        k = self.spark.read.parquet(os.path.join(out, "centroids")).count()
        problems = [] if n == self.rows else [f"index holds {n} vectors, expected {self.rows}"]
        return problems + ([] if k == self.spec["k"] else [f"{k} centroids, expected {self.spec['k']}"])

    def query(self, qid: int):
        from schema_inference_spark.operators.pq import query_pq_index

        s = self.spec
        rows = query_pq_index(self.spark, self.index, self.queries[qid], k=s["top_k"],
                              n_probe=s["n_probe"]).collect()
        return [(int(r["vec_id"]), float(r["cosine_sim"])) for r in rows]

    def check_query(self, qid: int, got) -> list[str]:
        """Ten distinct ids, best first, each with its exact cosine. Recall
        against the exact top-10 is recorded; its floor is checked over the
        whole run (``check_batch``), since a query whose neighbours straddle
        an unprobed cell legitimately misses some."""
        import numpy as np

        ids = [i for i, _ in got]
        sims = np.array([s for _, s in got])
        truth = self.expected["exact_top"][qid]
        self.recalls.append(len(set(ids) & set(truth)) / len(truth))
        self.single[qid] = sorted(got)
        if len(ids) != len(truth) or len(set(ids)) != len(ids):
            return [f"query {qid}: {len(ids)} rows, expected {len(truth)} distinct ids"]
        q = np.asarray(self.queries[qid])
        exact = self.unit[ids] @ (q / np.linalg.norm(q))
        if np.abs(sims - exact).max() > 1e-6:  # the package rounds to 6 places
            return [f"query {qid}: cosine differs from the exact value"]
        if np.any(np.diff(sims) > 1e-12):
            return [f"query {qid}: rows are not in descending cosine order"]
        return []

    def batch(self):
        from schema_inference_spark.operators.pq import query_pq_index_batch

        s = self.spec
        rows = query_pq_index_batch(self.spark, self.index, self.queries, k=s["top_k"],
                                    n_probe=s["n_probe"]).collect()
        by_qid: dict[int, list[tuple[int, float]]] = {}
        for r in rows:
            by_qid.setdefault(int(r["qid"]), []).append((int(r["vec_id"]), float(r["cosine_sim"])))
        return by_qid

    def check_batch(self, by_qid) -> list[str]:
        problems = [f"batch qid {q}: rows differ from the single query"
                    for q, rows in self.single.items() if sorted(by_qid.get(q, [])) != rows]
        if len(by_qid) != len(self.queries):
            problems.append(f"batch answered {len(by_qid)} of {len(self.queries)} queries")
        floor = self.spec["min_mean_recall"]
        if self.recalls and sum(self.recalls) / len(self.recalls) < floor:
            problems.append(f"mean recall@10 over the run is below {floor}")
        return problems


WORKLOADS = {w.name: w for w in (ValidateImages, SchemaInferKv, CurateDedup, AnnPq)}
