"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of (workload size, seed): the same seed
gives byte-identical input files. Inputs are written once per
(workload, size, seed) under the checkout's ``.perfbench/`` directory and
reused; generating them is never timed. Each generator also writes
``expected.json``, the oracle the benchmark checks every operation against.

Only numpy, pyarrow and the package's own image generator are used here, so
the orchestrator can build inputs without starting Spark. The one exception
is the validation snapshot profile (a Spark aggregate), which
``worker.py --prepare`` builds once per checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _code_version() -> str:
    """Hash of this file and the package's image generator: editing either
    invalidates every cached input."""
    h = hashlib.sha1()
    for path in (
        os.path.join(HERE, "inputs.py"),
        os.path.join(HERE, "spec.json"),
        os.path.join(ROOT, "schema_inference_spark", "datagen", "images.py"),
        os.path.join(ROOT, "schema_inference_spark", "datagen", "codec.py"),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _atomic_dir(final: str, build) -> str:
    """Run ``build(tmp_dir)`` and rename the result into place, so a killed
    run never leaves a half-written input behind."""
    if os.path.exists(os.path.join(final, "_done")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_done"), "w", encoding="utf-8") as f:
        f.write("ok\n")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True)


# ---------------------------------------------------------------- validate_images

IMAGE_COLUMNS = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "part")
IMAGE_TYPES = (pa.string(), pa.binary(), pa.int32(), pa.int32(), pa.string(),
               pa.string(), pa.int64(), pa.int32())


def _image_base(cache: str, n: int, scale: float, n_parts: int) -> str:
    """The package generator is unseeded: build its corpus once per size and
    keep it; seeds then vary the physical layout (see ``_images``)."""

    def build(d: str) -> None:
        from schema_inference_spark.datagen.images import generate_image_corpus

        corpus = generate_image_corpus(n, n_parts=n_parts, drift_scale=scale)
        corpus.images.to_pickle(os.path.join(d, "images.pkl"))
        corpus.captions.to_pickle(os.path.join(d, "captions.pkl"))
        _write_json(os.path.join(d, "expected.json"), corpus.expected)

    name = f"base-images-n{n}-x{scale}-p{n_parts}-{_code_version()}"
    return _atomic_dir(os.path.join(cache, name), build)


def _images(d: str, spec: dict, seed: int, base: str) -> None:
    """Seeded layout of the fixed corpus: row order, the partition each row
    belongs to, and hence the files, row groups and verdict grid all change
    with the seed. The violating ids do not: they are the generator's own
    oracle (``ImageCorpus.expected``)."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_parts = spec["parts"]
    images = pd.read_pickle(os.path.join(base, "images.pkl"))
    captions = pd.read_pickle(os.path.join(base, "captions.pkl"))
    images = images.iloc[rng.permutation(len(images))].reset_index(drop=True)
    images["part"] = rng.integers(0, n_parts, len(images)).astype("int32")
    part_of = dict(zip(images.image_id, images.part))
    captions = captions.iloc[rng.permutation(len(captions))].reset_index(drop=True)
    captions["part"] = [
        part_of.get(i, int(p)) for i, p in zip(captions.image_id, rng.integers(0, n_parts, len(captions)))
    ]
    os.makedirs(os.path.join(d, "images"))
    os.makedirs(os.path.join(d, "captions"))
    schema = pa.schema(list(zip(IMAGE_COLUMNS, IMAGE_TYPES)))
    for p in range(n_parts):
        sel = images[images.part == p]
        tbl = pa.Table.from_pandas(sel[list(IMAGE_COLUMNS)], schema=schema, preserve_index=False)
        pq.write_table(tbl, os.path.join(d, "images", f"part-{p:05d}.parquet"))
    cap_schema = pa.schema([("image_id", pa.string()), ("caption", pa.string()), ("part", pa.int32())])
    pq.write_table(
        pa.Table.from_pandas(captions.astype({"part": "int32"}), schema=cap_schema, preserve_index=False),
        os.path.join(d, "captions", "part-00000.parquet"),
    )
    shutil.copy(os.path.join(base, "expected.json"), os.path.join(d, "expected.json"))
    _write_json(os.path.join(d, "meta.json"), {"rows": int(len(images))})


def snapshot_dir(cache: str, spec: dict) -> str:
    """Clean (violation-free) corpus profile the drift check compares to."""
    return os.path.join(cache, f"snapshot-n{spec['snapshot_rows']}-x{spec['scale']}-{_code_version()}")


def build_snapshot(spark, cache: str, spec: dict) -> None:
    from schema_inference_spark.datagen.images import generate_image_corpus, images_spark_df
    from schema_inference_spark.operators.profile import profile_images

    def build(d: str) -> None:
        corpus = generate_image_corpus(
            spec["snapshot_rows"], n_parts=spec["parts"], with_violations=False,
            drift_scale=spec["scale"],
        )
        images, _ = images_spark_df(spark, corpus)
        profile_images(images).write.parquet(os.path.join(d, "profile"))

    _atomic_dir(snapshot_dir(cache, spec), build)


# ---------------------------------------------------------------- schema_infer_kv

FIELD_SEP, KV_SEP, PAIR_SEP = "\x01", "\x02", "\x03"
HOT_KEYS = ("host", "status", "ts_ms", "user")
_NAMES = ("alpha", "bravo", "carol", "delta", "echo", "foxtrot", "golf", "hotel")


def _tail_payload(shape: int, rng: np.random.Generator) -> list[tuple[str, str]]:
    """Key set and value types are fixed per shape; values vary per row.
    Every tail shape has its own ``attr_<shape>`` key, so no two planted
    shapes can collide, and two of three carry a nested-JSON value."""
    pairs = [
        ("ts_ms", str(int(rng.integers(10**12, 2 * 10**12)))),
        ("user", _NAMES[int(rng.integers(0, 8))]),
        (f"attr_{shape}", f"{rng.integers(0, 1000)}.{rng.integers(1, 100)}"),
    ]
    if shape % 3 == 0:
        nested = {"a": int(rng.integers(0, 99)), "b": [_NAMES[shape % 8], "x"],
                  "c": {"d": bool(shape % 2), "e": float(rng.integers(1, 9)) / 4}}
        pairs.append(("payload", json.dumps(nested, separators=(",", ":"))))
    elif shape % 3 == 1:
        pairs.append(("tags", json.dumps([int(x) for x in rng.integers(0, 50, 3)])))
    return pairs


def _kv(d: str, spec: dict, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n, n_shapes = spec["rows"], spec["tail_shapes"]
    n_hot = n // 3
    weights = 1.0 / np.arange(1, n_shapes + 1) ** spec["zipf_s"]
    tail_counts = rng.multinomial(n - n_hot, weights / weights.sum())
    labels = np.concatenate([np.full(n_hot, -1), np.repeat(np.arange(n_shapes), tail_counts)])
    labels = labels[rng.permutation(n)]
    rows = []
    for i, s in enumerate(labels):
        if s < 0:
            pairs = [("host", f"web{int(rng.integers(0, 64))}"), ("status", str(int(rng.integers(200, 599)))),
                     ("ts_ms", str(int(rng.integers(10**12, 2 * 10**12)))), ("user", _NAMES[i % 8])]
        else:
            pairs = _tail_payload(int(s), rng)
        fvalue = PAIR_SEP.join(f"{k}{KV_SEP}{v}" for k, v in pairs)
        rows.append(f"{1_700_000_000 + i}{FIELD_SEP}host{i % 97}{FIELD_SEP}{fvalue}")
    os.makedirs(os.path.join(d, "rows"))
    per = -(-n // spec["files"])
    for f in range(spec["files"]):
        chunk = rows[f * per:(f + 1) * per]
        pq.write_table(pa.table({"value": pa.array(chunk, pa.string())}),
                       os.path.join(d, "rows", f"part-{f:05d}.parquet"))
    counts = sorted([n_hot] + [int(c) for c in tail_counts if c > 0], reverse=True)
    _write_json(os.path.join(d, "expected.json"), {
        "shape_counts": counts, "hot_keys": list(HOT_KEYS), "hot_count": n_hot,
    })
    _write_json(os.path.join(d, "meta.json"), {"rows": n})


# ---------------------------------------------------------------- curate_dedup


def _word(seed: int, src: int, j: int) -> str:
    return hashlib.md5(f"{seed}-{src}-{j}".encode()).hexdigest()[:8]


def _docs(d: str, spec: dict, seed: int) -> None:
    """md5-word documents; every 100th doc repeats its predecessor except
    the first word — the planted near-duplicate pairs."""
    n, words = spec["rows"], spec["words"]
    texts = []
    planted = []
    for i in range(n):
        src = i - 1 if i % 100 == 99 else i
        texts.append(" ".join(_word(seed, i if j == 0 else src, j) for j in range(words)))
        if src != i:
            planted.append([src, i])
    order = np.random.default_rng(seed).permutation(n)
    os.makedirs(os.path.join(d, "docs"))
    per = -(-n // spec["files"])
    for f in range(spec["files"]):
        idx = order[f * per:(f + 1) * per]
        pq.write_table(pa.table({"doc_id": pa.array(idx.astype(np.int64)),
                                 "text": pa.array([texts[i] for i in idx], pa.string())}),
                       os.path.join(d, "docs", f"part-{f:05d}.parquet"))
    _write_json(os.path.join(d, "expected.json"), {"planted_pairs": planted})
    _write_json(os.path.join(d, "meta.json"), {"rows": n})


# ---------------------------------------------------------------- ann_pq


def unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm, in float64 (zero rows stay zero)."""
    m = np.asarray(m, dtype=np.float64)
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)


def exact_topk(vecs: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    """Exact cosine top-k ids (ties broken by id), float64."""
    sims = unit_rows(queries) @ unit_rows(vecs).T
    return [np.lexsort((np.arange(len(vecs)), -row))[:k].tolist() for row in sims]


def _vectors(d: str, spec: dict, seed: int) -> None:
    """Clustered 64-d vectors plus the query set. Points sit in small
    micro-clusters around a few macro centres, so a query's true
    neighbours share its IVF cell and stand out from the rest of the cell;
    queries are perturbed corpus points, with their exact top-k as the
    recall oracle."""
    rng = np.random.default_rng(seed)
    n, dim = spec["rows"], spec["dim"]
    macro = rng.normal(size=(spec["clusters"], dim))
    n_micro = n // spec["micro_size"]
    micro = macro[rng.integers(0, len(macro), n_micro)] + 0.5 * rng.normal(size=(n_micro, dim))
    vecs = (micro[rng.integers(0, n_micro, n)] + 0.05 * rng.normal(size=(n, dim))).astype(np.float32)
    picks = rng.choice(n, spec["queries"], replace=False)
    queries = (vecs[picks] + 0.01 * rng.normal(size=(len(picks), dim))).astype(np.float32)
    os.makedirs(os.path.join(d, "vectors"))
    per = -(-n // spec["files"])
    for f in range(spec["files"]):
        lo, hi = f * per, min(n, (f + 1) * per)
        offsets = np.arange(0, (hi - lo + 1) * dim, dim, dtype=np.int32)
        emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs[lo:hi].ravel()))
        pq.write_table(pa.table({"vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)), "embedding": emb}),
                       os.path.join(d, "vectors", f"part-{f:05d}.parquet"))
    _write_json(os.path.join(d, "expected.json"), {
        "queries": queries.astype(np.float64).tolist(),
        "exact_top": exact_topk(vecs, queries, spec["top_k"]),
    })
    _write_json(os.path.join(d, "meta.json"), {"rows": n})


GENERATORS = {
    "validate_images": _images,
    "schema_infer_kv": _kv,
    "curate_dedup": _docs,
    "ann_pq": _vectors,
}


def ensure_inputs(cache: str, workload: str, spec: dict, seed: int) -> str:
    """Directory holding the workload's inputs for ``seed``, generating them
    on first use."""
    key = hashlib.sha1(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:8]
    final = os.path.join(cache, f"{workload}-s{seed}-{key}-{_code_version()}")
    gen = GENERATORS[workload]
    if workload == "validate_images":
        base = _image_base(cache, spec["rows"], spec["scale"], spec["parts"])
        return _atomic_dir(final, lambda d: gen(d, spec, seed, base))
    return _atomic_dir(final, lambda d: gen(d, spec, seed))
