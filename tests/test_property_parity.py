"""Property-based parity: random inputs through Spark exprs vs DuckDB SQL vs
an independent plain-Python reimplementation of the reference rules.

Strategy: hypothesis generates batches; each batch round-trips all three
implementations once (one Spark job per batch, not per example, to keep
runtime sane)."""

from __future__ import annotations

import json
import re

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from schema_inference_spark.functions.json_shape import flat_json_shape_expr, flat_json_shape_sql
from schema_inference_spark.functions.type_inference import infer_type_expr, infer_type_sql

# --- independent reimplementation of the reference rule chain -------------


def infer_type_py(v: str) -> str:
    """InferJsonDatatype.determineInferDatatype re-derived from SURVEY §1.2
    (independent of the Spark/SQL implementations under test)."""
    if v.lower() in ("true", "false"):
        return "boolean"
    if re.search(r"[a-zA-Z]", v):
        return "string"
    if v and re.fullmatch(r"[0-9]+", v):
        return "integer"
    dot = v.rfind(".")
    after = v[dot + 1 :] if dot >= 0 else v
    parseable = _parses_float(v)
    if len(after) > 3 and parseable:
        return "double"
    if parseable:
        return "float"
    return "null"


def _parses_float(v: str) -> bool:
    # try_cast-to-float semantics (no letters present at this point)
    try:
        float(v)
        return True
    except ValueError:
        return False


VALUE_ALPHABET = st.sampled_from(list("0123456789.-+eE aZ"))
values = st.lists(
    st.text(alphabet=VALUE_ALPHABET, min_size=0, max_size=12), min_size=1, max_size=30
)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(values)
def test_type_lattice_three_way(spark, duck, vals):
    # Engine float parsers legitimately disagree on malformed sign
    # placements (DuckDB accepts '+-0', Spark/Python reject) and on
    # digit-free spellings ('E5', '.', '+') — keep the fuzz on strings
    # whose signs appear only at position 0 or right after an exponent
    # marker, the reference-realistic shapes.
    def sane_signs(v: str) -> bool:
        for i, ch in enumerate(v):
            if ch in "+-" and i != 0 and (i == 0 or v[i - 1] not in "eE"):
                return False
        return True

    vals = [
        v
        for v in vals
        if (not re.fullmatch(r"[+\-.eE]*", v) or v == "") and sane_signs(v)
    ]
    if not vals:
        return
    sdf = spark.createDataFrame([(v,) for v in vals], "v string")
    spark_out = [
        r["t"] for r in sdf.select(infer_type_expr(F.col("v")).alias("t")).collect()
    ]
    duck.execute("CREATE OR REPLACE TABLE tt(v VARCHAR)")
    duck.executemany("INSERT INTO tt VALUES (?)", [(v,) for v in vals])
    duck_out = [r[0] for r in duck.execute(f"SELECT {infer_type_sql('v')} FROM tt").fetchall()]
    py_out = [infer_type_py(v) for v in vals]
    assert spark_out == duck_out == py_out, list(zip(vals, spark_out, duck_out, py_out))


keys = st.text(alphabet=st.sampled_from(list("abcxyz_")), min_size=1, max_size=6)
# floats constrained so json.dumps never uses scientific notation: engines
# re-serialize exponent forms differently ("1e-05" vs "0.00001"), which
# legitimately shifts the string-based lattice type — the reference's
# canonical input is raw KV strings (test_type_lattice_three_way), not
# engine-re-serialized JSON numbers.
scalars = st.one_of(
    st.integers(min_value=-10**6, max_value=10**6),
    st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False).map(
        lambda x: round(x, 4) + 0.0
    ).filter(lambda x: abs(x) >= 1e-3 or x == 0),
    st.booleans(),
    st.text(alphabet=st.sampled_from(list("abc 123")), max_size=8),
    st.none(),
)
flat_docs = st.dictionaries(keys, scalars, max_size=6)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(flat_docs, min_size=1, max_size=10))
def test_flat_shape_spark_duck_parity(spark, duck, docs):
    rows = [(json.dumps(d),) for d in docs]
    sdf = spark.createDataFrame(rows, "doc string")
    spark_out = sorted(
        r["s"] for r in sdf.select(flat_json_shape_expr(F.col("doc")).alias("s")).collect()
    )
    duck.execute("CREATE OR REPLACE TABLE dd(doc VARCHAR)")
    duck.executemany("INSERT INTO dd VALUES (?)", rows)
    duck_out = sorted(
        r[0] for r in duck.execute(f"SELECT {flat_json_shape_sql('doc')} FROM dd").fetchall()
    )
    assert spark_out == duck_out


# --- MinHash / SimHash three-way fuzz --------------------------------------
#
# Independent plain-Python reimplementation (md5 via hashlib, no Spark/DuckDB
# code shared) cross-checked against both engines on random word documents.

import hashlib

from schema_inference_spark.functions.hashing import (
    MINHASH_P,
    SIMHASH_BITS,
    minhash_perm_consts,
    minhash_sql,
    simhash_sql,
    md5_long_sql,
)


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _minhash_py(text: str, seed: int, k: int = 3) -> int | None:
    words = text.split(" ")
    if len(words) < k:
        return None
    a, b = minhash_perm_consts(seed)
    hs = [_md5_60(" ".join(words[i : i + k])) for i in range(len(words) - k + 1)]
    return min((a * (h % MINHASH_P) + b) % MINHASH_P for h in hs)


def _simhash_py(text: str, n_bits: int = SIMHASH_BITS) -> int | None:
    tokens = [t for t in text.lower().split() if t]
    if not tokens:
        return None
    counts = [0] * n_bits
    for t in tokens:
        h = _md5_60(t)
        for b in range(n_bits):
            counts[b] += (h >> b) & 1
    n = len(tokens)
    return sum(1 << b for b in range(n_bits) if 2 * counts[b] >= n)


WORD = st.text(alphabet=st.sampled_from(list("abcxyz019")), min_size=1, max_size=6)
doc_texts = st.lists(
    st.lists(WORD, min_size=1, max_size=12).map(" ".join), min_size=1, max_size=12
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(doc_texts)
def test_minhash_simhash_three_way(spark, duck, texts):
    from schema_inference_spark.operators.dedup import (
        dedup_signatures,
        simhash_fingerprints,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got_mh = {
        r["doc_id"]: r["mh0"]
        for r in dedup_signatures(df, "doc_id", "text", n_perm=1).collect()
    }
    got_sh = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(df, "doc_id", "text").collect()
    }
    duck.execute("CREATE OR REPLACE TABLE fuzz_docs(doc_id INT, text VARCHAR)")
    duck.executemany("INSERT INTO fuzz_docs VALUES (?, ?)", list(enumerate(texts)))
    duck_mh = dict(
        duck.execute(
            f"SELECT doc_id, {minhash_sql('text', 0)} FROM fuzz_docs"
        ).fetchall()
    )
    bal, fp = simhash_sql()
    duck_sh = dict(
        duck.execute(
            f"""WITH tokens AS (
                  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
                  FROM fuzz_docs),
                hashed AS (SELECT doc_id, {md5_long_sql('token')} AS token_hash
                           FROM tokens WHERE token != ''),
                balances AS (SELECT doc_id, {bal} FROM hashed GROUP BY doc_id)
                SELECT doc_id, {fp} FROM balances"""
        ).fetchall()
    )
    for i, t in enumerate(texts):
        py_mh, py_sh = _minhash_py(t, 0), _simhash_py(t)
        assert got_mh[i] == py_mh == duck_mh[i], ("minhash", i, t)
        if py_sh is None:
            assert i not in duck_sh and got_sh.get(i) is None
        else:
            assert got_sh[i] == py_sh == duck_sh[i], ("simhash", i, t)
