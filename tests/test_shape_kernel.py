"""The Arrow shape kernels against a pure-Python oracle.

``kv_shape_udf`` (raw ^A/^B/^C row -> canonical recursive shape string) must
equal splitting the row in Python, then ``kv_schema_of`` -> ``_type_first``
-> ``json.dumps``; ``flat_shape_udf`` (map<string,string> -> flat shape string)
must equal a dict of the map typed by ``_infer_json_type_py``. Both are
checked on seeded adversarial rows, and each pitfall a vectorized port of
the Python lattice can fall into is pinned by name.
"""

from __future__ import annotations

import json
import random
import subprocess
import sys

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from schema_inference_spark.functions.json_shape import (
    _infer_json_type_py,
    _type_first,
    flat_shape_udf,
    kv_shape,
    kv_shape_udf,
    kv_value_schema,
)
from schema_inference_spark.operators.shapes import shape_counts

A, B, C = "\x01", "\x02", "\x03"
KEYS = ["a", "b", "ts", "user", 'q"k', "b\\s", "c\tl", "k\x7f", "ü", "", "Z", "a1"]
VALUES = [
    "1", "12", "007", "-3", "+4", "1.5", " 1.5", "1.5\t", "12\n", "1e5", "1_0",
    "NaN", "true", "FALSE", "null", "NULL", " null ", "", " ", "\t", "\x1c",
    "a\x00b", "x\ny", "\r7\r", "\x1f12\x1f", "{", "[1,", "[1] x", '{"a":1}',
    '[1,2.5,"x"]', '{"z":{"y":[true,null]}}', "[]", "{}", " [1] ", '\t{"k":[{}]}',
    '{"a":1,"a":"x"}', '{"a":"\\q"}', '[1e400,-0]', "café", "½", "١٢٣", "1.2.3",
    ".5", "5.", "-", "abc", "a b", '"s"',
]


def _row(rng: random.Random) -> str | None:
    if rng.random() < 0.02:
        return None
    pairs = []
    for _ in range(rng.randint(0, 6)):
        key = rng.choice(KEYS)
        if rng.random() < 0.1:
            pairs.append(key)  # a pair with no ^B
        else:
            pairs.append(f"{key}{B}{rng.choice(VALUES)}")
    payload = C.join(pairs) + (C if rng.random() < 0.05 else "")
    n_fields = rng.choices([2, 3, 4], [0.03, 0.94, 0.03])[0]
    return A.join(["17", "h", payload, "x"][:n_fields])


def adversarial_rows(seed: int, n: int = 4001) -> list[str | None]:
    rng = random.Random(seed)
    return [_row(rng) for _ in range(n)]


def kv_schema_of(kv: dict) -> dict:
    """Recursive JSON-Schema of a parsed ^C/^B KV payload: the analog of
    the reference's per-row ObjectNode (ProcessStringColumnAsObjectNode.java
    :24-41)."""
    return {"type": "object", "properties": {k: kv_value_schema(v) for k, v in kv.items()}}


def oracle_kv_shape(raw: str | None) -> str | None:
    """Split in Python with Spark's split semantics, apply the production
    value hygiene, then the recursive Python shape."""
    if raw is None:
        return None
    fields = raw.split(A)
    if len(fields) != 3 or fields[2] == "":
        return None
    kv: dict[str, str | None] = {}
    for pair in fields[2].split(C):
        key, sep, value = pair.partition(B)
        kv[key] = value if sep else None  # the last of a repeated key wins
    clean = {}
    for key, value in kv.items():
        if value is None:
            continue
        value = value.replace("\x00", "").replace("\n", "").replace("\r", "").strip(" ")
        if value and value.lower() != "null" and value.isascii():
            clean[key] = value
    return json.dumps(_type_first(kv_schema_of(clean)), separators=(",", ":"), ensure_ascii=True)


def oracle_flat_shape(pairs) -> str | None:
    if pairs is None:
        return None
    m = dict(pairs)
    props = ",".join(f'"{k}":{{"type":"{_infer_json_type_py(m[k])}"}}' for k in sorted(m))
    return '{"type":"object","properties":{' + props + "}}"


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_kv_kernel_matches_python_oracle(seed):
    rows = adversarial_rows(seed)
    expected = [oracle_kv_shape(r) for r in rows]
    values = pa.array(rows, pa.string())
    assert kv_shape_udf(values).to_pylist() == expected
    # a batch is any slice of the column
    assert kv_shape_udf(values.slice(7, 1000)).to_pylist() == expected[7:1007]
    assert len(set(expected)) > 1000


@pytest.mark.parametrize("seed", [0, 1])
def test_flat_kernel_matches_python_oracle(seed):
    rng = random.Random(seed)
    maps = [
        None if rng.random() < 0.05
        else [(rng.choice(KEYS), rng.choice(VALUES + [None])) for _ in range(rng.randint(0, 5))]
        for _ in range(3000)
    ]
    expected = [oracle_flat_shape(m) for m in maps]
    arr = pa.array(maps, pa.map_(pa.string(), pa.string()))
    assert flat_shape_udf(arr).to_pylist() == expected
    assert flat_shape_udf(arr.slice(5, 100)).to_pylist() == expected[5:105]


def test_batches_with_no_entries():
    assert kv_shape_udf(pa.array([None, "", f"1{A}h"], pa.string())).to_pylist() == [None] * 3
    assert kv_shape_udf(pa.array([f"1{A}h{A}k{B}"])).to_pylist() == ['{"type":"object","properties":{}}']
    maps = pa.array([None, []], pa.map_(pa.string(), pa.string()))
    assert flat_shape_udf(maps).to_pylist() == [None, '{"type":"object","properties":{}}']
    assert kv_shape_udf(pa.array([], pa.string())).to_pylist() == []


def _kv(payload: str) -> str:
    return kv_shape_udf(pa.array([f"1{A}h{A}{payload}"])).to_pylist()[0]


def _types(shape: str) -> dict:
    return {k: v["type"] for k, v in json.loads(shape)["properties"].items()}


def _flat(*pairs) -> dict:
    arr = pa.array([list(pairs)], pa.map_(pa.string(), pa.string()))
    return _types(flat_shape_udf(arr).to_pylist()[0])


def test_pitfall_re2_dollar_before_a_final_newline():
    """Python's and Java's ``$`` match before a final newline; RE2's does
    not. "12\\n" is an integer in Python and Catalyst, so in the kernel."""
    assert _infer_json_type_py("12\n") == "integer"
    assert _flat(("a", "12\n"), ("b", "12\n\n")) == {"a": "integer", "b": "number"}


def test_pitfall_float_whitespace_underscores_and_non_ascii_digits():
    """float() takes surrounding ASCII whitespace but not '_' or non-ASCII
    digits (which SQL casts also reject)."""
    got = _flat(("a", " 1.5"), ("b", "1.5\t"), ("c", "1_0"), ("d", "١٢٣"), ("e", "\x1c1.5"))
    assert got == {"a": "number", "b": "number", "c": "null", "d": "null", "e": "null"}
    assert [_infer_json_type_py(v) for v in (" 1.5", "1.5\t", "1_0", "١٢٣", "\x1c1.5")] == [
        "number", "number", "null", "null", "null",
    ]


def test_pitfall_str_strip_is_wider_than_spark_trim():
    """Spark's trim strips only spaces, so "\\t" and "\\x1c12\\x1c" pass the
    value filter; kv_value_schema's str.strip() then also strips
    \\t\\x0b\\x0c\\x1c-\\x1f: the first is a null-typed key, the second an
    integer."""
    assert _types(_kv(f"t{B}\t{C}i{B}\x1c12\x1c{C}n{B}\tnull")) == {
        "t": "null", "i": "integer", "n": "null",
    }


def test_pitfall_last_wins_before_the_value_filter():
    """A later pair with no ^B nulls an earlier value, and the key drops."""
    assert _types(_kv(f"k{B}1{C}j{B}x{C}k")) == {"j": "string"}
    assert _types(_kv(f"k{B}1{C}k{B}abc")) == {"k": "string"}


def test_pitfall_keys_json_must_escape_take_the_python_path():
    """json.dumps(ensure_ascii=True) escapes '"', '\\\\', control
    characters, DEL and non-ASCII in keys; the kernel escapes only those
    keys, after the sort, and the flat path keeps keys raw."""
    shape = _kv(f'q"k{B}1{C}ü{B}x{C}d\x7f{B}2.5{C}n{B}{{"\\u00e9":[1]}}')
    assert shape == json.dumps(
        _type_first(kv_schema_of({'q"k': "1", "ü": "x", "d\x7f": "2.5", "n": '{"\\u00e9":[1]}'})),
        separators=(",", ":"), ensure_ascii=True,
    )
    assert '"q\\"k"' in shape and '"\\u00fc"' in shape and '"d\\u007f"' in shape
    assert '"\\u00e9"' in shape
    flat = flat_shape_udf(pa.array([[('q"k', "1"), ("ü", "x")]], pa.map_(pa.string(), pa.string())))
    assert flat.to_pylist() == ['{"type":"object","properties":{"q"k":{"type":"integer"},"ü":{"type":"string"}}}']


def test_pitfall_malformed_nested_values_take_the_scalar_lattice():
    """A value that starts with '[' or '{' but that json.loads rejects is
    typed by the scalar lattice, as in kv_value_schema."""
    assert _types(_kv(f'a{B}{{"x":"1","n":12.5}}{C}b{B}{{"x":"\\q","n":12.5}}{C}c{B}[1,')) == {
        "a": "object", "b": "string", "c": "null",
    }
    assert json.loads(_kv(f'a{B}[1e400,-0,"s"]'))["properties"]["a"] == {
        "type": "array", "items": {"type": "string"},
    }


def test_pitfall_module_imports_without_a_session():
    """The package's functions/__init__ imports json_shape on every Python
    worker, where no session exists: json_shape must build no UDF at import
    (a module-level arrow_udf("string") parses its DDL through a session and
    fails there with SESSION_OR_CONTEXT_NOT_EXISTS)."""
    code = (
        "import schema_inference_spark.functions.json_shape\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True)


def test_batch_geometry_does_not_change_distinct(spark):
    """The kernel's batch is Spark's Arrow batch: 7-row batches give the
    same distinct shapes as the default size."""
    rows = adversarial_rows(3, 600)
    df = spark.createDataFrame([(r,) for r in rows], "value string").repartition(3)

    def distinct():
        return sorted(shape_counts(df.select(kv_shape(F.col("value")).alias("s")), F.col("s")).collect())

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = distinct()
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = distinct()
    finally:
        spark.conf.set(key, before)
    assert small == default
    assert sum(r["count"] for r in default) == sum(oracle_kv_shape(r) is not None for r in rows)
