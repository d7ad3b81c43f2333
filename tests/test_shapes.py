"""Distinct-shape profiling: parity with the reference lifecycle
(SeqFilesScan.java:282-373) and the DuckDB oracle for the SQL-expressible
flat path."""

from __future__ import annotations

import json

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from schema_inference_spark.functions.json_shape import (
    canonical_shape_string,
    flat_json_shape_expr,
    flat_json_shape_sql,
    json_shape_of,
    kv_shape,
    make_shape_udf,
)
from schema_inference_spark.operators.shapes import (
    SHAPE_COUNTS_SCHEMA,
    merged_top_schema,
    shape_counts,
    shape_exemplars,
    top_shapes,
)
from schema_inference_spark.sources.delimited import FIELD_SEP, KV_SEP


def test_flat_shape_expr_basic(spark):
    df = spark.createDataFrame(
        [('{"a": 1, "b": "x"}',), ('{"b": true, "a": 2.5}',), ("not json{",), (None,)],
        "doc string",
    )
    got = [r["s"] for r in df.select(flat_json_shape_expr(F.col("doc")).alias("s")).collect()]
    assert got[0] == '{"type":"object","properties":{"a":{"type":"integer"},"b":{"type":"string"}}}'
    assert got[1] == '{"type":"object","properties":{"a":{"type":"number"},"b":{"type":"boolean"}}}'
    assert got[2] is None
    assert got[3] is None


def test_flat_shape_sql_parity_on_events(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    spark_out = {
        (r["schema"], r["count"], r["percent"])
        for r in shape_counts(events, flat_json_shape_expr(F.col("props"))).collect()
    }
    con = duckdb.connect()
    shape = flat_json_shape_sql("props")
    duck_out = set(
        con.execute(
            f"""
            WITH shaped AS (
              SELECT {shape} AS schema
              FROM '{sf_dir}/events.parquet' WHERE props IS NOT NULL
            ),
            counts AS (SELECT schema, count(*)::BIGINT AS count FROM shaped GROUP BY schema)
            SELECT schema, count, (count * 100) // (SELECT sum(count) FROM counts) AS percent
            FROM counts
            """
        ).fetchall()
    )
    assert spark_out == duck_out
    assert len(spark_out) >= 1


def test_recursive_shape_nested_and_arrays():
    # modeled on the reference's CHAMPION_KILL fixtures (fvalues.txt:1):
    # nested objects + array of objects whose item schemas must merge.
    doc = {
        "eventType": "CHAMPION_KILL",
        "killer": {"id": 7, "pos": {"x": 1.5, "y": 2}},
        "assists": [{"id": 1}, {"id": 2, "bonus": "gold"}],
        "ts": 1589500000,
    }
    shape = json_shape_of(doc)
    assert shape["properties"]["killer"]["properties"]["pos"]["properties"]["x"] == {
        "type": "number"
    }
    # array items merged: union of fields across elements
    items = shape["properties"]["assists"]["items"]
    assert set(items["properties"]) == {"id", "bonus"}
    # canonical string is sorted + compact
    s = canonical_shape_string(doc)
    assert s.index('"assists"') < s.index('"eventType"') < s.index('"killer"')


def test_shape_udf_matches_flat_expr_types(spark):
    df = spark.createDataFrame([('{"k": 42}',), ('{"k": "v"}',), ("oops",)], "doc string")
    udf = make_shape_udf()
    got = [r["s"] for r in df.select(udf(F.col("doc")).alias("s")).collect()]
    assert json.loads(got[0])["properties"]["k"] == {"type": "integer"}
    assert json.loads(got[1])["properties"]["k"] == {"type": "string"}
    assert got[2] is None


def test_top_shapes_and_exemplars_and_merge(spark):
    rows = (
        [('{"a": 1}', "r1")] * 5
        + [('{"a": 1, "b": "x"}', "r2")] * 3
        + [('{"a": "s"}', "r3")] * 2
    )
    df = spark.createDataFrame(rows, "doc string, raw string")
    shape = flat_json_shape_expr(F.col("doc"))
    top = top_shapes(df, shape, k=2).collect()
    assert top[0]["count"] == 5 and top[0]["percent"] == 50
    assert top[1]["count"] == 3 and top[1]["percent"] == 30

    ex = {r["schema"]: r["colvalue"] for r in shape_exemplars(df, shape, F.col("raw")).collect()}
    assert len(ex) == 3 and set(ex.values()) == {"r1", "r2", "r3"}

    merged = merged_top_schema(df, shape, merge_n=3)
    # 'a' seen as integer(x8) and string(x2): lattice widens to string;
    # 'b' only in one shape -> kept.
    assert merged["properties"]["a"] == {"type": "string"}
    assert merged["properties"]["b"] == {"type": "string"}


def test_flat_expr_equals_recursive_udf_on_flat_docs(spark):
    """ADVICE r1: flat and recursive paths must emit byte-identical canonical
    strings for the same flat document — they are groupBy keys."""
    docs = [
        '{"b": 1, "a": "x"}',
        '{"z": true, "m": 2.5, "a": 7}',
        '{}',
        '{"only": "str"}',
    ]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    flat = [
        r["s"]
        for r in df.select(flat_json_shape_expr(F.col("doc")).alias("s"))
        .orderBy("doc")
        .collect()
    ]
    udf = make_shape_udf()
    rec = [
        r["s"]
        for r in df.select(udf(F.col("doc")).alias("s")).orderBy("doc").collect()
    ]
    assert flat == rec


def test_python_lattice_matches_catalyst_lattice(spark):
    """The shape paths port infer_json_type_expr twice, to Python and to
    Arrow; all three must agree value-for-value on representative +
    adversarial strings. Python's and Java's ``$`` match before a final
    newline (RE2's does not), and float() takes surrounding whitespace."""
    import pyarrow as pa

    from schema_inference_spark.functions.json_shape import (
        _TYPES,
        _infer_json_type_py,
        _lattice_codes,
    )
    from schema_inference_spark.functions.type_inference import infer_json_type_expr

    vals = [
        "true", "FALSE", "tRuE", "abc", "a1", "123", "007", "",
        "1.5", "-2.75", "1e10", "1.5e-3", ".5", "5.", "1.2.3", "--",
        "12-34", "+42", "-0", "0.0001", "1_000", "NaN", "Infinity",
        " 1.5", "1.5 ", "½", "١٢٣", "12\n", "1.5\t",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r["v"]: r["t"]
        for r in df.select("v", infer_json_type_expr(F.col("v")).alias("t")).collect()
    }
    arrow = [_TYPES[c] for c in _lattice_codes(pa.array(vals))]
    for v, a in zip(vals, arrow):
        assert _infer_json_type_py(v) == got[v] == a, (v, _infer_json_type_py(v), got[v], a)


def test_merged_shape_agrees_with_spark_native_json_inference(spark):
    """Cross-check against Spark's OWN JSON schema inference: for flat docs
    whose values are native JSON scalars, our merged top-N schema must
    agree with spark.read.json's inferred StructType under the standard
    type mapping (integer->bigint widened, number->double, string->string,
    boolean->boolean)."""
    docs = (
        ['{"a": 1, "b": "x", "c": 1.5, "d": true}'] * 5
        + ['{"a": 7, "b": "y", "c": 2.0, "d": false}'] * 3
    )
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    merged = merged_top_schema(df, flat_json_shape_expr(F.col("doc")), merge_n=5)

    native = spark.read.json(spark.sparkContext.parallelize(docs)).schema
    native_types = {f.name: f.dataType.simpleString() for f in native.fields}

    MAP = {"integer": "bigint", "number": "double", "string": "string", "boolean": "boolean"}
    for name, sub in merged["properties"].items():
        assert MAP[sub["type"]] == native_types[name], (name, sub, native_types)


@pytest.mark.parametrize("fmt", ["parquet-kv", "json-docs"])
def test_shape_counts_schema_is_the_declared_ddl(spark, tmp_path, fmt):
    """Persisted profiles are read back by SHAPE_COUNTS_SCHEMA instead of
    inferring it. A declared column the files lack would read back as
    nulls with no error, so shape_counts must produce exactly that DDL for
    both of the job's shape columns, and a written profile must read the
    same both ways."""
    if fmt == "json-docs":
        rows = spark.createDataFrame([('{"a": 1}',), ('{"b": "x"}',), ("nope",)], "value string")
        shaped = rows.select(flat_json_shape_expr(F.col("value")).alias("schema"))
    else:
        rows = spark.createDataFrame(
            [(f"1{FIELD_SEP}h{FIELD_SEP}a{KV_SEP}1",), (f"2{FIELD_SEP}h",)], "value string"
        )
        shaped = rows.select(kv_shape(F.col("value")).alias("schema"))
    counts = shape_counts(shaped, F.col("schema"))
    declared = StructType.fromDDL(SHAPE_COUNTS_SCHEMA)
    assert [(f.name, f.dataType) for f in counts.schema] == [
        (f.name, f.dataType) for f in declared
    ]
    counts.write.parquet(f"{tmp_path}/distinct")
    by_ddl = spark.read.schema(SHAPE_COUNTS_SCHEMA).parquet(f"{tmp_path}/distinct")
    inferred = spark.read.parquet(f"{tmp_path}/distinct")
    assert by_ddl.schema == inferred.schema
    rows = by_ddl.collect()
    assert rows and sorted(rows) == sorted(inferred.collect())
