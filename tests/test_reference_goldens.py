"""Golden parity against the reference repo's OWN fixtures (read-only).

SURVEY.md §5 names these the de-facto oracles:

* src/test/resources/fvalues.txt — one real ^A/^B/^C production row — and
  src/test/resources/json/12.json, the expected JSON-Schema tree for it
  (empty values typed 'null', nested JSON values recursed).
* data/distinct/part-*.json — real production top-10 distinct-schema output
  (count/percent/schema). The schema strings exercise the full recursive
  canon; the A8 merge over all 10 must produce their exact field superset.
"""

from __future__ import annotations

import glob
import json

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from schema_inference_spark.functions.json_shape import (
    kv_shape,
    kv_shape_udf,
    kv_value_schema,
)
from schema_inference_spark.functions.type_inference import merge_schemas
from schema_inference_spark.sources.delimited import parse_delimited
from tests.test_shape_kernel import kv_schema_of

FVALUES = "/root/reference/src/test/resources/fvalues.txt"
EXPECTED_TREE = "/root/reference/src/test/resources/json/12.json"
DISTINCT_GLOB = "/root/reference/data/distinct/part-*.json"


def test_fvalues_row_schema_matches_reference_tree(spark):
    """parse_delimited + recursive KV shape on the reference's real row must
    reproduce the reference's own expected schema tree (json/12.json),
    compared as parsed dicts (property ORDER is serialization detail; the
    reference emits insertion order, our canon sorts)."""
    raw = open(FVALUES, encoding="utf-8").read().strip("\n")
    rows = parse_delimited(pa.array([raw]), drop_empty=False).to_pylist()
    assert len(rows) == 1 and rows[0] is not None
    kv = rows[0]["kv"]
    got = kv_schema_of(dict(kv))
    expected = json.load(open(EXPECTED_TREE, encoding="utf-8"))
    assert got == expected

    # and the distributed shape path emits the same tree, less the keys
    # whose empty values the production hygiene drops
    df = spark.createDataFrame([(raw,)], "value string")
    s = df.select(kv_shape(F.col("value")).alias("s")).collect()[0]["s"]
    non_null = {k: v for k, v in expected["properties"].items() if v != {"type": "null"}}
    assert json.loads(s) == {"type": "object", "properties": non_null}
    assert kv_shape_udf(pa.array([raw])).to_pylist() == [s]


def _load_distinct_rows():
    rows = []
    for f in sorted(glob.glob(DISTINCT_GLOB)):
        for line in open(f, encoding="utf-8"):
            if line.strip():
                rows.append(json.loads(line))
    return rows


def test_distinct_output_schemas_parse_and_merge_to_superset():
    """The reference's real production distinct-schema strings must all parse,
    and the A8 merge fold over the top-10 must yield exactly the union of
    their top-level fields with lattice-consistent types."""
    rows = _load_distinct_rows()
    assert len(rows) == 10  # top-10 retention, Constants.java:16
    schemas = [json.loads(r["schema"]) for r in rows]
    assert all(s["type"] == "object" for s in schemas)

    merged = None
    for s in sorted(schemas, key=lambda s: json.dumps(s, sort_keys=True)):
        merged = merge_schemas(merged, s)

    union_fields = set()
    for s in schemas:
        union_fields |= set(s["properties"])
    assert set(merged["properties"]) == union_fields

    # every field's merged type is reachable from some input type via the
    # lattice (string dominates; null never survives if any input is typed)
    for field in union_fields:
        seen = {
            s["properties"][field]["type"]
            for s in schemas
            if field in s["properties"]
        }
        got = merged["properties"][field]["type"]
        if seen == {"object"}:
            assert got == "object"
        elif "string" in seen and len(seen - {"object", "array"}) > 1:
            assert got == "string"
        else:
            assert got in seen

    # merge is order-insensitive for this corpus (same superset both ways)
    rev = None
    for s in sorted(schemas, key=lambda s: json.dumps(s, sort_keys=True), reverse=True):
        rev = merge_schemas(rev, s)
    assert set(rev["properties"]) == union_fields


def test_distinct_counts_are_topk_ordered_like_reference_collect():
    """Counts in the production output are a valid top-k retention set: our
    top_shapes ordering (count DESC) over them is stable and the recorded
    percents are consistent with integer-percent flooring at some corpus
    total >= sum(counts)."""
    rows = _load_distinct_rows()
    counts = sorted((r["count"] for r in rows), reverse=True)
    assert counts[0] == 8282699  # the 34% hot key (SCALE.md skew design)
    total_lo = sum(r["count"] for r in rows)
    for r in rows:
        if r["percent"] > 0:
            # percent consistent with SOME total: count/percent bounds total
            assert r["count"] * 100 >= r["percent"] * total_lo * 0.9


@pytest.mark.parametrize(
    "value,expected",
    [
        ("", {"type": "null"}),
        ("null", {"type": "null"}),
        ("NULL", {"type": "null"}),
        ("CHAMPION_KILL", {"type": "string"}),
        ("1589524342044", {"type": "integer"}),
        ("0.349", {"type": "number"}),
        ("true", {"type": "boolean"}),
        (
            '{"championId" : 516}',
            {"type": "object", "properties": {"championId": {"type": "integer"}}},
        ),
        (
            '[{"a" : 1}, {"a" : 2}]',
            {
                "type": "array",
                "items": {"type": "object", "properties": {"a": {"type": "integer"}}},
            },
        ),
    ],
)
def test_kv_value_schema_rules(value, expected):
    assert kv_value_schema(value) == expected


def test_event_document_schema_pair_1_to_2():
    """The reference's other genuine document->schema golden pair:
    json/1.json (a real CHAMPION_SPECIAL_KILL event) must produce exactly
    the expected tree json/2.json."""
    from schema_inference_spark.functions.json_shape import json_shape_of

    doc = json.load(open("/root/reference/src/test/resources/json/1.json"))
    expected = json.load(open("/root/reference/src/test/resources/json/2.json"))
    assert json_shape_of(doc) == expected


def test_three_level_nesting_product_fixture():
    """product.json: 3-level object nesting recurses correctly."""
    from schema_inference_spark.functions.json_shape import json_shape_of

    doc = json.load(open("/root/reference/src/test/resources/product.json"))
    shape = json_shape_of(doc)
    owner = shape["properties"]["brand"]["properties"]["owner"]
    assert owner == {
        "type": "object",
        "properties": {"id": {"type": "string"}, "name": {"type": "string"}},
    }


def test_malformed_event_error_path(spark):
    """data/json/legs_gameevent4.json carries invalid JSON ('\"gameId\": ,')
    — the documented error-path fixture. The shape UDF must null it (P4
    filter semantics) while its valid siblings all parse."""
    from schema_inference_spark.functions.json_shape import make_shape_udf

    suffixes = ["", "2", "3", "4", "5", "6"]
    docs = [
        open(f"/root/reference/data/json/legs_gameevent{i}.json").read()
        for i in suffixes
    ]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    udf = make_shape_udf()
    got = [r["s"] for r in df.select(udf(F.col("doc")).alias("s")).collect()]
    # fixtures 4 AND 5 are malformed (4: '"gameId": ,'; 5: same family) —
    # both must null out; the valid siblings must all parse to object trees
    malformed = {suffixes.index("4"), suffixes.index("5")}
    for i, g in enumerate(got):
        if i in malformed:
            assert g is None, suffixes[i]
        else:
            assert g is not None and json.loads(g)["type"] == "object", suffixes[i]


def test_additional_fvalues_rows_parse_consistently(spark):
    """fvalues2/3/5: more real ^A rows. Every row must flow through
    parse_delimited + the recursive KV shape, and all produced property
    schemas must be mergeable with the fvalues.txt golden superset
    (the production A8 fold never rejects a real row's schema)."""
    raws = []
    for name in ("fvalues.txt", "fvalues2.txt", "fvalues3.txt", "fvalues5.txt"):
        raws.append(open(f"/root/reference/src/test/resources/{name}").read().strip("\n"))
    parsed = parse_delimited(pa.array(raws), drop_empty=False).to_pylist()
    assert None not in parsed  # all are well-formed 3-field rows
    merged = None
    for row in parsed:
        schema = kv_schema_of(dict(row["kv"]))
        assert schema["type"] == "object" and schema["properties"]
        merged = merge_schemas(merged, schema)
    expected = json.load(open(EXPECTED_TREE, encoding="utf-8"))
    # the merged superset covers every field of the golden tree
    assert set(expected["properties"]) <= set(merged["properties"])


def test_reanalyze_reads_references_real_distinct_output(spark):
    """S3 resumability parity on the reference's OWN persisted profile: the
    re-analysis path (SeqScanAsJson.java:66-77 analog) reads the real
    production data/distinct files directly and its top-10 merge equals the
    A8 fold computed independently from the same rows."""
    from schema_inference_spark.operators.shapes import reanalyze_persisted_shapes

    merged = reanalyze_persisted_shapes(
        spark, "/root/reference/data/distinct", merge_n=10
    )
    rows = _load_distinct_rows()
    expected = None
    for r in sorted(rows, key=lambda r: (-r["count"], r["schema"]))[:10]:
        expected = merge_schemas(expected, json.loads(r["schema"]))
    assert merged == expected
    assert merged["properties"]["itemActor"]["type"] == "object"
