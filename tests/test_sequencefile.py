"""Real SequenceFile<BytesWritable, Text> round-trip (S1 source gap, VERDICT
r1 'What's missing' #5): write an actual Hadoop SequenceFile, scan it with
the adapter, and run the reference fixture row through the full
S1+P1+P2+shape stage."""

from __future__ import annotations

import json
import tempfile

import pyarrow as pa
from pyspark.sql import functions as F

from schema_inference_spark.functions.json_shape import kv_shape
from schema_inference_spark.sources.delimited import parse_delimited
from schema_inference_spark.sources.sequencefile import read_sequencefile_values

FVALUES = "/root/reference/src/test/resources/fvalues.txt"
EXPECTED_TREE = "/root/reference/src/test/resources/json/12.json"


def _write_seqfile(spark, path, rows):
    (
        spark.sparkContext.parallelize([(str(i).encode(), r) for i, r in enumerate(rows)], 2)
        .saveAsSequenceFile(path)
    )


def test_sequencefile_values_roundtrip(spark):
    rows = ["alpha\x01host1\x01k\x02v", "beta\x01host2\x01k2\x02v2"]
    with tempfile.TemporaryDirectory() as d:
        _write_seqfile(spark, f"{d}/seq", rows)
        got = sorted(
            r["value"] for r in read_sequencefile_values(spark, f"{d}/seq").collect()
        )
        assert got == sorted(rows)


def test_sequencefile_reference_row_to_schema_tree(spark):
    raw = open(FVALUES, encoding="utf-8").read().strip("\n")
    with tempfile.TemporaryDirectory() as d:
        _write_seqfile(spark, f"{d}/seq", [raw, "not-three-fields", ""])
        values = read_sequencefile_values(spark, f"{d}/seq")
        raws = [r["value"] for r in values.collect()]
        rows = [r for r in parse_delimited(pa.array(raws, pa.string())).to_pylist() if r]
        assert len(rows) == 1  # malformed rows dropped (P1/P4 semantics)
        assert rows[0]["hostname"] == "10-181-208-32"
        # the production hygiene drops the empty-valued keys; the non-empty
        # subset of the reference tree must match exactly
        shapes = values.select(kv_shape(F.col("value")).alias("s")).where("s IS NOT NULL")
        shape = shapes.collect()[0]["s"]
        got_props = json.loads(shape)["properties"]
        expected = json.load(open(EXPECTED_TREE, encoding="utf-8"))["properties"]
        non_null = {k: v for k, v in expected.items() if v != {"type": "null"}}
        assert got_props == non_null
