"""End-to-end drive of the reference-lifecycle production job
(jobs/schema_infer_job.py) over a real SequenceFile of real fixture rows."""

from __future__ import annotations

import json
import os
import re
import tempfile
import uuid

import pytest

from jobs.schema_infer_job import main
from schema_inference_spark.sources.delimited import FIELD_SEP, KV_SEP, PAIR_SEP

FIXTURES = [
    "/root/reference/src/test/resources/fvalues.txt",
    "/root/reference/src/test/resources/fvalues2.txt",
    "/root/reference/src/test/resources/fvalues3.txt",
    "/root/reference/src/test/resources/fvalues5.txt",
]


def test_sequencefile_to_protos_end_to_end(spark):
    rows = [open(f, encoding="utf-8").read().strip("\n") for f in FIXTURES]
    rows += rows[:2]  # re-deliver two rows
    with tempfile.TemporaryDirectory() as d:
        (
            spark.sparkContext.parallelize(
                [(str(i).encode(), r) for i, r in enumerate(rows)], 2
            ).saveAsSequenceFile(f"{d}/in")
        )
        assert main(["--input", f"{d}/in", "--format", "sequencefile",
                     "--output", f"{d}/out"]) == 0

        distinct = spark.read.parquet(f"{d}/out/distinct")
        assert set(distinct.columns) == {"schema", "count", "percent"}
        assert distinct.agg({"count": "sum"}).collect()[0][0] == len(rows)

        tops = [json.loads(l) for l in open(f"{d}/out/top_schemas.json")]
        # fvalues/2/5 (and the re-deliveries) collapse to one production
        # shape after empty-value dropping; fvalues3's truncated row differs
        assert tops[0]["count"] == 5 and tops[1]["count"] == 1
        assert tops[0]["percent"] == 83  # 5*100 DIV 6, reference int division

        merged = json.load(open(f"{d}/out/merged_schema.json"))
        assert merged["type"] == "object"
        # victim stays a nested object (only object-typed across shapes);
        # killer demonstrates the lattice: fvalues3's malformed pair makes
        # it a string in one shape, and string dominates object on merge
        # (MergeBiFunction semantics)
        assert merged["properties"]["victim"]["type"] == "object"
        assert merged["properties"]["killer"]["type"] == "string"

        protos = {
            r["file_name"]: r["content"]
            for r in spark.read.parquet(f"{d}/out/protos").collect()
        }
        assert "Metadata.proto" in protos  # injected envelope
        root = [n for n in protos if n.lower().startswith("event")]
        assert root, protos.keys()
        assert any("message" in c for c in protos.values())


def test_json_docs_input_mode(spark):
    docs = ['{"a": 1, "b": "x"}'] * 3 + ['{"a": 2.5}'] * 2 + ["not json"]
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/docs.txt", "w") as f:
            f.write("\n".join(docs))
        assert main(["--input", f"{d}/docs.txt", "--format", "json-docs",
                     "--output", f"{d}/out"]) == 0
        tops = [json.loads(l) for l in open(f"{d}/out/top_schemas.json")]
        assert tops[0]["count"] == 3 and tops[0]["percent"] == 60
        merged = json.load(open(f"{d}/out/merged_schema.json"))
        # 'a' integer(x3) widens with number(x2) -> number
        assert merged["properties"]["a"] == {"type": "number"}


HOT = '{"type":"object","properties":{"host":{"type":"string"},"status":{"type":"integer"},"user":{"type":"string"}}}'
NESTED = (
    '{"type":"object","properties":{"id":{"type":"integer"},"payload":{"type":"object",'
    '"properties":{"a":{"type":"integer"},"b":{"type":"array","items":{"type":"integer"}}}}}}'
)
STATUS_NUMBER = '{"type":"object","properties":{"status":{"type":"number"}}}'
W_BOOLEAN = '{"type":"object","properties":{"w":{"type":"boolean"}}}'


def _kv_row(i: int, pairs) -> str:
    fvalue = PAIR_SEP.join(f"{k}{KV_SEP}{v}" for k, v in pairs)
    return f"{1_700_000_000 + i}{FIELD_SEP}host{i}{FIELD_SEP}{fvalue}"


@pytest.fixture(scope="module")
def planted_kv(spark, tmp_path_factory):
    """12 parseable rows in 4 shapes plus one rejected 2-field row: the hot
    shape (7, one of them carrying an empty and a 'null' value that must be
    dropped), a nested-JSON payload (3) and two single-row shapes that tie
    on count and so are ordered by schema string."""
    hot = [("host", "web1"), ("status", "200"), ("user", "alice")]
    rows = [_kv_row(i, hot) for i in range(6)]
    rows.append(_kv_row(6, hot + [("extra", ""), ("note", "null")]))
    rows += [_kv_row(7 + i, [("id", str(i)), ("payload", '{"a": 1, "b": [1, 2]}')]) for i in range(3)]
    rows.append(_kv_row(10, [("w", "true")]))
    rows.append(_kv_row(11, [("status", "1.5")]))
    rows.append(f"1700000012{FIELD_SEP}host12")
    d = tmp_path_factory.mktemp("kv")
    spark.createDataFrame([(r,) for r in rows], "value string").write.parquet(f"{d}/in")
    return d


def test_parquet_kv_end_to_end(spark, planted_kv):
    d = planted_kv
    assert main(["--input", f"{d}/in", "--format", "parquet-kv",
                 "--output", f"{d}/out"]) == 0

    distinct = sorted(
        (r["count"], r["percent"], r["schema"])
        for r in spark.read.parquet(f"{d}/out/distinct").collect()
    )
    # the 2-field row is rejected; the empty and 'null' values are dropped,
    # so their row joins the hot shape
    assert sum(c for c, _, _ in distinct) == 12
    assert distinct == [(1, 8, STATUS_NUMBER), (1, 8, W_BOOLEAN), (3, 25, NESTED), (7, 58, HOT)]

    tops = [json.loads(line) for line in open(f"{d}/out/top_schemas.json")]
    assert [(t["schema"], t["count"], t["percent"]) for t in tops] == [
        (HOT, 7, 58), (NESTED, 3, 25), (STATUS_NUMBER, 1, 8), (W_BOOLEAN, 1, 8),
    ]  # the count tie is ordered by schema string

    merged = json.load(open(f"{d}/out/merged_schema.json"))
    assert merged == {"type": "object", "properties": {
        "host": {"type": "string"},
        "status": {"type": "number"},  # integer widened by the number shape
        "user": {"type": "string"},
        "id": {"type": "integer"},
        "payload": json.loads(NESTED)["properties"]["payload"],
        "w": {"type": "boolean"},
    }}

    # the run's record names both steps, each with the rows its write
    # produced; params.json holds the flags
    record = json.load(open(f"{d}/out/metrics.json"))
    assert list(record["stages"]) == ["distinct", "protos"]
    assert record["stages"]["distinct"]["rows"] == len(distinct)
    assert record["stages"]["protos"]["rows"] == spark.read.parquet(f"{d}/out/protos").count()
    assert (record["top_k_shapes"], record["merged_shapes"]) == (4, 4)
    assert json.load(open(f"{d}/out/params.json")) == {
        "input": f"{d}/in", "format": "parquet-kv", "top_k": 20, "merge_n": 10,
    }


def test_repeated_key_keeps_last_value(spark, tmp_path):
    """A row that repeats a key keeps the key's last value, as the
    reference's map fill does; one such row must not fail the job."""
    rows = [_kv_row(0, [("k", "1"), ("k", "abc")]), _kv_row(1, [("k", "abc")])]
    spark.createDataFrame([(r,) for r in rows], "value string").write.parquet(
        f"{tmp_path}/in"
    )
    assert main(["--input", f"{tmp_path}/in", "--format", "parquet-kv",
                 "--output", f"{tmp_path}/out"]) == 0
    distinct = [
        (r["count"], r["schema"]) for r in spark.read.parquet(f"{tmp_path}/out/distinct").collect()
    ]
    assert distinct == [(2, '{"type":"object","properties":{"k":{"type":"string"}}}')]


def test_json_docs_repeated_key_keeps_last_value(spark, tmp_path):
    """from_json keeps both entries of a repeated key in its map; the flat
    shape keeps the last, like the delimited path and like ``dict``."""
    with open(f"{tmp_path}/docs.txt", "w") as f:
        f.write('{"k": 1, "k": "abc"}\n{"k": "abc"}\n')
    assert main(["--input", f"{tmp_path}/docs.txt", "--format", "json-docs",
                 "--output", f"{tmp_path}/out"]) == 0
    distinct = [
        (r["count"], r["schema"]) for r in spark.read.parquet(f"{tmp_path}/out/distinct").collect()
    ]
    assert distinct == [(2, '{"type":"object","properties":{"k":{"type":"string"}}}')]


def test_job_leaves_the_session_conf_as_it_found_it(spark, planted_kv):
    """The job runs on the caller's session and sets none of its confs (it
    once left spark.sql.mapKeyDedupPolicy=LAST_WIN behind for every later
    query of the session)."""
    d = planted_kv
    spark.conf.unset("spark.sql.mapKeyDedupPolicy")
    before = spark.conf.getAll
    assert main(["--input", f"{d}/in", "--format", "parquet-kv",
                 "--output", f"{d}/out_conf"]) == 0
    assert spark.conf.getAll == before


@pytest.mark.parametrize("fmt", ["parquet-kv", "json-docs"])
def test_distinct_plan_is_one_python_node_and_no_lambda(spark, planted_kv, tmp_path, monkeypatch, fmt):
    """The per-row shape is one Arrow UDF over the raw column: the distinct
    step's plan evaluates Python once and has no higher-order function
    (Spark evaluates their lambdas interpreted, row by row)."""
    from schema_inference_spark.operators import shapes

    seen, real_shape_counts = [], shapes.shape_counts

    def recording_shape_counts(*args, **kwargs):
        seen.append(real_shape_counts(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(shapes, "shape_counts", recording_shape_counts)
    if fmt == "json-docs":
        with open(f"{tmp_path}/docs.txt", "w") as f:
            f.write('{"a": 1, "b": "x"}\n{"a": [1]}\nnot json\n')
        source = f"{tmp_path}/docs.txt"
    else:
        source = f"{planted_kv}/in"
    assert main(["--input", source, "--format", fmt, "--output", f"{tmp_path}/out"]) == 0
    (distinct,) = seen
    distinct.collect()
    plan = distinct._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    logical = distinct._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas", plan)) == 1, plan
    for hof in ("lambdafunction", "transform_values", "map_filter", "str_to_map"):
        assert hof not in plan and hof not in logical, hof


def test_merge_n_larger_than_top_k(spark, planted_kv):
    """--merge-n above --top-k merges merge-n shapes, not only the top-k."""
    d = planted_kv
    assert main(["--input", f"{d}/in", "--format", "parquet-kv",
                 "--output", f"{d}/out_m", "--top-k", "1", "--merge-n", "4"]) == 0
    tops = [json.loads(line) for line in open(f"{d}/out_m/top_schemas.json")]
    assert [t["schema"] for t in tops] == [HOT]
    merged = json.load(open(f"{d}/out_m/merged_schema.json"))
    assert set(merged["properties"]) == {"host", "status", "user", "id", "payload", "w"}


def test_parquet_kv_run_is_eight_spark_jobs(spark, planted_kv):
    """One --format parquet-kv run starts 8 Spark jobs. Reading ``distinct``
    back by its declared DDL plans no schema-inference job (9 before), and
    the proto line table is a local relation, not a Python-worker scan."""
    d = planted_kv
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        assert main(["--input", f"{d}/in", "--format", "parquet-kv",
                     "--output", f"{d}/out_jobs"]) == 0
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 8


@pytest.mark.parametrize("flag,value", [
    ("--top-k", "0"), ("--merge-n", "0"), ("--top-k", "-1"), ("--merge-n", "-1"),
])
def test_counts_below_one_are_usage_errors(planted_kv, flag, value):
    """A top-k or merge-n below 1 is a usage error (exit 2) raised before
    any output is written, not a "no parseable rows" verdict on good input."""
    d = planted_kv
    out = f"{d}/out_bad{flag}{value}"
    with pytest.raises(SystemExit) as exc:
        main(["--input", f"{d}/in", "--format", "parquet-kv", "--output", out, flag, value])
    assert exc.value.code == 2
    assert not os.path.exists(f"{out}/distinct")
