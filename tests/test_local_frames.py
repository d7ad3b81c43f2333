"""Driver-built tables are Arrow local relations.

``createDataFrame(list, ddl)`` plans a ``Scan ExistingRDD`` that runs a
Python-worker stage every time it is read; ``sources.tables.local_frame``
plans a ``LocalTableScan`` that starts no Spark job. The guard test (no
Spark) keeps every driver-built frame of the package and the jobs on
``local_frame``; the rest check that it gives what ``createDataFrame(list,
ddl)`` gives, for every DDL it is called with.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql.types import StructType

from schema_inference_spark.operators.similarity import centroids_schema
from schema_inference_spark.sources import tables
from tests.test_ivf_index import _collect_counting_jobs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ("schema_inference_spark", "jobs")
# where createDataFrame may appear: local_frame's own body; the SequenceFile
# source, whose input is a distributed RDD scan, not driver data; and the
# data generators, which perfbench keys its cached inputs on
ALLOWED_FILES = ("schema_inference_spark/sources/sequencefile.py",)
ALLOWED_DIRS = ("schema_inference_spark/datagen/",)
ALLOWED_FUNCTION = ("schema_inference_spark/sources/tables.py", "local_frame")


def _sources():
    for root in ROOTS:
        for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, root)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for f in sorted(filenames):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    with open(path, encoding="utf-8") as fh:
                        yield os.path.relpath(path, REPO), ast.parse(fh.read())


def _calls(tree: ast.Module, name: str, inside: str | None = None):
    """Line numbers of calls to ``<x>.name(...)`` / ``name(...)``, with the
    body of the top-level function ``inside`` left out."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == inside:
            continue
        for sub in ast.walk(node):
            if isinstance(sub, ast.Call):
                f = sub.func
                called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if called == name:
                    yield sub


def driver_frames_outside_local_frame() -> list[str]:
    """``path:line`` of every createDataFrame call outside the allowed places."""
    found = []
    for rel, tree in _sources():
        if rel in ALLOWED_FILES or rel.startswith(ALLOWED_DIRS):
            continue
        inside = ALLOWED_FUNCTION[1] if rel == ALLOWED_FUNCTION[0] else None
        found += [f"{rel}:{c.lineno}" for c in _calls(tree, "createDataFrame", inside)]
    return found


def test_driver_built_frames_use_local_frame():
    sites = driver_frames_outside_local_frame()
    assert not sites, f"build driver tables with sources.tables.local_frame: {sites}"


R3 = 1 / 3
# every DDL local_frame is called with, and rows of that shape; doubles
# that only a bit-exact path keeps (-0.0, a subnormal-adjacent 1e-300, 1/3)
CASES = {
    "file_name string, line_number int, line string": [
        ("Event.proto", 1, 'syntax = "proto3";'), ("Event.proto", 2, None), ("é.proto", 3, ""),
    ],
    "rule_name string": [("not_null_a",), ("unique_b",), (None,)],
    "check_name string": [("domain_fmt",), ("null_caption",)],
    centroids_schema(): [(0, [-0.0, 1e-300, R3]), (1, []), (2, [1.0, None])],
    centroids_schema("coarse_id"): [(0, [R3, -R3]), (7, [0.0])],
    "qid int, vec_id bigint, cosine_sim double": [(0, 2**40, -0.0), (1, -1, R3)],
    "qid int, _q array<double>, _qn double": [(0, [1e-300, -0.0, R3], 1e-300), (1, [0.5], R3)],
    "qid int, centroid_id int": [(0, 3), (0, 1), (2**31 - 1, -(2**31))],
    "file_name string, content string": [("_merged_schema.json", '{"type":"object"}')],
}


def test_cases_cover_every_literal_ddl():
    """Every string-literal DDL passed to local_frame in the package has a
    case above (the two computed ones, centroids_schema(...) and pq's
    f-string, are listed by hand)."""
    literal = set()
    for _, tree in _sources():
        for call in _calls(tree, "local_frame"):
            ddl = call.args[2] if len(call.args) > 2 else None
            if isinstance(ddl, ast.Constant):
                literal.add(ddl.value)
    assert literal and literal <= set(CASES), literal - set(CASES)


def _exact(v):
    """Rows as nested tuples with every float as its hex string."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_exact(x) for x in v)
    return v


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("ddl", list(CASES))
def test_local_frame_equals_list_frame(spark, ddl, empty):
    rows = [] if empty else CASES[ddl]
    want = spark.createDataFrame(rows, ddl)
    df, got, jobs = _collect_counting_jobs(spark, lambda: tables.local_frame(spark, rows, ddl))
    assert df.schema == want.schema == StructType.fromDDL(ddl)
    assert [_exact(tuple(r)) for r in got] == [_exact(tuple(r)) for r in want.collect()]
    assert [_exact(tuple(r)) for r in got] == [_exact(r) for r in rows]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert jobs == 0


@pytest.mark.parametrize("ddl,row", [
    ("qid int, centroid_id int", (2**40, 0)),  # overflows int: must not wrap
    ("qid int, centroid_id int", (1.5, 0)),  # a float in an int column
    ("qid int, centroid_id int", ("1", 0)),  # a string in an int column
    ("qid int, _q array<double>, _qn double", (0, [1], 0.5)),  # an int in array<double>
    ("qid int, centroid_id int", (0,)),  # too few fields
])
def test_local_frame_rejects_what_verify_schema_rejects(spark, ddl, row):
    with pytest.raises(Exception) as listed:
        spark.createDataFrame([row], ddl)
    with pytest.raises(type(listed.value)):
        tables.local_frame(spark, [row], ddl)
