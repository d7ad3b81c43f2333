"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats, trace  # noqa: E402
from perfbench.worker import Runner  # noqa: E402
from perfbench.workloads import AnnPq  # noqa: E402


# ------------------------------------------------------------ tail percentile


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 10) is None
    value, pct, n = stats.tail([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11)  # the lowest sample has exactly 10 above it
    assert pct == pytest.approx(100 / 11)


def test_tail_picks_highest_qualifying_percentile():
    samples = [float(i) for i in range(100, 0, -1)]  # unsorted input
    value, pct, n = stats.tail(samples)
    assert n == 100 and pct == 90.0 and value == 90.0
    assert sum(s > value for s in samples) == 10


# ------------------------------------------------------------ fail_frac


class _FakeSpark:
    """Just enough of a session for ``Runner.once``'s empty-cache assertion."""

    class catalog:  # noqa: N801 - mirrors the pyspark attribute
        @staticmethod
        def clearCache():
            pass

    class _jsparkSession:  # noqa: N801
        @staticmethod
        def sharedState():
            class S:
                @staticmethod
                def cacheManager():
                    class C:
                        @staticmethod
                        def isEmpty():
                            return True

                    return C

            return S


def _ann_checker() -> AnnPq:
    """An ANN workload over four 2-d unit vectors, without Spark."""
    w = object.__new__(AnnPq)
    w.queries = [[1.0, 0.0], [0.0, 2.0]]
    w.unit = np.array([[1.0, 0.0], [0.6, 0.8], [0.0, 1.0], [0.8, 0.6]])
    w.expected = {"exact_top": [[0, 3], [2, 1]]}
    w.spec = {"min_mean_recall": 0.5}
    w.single, w.recalls = {}, []
    return w


def test_planted_wrong_answer_counts_as_failed(tmp_path):
    w = _ann_checker()
    r = Runner(_FakeSpark, w, str(tmp_path))
    r.once(lambda: [(0, 1.0), (3, 0.8)], lambda got: w.check_query(0, got))
    r.once(lambda: [(0, 1.0), (1, 0.8)], lambda got: w.check_query(0, got))  # id 1 is 0.6
    r.once(lambda: [(2, 1.0), (1, 0.8)], lambda got: w.check_query(1, got))
    r.once(lambda: 1 / 0, lambda got: w.check_query(1, got))  # an operation that raises
    assert (r.attempted, r.failed) == (4, 2)
    assert stats.fail_frac(r.attempted, r.failed) == pytest.approx(0.5)
    assert len(r.times) == 2  # only correct operations are timed
    assert any("exact value" in p for p in r.problems)

    right = {0: [(0, 1.0), (1, 0.8)], 1: [(2, 1.0), (1, 0.8)]}  # the last single answers
    assert w.check_batch(right) == []
    wrong = {0: [(0, 1.0), (3, 0.8)], 1: [(2, 1.0), (1, 0.8)]}
    assert any("qid 0" in p for p in w.check_batch(wrong))


def test_run_level_recall_floor():
    w = _ann_checker()
    w.spec["min_mean_recall"] = 0.9
    assert w.check_query(0, [(0, 1.0), (1, 0.6)]) == []  # recall 0.5, still correct
    assert any("recall" in p for p in w.check_batch({0: [(0, 1.0), (1, 0.6)], 1: []}))


def test_fail_frac_needs_an_attempt():
    with pytest.raises(ValueError):
        stats.fail_frac(0, 0)


# ------------------------------------------------------------ self time


def _span(sid, layer, parent, start, end):
    return trace.Span(sid, f"{layer}.x.f{sid}", layer, parent, start, end)


def test_self_time_arithmetic_and_reconciliation():
    spans = [
        _span(0, "bench", None, 0.0, 10.0),
        _span(1, "jobs", 0, 1.0, 9.0),
        _span(2, "sources", 1, 2.0, 4.0),
        _span(3, "operators", 1, 3.0, 6.0),  # overlaps span 2: counted once
        _span(4, "functions", 3, 5.0, 7.0),  # outlives its parent: clipped
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(2.0)
    assert st[1] == pytest.approx(8.0 - 4.0)
    assert st[3] == pytest.approx(3.0 - 1.0)
    by_layer = trace.layer_self_times(spans, 0)
    assert by_layer["operators"] == pytest.approx(2.0)
    # properly nested, sequential spans: self times add up to the root's wall
    nested = spans[:3] + [_span(3, "operators", 1, 4.0, 6.0), _span(4, "functions", 3, 5.0, 5.5)]
    assert sum(trace.layer_self_times(nested, 0).values()) == pytest.approx(10.0)


def test_job_stage_times_follow_markers():
    spans = [
        _span(0, "jobs", None, 0.0, 10.0),
        trace.Span(1, "operators.shapes.shape_counts", "operators", 0, 1.0, 1.1),
        trace.Span(2, "sources.iceberg.write_table", "sources", 0, 1.2, 3.0),
        trace.Span(3, "operators.shapes.top_shapes", "operators", 0, 3.0, 3.1),
        trace.Span(4, "functions.type_inference.merge_schemas", "functions", 0, 5.0, 5.2),
        trace.Span(5, "operators.proto.proto_hierarchy", "operators", 0, 6.0, 6.1),
        trace.Span(6, "sources.iceberg.write_table", "sources", 0, 7.0, 8.0),
    ]
    t = trace.job_stage_times(spans)
    assert t["jobs.schema_infer.distinct_s"] == pytest.approx(2.0)
    assert t["jobs.schema_infer.top_k_s"] == pytest.approx(2.0)
    assert t["jobs.schema_infer.merge_s"] == pytest.approx(1.0)
    assert t["jobs.schema_infer.protos_s"] == pytest.approx(2.0)
    assert t["jobs.curate.pairs_s"] == 0.0


# ------------------------------------------------------------ event-log fold


def _plan(node, simple, metrics, children=()):
    return {"nodeName": node, "simpleString": simple, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": i,
                         "metricType": "timing" if "time" in n else "size"} for n, i in metrics]}


CANNED = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
     "jobGroupId": "pb7", "sparkPlanInfo": _plan(
         "Exchange", "Exchange hashpartitioning(schema#3, 8)", [("shuffle bytes written", 10)], [
             _plan("ArrowEvalPython", "ArrowEvalPython [kv_shape_udf(kv#2)#5], [pythonUDF0#6]",
                   [("time to run Python workers", 11), ("data sent to Python workers", 12),
                    ("data returned from Python workers", 13), ("time to start Python workers", 14)], [
                       _plan("Scan parquet", "FileScan parquet [value#1] ReadSchema: struct<value:string>",
                             [("scan time", 15), ("number of output rows", 16)])])])},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb7"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
     "Properties": {"spark.jobGroup.id": "pb7"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Info": {"Attempt": 0, "Failed": False, "Accumulables": [
         {"ID": 11, "Name": "time to run Python workers", "Update": "1500"},
         {"ID": 12, "Name": "data sent to Python workers", "Update": "4096"},
         {"ID": 13, "Name": "data returned from Python workers", "Update": "512"},
         {"ID": 14, "Name": "time to start Python workers", "Update": "250"},
         {"ID": 15, "Name": "scan time", "Update": "40"}]},
     "Task Metrics": {"Executor Run Time": 2000, "Executor CPU Time": 1_500_000_000,
                      "JVM GC Time": 30, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                      "Input Metrics": {"Bytes Read": 9000},
                      "Output Metrics": {"Bytes Written": 0},
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 700},
                      "Shuffle Read Metrics": {"Local Bytes Read": 0, "Remote Bytes Read": 0}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Info": {"Attempt": 1, "Failed": False, "Accumulables": []},
     "Task Metrics": {"Executor Run Time": 100}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Stage Attempt ID": 0,  # no span: ignored
     "Task Info": {"Attempt": 0}, "Task Metrics": {"Executor Run Time": 99999}},
]


def test_event_log_fold_on_canned_log():
    lines = [json.dumps(e) for e in CANNED]
    fold = trace.fold_event_log(lines, {"kv_shape_udf": "functions"})
    m = fold.by_span[7]
    assert m["jobs"] == 1 and m["tasks"] == 2 and m["task_retries"] == 1
    assert m["exec_run_s"] == pytest.approx(2.1)
    assert m["exec_cpu_s"] == pytest.approx(1.5)
    assert m["functions.py_run_s"] == pytest.approx(1.5)
    assert m["functions.py_start_s"] == pytest.approx(0.25)
    assert (m["functions.py_bytes_in"], m["functions.py_bytes_out"]) == (4096, 512)
    assert "operators.py_run_s" not in m
    assert m["scan_s"] == pytest.approx(0.04) and m["scan_bytes"] == 9000
    assert m["shuffle_write_bytes"] == 700
    assert fold.job_intervals[7] == [(1.0, 3.5)]
    assert set(fold.by_span) == {7}

    # the fold feeds the per-operation metrics of the span tree
    tracer = trace.Tracer()
    tracer.spans = [_span(0, "bench", None, 0.5, 4.0), _span(7, "jobs", 0, 0.6, 3.9)]
    ops = trace.op_layer_metrics(tracer, fold, 0)
    assert ops["plans.jobs"] == 1 and ops["functions.py_bytes_in"] == 4096
    assert ops["plans.planning_s"] == pytest.approx(3.5 - 2.5)
    assert ops["trace.reconcile_err"] == pytest.approx(0.0)


def test_udf_layers_cover_the_package():
    layers = trace.udf_layers(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert layers["kv_shape_udf"] == "functions"
    assert layers["_check_batch"] == "operators"
