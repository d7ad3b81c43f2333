"""As-of join semantics, salted non-reducible aggregation, HLL accuracy."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from schema_inference_spark.operators.asof import asof_join
from schema_inference_spark.operators.salting import salted_exemplars


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(5)), (2, 10, _ts(20)), (3, 11, _ts(7)), (4, 12, _ts(9))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts(3), 1.0), (10, _ts(15), 2.0), (11, _ts(7), 3.0)],
        "user_id long, ts timestamp, v double",
    )
    out = {
        r["event_id"]: r["v_asof"]
        for r in asof_join(left, right, "user_id", "ts", ["v"]).collect()
    }
    assert out[1] == 1.0  # most recent at ts=3
    assert out[2] == 2.0  # picks 15 over 3
    assert out[3] == 3.0  # equal ts -> inclusive (<=)
    assert out[4] is None  # no right rows for user 12


def test_salted_exemplars_hot_key(spark):
    rows = [(0, f"v{i:04d}") for i in range(500)] + [(k, f"w{k}-{i}") for k in (1, 2) for i in range(3)]
    df = spark.createDataFrame(rows, "key int, val string")
    out = {r["key"]: r for r in salted_exemplars(df, "key", "val", k=3, n_salts=8).collect()}
    assert out[0]["n_rows"] == 500
    # deterministic: globally smallest 3 values regardless of salting
    assert out[0]["exemplars"] == ["v0000", "v0001", "v0002"]
    assert out[1]["n_rows"] == 3 and len(out[1]["exemplars"]) == 3


def test_salted_exemplars_null_key_and_null_values(spark):
    """ADVICE r2: the NULL-key group must survive (no key equi-join), and
    null exemplar values must neither consume top-k slots nor appear in the
    output — but they DO count toward n_rows."""
    rows = (
        [(None, f"n{i}") for i in range(4)]        # null key, real values
        + [(7, None)] * 5                          # nulls would fill k slots
        + [(7, "b"), (7, "a"), (7, "c"), (7, "d")]
        + [(8, None), (8, None)]                   # group with ONLY null values
    )
    df = spark.createDataFrame(rows, "key int, val string")
    out = {r["key"]: r for r in salted_exemplars(df, "key", "val", k=3).collect()}
    assert out[None]["n_rows"] == 4 and out[None]["exemplars"] == ["n0", "n1", "n2"]
    assert out[7]["n_rows"] == 9 and out[7]["exemplars"] == ["a", "b", "c"]
    assert out[8]["n_rows"] == 2 and out[8]["exemplars"] == []


def test_hll_within_tolerance(spark, sf_dir):
    from schema_inference_spark.queries.catalog_core import partkey_cardinality_hll

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: (r["p"], r["s"])
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("p"), F.countDistinct("l_suppkey").alias("s"))
        .collect()
    }
    approx = {
        r["l_returnflag"]: (r["approx_parts"], r["approx_supps"])
        for r in partkey_cardinality_hll(spark, sf_dir).collect()
    }
    for flag, (p, s) in exact.items():
        ap, asup = approx[flag]
        assert abs(ap - p) / p < 0.1 and abs(asup - s) / s < 0.1
