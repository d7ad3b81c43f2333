"""Distinct-shape profiling: the reference engine's central aggregation.

Reference lifecycle (SeqFilesScan.java:282-373):
  per-row shape -> mapToPair(s,1) -> reduceByKey(+) -> collectAsMap (ALL
  distinct shapes to the driver) -> driver sort desc -> limit 20 -> percent
  (int division) -> fold-merge top-10.

Spark-first rewrite:
  * one ``groupBy('schema')`` count — Catalyst partial+final hash agg, so
    the hot shape (34% of rows in the reference corpus,
    data/distinct/part-00000…json:1) is combined map-side and never skews a
    reducer;
  * null shapes (unparseable rows, reference P4) are dropped AFTER the
    aggregate, as the group whose ``count(schema)`` is 0. A
    ``schema IS NOT NULL`` filter would be pushed below the projection onto
    the shape UDF's output, and ExtractPythonUDFs then plans a second
    ArrowEvalPython for the filter: every row crosses into Python twice;
  * percent-of-total via a broadcast cross-join against the single-row total
    (NOT a global window — a window with an empty partitionBy would funnel
    the profile table through one task). Both branches are the same counts
    plan, so the total reads a ReusedExchange of the counts shuffle and the
    shape UDF runs once per input row;
  * top-k via ``top_k_counts`` — ``orderBy(desc).limit(k)`` =
    TakeOrderedAndProject (per-partition heaps + driver merge, no global
    sort) — over a fresh counts plan or a persisted profile alike;
  * only the top-k rows are ever collected (vs the reference's whole-map
    collectAsMap, SeqFilesScan.java:315);
  * the schema merge fold runs on the driver over <= k tiny dicts
    (reference SeqFilesScan.java:346-373 semantics preserved).
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from schema_inference_spark.functions.type_inference import merge_schemas

DEFAULT_TOP_K = 20  # reference stream cap (CommonUtils.java:202)
DEFAULT_MERGE_N = 10  # reference numberOfTopSchemasToMerge (Constants.java:16)


def shape_counts(df: DataFrame, shape_col: Column) -> DataFrame:
    """DataFrame[schema string, count long, percent long].

    ``percent`` uses the reference's integer-division semantics
    (count*100/total with Java int division, CommonUtils.java:245-251).
    """
    counts = (
        df.select(shape_col.alias("schema"))
        .groupBy("schema")
        .agg(F.count("schema").alias("count"))
        .where(F.col("count") > 0)  # the null group; see the module docstring
    )
    total = counts.agg(F.sum("count").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "schema",
            F.col("count"),
            F.expr("count * 100 DIV _total").alias("percent"),
        )
    )


def top_k_counts(counts: DataFrame, k: int) -> DataFrame:
    """The k most frequent rows of a ``(schema, count, ...)`` table
    (TakeOrderedAndProject; ties broken by schema string so the result is
    deterministic across partitionings)."""
    return counts.orderBy(F.desc("count"), F.asc("schema")).limit(k)


def top_shapes(df: DataFrame, shape_col: Column, k: int = DEFAULT_TOP_K) -> DataFrame:
    """Top-k shapes by count."""
    return top_k_counts(shape_counts(df, shape_col), k)


def shape_exemplars(df: DataFrame, shape_col: Column, raw_col: Column) -> DataFrame:
    """One exemplar raw row per distinct shape.

    Reference: ``groupBy("schema").agg(first("colvalue"))``
    (SeqFilesScan.java:241) — but ``first`` is partition-order-dependent, so
    this engine uses ``min`` for a deterministic exemplar.
    """
    return (
        df.select(shape_col.alias("schema"), raw_col.alias("colvalue"))
        .groupBy("schema")
        .agg(F.min("colvalue").alias("colvalue"), F.count("schema").alias("_n"))
        .where(F.col("_n") > 0)  # the null group, dropped as in shape_counts
        .drop("_n")
    )


def persist_shape_profile(df: DataFrame, shape_col: Column, path: str) -> None:
    """Persist the distinct-shape profile (the reference's ``data/distinct``
    output, SeqFilesScan.java:318-344) as JSON lines."""
    shape_counts(df, shape_col).write.mode("overwrite").json(path)


def reanalyze_persisted_shapes(spark, path: str, merge_n: int = DEFAULT_MERGE_N) -> dict:
    """Re-run the merge stage from a persisted profile WITHOUT touching the
    raw corpus — the reference's SeqScanAsJson resumability path
    (SeqScanAsJson.java:66-77 re-reads data/distinct and re-merges)."""
    # explicit schema: an empty profile dir has nothing to infer from
    profile = spark.read.schema("schema string, count long, percent long").json(path)
    rows = top_k_counts(profile, merge_n).collect()
    schemas = [json.loads(r["schema"]) for r in rows]
    if not schemas:
        return {}
    return reduce(merge_schemas, schemas)


def merged_top_schema(
    df: DataFrame, shape_col: Column, merge_n: int = DEFAULT_MERGE_N
) -> dict:
    """Fold the top-N shapes into one superset schema dict.

    Driver-side fold over <= N collected shape strings — the only collect in
    the whole lifecycle (reference collected EVERY distinct schema,
    SeqFilesScan.java:315; we collect merge_n rows).
    """
    rows = top_shapes(df, shape_col, k=merge_n).collect()
    schemas = [json.loads(r["schema"]) for r in rows]
    if not schemas:
        return {}
    return reduce(merge_schemas, schemas)
