#!/usr/bin/env python
"""The reference's production job, end to end, as one spark-submit entry.

This is the pipeline SeqFilesScan.java:282-373 ran hourly — scan ->
per-row schema -> distinct-shape counts with integer percents -> top-k ->
top-N merge under the widening lattice -> protobuf hierarchy emission —
re-planned Spark-first (single shuffle for the counts; driver-side fold
only over the tiny top-k set; order-safe proto assembly).

The raw rows are read, and the per-row shape UDF run, exactly once: in the
one Spark action that writes ``distinct``. Top-k is then read back from
that persisted table (a few thousand rows, not the corpus) — the
reference's own SeqScanAsJson re-analysis path — by its declared DDL, so
the read-back infers no schema, fetching max(top-k, merge-n) rows so that
``--merge-n`` larger than ``--top-k`` still merges merge-n shapes. The
proto line table is an Arrow local relation: writing ``protos`` runs no
Python stage.

The two tables are the steps ``distinct`` and ``protos`` of the
package's one step runner (plans/steps.py); there is no --resume. The
per-row shape is one Arrow UDF straight over the raw column: ``kv_shape``
for the ^A/^B/^C formats, ``flat_json_shape_expr`` for json-docs. A row
that repeats a key keeps its last value, as the reference's map fill does;
the job sets no session conf.

    spark-submit --py-files /tmp/schema_inference_spark.zip \
        jobs/schema_infer_job.py \
        --input  <path> --format {sequencefile|text|json-docs|parquet-kv} \
        --output <dir> [--top-k 20] [--merge-n 10]

Inputs:
  sequencefile  SequenceFile<BytesWritable,Text> of ^A/^B/^C rows (S1)
  text          newline-delimited ^A/^B/^C rows (S2)
  json-docs     newline-delimited JSON documents (one per line)
  parquet-kv    parquet with a 'value' string column of ^A/^B/^C rows

Outputs under --output:
  distinct/        (schema, count, percent) parquet — the data/distinct table
  top_schemas.json top-k rows as JSON lines
  merged_schema.json  the A8 superset schema
  protos/          one row per .proto file (file_name, content) parquet
  metrics.json     shape counts + per-step rows and wall seconds ('stages')

Exit 0 on success; 1 if no parseable rows were found; 2 on a usage error
(argparse), such as a --top-k or --merge-n below 1.
"""

from __future__ import annotations

import argparse
import json
import sys


def _at_least_one(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--format", default="sequencefile",
                    choices=("sequencefile", "text", "json-docs", "parquet-kv"))
    ap.add_argument("--output", required=True)
    ap.add_argument("--top-k", type=_at_least_one, default=20)  # Constants.java:16 collects 20
    ap.add_argument("--merge-n", type=_at_least_one, default=10)  # merges top 10
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from schema_inference_spark.functions.json_shape import (
        flat_json_shape_expr,
        flat_shape_schema,
        kv_shape,
    )
    from schema_inference_spark.functions.type_inference import merge_schemas
    from schema_inference_spark.operators.proto import (
        concat_proto_files,
        proto_hierarchy,
        proto_lines_df,
        with_metadata_message,
    )
    from schema_inference_spark.operators.shapes import shape_counts, top_k_counts
    from schema_inference_spark.plans.steps import Steps
    from schema_inference_spark.sources.sequencefile import read_sequencefile_values
    from schema_inference_spark.sources.tables import ensure_utc

    spark = SparkSession.builder.getOrCreate()
    ensure_utc(spark)
    run = Steps("schema-infer", args.output, {k: v for k, v in vars(args).items() if k != "output"})
    run.begin(spark)

    if args.format == "sequencefile":
        rows = read_sequencefile_values(spark, args.input)
    elif args.format == "parquet-kv":
        rows = spark.read.parquet(args.input).select("value")
    else:  # text, json-docs: one row per line
        rows = spark.read.text(args.input)

    shape = flat_json_shape_expr if args.format == "json-docs" else kv_shape
    shaped = rows.select(shape(F.col("value")).alias("schema"))

    # shape_counts drops the null shapes (reference P4 null-row filter)
    distinct = run.step("distinct", lambda: shape_counts(shaped, F.col("schema")))
    top = top_k_counts(distinct, max(args.top_k, args.merge_n)).collect()
    if not top:
        run.finish(top_k_shapes=0)
        print("no parseable rows found")
        return 1
    with open(f"{args.output}/top_schemas.json", "w", encoding="utf-8") as f:
        for r in top[: args.top_k]:
            f.write(json.dumps(
                {"schema": r["schema"], "count": r["count"], "percent": r["percent"]}
            ) + "\n")

    # a flat shape keeps keys raw, so one with a key JSON must escape is
    # not JSON: read it back by its own grammar
    schema_of = flat_shape_schema if args.format == "json-docs" else json.loads
    merged = None
    for r in top[: args.merge_n]:
        merged = merge_schemas(merged, schema_of(r["schema"]))
    with open(f"{args.output}/merged_schema.json", "w", encoding="utf-8") as f:
        json.dump(merged, f, indent=2)

    hierarchy = with_metadata_message(proto_hierarchy(merged))
    run.step("protos", lambda: concat_proto_files(proto_lines_df(spark, hierarchy)))
    summary = run.finish(
        top_k_shapes=len(top[: args.top_k]),
        merged_shapes=len(top[: args.merge_n]),
        proto_messages=len(hierarchy),
    )
    print(f"schema-infer: {summary['top_k_shapes']} distinct shapes (top-{args.top_k}), "
          f"merged {summary['merged_shapes']}, "
          f"{summary['proto_messages']} proto messages emitted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
