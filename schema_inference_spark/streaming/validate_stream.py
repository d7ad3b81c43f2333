"""Structured Streaming front-end.

The reference is strictly batch (hourly partitions, SURVEY.md §2.9); the
north_rule keeps batch as the core but a streaming ingest path is the
natural extension for continuously-landing tables:

* ``windowed_event_counts`` — watermarked tumbling-window aggregation over
  an event stream (counts + sums per window/event_type). Used with the
  memory sink + ``processAllAvailable`` for deterministic tests; the same
  unbounded plan runs on kafka/file sources in production.
* ``run_stream_to_memory`` — drives such a plan to completion against the
  memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data watermark.

    Output carries the window start as epoch seconds so results compare
    exactly with the batch/DuckDB equivalent (date_trunc on 1-hour windows).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("hour_epoch"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_stream_to_memory(
    spark: SparkSession, stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming aggregation to completion against the memory sink
    (deterministic test/benchmark harness) and return the result table."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
