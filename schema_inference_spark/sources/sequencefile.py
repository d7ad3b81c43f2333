"""SequenceFile source — the reference's actual input format (S1).

The reference scans ``SequenceFile<BytesWritable, Text>`` and keeps only
the values (SeqFilesScan.java:209-211 ``jsc.sequenceFile(path,
BytesWritable.class, Text.class).values()``). This adapter does the same
through ``sc.sequenceFile`` (one RDD hop, unavoidable: Spark has no
DataFrame SequenceFile reader) and immediately lands in a DataFrame of raw
``value`` rows, which the shape UDF (functions/json_shape.kv_shape) parses
one Arrow batch at a time.

Scale notes:
* SequenceFiles are splittable; the Hadoop input format hands Spark one
  partition per block, so a 100 TB hourly landing zone parallelizes the
  same way the reference's did. The ``min_partitions`` knob mirrors the
  reference's ``-pa`` repartition flag (SeqFilesScan.java:215-222) without
  a shuffle (it's a read-side split hint).
* This is the ONLY RDD usage in the engine, confined to the scan; rows
  become a DataFrame before any transformation.

Text values decode as UTF-8 (Hadoop ``Text`` semantics, matching the
reference's implicit toString()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_sequencefile_values(
    spark: SparkSession, path: str, min_partitions: int | None = None
) -> DataFrame:
    """DataFrame[value string] of the Text values of a
    SequenceFile<BytesWritable, Text> path (keys dropped, like the
    reference's .values())."""
    rdd = spark.sparkContext.sequenceFile(
        path,
        keyClass="org.apache.hadoop.io.BytesWritable",
        valueClass="org.apache.hadoop.io.Text",
        minSplits=min_partitions,
    )
    values = rdd.map(lambda kv: (_to_text(kv[1]),))
    return spark.createDataFrame(values, "value string")


def _to_text(v) -> str:
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return str(v)
