"""Streaming/batch equivalence and proto emission."""

from __future__ import annotations

from schema_inference_spark.operators.proto import (
    concat_proto_files,
    proto_hierarchy,
    proto_lines_df,
)


def test_streaming_equals_batch(spark, sf_dir):
    from schema_inference_spark.queries.catalog_core import hourly_event_windows
    from schema_inference_spark.queries.catalog_images import streaming_hourly_windows

    batch = {tuple(r) for r in hourly_event_windows(spark, sf_dir).collect()}
    stream = {tuple(r) for r in streaming_hourly_windows(spark, sf_dir).collect()}
    assert batch == stream and len(batch) > 0


NESTED = {
    "type": "object",
    "properties": {
        "ts": {"type": "integer"},
        "killer": {
            "type": "object",
            "properties": {"id": {"type": "integer"}, "score": {"type": "number"}},
        },
        "assists": {"type": "array", "items": {"type": "object", "properties": {"id": {"type": "integer"}}}},
        "tags": {"type": "array", "items": {"type": "string"}},
    },
}


def test_proto_hierarchy_semantics():
    h = proto_hierarchy(NESTED, root="Event")
    assert h["Event"]["ts"] == "int32"
    assert h["Event"]["killer"] == "EventKiller"
    assert h["Event"]["assists"] == "repeated EventAssists"
    assert h["Event"]["tags"] == "repeated string"
    assert h["EventKiller"] == {"id": "int32", "score": "float"}
    assert h["EventAssists"] == {"id": "int32"}


def test_proto_concat_order_safe(spark):
    h = proto_hierarchy(NESTED, root="Event")
    lines = proto_lines_df(spark, h).repartition(7)  # scramble partitioning
    files = {r["file_name"]: r["content"] for r in concat_proto_files(lines).collect()}
    ev = files["Event.proto"].splitlines()
    assert ev[0] == 'syntax = "proto3";'
    assert 'import "EventAssists.proto";' in ev and 'import "EventKiller.proto";' in ev
    assert ev[-1] == "}"
    body = [ln for ln in ev if ln.startswith("  ")]
    assert body == [
        "  repeated EventAssists assists = 1;",
        "  EventKiller killer = 2;",
        "  repeated string tags = 3;",
        "  int32 ts = 4;",
    ]


def test_metadata_envelope_injected(spark):
    """Reference TransformProtobufHierarchy.createMetadataFileWriter:244-252
    injects a ts/hostname/dt/h envelope message into every hierarchy."""
    from schema_inference_spark.operators.proto import with_metadata_message

    h = with_metadata_message(proto_hierarchy(NESTED, root="Event"))
    assert h["Metadata"] == {
        "ts": "int32",
        "hostname": "string",
        "dt": "string",
        "h": "string",
    }
    files = {
        r["file_name"]: r["content"]
        for r in concat_proto_files(proto_lines_df(spark, h)).collect()
    }
    meta = files["Metadata.proto"]
    assert "message Metadata {" in meta
    assert "int32 ts" in meta and "string hostname" in meta
    assert "string dt" in meta and "string h" in meta


def test_streaming_session_windows_equal_batch(spark, sf_dir):
    """F.session_window under Structured Streaming (watermark + availableNow)
    must produce the same per-user session summary as the batch run of the
    IDENTICAL groupBy — the streaming-ready sessionization claim of
    user_session_windows."""
    import tempfile

    from pyspark.sql import functions as F

    from schema_inference_spark.sources.tables import load_table
    from schema_inference_spark.streaming.validate_stream import run_stream_to_memory

    # watermarks require TIMESTAMP (the parquet carries TIMESTAMP_NTZ)
    ev = load_table(spark, sf_dir, "events", parallelize=False).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )

    def summarize(df):
        sessions = df.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
            F.count(F.lit(1)).alias("n_events")
        )
        return sessions.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )

    batch = {
        (r["user_id"], r["n_sessions"], r["n_events"])
        for r in summarize(ev).collect()
    }

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/in")
        stream = spark.readStream.schema(ev.schema).parquet(f"{d}/in")
        sessions = (
            stream.withWatermark("ts", "10 days")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        got_sessions = run_stream_to_memory(
            spark, sessions, "session_windows_sink", output_mode="complete"
        )
        streamed = {
            (r["user_id"], r["n_sessions"], r["n_events"])
            for r in got_sessions.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.sum("n_events").alias("n_events"),
            )
            .collect()
        }
    assert streamed == batch
