"""Image-engine + streaming + artifact queries.

The image constraint suite runs over the deterministic synthetic corpus
(no images in the driver's testdata), and since round 3 it carries a REAL
DuckDB oracle: datagen materializes the corpus metadata (sans bytes) plus
the generator's plain-Python violation simulation as parquet side tables
(datagen/images.py:write_image_oracle_tables), and the oracle SQL
*recomputes* every SQL-expressible check (domain, uniqueness, referential,
caption equality) from the raw metadata — only the three pixel_* checks,
which require the codec, come from the simulated violation table. The
engine's distributed joins/aggregations are therefore hash-compared
against an independent single-process recomputation, the same bar as the
relational catalog. The streaming window query's oracle is the batch SQL —
streaming/batch equivalence is its correctness claim.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schema_inference_spark.queries import QuerySpec
from schema_inference_spark.queries.catalog_core import HOURLY_SQL
from schema_inference_spark.sources.tables import load_table, local_frame

_CORPUS_N = 2000
_CORPUS_PARTS = 8


def _corpus_dfs(spark: SparkSession):
    from schema_inference_spark.datagen.images import (
        generate_image_corpus,
        images_spark_df,
        write_image_oracle_tables,
    )

    # memoized side effect: the DuckDB oracle side tables must exist
    # whenever the driver compares this query (cheap after first call)
    write_image_oracle_tables(_CORPUS_N, _CORPUS_PARTS)
    corpus = generate_image_corpus(_CORPUS_N, n_parts=_CORPUS_PARTS)
    return images_spark_df(spark, corpus)


def images_validation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_inference_spark.plans.validation import run_validation

    images, captions = _corpus_dfs(spark)
    res = run_validation(spark, images, captions)
    return res.verdicts.orderBy("part", "check_name")


def images_violations_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_inference_spark.plans.validation import run_validation

    images, captions = _corpus_dfs(spark)
    res = run_validation(spark, images, captions)
    return (
        res.violations.groupBy("check_name")
        .agg(
            F.countDistinct("image_id").alias("n_images"),
            F.count(F.lit(1)).alias("n_violations"),
        )
        .orderBy("check_name")
    )


def _image_oracle_ctes() -> str:
    """WITH-clause body recomputing the engine's violation table in DuckDB
    from the datagen side tables. Row multiplicity mirrors
    plans/validation.py:collect_violations exactly: one row per physical
    offending row (duplicated ids flag every copy; orphan captions carry
    the caption row's part; caption equality is the inner join's
    null-UNsafe inequality)."""
    from schema_inference_spark.datagen.images import FMT_DOMAIN, image_oracle_dir

    d = image_oracle_dir(_CORPUS_N, _CORPUS_PARTS)
    fmts = ", ".join(f"'{f}'" for f in FMT_DOMAIN)
    return f"""
img AS (SELECT * FROM read_parquet('{d}/images_meta.parquet')),
cap AS (SELECT * FROM read_parquet('{d}/captions_meta.parquet')),
v AS (
  SELECT part, 'domain_fmt' AS check_name, image_id FROM img
    WHERE fmt IS NULL OR fmt NOT IN ({fmts})
  UNION ALL
  SELECT part, 'domain_dims', image_id FROM img
    WHERE w IS NULL OR h IS NULL OR w <= 0 OR h <= 0
  UNION ALL
  SELECT part, 'null_caption', image_id FROM img WHERE caption IS NULL
  UNION ALL
  SELECT part, 'unique_image_id', image_id FROM img WHERE image_id IN
    (SELECT image_id FROM img GROUP BY image_id HAVING count(*) > 1)
  UNION ALL
  SELECT part, 'unique_phash', image_id FROM img WHERE phash IN
    (SELECT phash FROM img WHERE phash IS NOT NULL
     GROUP BY phash HAVING count(*) > 1)
  UNION ALL
  SELECT part, 'ref_orphan_image', image_id FROM img
    WHERE image_id NOT IN (SELECT image_id FROM cap)
  UNION ALL
  SELECT part, 'ref_orphan_caption', image_id FROM cap
    WHERE image_id NOT IN (SELECT image_id FROM img)
  UNION ALL
  SELECT i.part, 'caption_equality', i.image_id
    FROM img i JOIN cap c USING (image_id)
    WHERE i.caption IS DISTINCT FROM c.caption
  UNION ALL
  SELECT part, check_name, image_id
    FROM read_parquet('{d}/expected_violations.parquet')
    WHERE check_name LIKE 'pixel_%'
)"""


def _verdicts_sql() -> str:
    from schema_inference_spark.plans.validation import ROW_CHECKS

    checks = ", ".join(f"'{c}'" for c in ROW_CHECKS)
    return f"""
WITH {_image_oracle_ctes()},
parts AS (SELECT part, count(*) AS n_rows FROM img GROUP BY part),
checks AS (SELECT unnest([{checks}]) AS check_name),
counts AS (
  SELECT part, check_name, count(*) AS n_violations FROM v GROUP BY part, check_name
)
SELECT p.part, c.check_name, p.n_rows,
       coalesce(ct.n_violations, 0) AS n_violations,
       coalesce(ct.n_violations, 0) = 0 AS passed
FROM parts p CROSS JOIN checks c
LEFT JOIN counts ct ON ct.part = p.part AND ct.check_name = c.check_name
ORDER BY p.part, c.check_name
"""


def _violations_summary_sql() -> str:
    return f"""
WITH {_image_oracle_ctes()}
SELECT check_name, count(DISTINCT image_id) AS n_images, count(*) AS n_violations
FROM v GROUP BY check_name ORDER BY check_name
"""


def _proto_files_sql() -> str:
    """Independent DuckDB recomputation of the whole artifact lifecycle
    (VERDICT r3 #3 — flips proto_files from rows-only to hash-checked).

    Nothing is shared with operators/proto.py: the top-10 shape ranking,
    the widening-lattice fold (list_reduce in rank order — preserves the
    reference's last-write-wins, MergeBiFunction.java:47), the compact
    sort_keys JSON render, and the proto3 text assembly are all re-derived
    in SQL. The shape strings themselves are flat (events.props is a flat
    JSON object), which is what makes a pure-SQL walk possible; the
    recursive-schema merge is separately pinned by the fvalues.txt ->
    json/12.json reference-golden test."""
    from schema_inference_spark.functions.json_shape import flat_json_shape_sql

    lattice = """CASE
           WHEN l = r THEN l
           WHEN l = 'null' THEN r
           WHEN r = 'null' THEN l
           WHEN l = 'string' OR r = 'string' THEN 'string'
           WHEN (l = 'integer' AND r = 'number')
             OR (l = 'number' AND r = 'integer') THEN 'number'
           ELSE r END"""
    proto_type = ("CASE jtype WHEN 'integer' THEN 'int32' WHEN 'number' THEN 'float' "
                  "WHEN 'boolean' THEN 'bool' ELSE 'string' END")
    return f"""
WITH shaped AS (
  SELECT {flat_json_shape_sql('props')} AS schema
  FROM events WHERE props IS NOT NULL AND json_valid(props)
),
counts AS (SELECT schema, count(*) AS n FROM shaped GROUP BY schema),
topk AS (
  SELECT schema, row_number() OVER (ORDER BY n DESC, schema ASC) AS rank
  FROM counts ORDER BY n DESC, schema ASC LIMIT 10
),
kv AS (
  SELECT k AS key,
         json_extract_string(t.schema, '/properties/' || k || '/type') AS jtype,
         t.rank
  FROM topk t, unnest(json_keys(t.schema, '$.properties')) AS u(k)
),
merged AS (
  SELECT key,
         list_reduce(list(jtype ORDER BY rank), (l, r) -> {lattice}) AS jtype
  FROM kv GROUP BY key
),
merged_json AS (
  SELECT CASE WHEN count(*) = 0 THEN '{{}}' ELSE
         '{{"properties":{{' ||
         string_agg('"' || key || '":{{"type":"' || jtype || '"}}', ',' ORDER BY key) ||
         '}},"type":"object"}}' END AS content
  FROM merged
),
event_fields AS (
  SELECT key, jtype, row_number() OVER (ORDER BY key) AS idx FROM merged
),
event_proto AS (
  SELECT 'syntax = "proto3";' || chr(10) || 'message Event {{' || chr(10) ||
         string_agg('  ' || {proto_type} || ' ' || key || ' = ' || idx || ';',
                    chr(10) ORDER BY key) ||
         chr(10) || '}}' AS content
  FROM event_fields HAVING count(*) > 0
)
SELECT file_name, content FROM (
  SELECT 'Event.proto' AS file_name, content FROM event_proto
  UNION ALL
  SELECT 'Metadata.proto',
    'syntax = "proto3";' || chr(10) || 'message Metadata {{' || chr(10) ||
    '  string dt = 1;' || chr(10) || '  string h = 2;' || chr(10) ||
    '  string hostname = 3;' || chr(10) || '  int32 ts = 4;' || chr(10) || '}}'
  UNION ALL
  SELECT '_merged_schema.json', content FROM merged_json
) ORDER BY file_name
"""


def proto_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full schema-artifact lifecycle in one table: merged top-N schema
    (reference A8, emitted as the ``_merged_schema.json`` row) -> proto
    hierarchy -> order-safe whole-file assembly (reference
    GenerateProtobufHierarchy + A6/S4)."""
    from schema_inference_spark.functions.json_shape import flat_json_shape_expr
    from schema_inference_spark.operators.proto import (
        concat_proto_files,
        proto_hierarchy,
        proto_lines_df,
        with_metadata_message,
    )
    from schema_inference_spark.operators.shapes import merged_top_schema

    ev = load_table(spark, sf_dir, "events")
    merged = merged_top_schema(ev, flat_json_shape_expr(F.col("props")), merge_n=10)
    lines = proto_lines_df(spark, with_metadata_message(proto_hierarchy(merged)))
    merged_row = local_frame(
        spark,
        [("_merged_schema.json", json.dumps(merged, sort_keys=True, separators=(",", ":")))],
        "file_name string, content string",
    )
    return concat_proto_files(lines).unionByName(merged_row).orderBy("file_name")


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def streaming_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch hourly-window query executed as a Structured Streaming job
    (file source -> watermark -> tumbling window -> memory sink). Its oracle
    is the SAME SQL as the batch query — streaming/batch equivalence is the
    correctness claim."""
    from schema_inference_spark.streaming.validate_stream import (
        run_stream_to_memory,
        windowed_event_counts,
    )

    # The file-stream source requires a directory; stage one with a symlink
    # to the (read-only) events parquet.
    import hashlib
    import os

    stage = f"/tmp/spark_graft_stream/{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
    stream = spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(stage)
    out = run_stream_to_memory(
        spark, windowed_event_counts(stream), "streaming_hourly_windows_sink"
    )
    return out.orderBy("hour_epoch", "event_type")


SPECS = [
    QuerySpec("images_validation_verdicts", images_validation_verdicts, _verdicts_sql(),
              "full suite verdicts vs independent DuckDB recomputation"),
    QuerySpec("images_violations_summary", images_violations_summary,
              _violations_summary_sql(), "violation rollup vs DuckDB recomputation"),
    QuerySpec("proto_files", proto_files, _proto_files_sql(),
              "A8 schema merge + proto emission vs independent SQL walker"),
    QuerySpec("streaming_hourly_windows", streaming_hourly_windows, HOURLY_SQL,
              "streaming==batch"),
]
