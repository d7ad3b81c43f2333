"""Control-character-delimited record parsing — the reference's input format.

The reference consumed rows of the form

    ts ^A hostname ^A fvalue          (Constants.java:24, 3 fields)
    fvalue = k1 ^B v1 ^C k2 ^B v2 …   (Constants.java:25-26)

parsed per-row in Java (ProcessTextColumn2.java:27-45 rejects rows without
exactly 3 fields or an empty fvalue; ProcessColumn.java:28-59 explodes the
KV payload, dropping null/empty/'null' values). This module is the same
contract as pure column expressions:

    parse_delimited(df, 'value') ->
        (ts string, hostname string, fvalue string, kv map<string,string>)

``str_to_map`` does the ^C/^B explosion in one codegen'd expression; the
shape pipeline (functions/json_shape.py) then consumes the map directly —
no JSON document string needs to be materialized at all, which skips the
reference's quote-per-inferred-type JSON assembly step entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FIELD_SEP = "\x01"  # ^A
KV_SEP = "\x02"  # ^B
PAIR_SEP = "\x03"  # ^C


def parse_delimited(df: DataFrame, col: str = "value", drop_empty: bool = True) -> DataFrame:
    """Split ^A records and explode the ^C/^B KV payload into a map.

    Rows with != 3 fields or an empty payload are dropped (reference P1
    null-filter semantics, ProcessTextColumn2.java:33-41 + P4).

    ``drop_empty`` drops null/empty/'null' VALUES from the map (production
    semantics, JsonUtils.checkAndProcessIfJson:93-105). Pass False to keep
    them — the reference's schema-tree fixture (src/test/resources/json/
    12.json) types empty values as 'null' instead of dropping them.

    A payload that repeats a key follows the session's
    ``spark.sql.mapKeyDedupPolicy``. Spark's default, EXCEPTION, fails the
    whole query with ``[DUPLICATED_MAP_KEY]`` on that one row.
    jobs/schema_infer_job.py pins LAST_WIN, the reference's rule: its
    splitFColumnIntoMap fills a map pair by pair, so the last value wins."""
    fields = F.split(F.col(col), FIELD_SEP)
    parsed = df.select(
        F.element_at(fields, 1).alias("ts"),
        F.element_at(fields, 2).alias("hostname"),
        F.element_at(fields, 3).alias("fvalue"),
        F.size(fields).alias("_nf"),
    ).where((F.col("_nf") == 3) & (F.length("fvalue") > 0))
    kv = F.str_to_map(F.col("fvalue"), F.lit(PAIR_SEP), F.lit(KV_SEP))
    if drop_empty:
        # production value hygiene (ProcessColumn.formJsonFromRow:61-91):
        # sanitize (strip NUL/newlines, trim), then drop null/empty/'null'
        # (checkAndProcessIfJson, JsonUtils.java:93-105) and any non-ASCII
        # value (CommonUtils.isPureAscii:138-148 — the reference emits only
        # pure-ASCII values into the assembled JSON).
        kv = F.transform_values(
            kv, lambda _k, v: F.trim(F.translate(v, "\u0000\n\r", ""))
        )
        kv = F.map_filter(
            kv,
            lambda _k, v: v.isNotNull()
            & (v != "")
            & (F.lower(v) != "null")
            & ~v.rlike("[^\\x00-\\x7F]"),
        )
    return parsed.drop("_nf").withColumn("kv", kv)
