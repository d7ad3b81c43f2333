"""Columnar table sources.

The reference scanned schemaless SequenceFiles + text files
(SeqFilesScan.java:202-233); this engine's sources are columnar parquet
(Iceberg-shaped: fixed schema, partition-prunable). Catalyst gives predicate
pushdown + column pruning for free — the profiling pass must never read the
``bytes`` payload column unless pixel checks run, which the parquet reader
guarantees via ReadSchema pruning.
"""

from __future__ import annotations

import os
import threading

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Give a CPU-bound stage at least ``target`` input splits.

    Parquet scans can't split below row-group granularity, so a small-file
    table (the local test corpus is one row group per file) runs every
    downstream projection/partial-aggregation single-threaded no matter how
    many cores the session has. When the scan already yields >= target
    splits — the production case, where a 100 TB table has thousands of
    row groups — this is a NO-OP, so no shuffle is ever added at scale;
    locally it costs one round-robin exchange of the (column-pruned) input
    and buys cores-times-parallel compute.
    """
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A driver-built table (``rows``: a list of tuples) as an Arrow local
    relation with the declared ``ddl``.

    ``createDataFrame(list, ddl)`` parallelizes pickled rows, and every read
    of the result is a ``Scan ExistingRDD`` that runs a Python-worker stage
    (one Spark job, one task per core) however few the rows. An Arrow table
    plans as a ``LocalTableScan``: collecting it starts no Spark job. Rows
    are first checked by the verifier ``createDataFrame(list, ddl)`` runs,
    so a value that does not fit its declared type raises the same error
    instead of being converted by Arrow (which would truncate 1.5 to 1 in
    an int column). Arrow is stricter in one place: a non-string value in a
    string column raises instead of being stringified."""
    schema = StructType.fromDDL(ddl)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    table = pa.Table.from_struct_array(
        pa.array(rows, type=pa.struct(to_arrow_schema(schema)))
    )
    return spark.createDataFrame(table, schema)


def ensure_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC. The engine's epoch arithmetic
    (unix_timestamp over the corpus's TIMESTAMP_NTZ columns) is
    session-timezone-dependent in Spark, while the DuckDB oracles treat
    NTZ wall-clock as UTC — so every query entry point declares UTC
    rather than assuming the caller's (e.g. the driver's) session was
    built by our get_spark."""
    # NOTE: conf.get(key, default) VALIDATES the default value in Spark 4
    # (an empty-string default throws INVALID_CONF_VALUE) — the key always
    # has a value, so read it without a default.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


# (applicationId, abspath, parallelize) -> DataFrame. DataFrames are
# immutable logical plans, so handing the same object out is safe; keying by
# applicationId keeps sessions separate, and inserts from a new session
# evict every other session's entries (see load_table). The win is real:
# ensure_min_partitions' .rdd split probe costs ~0.3 s of plan translation
# per call, and every catalog query used to pay it per table per invocation
# (r3 dissection of the q3_topk_revenue 'regression' — execution was 0.06 s,
# the rest was rebuilding identical scans).
_LOAD_CACHE: dict[tuple[str, str, bool], tuple["SparkSession", DataFrame]] = {}
_LOAD_CACHE_LOCK = threading.Lock()


def _session_stopped(sess: "SparkSession") -> bool:
    try:
        return sess.sparkContext._jsc is None
    except Exception:
        return True


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = True
) -> DataFrame:
    """Load one parquet table from a scale-factor directory (memoized per
    session; see _LOAD_CACHE). Scale-factor dirs are immutable inputs — a
    path that gets overwritten must be read with spark.read.parquet
    directly (the cached plan would pin the old file listing).

    ``parallelize`` applies :func:`ensure_min_partitions` (no-op whenever
    the file layout already provides enough splits)."""
    ensure_utc(spark)
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(os.path.join(sf_dir, f"{name}.parquet")),
        parallelize,
    )
    with _LOAD_CACHE_LOCK:
        hit = _LOAD_CACHE.get(key)
    if hit is not None:
        return hit[1]
    df = spark.read.parquet(key[1])
    if parallelize:
        df = ensure_min_partitions(df)
    with _LOAD_CACHE_LOCK:
        # evict only entries whose owning session is actually STOPPED (a
        # concurrently live second session keeps its cache — ADVICE r3) so
        # a process that cycles SparkSessions doesn't pin every dead
        # session's DataFrame graph in this module-level dict forever
        for stale in [k for k, (s, _) in _LOAD_CACHE.items() if k[0] != key[0] and _session_stopped(s)]:
            del _LOAD_CACHE[stale]
        _LOAD_CACHE[key] = (spark, df)
    return df
