"""Iceberg source/sink adapter (jar-gated) — THE storage boundary.

Production target per north_rule: the image table, results, and the
checkpoint/lineage tables live in Iceberg. The sandbox image carries no
Iceberg runtime jar, so every call degrades explicitly:

* ``iceberg_available(spark)`` — feature-detects the catalog classes;
* ``read_table`` / ``write_table`` — Iceberg when available, parquet-dir
  fallback otherwise (identical relational contract; the rest of the
  engine is storage-agnostic by construction). ``read_table`` takes the
  table's declared DDL, so the parquet read infers nothing;
* ``append_table`` — ``writeTo(t).append()`` | parquet mode('append').

Every would-be-Iceberg write in the engine routes through this module
(r3 audit; grep '\\.write\\.' finds table writes only here). The full
call-site -> Iceberg mapping table lives in SCALE.md §Iceberg. Writers
that are deliberately NOT tables (and stay outside this boundary): the
persisted-profile JSON files in operators/shapes.py (reference S3-JSON
output parity) and /tmp staging artifacts in bench/datagen.

Remaining behavioral delta at the storage layer, and where it lands:
  - hidden partitioning   -> explicit ``part``/``centroid_id`` columns
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, identifier: str, schema: str | StructType) -> DataFrame:
    """identifier: an Iceberg table name (catalog.db.tbl) or a parquet path.

    ``schema`` is the table's declared DDL — the one its writer produces —
    or the schema of the frame that wrote it.
    The parquet read uses it instead of inferring the schema from the
    files, which would cost a Spark job; a declared column the files lack
    reads back as nulls, with no error, so never retype a DDL here. An
    Iceberg table carries its own schema, which that branch uses."""
    if "/" not in identifier and iceberg_available(spark):
        return spark.read.format("iceberg").load(identifier)
    return spark.read.schema(schema).parquet(identifier)


def write_table(
    df: DataFrame,
    identifier: str,
    mode: str = "append",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """``partition_by`` is the parquet-dir analog of the Iceberg table's
    partition spec; on the Iceberg path it is ignored — the table's own
    (possibly hidden) partitioning governs layout."""
    if "/" not in identifier and iceberg_available(df.sparkSession):
        writer = df.writeTo(identifier)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(identifier)


def append_table(df: DataFrame, identifier: str) -> None:
    """Iceberg ``writeTo(t).append()`` (ACID append) | parquet append."""
    write_table(df, identifier, mode="append")
