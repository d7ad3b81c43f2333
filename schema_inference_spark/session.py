"""SparkSession factory with scale-aware defaults.

The reference engine hand-tuned Kryo + a ``-pa`` repartition knob
(SeqFilesScan.java:192-222); here the equivalents are AQE + Arrow + a
shuffle-partition count matched to the machine. On a real cluster the same
builder is used by ``spark-submit --py-files`` — only ``master`` changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def session_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's ``spark.*`` settings: what ``get_spark`` applies, and
    what a launcher passes as ``spark-submit --conf`` flags."""
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    return {
        # AQE: runtime partition coalescing + skew-join splitting. This is the
        # modern replacement for the reference's manual `-pa` knob.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow for every pandas UDF / toPandas hop (no per-row pickling).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Deterministic timestamps vs the DuckDB oracle.
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }


def get_spark(
    app_name: str = "schema_inference_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a cluster
    pass ``None`` and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    # Make this package importable by Python worker processes regardless of
    # the driver's cwd. Local-mode workers inherit the driver's PYTHONPATH
    # env (not its sys.path); on a real cluster the same is achieved with
    # ``spark-submit --py-files schema_inference_spark.zip``.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**session_conf(shuffle_partitions), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
