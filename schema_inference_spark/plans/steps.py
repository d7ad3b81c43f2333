"""One job run's lifecycle: persisted steps under one output directory and
one record of them — the reference's chain of persisted outputs that
re-analysis resumes from (SeqScanAsJson.java:66-77), made uniform for the
three jobs. ``refused()`` is the --resume params guard; ``begin()`` clears
a fresh run's stale ``_SUCCESS`` markers, then records ``params.json``
(so a crashed fresh run cannot leave older steps resumable under params
that now match); ``step()`` writes, marks, times and counts one table;
``finish()`` writes ``metrics.json``. It sets no Spark job group: whoever
traces a run owns the groups.
"""

from __future__ import annotations

import glob
import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from schema_inference_spark.sources.iceberg import read_table, write_table


class Steps:
    def __init__(self, job: str, out: str, params: dict, resume: bool = False):
        """``params``: every flag that changes what a step would compute."""
        self.job, self.out, self.params, self.resume = job, out, params, resume
        self.stages: dict[str, dict] = {}
        self.spark: SparkSession | None = None

    def refused(self) -> bool:
        """True, after printing the difference, when a resume's recorded
        params differ from this invocation's (file inspection only)."""
        path = os.path.join(self.out, "params.json")
        if not (self.resume and os.path.exists(path)):
            return False
        with open(path, encoding="utf-8") as f:
            recorded = json.load(f)
        if recorded == self.params:
            return False
        diff = {
            k: {"recorded": recorded.get(k), "current": self.params.get(k)}
            for k in sorted(set(recorded) | set(self.params))
            if recorded.get(k) != self.params.get(k)
        }
        print(
            f"{self.job}: REFUSING to resume — recorded params differ from this "
            f"invocation (a resumed step would not reflect them): {json.dumps(diff)}. "
            "Re-run without --resume (recomputes all steps) or restore the flags."
        )
        return True

    def begin(self, spark: SparkSession) -> None:
        self.spark = spark
        os.makedirs(self.out, exist_ok=True)
        if not self.resume:
            for marker in glob.glob(os.path.join(glob.escape(self.out), "*", "_SUCCESS")):
                os.remove(marker)
        with open(os.path.join(self.out, "params.json"), "w", encoding="utf-8") as f:
            json.dump(self.params, f, indent=2)

    def step(self, name: str, build: Callable[[], DataFrame], mode: str = "overwrite",
             partition_by: tuple[str, ...] | None = None) -> DataFrame:
        """Write ``build()`` to ``<out>/<name>`` and return the table read
        back by the written schema (no inference job). Rows come from an
        Observation on the write, not a count. A resumed step whose marker
        exists is read back, unbuilt, and recorded as ``{"resumed": True}``.
        An ``append`` step reads back every run's rows."""
        path = os.path.join(self.out, name)
        if self.resume and os.path.exists(os.path.join(path, "_SUCCESS")):
            self.stages[name] = {"resumed": True}
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df = build()
        rows = Observation()
        write_table(
            df.observe(rows, F.count(F.lit(1)).alias("rows")), path,
            mode=mode, partition_by=partition_by,
        )
        self.stages[name] = {"rows": rows.get["rows"], "sec": round(time.perf_counter() - t0, 2)}
        return read_table(self.spark, path, df.schema)

    def rows(self, name: str, table: DataFrame) -> int:
        """Step ``name``'s recorded rows, or a count of ``table`` if resumed."""
        record = self.stages[name]
        return record["rows"] if "rows" in record else table.count()

    def finish(self, **summary) -> dict:
        """The record: ``summary`` plus the per-step records as ``stages``."""
        record = {**summary, "stages": self.stages}
        with open(os.path.join(self.out, "metrics.json"), "w", encoding="utf-8") as f:
            json.dump(record, f, indent=2)
        return record
