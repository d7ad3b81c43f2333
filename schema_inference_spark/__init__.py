"""schema_inference_spark — a PySpark-native schema + constraint validation engine.

A from-scratch re-expression of the capabilities of the reference engine
(pupamanyu/schema-inference, a Java/RDD record-walking schema profiler) as an
idiomatic Spark DataFrame pipeline:

* per-row shape extraction -> distinct-shape counts -> top-k -> merged profile
  (the reference's core lifecycle, SeqFilesScan.java:282-373) becomes a single
  ``groupBy().agg()`` pass plus a driver-side fold over the tiny top-k set;
* schema/constraint validation (column stats, uniqueness, referential
  integrity, distribution drift, pixel/caption invariants) over an
  image+caption table at 10^12-image design scale;
* training-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding cosine), similarity search, text analysis.

Design rules (enforced throughout):
  - DataFrame/SQL first; Catalyst does pushdown/pruning/join selection.
  - Zero per-row Python; the only Python on the hot path is Arrow-batched
    pandas UDFs (pixel decode / PSNR).
  - Single-pass aggregations (partial+final hash agg) instead of the
    reference's triple lineage recomputation.
  - Explicit skew handling (salting, AQE) on hot keys.
"""

__version__ = "0.1.0"

from schema_inference_spark.session import get_spark  # noqa: F401
