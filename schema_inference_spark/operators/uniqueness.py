"""Uniqueness / duplicate-key checks.

The scale-critical check: at 10^12 rows a hot phash (the corpus has a
34%-class hot key, mirroring the reference's hot schema) must not melt a
reducer.

Design:
  * the duplicate-key *detection* is ``groupBy(key).count()`` — Catalyst's
    partial+final hash agg combines the hot key map-side, so each upstream
    task ships exactly one (key, partial_count) row per key: a hot key
    costs one row per task, never a skewed reducer. This is why NO manual
    salting is needed for counting (salting would add a shuffle for
    something partial aggregation already fixes).
  * recovering the violating *rows* joins the (small) duplicate-key set
    back to the table. With `broadcast_keys=True` (default) that is a
    broadcast hash join: zero shuffle of the big side, hot keys irrelevant.
    If the dup-key set is too big to broadcast, the fallback shuffle join
    is protected by AQE skew-join splitting (enabled in session.py).

Reference analog: the A1 distinct-count aggregation (SeqFilesScan.java:
297-316) with the predicate inverted (count > 1 instead of all counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_rows(df: DataFrame, cols: tuple[str, ...], broadcast_keys: bool = True) -> DataFrame:
    """Rows of ``df`` whose key ``cols`` occur more than once, plus dup_count.

    A key with a null column is never a duplicate: such rows are dropped
    before the groupBy, so the null group is neither counted nor broadcast
    (and the inner join back could not match it anyway)."""
    keyed = df
    for c in cols:
        keyed = keyed.where(F.col(c).isNotNull())
    dups = (
        keyed.groupBy(*cols)
        .count()
        .where(F.col("count") > 1)
        .withColumnRenamed("count", "dup_count")
    )
    if broadcast_keys:
        dups = F.broadcast(dups)
    return df.join(dups, list(cols), "inner")
