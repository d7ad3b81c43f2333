"""Declared-schema check.

The inversion of the reference's schema *inference*: the table schema is
declared (BASELINE.json input_hint), so the engine validates the DataFrame
schema structurally against the declared StructType. Row values are checked
against domain rules by plans/rules.py (the image suite's rules are in
plans/validation.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def schema_mismatches(df: DataFrame, declared: T.StructType) -> list[str]:
    """Structural diff vs the declared schema: human-readable mismatch list
    (driver-side, metadata only — no data read)."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    expected = {f.name: f.dataType.simpleString() for f in declared.fields}
    problems = []
    for name, dtype in expected.items():
        if name not in actual:
            problems.append(f"missing column {name}:{dtype}")
        elif actual[name] != dtype:
            problems.append(f"type mismatch {name}: declared {dtype}, actual {actual[name]}")
    for name in actual:
        if name not in expected:
            problems.append(f"unexpected column {name}:{actual[name]}")
    return problems
