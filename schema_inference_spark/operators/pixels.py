"""Pixel-level invariants: decode, dimension agreement, PSNR vs reference.

This module computes the per-row facts; the three checks over them are
rules (plans/validation.py:pixel_rules) that ``apply_rules`` compiles into
one projection of this UDF's output, so each image is decoded once.

The only Python on the engine's hot path, and it is Arrow-batched: one
``mapInPandas`` over (image_id, bytes, w, h, part) yields a compact
per-row result frame (no pixels leave the UDF). Batches arrive as pandas
DataFrames via Arrow; the per-image numpy work (inflate + PSNR) is the
irreducible payload cost a real codec would also pay.

At cluster scale this stage is the only one that reads the ``bytes``
column, so it is planned as its own scan (column pruning keeps the
stats/uniqueness passes blob-free) and parallelism follows bytes size via
``spark.sql.files.maxPartitionBytes``, not row count.

Reference analog: P3 — the per-row payload-specific scalar function
(SchemaGenerator.java:46-54) — re-targeted from JSON-schema trees to
pixel invariants per BASELINE.json input_hint.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from schema_inference_spark.datagen import codec

PIXEL_RESULT_SCHEMA = (
    "image_id string, part int, w int, h int, "
    "decode_ok boolean, actual_w int, actual_h int, psnr_db double"
)


def _check_batch(batch: pd.DataFrame) -> pd.DataFrame:
    n = len(batch)
    decode_ok = np.zeros(n, dtype=bool)
    actual_w = np.full(n, -1, dtype=np.int32)
    actual_h = np.full(n, -1, dtype=np.int32)
    psnr_db = np.full(n, np.nan, dtype=np.float64)
    for i, (image_id, buf) in enumerate(zip(batch["image_id"].values, batch["bytes"].values)):
        try:
            w, h, px = codec.decode_image(buf)
        except (ValueError, struct.error, zlib.error):
            continue
        decode_ok[i] = True
        actual_w[i], actual_h[i] = w, h
        ref = codec.reference_pixels(image_id, w, h)
        psnr_db[i] = codec.psnr(px, ref)
    return pd.DataFrame(
        {
            "image_id": batch["image_id"].values,
            "part": batch["part"].values,
            "w": batch["w"].values,
            "h": batch["h"].values,
            "decode_ok": decode_ok,
            "actual_w": actual_w,
            "actual_h": actual_h,
            "psnr_db": psnr_db,
        }
    )


def pixel_check_results(images: DataFrame) -> DataFrame:
    """Per-row pixel check results (compact, no pixel data).

    Declared (w, h) are echoed through the UDF so no join back to the table
    is needed — the blob column is read exactly once and the comparison
    columns ride along in the same Arrow batches.
    """
    narrow = images.select("image_id", "bytes", "w", "h", "part")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _check_batch(batch)

    return narrow.mapInPandas(run, schema=PIXEL_RESULT_SCHEMA)
