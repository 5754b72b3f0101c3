"""Stage-table utilities: per-key partial resume.

Complements :class:`clkhash_spark.pipeline.StageStore` (whole-stage
snapshot resume) with *per-key* resume — the left-anti-join pattern for
re-running only records a killed job never finished (SURVEY §2 Part C:
set ops / resumability).
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["missing_keys", "append_new"]


def missing_keys(
    inputs: DataFrame,
    existing: Optional[DataFrame],
    key_cols: Sequence[str] = ("url",),
) -> DataFrame:
    """Rows of ``inputs`` whose keys are not yet in ``existing``.

    One left-anti join on the key columns — the resume primitive: encode
    only what a previous (killed) run didn't write.
    """
    if existing is None:
        return inputs
    return inputs.join(
        existing.select(*key_cols).distinct(),
        on=list(key_cols),
        how="left_anti",
    )


def append_new(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    key_cols: Sequence[str] = ("url",),
) -> DataFrame:
    """Append only not-yet-present keys to a parquet stage table.

    Returns the full table after the append. Idempotent: re-running after
    a crash never duplicates keys.
    """
    existing = None
    if os.path.exists(path):
        try:
            existing = spark.read.parquet(path)
        except Exception:
            existing = None
    to_write = missing_keys(new_rows, existing, key_cols)
    to_write.write.mode("append").parquet(path)
    return spark.read.parquet(path)

