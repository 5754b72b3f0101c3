"""Shared operator plumbing."""

from __future__ import annotations

from typing import Any, Dict, Optional

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def materialize(df: DataFrame, path: Optional[str] = None,
                **observed: Column) -> Dict[str, Any]:
    """Run the one action that materializes ``df``, a parquet write to
    ``path`` or else a ``noop`` write (which fills a lazy
    ``localCheckpoint`` or a cache), and return what an ``Observation``
    on it saw: ``rows`` and each ``observed`` aggregate."""
    observation = Observation()
    watched = df.observe(observation, F.count(F.lit(1)).alias("rows"),
                         *(col.alias(k) for k, col in observed.items()))
    watched.write.format("parquet" if path else "noop").mode(
        "overwrite").save(path)
    return observation.get


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow input toward full parallelism.

    CPU-heavy narrow stages (Arrow UDFs, heavy regex scans) inherit the
    scan partitioning, and a single-file parquet input (one row group =
    one split, regardless of ``maxPartitionBytes``) pins them to one
    core. Fire only when the stage would otherwise run on fewer than
    3/4 of the scheduler's slots: re-shuffling a text/media payload for
    a <= 1.33x stage speedup is not worth it (ADVICE r5), and project
    to the needed columns BEFORE calling this so only they shuffle.
    Inert at scale, where scans arrive in many splits, and on inputs
    that already pass through an exchange.
    """
    if df.isStreaming:
        # No static partitioning to inspect (df.rdd is illegal on a
        # stream); micro-batch sizing is the stream's own knob.
        return df
    # Under AQE, df.rdd on a plan with an exchange runs the upstream
    # stages to size its partitions; the physical plan only plans. An
    # adaptive plan has an exchange, so its partitioning is set already.
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, (3 * parallelism) // 4):
        return df.repartition(parallelism)
    return df
