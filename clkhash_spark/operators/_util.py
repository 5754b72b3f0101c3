"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


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
