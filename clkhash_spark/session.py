"""SparkSession construction tuned for the CLK pipeline.

``session_confs`` is the one conf table: ``build_session`` sets it on a
local builder, and ``tools/scaling_bench.py`` puts the same table on the
``spark-submit`` line, so the same code runs at N and 4N executors
unchanged.
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import SparkSession

# Arrow batches of ~10k rows keep encode UDF memory bounded
# (~10k rows x 128 B CLK + masks ≈ tens of MB per task).
DEFAULT_ARROW_BATCH = 10_000


def session_confs(
    cores: int, shuffle_partitions: Optional[int] = None
) -> Dict[str, str]:
    """The tuning confs for ``cores`` task slots, as strings."""
    if shuffle_partitions is None:
        # ~2x task slots keeps all cores busy without tiny-partition
        # overhead at local scale; AQE coalesces further at runtime.
        shuffle_partitions = max(2 * cores, 8)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            str(DEFAULT_ARROW_BATCH),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
    }


def build_session(
    app_name: str = "clkhash-spark",
    cores: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Build a local SparkSession; on a cluster, spark-submit confs win."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name).master(f"local[{cores}]")
    confs = {**session_confs(cores, shuffle_partitions), **(extra_conf or {})}
    for key, value in confs.items():
        builder = builder.config(key, str(value))
    return builder.getOrCreate()
