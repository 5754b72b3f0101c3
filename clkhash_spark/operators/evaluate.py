"""Linkage-quality evaluation: pairwise precision / recall / F1.

Matches the tutorial's evaluation shape
(/root/reference/docs/tutorial_api.ipynb cells 31-35): predicted pairs vs
ground-truth pairs (records sharing an entity id), restricted to a
candidate universe (e.g. pairs sharing a blocking key — the north rule's
"labeled pairs at the same blocking key").
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["cluster_pairs", "truth_pairs", "pairwise_metrics"]


def cluster_pairs(clusters: DataFrame, key_col: str = "key",
                  cluster_col: str = "cluster_id") -> DataFrame:
    """All intra-cluster pairs (key_a < key_b) implied by a clustering."""
    a = clusters.select(
        F.col(cluster_col).alias("_c"), F.col(key_col).alias("key_a")
    )
    b = clusters.select(
        F.col(cluster_col).alias("_c"), F.col(key_col).alias("key_b")
    )
    return (
        a.join(b, on="_c")
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
    )


def truth_pairs(truth: DataFrame, key_col: str = "url",
                entity_col: str = "entity_id") -> DataFrame:
    """All same-entity pairs (key_a < key_b) from a labeled table."""
    return cluster_pairs(truth, key_col=key_col, cluster_col=entity_col)


def pairwise_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    universe: Optional[DataFrame] = None,
) -> Dict[str, float]:
    """Pairwise precision/recall/F1 of predicted pairs vs truth pairs.

    Both inputs are (key_a, key_b) with key_a < key_b. If ``universe`` is
    given (e.g. pairs sharing a blocking key), both sides are first
    intersected with it, matching the "at the same blocking key" clause of
    the target metric.
    """
    if universe is not None:
        predicted = predicted.join(universe, on=["key_a", "key_b"],
                                   how="leftsemi")
        truth = truth.join(universe, on=["key_a", "key_b"], how="leftsemi")
    predicted = predicted.select("key_a", "key_b").distinct()
    truth = truth.select("key_a", "key_b").distinct()

    tp = predicted.join(truth, on=["key_a", "key_b"], how="leftsemi").count()
    num_predicted = predicted.count()
    num_truth = truth.count()
    precision = tp / num_predicted if num_predicted else 1.0
    recall = tp / num_truth if num_truth else 1.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if (precision + recall)
        else 0.0
    )
    # Counts stay ints (BIGINT downstream): Spark infers LongType from
    # Python ints, matching the committed expected-parquet representation.
    # Floats here previously made the driver's raw-value hash diverge
    # (600.0 vs 600) even though the values were bit-identical.
    return {
        "tp": int(tp),
        "predicted": int(num_predicted),
        "truth": int(num_truth),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
