"""Candidate-pair generation and batched Dice-coefficient scoring.

Dice semantics pinned by the reference's tests
(/root/reference/tests/test_bloomfilter.py:112-113):
``sim(a, b) = 2 * popcount(a & b) / (popcount(a) + popcount(b))``.

Scale notes:
- Pair generation shuffles only skinny ``(block_key, key)`` rows; the
  self-join runs on the block key with AQE skew-join enabled. Cross-band
  duplicate pairs are removed *before* CLK bytes are attached, so each
  candidate pair's 2x128 B payload is shuffled exactly once.
- Dice is computed in an Arrow UDF over uint8 matrices with a popcount
  LUT — no per-row Python. Stored popcounts are reused for the
  denominator (no re-count of a and b).
- For two-party linkage use ``candidate_pairs(blocks_a, blocks_b)``; for
  dedup use the self variant which keeps ``key_a < key_b``.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..core.vectorized import _POPCOUNT_LUT

__all__ = ["candidate_pairs", "score_candidates"]


def candidate_pairs(
    blocks: DataFrame,
    other: Optional[DataFrame] = None,
    key_col: str = "url",
    block_col: str = "block_key",
    min_band_matches: int = 1,
) -> DataFrame:
    """Candidate pairs from shared block keys.

    Self-join (``other=None``): pairs ``(key_a < key_b)``; two-party:
    every cross pair.

    ``min_band_matches``: require collision in at least this many bands.
    With per-band collision probability ``p``, an unrelated pair passes
    ``≥2`` with probability ``≈(b·p)²/2`` instead of ``b·p`` — a
    quadratic suppression of spurious candidates for the same shuffle
    cost (the pair aggregation replaces the ``distinct``), while true
    near-duplicates (p ≈ 0.2/band, expected ~13 of 64 bands) lose
    ~1e-5 recall. This is what keeps the scored-pair volume O(n) as n
    grows; see ``tuned_blocking`` for the band-width side of the law.
    """
    left = blocks.select(
        F.col(block_col), F.col(key_col).alias("key_a")
    )
    if other is None:
        right = blocks.select(
            F.col(block_col), F.col(key_col).alias("key_b")
        )
        condition = F.col("key_a") < F.col("key_b")
    else:
        right = other.select(
            F.col(block_col), F.col(key_col).alias("key_b")
        )
        condition = F.lit(True)
    joined = (
        left.join(right, on=block_col, how="inner")
        .where(condition)
        .select("key_a", "key_b")
    )
    if min_band_matches <= 1:
        return joined.distinct()  # a pair may collide in several bands
    return (
        joined.groupBy("key_a", "key_b")
        .agg(F.count("*").alias("_band_matches"))
        .where(F.col("_band_matches") >= min_band_matches)
        .select("key_a", "key_b")
    )


def score_candidates(
    pairs: DataFrame,
    clks: DataFrame,
    threshold: float,
    other_clks: Optional[DataFrame] = None,
    key_col: str = "url",
    clk_col: str = "clk",
    popcount_col: str = "popcount",
    score_col: str = "score",
) -> DataFrame:
    """Join CLK payloads onto candidate pairs and keep Dice ≥ threshold.

    ``clks`` serves ``key_a``; ``other_clks`` (defaults to ``clks``)
    serves ``key_b``.
    """
    if other_clks is None:
        other_clks = clks
    payload_a = clks.select(
        F.col(key_col).alias("key_a"),
        F.col(clk_col).alias("clk_a"),
        F.col(popcount_col).alias("popcount_a"),
    )
    payload_b = other_clks.select(
        F.col(key_col).alias("key_b"),
        F.col(clk_col).alias("clk_b"),
        F.col(popcount_col).alias("popcount_b"),
    )
    joined = pairs.join(payload_a, on="key_a").join(payload_b, on="key_b")

    # Score + threshold in ONE Arrow pass. The natural
    # ``withColumn(score, udf).where(score >= t)`` makes Catalyst push
    # the predicate below the projection and evaluate the Arrow UDF
    # twice (once for the Filter, once for the Project); mapInPandas
    # computes Dice once per batch and sub-threshold pairs never cross
    # back over the Arrow boundary.
    out_schema = StructType([
        joined.schema["key_a"],
        joined.schema["key_b"],
        StructField(score_col, DoubleType(), False),
    ])

    def score_partition(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            mat_a = np.frombuffer(
                b"".join(pdf["clk_a"]), dtype=np.uint8).reshape(n, -1)
            mat_b = np.frombuffer(
                b"".join(pdf["clk_b"]), dtype=np.uint8).reshape(n, -1)
            inter = _POPCOUNT_LUT[mat_a & mat_b].sum(axis=1, dtype=np.int64)
            denom = (pdf["popcount_a"].to_numpy()
                     + pdf["popcount_b"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                score = np.where(denom > 0, 2.0 * inter / denom, 0.0)
            keep = score >= threshold
            yield pd.DataFrame({
                "key_a": pdf["key_a"].to_numpy()[keep],
                "key_b": pdf["key_b"].to_numpy()[keep],
                score_col: score[keep],
            })

    return joined.select(
        "key_a", "key_b", "clk_a", "clk_b", "popcount_a", "popcount_b"
    ).mapInPandas(score_partition, out_schema)


def one_to_one_matching(
    scored_pairs: DataFrame, score_col: str = "score"
) -> DataFrame:
    """Greedy-style 1-1 matching via mutual best match.

    The reference tutorial uses anonlink's ``greedy_solve``
    (docs/tutorial_api.ipynb cell 26); a distributed equivalent of the
    strict greedy order is inherently sequential, so we use the standard
    mutual-best relaxation: keep a pair iff it is the highest-scoring pair
    for *both* endpoints (ties broken by the other key for determinism).
    """
    from pyspark.sql import Window

    w_a = Window.partitionBy("key_a").orderBy(
        F.desc(score_col), F.asc("key_b")
    )
    w_b = Window.partitionBy("key_b").orderBy(
        F.desc(score_col), F.asc("key_a")
    )
    return (
        scored_pairs.withColumn("_rank_a", F.row_number().over(w_a))
        .withColumn("_rank_b", F.row_number().over(w_b))
        .where((F.col("_rank_a") == 1) & (F.col("_rank_b") == 1))
        .drop("_rank_a", "_rank_b")
    )
