"""Candidate-pair generation, the pair payload join and batched Dice
scoring.

Dice semantics pinned by the reference's tests
(/root/reference/tests/test_bloomfilter.py:112-113):
``sim(a, b) = 2 * popcount(a & b) / (popcount(a) + popcount(b))``.

Linkage and document dedup share one bucket → self-join → verify plan:
``candidate_pairs`` is the package's only banded self-join (CLK bands
here, MinHash bands and shingle fingerprints in
:mod:`clkhash_spark.operators.dedup` and the entry queries), and
``pair_payload`` its only "join each side's row onto a pair" step
(CLKs for Dice, signatures and shingle sets for the dedup verifiers).

Scale notes:
- Pair generation shuffles only skinny ``(block_key, key)`` rows; the
  self-join runs on the block key with AQE skew-join enabled. Cross-band
  duplicate pairs are removed *before* the payload is attached, so each
  candidate pair's payload (2x128 B of CLK) is shuffled exactly once.
- The payload join is the one point where a record's attributes enter
  the pair stream: every column besides the key (for Dice: ``clk``,
  ``popcount`` and e.g. the user key of an int64 key id) rides through
  side-tagged, so no caller joins a side table a second time.
- Dice is computed in an Arrow UDF over uint8 matrices with a popcount
  LUT — no per-row Python. Stored popcounts are reused for the
  denominator (no re-count of a and b).
- For two-party linkage use ``candidate_pairs(blocks_a, blocks_b)``; for
  dedup use the self variant which keeps ``key_a < key_b``.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..core.vectorized import _POPCOUNT_LUT

__all__ = ["candidate_pairs", "pair_payload", "score_candidates"]


def candidate_pairs(
    blocks: DataFrame,
    other: Optional[DataFrame] = None,
    key_col: str = "url",
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
    left = blocks.select("block_key", F.col(key_col).alias("key_a"))
    if other is None:
        right = blocks.select("block_key", F.col(key_col).alias("key_b"))
        condition = F.col("key_a") < F.col("key_b")
    else:
        right = other.select("block_key", F.col(key_col).alias("key_b"))
        condition = F.lit(True)
    joined = (
        left.join(right, on="block_key", how="inner")
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


def pair_payload(
    pairs: DataFrame,
    table: DataFrame,
    key_col: str,
    other: Optional[DataFrame] = None,
) -> DataFrame:
    """Join each side's row onto ``(key_a, key_b)`` pairs.

    ``table`` is joined once on ``key_a`` and ``other`` (defaults to
    ``table``) once on ``key_b``. Every column ``c`` of a side other
    than ``key_col`` arrives as ``a_<c>`` / ``b_<c>`` — never
    ``key_<side>``, whatever ``c`` is. Output: ``key_a``, ``key_b``,
    the ``a_*`` columns, then the ``b_*`` columns.
    """
    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(key_col).alias(f"key_{tag}"),
            *(F.col(c).alias(f"{tag}_{c}") for c in df.columns
              if c != key_col),
        )

    payload_a = side(table, "a")
    payload_b = side(table if other is None else other, "b")
    return (
        pairs.join(payload_a, on="key_a")
        .join(payload_b, on="key_b")
        .select("key_a", "key_b", *payload_a.columns[1:],
                *payload_b.columns[1:])
    )


def score_candidates(
    pairs: DataFrame,
    clks: DataFrame,
    threshold: float,
    other_clks: Optional[DataFrame] = None,
    key_col: str = "url",
) -> DataFrame:
    """Join CLK payloads onto candidate pairs and keep Dice ≥ threshold.

    ``clks`` serves ``key_a``; ``other_clks`` (defaults to ``clks``)
    serves ``key_b``, through one :func:`pair_payload`. Every clks
    column other than ``key_col``, ``clk`` and ``popcount`` is carried
    through to the output as ``a_<col>`` / ``b_<col>``. Output:
    ``key_a``, ``key_b``, the carried ``a_*`` then ``b_*`` columns,
    ``score``; no CLK or popcount column.
    """
    joined = pair_payload(pairs, clks, key_col, other_clks)
    kept = [c for c in joined.columns if c not in (
        "a_clk", "a_popcount", "b_clk", "b_popcount")]

    # Score + threshold in ONE Arrow pass. The natural
    # ``withColumn(score, udf).where(score >= t)`` makes Catalyst push
    # the predicate below the projection and evaluate the Arrow UDF
    # twice (once for the Filter, once for the Project); mapInPandas
    # computes Dice once per batch and sub-threshold pairs never cross
    # back over the Arrow boundary.
    out_schema = StructType(
        [joined.schema[c] for c in kept]
        + [StructField("score", DoubleType(), False)]
    )

    def score_partition(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            mat_a = np.frombuffer(
                b"".join(pdf["a_clk"]), dtype=np.uint8).reshape(n, -1)
            mat_b = np.frombuffer(
                b"".join(pdf["b_clk"]), dtype=np.uint8).reshape(n, -1)
            inter = _POPCOUNT_LUT[mat_a & mat_b].sum(axis=1, dtype=np.int64)
            denom = (pdf["a_popcount"].to_numpy()
                     + pdf["b_popcount"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                score = np.where(denom > 0, 2.0 * inter / denom, 0.0)
            keep = score >= threshold
            yield pdf.loc[keep, kept].assign(score=score[keep])

    return joined.mapInPandas(score_partition, out_schema)


def one_to_one_matching(scored_pairs: DataFrame) -> DataFrame:
    """Greedy-style 1-1 matching via mutual best match.

    The reference tutorial uses anonlink's ``greedy_solve``
    (docs/tutorial_api.ipynb cell 26); a distributed equivalent of the
    strict greedy order is inherently sequential, so we use the standard
    mutual-best relaxation: keep a pair iff it is the highest-scoring pair
    for *both* endpoints (ties broken by the other key for determinism).
    """
    from pyspark.sql import Window

    w_a = Window.partitionBy("key_a").orderBy(
        F.desc("score"), F.asc("key_b")
    )
    w_b = Window.partitionBy("key_b").orderBy(
        F.desc("score"), F.asc("key_a")
    )
    return (
        scored_pairs.withColumn("_rank_a", F.row_number().over(w_a))
        .withColumn("_rank_b", F.row_number().over(w_b))
        .where((F.col("_rank_a") == 1) & (F.col("_rank_b") == 1))
        .drop("_rank_a", "_rank_b")
    )
