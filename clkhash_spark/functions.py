"""Column-level helper functions (the engine's scalar-function surface).

JVM-side Column expressions for CLK serialization (reference:
clkhash/serialization.py:11-23), popcounts, and Dice similarity — usable
directly in ``select``/``withColumn`` without touching the operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "clk_to_base64",
    "base64_to_clk",
    "clk_popcount",
    "dice_similarity",
]


def clk_to_base64(clk: Column) -> Column:
    """BinaryType CLK → base64 string (reference interchange format).

    Spark's ``base64`` emits MIME-chunked output (CRLF every 76 chars)
    for inputs longer than 57 bytes — a 1024-bit CLK is 128 bytes, so
    strip the line breaks to match the reference's unchunked
    ``base64.b64encode`` (clkhash/serialization.py:11-16).
    """
    return F.regexp_replace(F.base64(clk), "[\\r\\n]", "")


def base64_to_clk(text: Column) -> Column:
    """Base64 string → BinaryType CLK."""
    return F.unbase64(text)


def clk_popcount(clk: Column) -> Column:
    """Number of set bits in a BinaryType CLK, JVM-side.

    Unpacks bytes via ``bit_count`` over the binary's int64 view is not
    available pre-Spark-4 for binary, so we fold over the byte array —
    fine for occasional use; the encode operator emits a stored popcount
    column for hot paths.
    """
    # hex() the binary, then count bits per hex nibble via translate into
    # weights. Simpler and exact: aggregate over the byte array.
    return F.aggregate(
        _bytes_to_array(clk),
        F.lit(0),
        lambda acc, b: acc + F.bit_count(b.cast("long")),
    )


def _bytes_to_array(clk: Column) -> Column:
    """binary → array<int> of unsigned byte values (0..255)."""
    # Spark has no direct binary→array cast; go through hex pairs.
    hexed = F.hex(clk)
    return F.transform(
        F.sequence(F.lit(1), (F.length(hexed) / 2).cast("int")),
        lambda i: F.conv(F.substring(hexed, (i * 2 - 1).cast("int"), 2),
                         16, 10).cast("int"),
    )


def dice_similarity(
    clk_a: Column, clk_b: Column, popcount_a: Column, popcount_b: Column
) -> Column:
    """Dice coefficient of two CLKs using stored popcounts, JVM-side.

    ``2 * popcount(a & b) / (pc_a + pc_b)`` — the bitwise AND runs over
    the hex representation per byte. For bulk scoring use
    :func:`clkhash_spark.operators.scoring.score_candidates` (Arrow-batched,
    ~10x faster); this column form is for ad-hoc SQL.
    """
    a = _bytes_to_array(clk_a)
    b = _bytes_to_array(clk_b)
    inter = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.bitwiseAND(y)),
        F.lit(0),
        lambda acc, v: acc + F.bit_count(v.cast("long")),
    )
    denom = popcount_a + popcount_b
    return F.when(denom > 0, 2.0 * inter / denom).otherwise(F.lit(0.0))
