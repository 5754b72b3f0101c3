"""LSH-banding blocking over CLK bit samples.

Not present in the reference library (its tutorial compares all pairs,
docs/tutorial_api.ipynb cell 26); the north rule mandates banded LSH with
salted block keys and explicit skew handling.

Scheme: ``num_bands`` bands, each sampling ``bits_per_band`` distinct bit
positions of the CLK (positions drawn deterministically from ``seed``).
Two records collide in a band iff all sampled bits are equal, so
``P(collide in ≥1 band) = 1 - (1 - s^r)^b`` where ``s`` is the per-bit
agreement probability — near-duplicate CLKs (Dice ≥ 0.7-0.8 at typical
fill) collide with overwhelming probability while unrelated records
rarely do.

Scale notes:
- Band keys are computed in one Arrow UDF pass over the packed CLK bytes
  (no per-bit Python), then ``posexplode``d JVM-side; the output is
  ``num_bands`` skinny rows (key, band_key) per record — the only data
  shuffled for candidate generation. CLK bytes are NOT duplicated per band.
- Block keys embed the band index and a salt, so a hot bit-pattern in one
  band never merges with another band's blocks, and different runs/salts
  re-randomize placement.
- Skew control: ``cap_block_size`` salt-splits blocks larger than the
  cap (web-scale boilerplate pages create mega-blocks that would
  otherwise produce O(s²) pairs). Split volume is observable via
  :func:`block_size_histogram`.
"""

from __future__ import annotations

from typing import Any, Dict, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

__all__ = [
    "band_bit_positions",
    "block_keys",
    "block_size_histogram",
    "cap_block_size",
]


def band_bit_positions(
    l: int, num_bands: int, bits_per_band: int, seed: int = 42
) -> np.ndarray:
    """Deterministic ``[num_bands, bits_per_band]`` sample of bit positions.

    Each band samples *without replacement* within the band; bands are
    independent. Seeded — never wall-clock — so every run/stage agrees.
    """
    rng = np.random.RandomState(seed)
    return np.stack(
        [
            rng.choice(l, size=bits_per_band, replace=False)
            for _ in range(num_bands)
        ]
    ).astype(np.int64)


def block_keys(
    clks: DataFrame,
    l: int,
    num_bands: int = 32,
    bits_per_band: int = 26,
    seed: int = 42,
    salt: int = 0,
    key_cols: Sequence[str] = ("url",),
) -> DataFrame:
    """Explode each CLK into ``num_bands`` (key, block_key) rows.

    ``block_key`` is a salted int64: ``band_index`` in the high bits,
    the band's sampled bit-pattern (≤ 48 bits) in the low bits, XOR'd
    with a salt-derived mask.
    """
    if bits_per_band > 48:
        raise ValueError("bits_per_band must be <= 48 to fit the key layout")
    positions = band_bit_positions(l, num_bands, bits_per_band, seed)
    byte_pos = (positions >> 3).astype(np.int64)  # [b, r]
    bit_shift = (7 - (positions & 7)).astype(np.uint8)
    weights = (1 << np.arange(bits_per_band, dtype=np.int64))  # [r]
    if salt:
        # Deterministic across processes (Python's hash() is seeded).
        import hashlib

        digest = hashlib.sha256(
            f"clkhash-spark-band-salt:{salt}".encode()
        ).digest()
        salt_mask = np.int64(int.from_bytes(digest[:6], "big"))
    else:
        salt_mask = np.int64(0)

    @F.pandas_udf(ArrayType(LongType()))
    def band_values(clk_series: pd.Series) -> pd.Series:
        raw = np.frombuffer(b"".join(clk_series), dtype=np.uint8)
        mat = raw.reshape(len(clk_series), -1)  # [n, l/8]
        # Gather sampled bytes for all bands at once: [n, b, r]
        sampled = mat[:, byte_pos]
        bits = (sampled >> bit_shift) & 1
        values = (bits.astype(np.int64) * weights).sum(axis=2)  # [n, b]
        band_ids = np.arange(num_bands, dtype=np.int64) << 48
        keyed = (values ^ salt_mask) | band_ids
        return pd.Series(list(keyed))

    exploded = clks.select(
        *key_cols, F.explode(band_values(F.col("clk"))).alias("block_key")
    )
    return exploded


def block_size_histogram(blocks: DataFrame) -> DataFrame:
    """Histogram of block sizes (log2 buckets) — the skew observable."""
    sizes = blocks.groupBy("block_key").count()
    return (
        sizes.select(
            F.floor(F.log2(F.col("count"))).cast("int").alias("log2_size")
        )
        .groupBy("log2_size")
        .agg(F.count("*").alias("num_blocks"))
        .orderBy("log2_size")
    )


def cap_block_size(
    blocks: DataFrame,
    max_block_size: int,
    key_cols: Sequence[str] = ("url",),
) -> Tuple[DataFrame, Dict[str, Any]]:
    """Enforce a block-size cap; returns ``(capped_blocks, accounting)``.

    Oversized blocks are salted into ``ceil(size / max_block_size)``
    sub-blocks via a hash of the block key and the record key
    (``key_cols[0]``) — pairs split across sub-blocks are lost for *this*
    band but near-duplicates still collide in the other
    ``num_bands - 1`` bands, so recall degrades gracefully instead of
    runtime exploding. The salt is deterministic: the pipeline passes
    the ``_kid``, a hash of the user key, so which pairs a split keeps
    does not depend on the input's partition layout.

    ONE query finds the oversized blocks (exchange-free only on input
    hash-partitioned by ``block_key``, as the pipeline's blocks cache
    is). Its collect gives ``accounting``: ``oversized_blocks`` and
    ``rows_in_oversized`` (ints) and ``pair_volume_affected`` (float, an
    upper bound on the pairs the split can lose). When it is empty — the
    common case for healthy band widths — ``blocks`` is returned as is;
    otherwise the same query is joined back. ``max_block_size`` >= 1.
    """
    if max_block_size is None or max_block_size < 1:
        raise ValueError(f"max_block_size must be >= 1: {max_block_size!r}")
    size = F.col("_block_size")
    oversized = blocks.groupBy("block_key").agg(
        F.count("*").alias("_block_size")).where(size > max_block_size)
    sizes = [row["_block_size"] for row in oversized.collect()]
    accounting = {
        "oversized_blocks": len(sizes),
        "rows_in_oversized": sum(sizes),
        "pair_volume_affected": float(sum(s * (s - 1) // 2 for s in sizes)),
    }
    if not sizes:
        return blocks, accounting
    # A null size means "not oversized": those rows keep their block key.
    annotated = blocks.join(oversized, on="block_key", how="left")
    num_splits = F.ceil(size / F.lit(max_block_size))
    # Salt by (block_key, record key), not the record key alone: the
    # block key embeds the band index, so a pair separated by the split
    # in one band lands together with probability ~1/num_splits in each
    # OTHER oversized band independently — which is exactly the graceful
    # recall degradation this function promises. Hashing only the record
    # key would put a pair in the same sub-block in every band or in
    # none, turning the cap into an all-bands pair drop.
    sub_block = F.pmod(
        F.xxhash64(F.col("block_key"), F.col(key_cols[0])), num_splits
    )
    # Collision-free rekey: any int64 is a valid block key, so hash
    # (block, sub_block) instead of packing the sub-block id into high
    # bits arithmetically — the additive form overflowed int64 (ANSI
    # error) once a mega-block needed >= 128 splits, and could alias
    # another band's key space. Forcing the sign bit keeps split keys
    # disjoint from unsplit band keys, which are always non-negative
    # (band_id occupies bits 48+, value/salt bits 0-47).
    capped = annotated.withColumn(
        "block_key",
        F.when(
            size.isNotNull(),
            F.xxhash64(
                F.lit("block-split"), F.col("block_key"), sub_block
            ).bitwiseOR(F.lit(-(1 << 63))),
        ).otherwise(F.col("block_key")),
    ).drop("_block_size")
    return capped, accounting
