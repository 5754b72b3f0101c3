"""Deduplication operators for large-scale training-data pipelines.

Five families, each Spark-first and shuffle-conscious:

- **exact**: group by digest of normalized text — one shuffle of
  (digest, doc_id).
- **MinHash + LSH**: word-shingle MinHash signatures (Arrow-batched
  numpy UDF), banded into int64 LSH keys; the only shuffle is the skinny
  (block_key, doc_id) self-join. Signature hashes are md5-derived so a
  SQL oracle can reproduce them bit-for-bit.
- **SimHash**: 60-bit sign-vote fingerprint over md5 word hashes.
- **n-gram Jaccard**: exact word-shingle Jaccard for candidate pairs
  (verification step after any LSH family).

Linkage and document dedup share one bucket → self-join → verify plan:
candidates come from :func:`~clkhash_spark.operators.scoring.candidate_pairs`
(the package's one banded self-join) and each side's signature or
shingle set joins on through
:func:`~clkhash_spark.operators.scoring.pair_payload` (its one payload
join), the same two steps that feed CLK Dice scoring.
- **embedding cosine**: see :mod:`clkhash_spark.operators.similarity`.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .scoring import candidate_pairs, pair_payload

# ASCII \s to mirror the JVM/RE2 regex class used by the SQL oracles.
_WS = re.compile(r"\s+", re.ASCII)

__all__ = [
    "normalized_text",
    "exact_duplicates",
    "word_shingles",
    "minhash_signatures",
    "minhash_near_duplicates",
    "simhash",
    "shingle_jaccard",
]


def normalized_text(text: Column) -> Column:
    """Lowercase, collapse whitespace — the exact-dup canonical form."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_duplicates(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups: (digest, group size, canonical doc id).

    One hash-shuffle on the 32-char digest; map-side partial aggregation
    applies automatically. Deliberately NOT widened on narrow inputs
    (unlike the UDF/regex-heavy operators): the partial aggregation
    already collapses rows to distinct digests before the shuffle, and
    an up-front round-robin exchange of the full text costs more than
    the single-core normalize+md5 it parallelizes (measured 0.24 s
    direct vs 0.72 s widened at sf0.1; at 100 TB the scan arrives in
    many splits and the question is moot).
    """
    return (
        df.select(
            F.md5(normalized_text(F.col(text_col))).alias("text_md5"),
            F.col(key_col),
        )
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(key_col).alias("canonical_doc_id"),
        )
    )


def word_shingles(text: Column, shingle_size: int = 3) -> Column:
    """Array of ``shingle_size``-word shingles of normalized text.

    Documents shorter than the shingle size yield one whole-text shingle.
    """
    words = F.split(normalized_text(text), " ")
    n = F.size(words)
    return F.when(
        n >= shingle_size,
        F.transform(
            F.sequence(F.lit(1), n - shingle_size + 1),
            lambda i: F.array_join(F.slice(words, i, shingle_size), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


# The affine maps live in GF(p) with p = 2^31 - 1 (Mersenne prime):
# shingle base hashes and coefficients are both < p, so a*h + b < 2^62
# is exact in int64 for Spark, DuckDB, and numpy alike — and, unlike a
# small-coefficient map over a huge modulus, (a*h + b) mod p genuinely
# scrambles the ORDER of the base hashes. (A previous construction used
# a,b < 2^31 against p = 2^61-1; a*h + b then wraps the modulus at most
# once, the map is near-monotonic in h, every "permutation" picks the
# same globally-minimal shingle, and the signature agreement collapses
# to ~{0,1} — not a Jaccard estimator. Caught by the unbiasedness
# property test in tests/test_round5_ops.py.)
_MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31 - 1
_MINHASH_BASE_MOD = (1 << 31) - 1  # base hashes live in [0, p)


def minhash_coefficients(num_hashes: int, seed: int = 42):
    """Driver-derived affine coefficients a_i ∈ [1, p), b_i ∈ [0, p).

    One md5 per *shingle* plus ``num_hashes`` integer affine maps replaces
    ``num_hashes`` md5 calls per shingle — the standard Carter-Wegman
    universal-hashing MinHash construction over GF(2^31-1). Derived from
    sha256 so any engine (or a SQL oracle) regenerates them; full-field
    ``a`` is what makes each map reorder the domain (see the modulus
    note above).
    """
    coeffs = []
    for i in range(num_hashes):
        digest = hashlib.sha256(
            f"clkhash-spark-minhash:{seed}:{i}".encode()
        ).digest()
        a = 1 + int.from_bytes(digest[:8], "big") % (_MINHASH_PRIME - 1)
        b = int.from_bytes(digest[8:16], "big") % _MINHASH_PRIME
        coeffs.append((a, b))
    return coeffs


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    shingle_size: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per document (Arrow-batched numpy UDF).

    ``signature[i] = min over shingles of (a_i * H(s) + b_i) mod p`` with
    ``H(s) = md5_60bit(s) mod 2^31`` — one md5 per shingle (C-speed
    hashlib over *distinct* shingles), then all ``num_hashes`` affine maps
    + per-document minima in two vectorized numpy ops
    (outer-product + ``minimum.reduceat``). A pure Catalyst
    expression-tree version was ~100x slower (interpreted higher-order
    lambdas); semantics are engine-neutral integer math, so the SQL
    oracle reproduces results exactly.

    No shuffle: one row in, one row out (``array<bigint>``).
    """
    coeffs = minhash_coefficients(num_hashes)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)
    ws = _WS

    @F.pandas_udf(ArrayType(LongType()))
    def signature_udf(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        shingle_cache: dict = {}

        def base_hash(shingle: str) -> int:
            cached = shingle_cache.get(shingle)
            if cached is None:
                cached = (
                    int(hashlib.md5(shingle.encode()).hexdigest()[:15], 16)
                    % _MINHASH_BASE_MOD
                )
                shingle_cache[shingle] = cached
            return cached

        flat: list = []
        offsets = [0]
        for raw in texts:
            normalized = ws.sub(
                " ", ("" if raw is None else raw).strip()
            ).lower()
            words = normalized.split(" ")
            if len(words) >= shingle_size:
                shingles = [
                    " ".join(words[i:i + shingle_size])
                    for i in range(len(words) - shingle_size + 1)
                ]
            else:
                shingles = [" ".join(words)]
            flat.extend(base_hash(s) for s in shingles)
            offsets.append(len(flat))
        base = np.asarray(flat, dtype=np.int64)
        starts = np.asarray(offsets[:-1], dtype=np.int64)
        # [M, H] affine values, a*h + b < 2^62 by construction — but
        # materialized in DOC-ALIGNED SLABS and computed IN PLACE: one
        # [slab, 64] int64 buffer (product, += b, mod — no second
        # temporary), so a 2^20-row slab holds ~512 MB of transient per
        # task; 32 task slots peak ~16 GB, inside the sandbox headroom.
        # (The round-5 expression form held product AND mod output
        # simultaneously — ~1 GB/task, ~32 GB across slots — ADVICE r5.)
        slab_rows = 1 << 20
        mins = np.empty((len(starts), len(a_vec)), dtype=np.int64)
        lo = 0
        while lo < len(starts):
            hi = lo + 1
            while (hi < len(starts)
                   and offsets[hi + 1] - offsets[lo] <= slab_rows):
                hi += 1
            seg = base[offsets[lo]:offsets[hi]]
            affine = seg[:, None] * a_vec[None, :]
            affine += b_vec[None, :]
            np.mod(affine, _MINHASH_PRIME, out=affine)
            seg_starts = starts[lo:hi] - offsets[lo]
            mins[lo:hi] = np.minimum.reduceat(affine, seg_starts, axis=0)
            lo = hi
        return pd.Series(list(mins))

    # The UDF is the CPU-heavy stage and is a narrow map, so it
    # inherits the input partitioning — a small/single-file parquet
    # input would pin the whole signature pass to one core. Project to
    # (key, text) FIRST so a widening shuffle never moves unused
    # columns; see widen_if_narrow for the firing rule.
    from ._util import widen_if_narrow

    narrow = widen_if_narrow(df.select(key_col, text_col))
    return narrow.select(
        F.col(key_col), signature_udf(F.col(text_col)).alias("signature")
    )


def _minhash_bands(
    signatures: DataFrame, num_bands: int, key_col: str
) -> DataFrame:
    """LSH banding over MinHash signatures: one ``(block_key, key)`` row
    per document and band.

    Band key = int64 digest of that band's signature slice (low 60 bits
    of md5 — 8-byte longs shuffle ~4x less volume than 32-char hex
    strings, and DuckDB reproduces the value via
    ``CAST('0x' || substr(md5(..), 1, 15) AS BIGINT)``).
    """
    sig = F.col("signature")
    rows_per_band = F.floor(F.size(sig) / num_bands).cast("int")
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        b.cast("string"),
                        F.lit("|"),
                        F.array_join(
                            F.slice(sig, b * rows_per_band + 1,
                                    rows_per_band),
                            ",",
                        ),
                    )
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long"),
    )
    return signatures.select(
        F.explode(bands).alias("block_key"), F.col(key_col)
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_size: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs with the MinHash-estimated Jaccard.

    Candidates from banding (pairs colliding in several bands are
    deduplicated before verification), verified by the fraction of
    agreeing signature positions (an unbiased Jaccard estimator).
    """
    # Persist the signatures: the plan consumes them THREE times (the
    # banding self-join plus the two payload joins), and the payload
    # joins hash by different keys so no ReusedExchange
    # can deduplicate them — without the persist the signature UDF (the
    # CPU-heavy stage) is evaluated 3x per run (8 ArrowEvalPython nodes
    # in the round-5 plan, 1 after; see OPTIMIZATION_r06.md).
    # MEMORY_AND_DISK spills instead of OOMing on a 100 TB corpus; at
    # that scale a real job would checkpoint signatures to a table.
    signatures = minhash_signatures(
        df, num_hashes=num_hashes, shingle_size=shingle_size,
        text_col=text_col, key_col=key_col,
    ).persist()
    candidates = candidate_pairs(
        _minhash_bands(signatures, num_bands, key_col), key_col=key_col
    )
    matches = F.size(
        F.filter(
            F.zip_with("a_signature", "b_signature", lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        pair_payload(candidates, signatures, key_col)
        .withColumn(
            "est_jaccard",
            F.round(matches.cast("double") / F.lit(num_hashes), 6),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select(F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"),
                "est_jaccard")
    )


def simhash(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash fingerprint per document: sign vote per bit over
    md5-derived word hashes (``md5('sim:' + word)`` → low 60 bits).

    Arrow-batched pandas UDF, fully vectorized: all words in the batch
    are flattened as utf-8 bytes and deduplicated with ``pd.factorize``
    (hash-based; bytes keys are NUL-safe where str keys are not), each
    *distinct* word is md5-hashed once, and per-document vote totals are
    ``counts @ bits`` — one flat ``np.bincount`` over
    ``doc_index * n_distinct + code`` builds the [docs, distinct] count
    matrix, and a single BLAS matmul against the [distinct, 60] ±1-bit
    matrix replaces per-word accumulation. When the count matrix would
    exceed ~64M cells (very diverse batches) it falls back to
    ``np.add.reduceat`` over the gathered bit rows. float32 is exact
    here (counts < 2^24). Semantics stay md5-exact (SQL-oracle
    checkable). Measured on 500x1000-word batches vs the round-1
    per-word loop: the vote-accumulation section drops ~8x (0.2s →
    0.026s); end-to-end ~2x on diverse vocabulary and parity on a small
    shared vocabulary, where both versions are dominated by the same
    Python normalize/split.
    """
    ws = _WS

    @F.pandas_udf(LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        n = len(texts)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        word_lists = [
            ws.sub(" ", ("" if raw is None else raw).strip())
            .lower()
            .split(" ")
            for raw in texts
        ]
        doc_lens = np.fromiter(
            (len(w) for w in word_lists), dtype=np.int64, count=n
        )
        total = int(doc_lens.sum())
        flat = np.empty(total, dtype=object)
        pos = 0
        for wl in word_lists:
            for w in wl:
                flat[pos] = w.encode()
                pos += 1
        codes, uniq = pd.factorize(flat)
        u = len(uniq)
        # One md5 per distinct word in the batch.
        hashes = np.fromiter(
            (
                int(hashlib.md5(b"sim:" + w).hexdigest()[:15], 16)
                for w in uniq
            ),
            dtype=np.int64,
            count=u,
        )
        bits = (
            ((hashes[:, None] >> np.arange(60, dtype=np.int64)) & 1) * 2
            - 1
        ).astype(np.float32)  # [u, 60] of ±1
        if n * u <= 64_000_000:
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), doc_lens)
            counts = (
                np.bincount(doc_idx * u + codes, minlength=n * u)
                .reshape(n, u)
                .astype(np.float32)
            )
            votes = counts @ bits  # [n, 60]
        else:
            offsets = np.zeros(n, dtype=np.int64)
            np.cumsum(doc_lens[:-1], out=offsets[1:])
            votes = np.add.reduceat(bits[codes], offsets, axis=0)
        weights = 1 << np.arange(60, dtype=np.int64)
        out = (votes > 0) @ weights
        return pd.Series(out.astype(np.int64))

    # same CPU-parallelism guard as minhash_signatures: a small or
    # single-file input otherwise pins the Arrow UDF to one core
    from ._util import widen_if_narrow

    narrow = widen_if_narrow(df.select(key_col, text_col))
    return narrow.select(
        F.col(key_col), simhash_udf(F.col(text_col)).alias("simhash")
    )


def shingle_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    shingle_size: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Exact word-shingle Jaccard for ``(key_a, key_b)`` candidate pairs
    (verification)."""
    from ._util import widen_if_narrow

    df = widen_if_narrow(df.select(key_col, text_col))
    # Persisted: the two payload joins hash by different keys, so
    # without it the shingle transform (the expensive array-heavy
    # stage) is computed once per side.
    shingled = df.select(
        F.col(key_col),
        F.array_distinct(word_shingles(F.col(text_col), shingle_size)).alias(
            "shingles"
        ),
    ).persist()
    inter = F.size(F.array_intersect("a_shingles", "b_shingles"))
    union = F.size(F.array_union("a_shingles", "b_shingles"))
    return pair_payload(candidates, shingled, key_col).select(
        F.col("key_a").alias("doc_a"),
        F.col("key_b").alias("doc_b"),
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    )
