"""Similarity search over embedding columns (``array<float>``).

Three paths:

- **Brute-force top-k** (the correctness baseline): broadcast the (small)
  query set, JVM-side dot products via ``zip_with`` + ``aggregate``,
  window top-k. For exact cross-engine checkability the ranking score is
  an *integer* dot product over quantized components (float summation
  order never matters).
- **LSH-bucketed** (scale path 1): random-hyperplane sign signatures
  (seeded, hash-derived — no RNG state), banded into bucket keys; only
  vectors sharing a bucket are compared. At 100 TB the bucket join
  replaces the O(N·Q) scan with per-bucket locality.
- **IVF** (scale path 2): deterministic k-means centroids trained on a
  hash-ordered sample, every vector assigned to its nearest cell
  (Arrow-batched numpy argmax — no per-element Catalyst lambdas), each
  query probes its ``nprobe`` nearest cells. Better recall/probe control
  than sign LSH when the corpus is clustered. Every IVF path joins its
  probes to the corpus through :func:`ivf_probe_join`.

Every top-k path ends in the same tail, :func:`rank_topk`: score each
(query, candidate) row with the quantized integer dot and keep the
``k`` best per query (ties to the lower key). A path only decides which
candidates reach it.

Also: embedding-cosine near-duplicate detection for dedup.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType
from pyspark.sql.window import Window

__all__ = [
    "quantized_dot",
    "batched_quantized_dot",
    "cosine",
    "batched_cosine",
    "rank_topk",
    "brute_force_topk",
    "hyperplane_signatures",
    "lsh_topk",
    "embedding_near_duplicates",
    "embedding_near_duplicates_exact",
    "kmeans_centroids",
    "ivf_assign",
    "ivf_probe_join",
    "ivf_topk",
    "ivf_topk_auto",
    "IvfIndex",
    "ivf_fit_auto",
    "ivf_probe_two_level",
    "fixed_two_level_quantizer",
    "ivf_probe_fixed",
    "ivf_topk_fixed",
    "TwoLevelQuantizer",
    "two_level_centroids",
    "ivf_assign_two_level",
    "ivf_topk_two_level",
]

_QUANT = 1_000_000  # 1e6: float32 components quantize losslessly enough


def _quantize(vec: Column) -> Column:
    """array<float> → array<bigint> of floor(x * 1e6 + 0.5).

    floor(x+0.5) rather than round(): identical semantics in every engine
    (a SQL oracle mirrors it verbatim), and integer arithmetic from here
    on is order-independent and bit-exact.
    """
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * _QUANT + F.lit(0.5)).cast(
            "long"
        ),
    )


def quantized_dot(a: Column, b: Column) -> Column:
    """Integer dot product of quantized vectors — order-independent,
    bit-exact in every engine (the oracle-checkable ranking score).

    Catalyst-expression form: documents the exact SQL-expressible
    semantics the DuckDB oracles mirror. The hot paths score through
    :func:`batched_quantized_dot` instead — interpreted HOF lambdas cost
    ~100x numpy for per-element work (measured; see SNIPPETS history) —
    and a pytest pins the two bit-identical.
    """
    return F.aggregate(
        F.zip_with(_quantize(a), _quantize(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _quantize_np(vecs: pd.Series) -> np.ndarray:
    """[n, dim] int64 of floor(x*1e6 + 0.5) — the numpy twin of
    :func:`_quantize` (float32 → float64 widening is exact, so the two
    agree bit-for-bit)."""
    mat = np.array(list(vecs), dtype=np.float64)
    return np.floor(mat * _QUANT + 0.5).astype(np.int64)


def batched_quantized_dot(a: Column, b: Column) -> Column:
    """Arrow-batched integer dot product — same values as
    :func:`quantized_dot`, computed as one numpy matmul-row per batch.

    int64 products stay exact: |q| ≤ ~1e6·|x|, so unit-scale embeddings
    give per-term ≤ 1e12 and 64-dim sums ≤ ~1e14 — far inside int64.
    """

    @F.pandas_udf(LongType())
    def qdot(av: pd.Series, bv: pd.Series) -> pd.Series:
        if len(av) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        qa = _quantize_np(av)
        qb = _quantize_np(bv)
        return pd.Series((qa * qb).sum(axis=1))

    return qdot(a, b)


def batched_cosine(a: Column, b: Column) -> Column:
    """Arrow-batched cosine similarity (double) — the hot-path twin of
    :func:`cosine` (float64 summation order differs from the Catalyst
    fold by < 1e-12 on unit-scale vectors; consumers round anyway)."""

    @F.pandas_udf(DoubleType())
    def cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        if len(av) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        ma = np.array(list(av), dtype=np.float64)
        mb = np.array(list(bv), dtype=np.float64)
        dots = (ma * mb).sum(axis=1)
        norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(np.where(norms > 0, dots / norms, 0.0))

    return cos(a, b)


def cosine(a: Column, b: Column) -> Column:
    """True cosine similarity (double) — for consumers, not for oracles."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            v,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return dot / (norm(a) * norm(b))


def rank_topk(
    candidates: DataFrame,
    k: int,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
) -> DataFrame:
    """Score and rank (query, candidate) rows: the tail of every top-k.

    ``candidates`` carries the query embedding as ``_qvec`` and the
    candidate's as ``vec_col``. Each row is scored with
    :func:`batched_quantized_dot` as ``dot_q``; ``row_number() OVER
    (PARTITION BY query ORDER BY dot_q DESC, key ASC) <= k`` is kept as
    ``rank``. Returns (query_key_col, key_col, dot_q, rank).
    """
    scored = candidates.select(
        query_key_col,
        key_col,
        batched_quantized_dot(F.col("_qvec"), F.col(vec_col)).alias("dot_q"),
    )
    w = Window.partitionBy(query_key_col).orderBy(
        F.desc("dot_q"), F.asc(key_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by quantized dot product; queries are broadcast.

    Returns (query_id, vec_id, dot_q, rank). Self-matches (same id) are
    excluded. Ties break on vec_id for determinism.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_key_col), F.col(vec_col).alias("_qvec")
        )
    )
    pairs = vectors.crossJoin(q).where(
        F.col(key_col) != F.col(query_key_col)
    )
    return rank_topk(pairs, k, key_col, vec_col, query_key_col)


def rademacher_planes(num_planes: int, dim: int, seed: int = 42):
    """Driver-computed ±1 hyperplanes, a pure function of the seed.

    Derived from sha256 so any engine (or a SQL oracle) can reproduce
    them; shipped into the plan as literals (tiny: planes x dim ints).
    """
    import hashlib

    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            digest = hashlib.sha256(
                f"clkhash-spark-plane:{seed}:{p}:{d}".encode()
            ).digest()
            row.append(1 if digest[0] % 2 else -1)
        planes.append(row)
    return planes


def hyperplane_signatures(
    vectors: DataFrame,
    num_planes: int = 16,
    seed: int = 42,
    dim: int = 64,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucket id from sign signature under seeded ±1 hyperplanes.

    The sign is taken on an *integer* dot product of quantized components,
    so bucket assignment is bit-exact across engines: one Arrow pass does
    the [n, dim] @ [dim, planes] matmul in int64 (exact — see
    :func:`batched_quantized_dot`) instead of num_planes × dim
    interpreted Catalyst lambdas per row. The DuckDB oracle
    (SQL_EMB_BUCKET_SIZES) mirrors the expression form verbatim; a
    pytest pins the two bit-identical.
    """
    planes = np.array(
        rademacher_planes(num_planes, dim, seed), dtype=np.int64
    ).T  # [dim, planes]
    weights = np.int64(1) << np.arange(num_planes, dtype=np.int64)

    @F.pandas_udf(LongType())
    def signature(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        q = _quantize_np(vecs)
        bits = (q @ planes >= 0).astype(np.int64)  # [n, planes]
        return pd.Series(bits @ weights)

    return vectors.select(
        F.col(key_col), F.col(vec_col),
        signature(F.col(vec_col)).alias("bucket"),
    )


def _table_signatures(
    vectors: DataFrame,
    num_planes: int,
    num_tables: int,
    seed: int,
    dim: int,
    key_col: str,
    vec_col: str,
) -> DataFrame:
    """(key, bucket) rows for ``num_tables`` independent plane sets.

    One [n, dim] @ [dim, tables*planes] int64 matmul computes every
    table's signature in a single Arrow pass; table ``t`` uses seed
    ``seed + 7919*t`` (so table 0 reproduces the single-table layout the
    SQL oracle mirrors) and tags its bucket with ``t`` above the sign
    bits — buckets never collide across tables.
    """
    from pyspark.sql.types import ArrayType

    planes = np.concatenate(
        [
            np.array(
                rademacher_planes(num_planes, dim, seed + 7919 * t),
                dtype=np.int64,
            ).T
            for t in range(num_tables)
        ],
        axis=1,
    )  # [dim, tables*planes]
    weights = np.int64(1) << np.arange(num_planes, dtype=np.int64)
    table_tags = np.arange(num_tables, dtype=np.int64) << num_planes

    @F.pandas_udf(ArrayType(LongType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        q = _quantize_np(vecs)
        bits = (q @ planes >= 0).astype(np.int64)
        per_table = bits.reshape(len(vecs), num_tables, num_planes)
        buckets = per_table @ weights + table_tags  # [n, tables]
        return pd.Series(list(buckets))

    return vectors.select(
        F.col(key_col), F.explode(sigs(F.col(vec_col))).alias("bucket")
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 12,
    seed: int = 42,
    dim: int = 64,
    num_tables: int = 1,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing a bucket with the
    query in at least one of ``num_tables`` independent hyperplane
    tables.

    Scale path: the vectors table is bucketed once (reusable across
    query batches; skinny (key, bucket) rows only); each query probes
    one bucket per table — a broadcastable join at realistic query
    volumes. Candidates are deduplicated as skinny (query, key) ids
    BEFORE the embedding payload is joined on, so a vector found in
    several tables ships its floats once. Recall rises with
    ``num_tables`` (union of independent draws) and falls with
    ``num_planes``; measured numbers live in COVERAGE.md.
    """
    data_buckets = _table_signatures(
        vectors, num_planes, num_tables, seed, dim, key_col, vec_col
    )
    query_buckets = _table_signatures(
        queries, num_planes, num_tables, seed, dim, query_key_col, vec_col
    )
    candidates = (
        data_buckets.join(F.broadcast(query_buckets), on="bucket")
        .where(F.col(key_col) != F.col(query_key_col))
        .select(query_key_col, key_col)
        .distinct()
    )
    q_payload = F.broadcast(
        queries.select(
            F.col(query_key_col), F.col(vec_col).alias("_qvec")
        )
    )
    joined = candidates.join(
        vectors.select(F.col(key_col), F.col(vec_col)), on=key_col
    ).join(q_payload, on=query_key_col)
    return rank_topk(joined, k, key_col, vec_col, query_key_col)


def fixed_integer_centroids(
    num_centroids: int, dim: int, seed: int = 42
) -> list:
    """Seeded integer-valued coarse-quantizer centroids (sha256-derived,
    components in [-128, 127]) — a data-independent IVF cell layout any
    engine (or a SQL oracle) reproduces exactly. Used for the
    oracle-checkable cell-assignment query; the data-adaptive
    :func:`kmeans_centroids` is the production quantizer."""
    import hashlib

    cents = []
    for c in range(num_centroids):
        row = []
        for d in range(dim):
            digest = hashlib.sha256(
                f"clkhash-spark-ivf:{seed}:{c}:{d}".encode()
            ).digest()
            row.append(digest[0] - 128)
        cents.append(row)
    return cents


def fixed_two_level_quantizer(
    c1: int, branch: int, dim: int, seed: int = 42
) -> "TwoLevelQuantizer":
    """A data-independent :class:`TwoLevelQuantizer` with sha256-derived
    integer centroids (coarse seeded at ``seed``, fine at
    ``seed + 1000003``) — the oracle-checkable twin of
    :func:`two_level_centroids`, exactly as :func:`fixed_integer_centroids`
    is the twin of :func:`kmeans_centroids`.

    Fed *quantized-integer* vectors (``floor(x·1e6 + 0.5)`` stored as
    float64), every dot inside :meth:`TwoLevelQuantizer.assign_np` is a
    sum of exact integers bounded by ``dim · 128 · ~1e6 ≈ 8.2e9 ≪ 2^53``,
    so the float64 BLAS/einsum sums are EXACT regardless of summation
    order and a SQL engine computing the same integer dots agrees
    bit-for-bit (first-max tie-break on both sides)."""
    coarse = np.array(
        fixed_integer_centroids(c1, dim, seed), dtype=np.float64
    )
    fine = np.array(
        fixed_integer_centroids(c1 * branch, dim, seed + 1000003),
        dtype=np.float64,
    ).reshape(c1, branch, dim)
    valid = np.ones((c1, branch), dtype=bool)
    return TwoLevelQuantizer(coarse, fine, valid)


def ivf_cell_fixed(
    vectors: DataFrame,
    num_centroids: int = 8,
    dim: int = 64,
    seed: int = 42,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its fixed-integer-centroid cell (1-based),
    argmax of the quantized integer dot — bit-exact across engines;
    ties break to the lowest cell index (first max)."""
    cell = _fixed_cell_expr(num_centroids, dim, seed, vec_col)
    return vectors.select(F.col(key_col), cell.alias("cell"))


def _fixed_centroid_dots(
    num_centroids: int, dim: int, seed: int, vec_col: str
) -> list:
    """Quantized integer dot of ``vec_col`` against each fixed centroid
    — pure Catalyst expressions, one list entry per cell."""
    cents = fixed_integer_centroids(num_centroids, dim, seed)
    qvec = _quantize(F.col(vec_col))
    dots = []
    for row in cents:
        plane = F.array(*[F.lit(c).cast("long") for c in row])
        dots.append(
            F.aggregate(
                F.zip_with(qvec, plane, lambda x, c: x * c),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    return dots


def _fixed_cell_expr(
    num_centroids: int, dim: int, seed: int, vec_col: str
) -> Column:
    """1-based argmax cell as a pure projection (no shuffle, no join)."""
    arr = F.array(*_fixed_centroid_dots(num_centroids, dim, seed, vec_col))
    return F.array_position(arr, F.array_max(arr))


def _chunked_argmax(pts: np.ndarray, centroids: np.ndarray,
                    chunk_bytes: int = 1 << 28) -> np.ndarray:
    """Row-chunked ``argmax(pts @ centroids.T)`` — the dot matrix for
    200k points x 25k centroids would be 40 GB materialized at once, so
    bound it to ``chunk_bytes`` (256 MB default) per slab."""
    k = len(centroids)
    rows = max(1, chunk_bytes // max(1, k * 8))
    out = np.empty(len(pts), dtype=np.int64)
    for i in range(0, len(pts), rows):
        out[i:i + rows] = np.argmax(pts[i:i + rows] @ centroids.T, axis=1)
    return out


class _single_thread_blas:
    """Pin OpenBLAS to one thread inside the block (restores on exit).

    PySpark workers run with OMP_NUM_THREADS=1 while the driver's BLAS
    may thread its gemms, and a threaded gemm can round differently —
    Lloyd then amplifies an argmax tie-flip into visibly different
    centroids (observed: 3/196 sub-cells off by ~3e-3 at 100k rows).
    Wrapping BOTH sub-fit paths in this makes the executor-side fit
    bit-identical to the driver loop. No-op when the OpenBLAS control
    symbols aren't loadable (non-OpenBLAS numpy builds), or when only
    the setter is, since the previous count could not be restored.
    """

    _lib = None
    _probed = False

    def __enter__(self):
        cls = _single_thread_blas
        if not cls._probed:
            cls._probed = True
            try:
                import ctypes
                import glob
                import os

                libs = glob.glob(os.path.join(
                    os.path.dirname(np.__file__), "..", "numpy.libs",
                    "*openblas*",
                )) or glob.glob(os.path.join(
                    os.path.dirname(np.__file__), "_core", "..", "..",
                    "scipy_openblas64", "lib", "*.so",
                ))
                for cand in libs:
                    lib = ctypes.CDLL(cand)
                    # numpy >= 2 wheels bundle scipy-openblas, which
                    # prefixes its symbols with scipy_.
                    for sym in ("openblas_set_num_threads64_",
                                "openblas_set_num_threads",
                                "scipy_openblas_set_num_threads64_",
                                "scipy_openblas_set_num_threads"):
                        if hasattr(lib, sym):
                            cls._lib = (
                                getattr(lib, sym),
                                getattr(
                                    lib,
                                    sym.replace("set", "get"),
                                    None,
                                ),
                            )
                            break
                    if cls._lib:
                        break
            except Exception:  # pragma: no cover - defensive
                cls._lib = None
        self._prev = None
        if cls._lib:
            set_fn, get_fn = cls._lib
            # Without the get-symbol the count could not be restored on
            # exit, so the pin would outlive the block: leave it alone.
            if get_fn is not None:
                self._prev = int(get_fn())
                set_fn(1)
        return self

    def __exit__(self, *exc):
        cls = _single_thread_blas
        if cls._lib and self._prev:
            cls._lib[0](self._prev)
        return False


def _lloyd(pts: np.ndarray, num_centroids: int, iters: int) -> np.ndarray:
    """Vectorized Lloyd iterations with angular (unit-norm) centroids.

    Init = first ``num_centroids`` points (the sample is already
    hash-shuffled, so this is a deterministic pseudo-random init). The
    update is one ``np.add.at`` scatter + bincount — O(n·d) per iter
    with no per-centroid Python loop (the old loop was O(k·n) mask
    scans, unusable at k≈25k). Empty cells keep their previous
    centroid.
    """
    num_centroids = max(1, min(num_centroids, len(pts)))
    centroids = pts[:num_centroids].copy()
    for _ in range(iters):
        assign = _chunked_argmax(pts, centroids)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, pts)
        counts = np.bincount(assign, minlength=num_centroids)
        nz = counts > 0
        centroids[nz] = sums[nz] / counts[nz, None]
        # normalize: assignment is by inner product, so cells are
        # angular (matches the cosine/dot ranking downstream)
        norms = np.linalg.norm(centroids, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        centroids = centroids / norms
    return centroids


def _hash_ordered_sample(
    vectors: DataFrame, sample_size: int, key_col: str, vec_col: str
) -> np.ndarray:
    """The ``sample_size`` rows with the smallest ``xxhash64(key)`` — a
    seeded, order-independent pseudo-random draw (no RNG state,
    reproducible on any cluster/partitioning). At 100 TB this is one
    pushed-down top-k over the hash — the corpus is never collected.

    Arrow transfer, not ``collect()``: py4j Row materialization of a
    300k x 64-float sample measured 8.7 s — the LARGEST phase of the
    600k-vector index fit; ``toArrow`` + a flat-buffer reshape cuts it
    to under a second (same rows, same order)."""
    tbl = (
        vectors.select(vec_col)
        .orderBy(F.xxhash64(F.col(key_col)))
        .limit(sample_size)
        .toArrow()
    )
    col = tbl.column(0).combine_chunks()
    n = len(col)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    offsets = col.offsets.to_numpy()
    widths = np.diff(offsets)
    values = np.asarray(col.values, dtype=np.float64)
    if (widths == widths[0]).all():
        # fixed-dim fast path: one contiguous reshape over the Arrow
        # values buffer (no per-row Python)
        return values[offsets[0]:offsets[-1]].reshape(n, int(widths[0]))
    return np.array(col.to_pylist(), dtype=np.float64)


def ivf_probe_join(
    corpus: DataFrame,
    probes: DataFrame,
    cell_col: str,
    key_col: str = "vec_id",
    query_key_col: str = "query_id",
) -> DataFrame:
    """The candidate join of every IVF path: ``corpus ⋈ broadcast(probes)``
    on the cell column, minus self-matches. Probes are skinny
    (cell, query) rows, so the broadcast ships no corpus data."""
    return corpus.join(F.broadcast(probes), on=cell_col).where(
        F.col(key_col) != F.col(query_key_col)
    )


def ivf_probe_fixed(
    vectors: DataFrame,
    num_centroids: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    seed: int = 42,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode each vector to its ``nprobe`` best fixed-centroid cells.

    Ranking is (quantized integer dot DESC, cell index ASC) — bit-exact
    in any engine, so the probe step itself is oracle-checkable. Pure
    Catalyst expressions: the (-dot, cell) structs are sorted with
    ``sort_array`` (struct ordering is field-by-field) and sliced.
    """
    dots = _fixed_centroid_dots(num_centroids, dim, seed, vec_col)
    pairs = F.array(*[
        F.struct(
            (F.lit(0).cast("long") - d).alias("nd"),
            F.lit(i + 1).cast("long").alias("cell"),
        )
        for i, d in enumerate(dots)
    ])
    top = F.slice(F.sort_array(pairs), 1, nprobe)
    return vectors.select(
        F.col(key_col),
        F.col(vec_col),
        F.explode(F.transform(top, lambda s: s.getField("cell")))
        .alias("cell"),
    )


def ivf_topk_fixed(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    seed: int = 42,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k over the FIXED integer coarse quantizer —
    the oracle-checkable twin of :func:`ivf_topk` (same plan shape:
    corpus assigned once, queries explode to skinny (cell, query) rows
    broadcast into the cell join, integer-dot ranking). Each corpus
    vector lives in exactly one cell and a query's probed cells are
    distinct, so candidates need no dedup. The cell is a pure projection
    of the vector, so assignment is a zero-shuffle select."""
    cell = _fixed_cell_expr(num_centroids, dim, seed, vec_col)
    corpus = vectors.select(
        F.col(key_col), F.col(vec_col), cell.alias("cell")
    )
    probes = ivf_probe_fixed(
        queries, num_centroids, nprobe, dim, seed, query_key_col, vec_col
    ).select(
        query_key_col, F.col(vec_col).alias("_qvec"), "cell"
    )
    joined = ivf_probe_join(corpus, probes, "cell", key_col, query_key_col)
    return rank_topk(joined, k, key_col, vec_col, query_key_col)


def kmeans_centroids(
    vectors: DataFrame,
    num_centroids: Optional[int] = 16,
    iters: int = 8,
    sample_size: int = 20_000,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    points_per_centroid: int = 8,
) -> np.ndarray:
    """Deterministic Lloyd k-means on a hash-ordered sample.

    Centroid init = the first ``num_centroids`` sample rows. Training
    happens driver-side in numpy (the sample is bounded, not the
    corpus); the returned ``[num_centroids, dim]`` float64 array is
    broadcast into the assignment/probe UDFs as a literal.

    ``num_centroids=None`` auto-sizes to ``clamp(n/8, 16, 65536)``:
    recall at a fixed scan fraction RISES with quantizer granularity on
    weakly-clustered corpora (measured on the sf0.1 embeddings at 1/4
    corpus scanned: 8 cells → 0.50 recall@10, 64 → 0.70, 256 → 0.86 —
    see COVERAGE.md), so cells are kept small (~8 vectors) until the
    65536 cap bounds the driver-side centroid matmul (64-dim float64 ≈
    32 MB) and the per-query probe cost. When auto-sizing, the sample
    GROWS with the target — ``max(sample_size,
    points_per_centroid * num_centroids)`` — so the fit never
    degenerates to one-point-per-centroid (at the 65,536-cap worst
    case that is a 524k-row collect: 64-dim float64 ≈ 268 MB driver
    RAM, bounded by the cap). An *explicit* ``num_centroids`` larger
    than the sample is clamped with a ``RuntimeWarning`` (never
    silently). Past the 65,536-cell cap, :func:`two_level_centroids`
    is the growth path (cells = c1 × branch, assignment cost
    O(c1 + branch)).
    """
    if num_centroids is None:
        n = vectors.count()
        num_centroids = max(16, min(n // 8, 65536))
        sample_size = max(sample_size, points_per_centroid * num_centroids)
    pts = _hash_ordered_sample(vectors, sample_size, key_col, vec_col)
    if num_centroids > len(pts):
        import warnings

        warnings.warn(
            f"kmeans_centroids: requested {num_centroids} centroids but "
            f"the sample holds only {len(pts)} points; clamping to "
            f"{len(pts)} — pass a larger sample_size (>= "
            f"{points_per_centroid}x the centroid count) for a real fit",
            RuntimeWarning,
            stacklevel=2,
        )
    return _lloyd(pts, num_centroids, iters)


def _nearest_centroids_udf(centroids, nprobe: int):
    """Arrow-batched argmax/top-``nprobe`` over the centroid matrix
    (a float64 ``[cells, dim]`` array, or an ``sc.broadcast`` of one —
    the broadcast form keeps the 32 MB-at-cap matrix out of every UDF
    closure pickle, see :meth:`IvfIndex.broadcast`).

    Marked ``asNondeterministic`` (though the math is deterministic) as
    a Catalyst barrier: the result becomes the cell-join key, and the
    inner join's inferred ``IsNotNull(key)`` otherwise gets pushed
    below the projection and DUPLICATES the Arrow UDF — two full
    assignment passes over the corpus instead of one (observed as a
    second ArrowEvalPython node in the physical plan).
    """
    from pyspark.broadcast import Broadcast

    cent = (
        centroids if isinstance(centroids, Broadcast)
        else centroids.astype(np.float64)
    )

    if nprobe == 1:

        @F.pandas_udf(IntegerType())
        def assign(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series(np.empty(0, dtype=np.int32))
            c = np.asarray(_unwrap_broadcast(cent), dtype=np.float64)
            mat = np.array(list(vecs), dtype=np.float64)
            return pd.Series(np.argmax(mat @ c.T, axis=1).astype(np.int32))

        return assign.asNondeterministic()

    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        c = np.asarray(_unwrap_broadcast(cent), dtype=np.float64)
        mat = np.array(list(vecs), dtype=np.float64)
        dots = mat @ c.T  # [n, c]
        order = np.argsort(-dots, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    return probe.asNondeterministic()


def ivf_assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach each vector's nearest-centroid cell id (the IVF index)."""
    assign = _nearest_centroids_udf(centroids, nprobe=1)
    return vectors.select(
        F.col(key_col), F.col(vec_col),
        assign(F.col(vec_col)).alias("centroid_id"),
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: each query scans only its ``nprobe`` nearest
    IVF cells.

    Scale design: the corpus is assigned once (reusable across query
    batches, and in storage it becomes the partition key); queries
    explode to ``nprobe`` skinny (centroid_id, query) rows and broadcast
    into the cell join, so the scan cost is ``nprobe/num_centroids`` of
    the corpus per query batch. Scoring reuses the quantized integer dot
    (same ranking as :func:`brute_force_topk`, so recall is directly
    comparable), computed batch-wise in numpy.
    """
    assigned = ivf_assign(vectors, centroids, key_col, vec_col)
    probe = _nearest_centroids_udf(centroids, nprobe=nprobe)
    # nprobe=1 uses the scalar-assign UDF (nothing to explode).
    probe_col = (
        probe(F.col(vec_col)).cast("int") if nprobe == 1
        else F.explode(probe(F.col(vec_col)))
    )
    query_cells = queries.select(
        F.col(query_key_col),
        F.col(vec_col).alias("_qvec"),
        probe_col.alias("centroid_id"),
    )
    joined = ivf_probe_join(
        assigned, query_cells, "centroid_id", key_col, query_key_col
    )
    return rank_topk(joined, k, key_col, vec_col, query_key_col)


class TwoLevelQuantizer:
    """A fitted two-level (coarse × fine) IVF quantizer.

    ``coarse`` is ``[c1, dim]`` unit-norm; ``fine`` is ``[c1, branch,
    dim]`` (zero-padded where a coarse cell has fewer than ``branch``
    sub-centroids, with ``valid`` marking real rows). Global cell id =
    ``l1 * branch + l2`` — ids may have gaps; they only label cells.

    Why two levels: a flat quantizer's assignment cost is O(cells) dots
    per vector, which caps practical cell counts at ~65k (see
    :func:`kmeans_centroids`). Here assignment is O(c1 + branch) — at
    c1=4096, branch=4096 that is 8k dots for up to 16.7M cells, enough
    to keep ~8 vectors/cell beyond 10^8 vectors. This is the standard
    IVF growth path (hierarchical coarse quantization; cf. the
    inverted-multi-index family).
    """

    def __init__(self, coarse: np.ndarray, fine: np.ndarray,
                 valid: np.ndarray):
        self.coarse = coarse
        self.fine = fine
        self.valid = valid

    @property
    def branch(self) -> int:
        return self.fine.shape[1]

    @property
    def num_cells(self) -> int:
        return int(self.valid.sum())

    def assign_np(self, mat: np.ndarray,
                  chunk_bytes: int = 1 << 26) -> np.ndarray:
        """[n, dim] → int64 global cell ids, chunked so the gathered
        fine blocks stay under ``chunk_bytes`` per slab."""
        l1 = _chunked_argmax(mat, self.coarse)
        branch, dim = self.fine.shape[1], self.fine.shape[2]
        rows = max(1, chunk_bytes // max(1, branch * dim * 8))
        l2 = np.empty(len(mat), dtype=np.int64)
        for i in range(0, len(mat), rows):
            sl = slice(i, i + rows)
            blocks = self.fine[l1[sl]]          # [r, branch, dim]
            dots = np.einsum("nd,nbd->nb", mat[sl], blocks)
            dots[~self.valid[l1[sl]]] = -np.inf
            l2[sl] = np.argmax(dots, axis=1)
        return l1 * self.branch + l2

    def probe_np(self, mat: np.ndarray, nprobe: int) -> list:
        """[n, dim] → per-row list of up to ``nprobe`` global cell ids,
        best-first. Probes ``min(c1, nprobe)`` coarse cells, ranks all
        their sub-cells jointly (so a strong second coarse cell can
        out-rank a weak sub-cell of the first).

        Both sorts are STABLE, so ties are deterministic and
        SQL-expressible: coarse ties break to the lower cell id, joint
        ties to (coarse rank, branch) — reproducible on any engine."""
        c1 = len(self.coarse)
        cp = min(c1, max(1, nprobe))
        coarse_dots = mat @ self.coarse.T                   # [n, c1]
        top_l1 = np.argsort(
            -coarse_dots, axis=1, kind="stable"
        )[:, :cp]                                           # [n, cp]
        blocks = self.fine[top_l1]                          # [n,cp,b,dim]
        dots = np.einsum("nd,ncbd->ncb", mat, blocks)
        dots[~self.valid[top_l1]] = -np.inf
        flat = dots.reshape(len(mat), -1)                   # [n, cp*b]
        order = np.argsort(-flat, axis=1, kind="stable")[:, :nprobe]
        out = []
        for i in range(len(mat)):
            idx = order[i][flat[i, order[i]] > -np.inf]
            cells = top_l1[i, idx // self.branch] * self.branch \
                + idx % self.branch
            out.append(cells.astype(np.int64))
        return out


def two_level_centroids(
    vectors: DataFrame,
    num_cells: Optional[int] = None,
    branch: int = 64,
    iters: int = 8,
    sample_size: int = 20_000,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    points_per_cell: int = 4,
    max_sample: int = 1_000_000,
    distributed_fit: Optional[bool] = None,
) -> TwoLevelQuantizer:
    """Fit a :class:`TwoLevelQuantizer` on a hash-ordered sample.

    ``num_cells=None`` auto-sizes to ``clamp(n/8, 256, 2^22)``. The
    coarse level gets ``ceil(num_cells / branch)`` cells; each coarse
    cell then gets up to ``branch`` sub-centroids fitted on ITS sample
    members (sub-cell count scales with the cell's sample mass, so
    dense regions get finer cells — the point of a data-adaptive
    quantizer). The sample grows with the target
    (``points_per_cell`` × cells) but is hard-capped at ``max_sample``
    rows (64-dim float64: 512 MB driver RAM at the 1M default) with a
    ``RuntimeWarning`` when the cap engages — past that the honest fit
    needs fewer points per cell, never silently.

    The per-coarse-cell sub-fits are independent, so for large samples
    they run EXECUTOR-SIDE (``groupBy(cell).applyInPandas`` over the
    sample shipped via Arrow) instead of a driver-side Python loop over
    thousands of cells — the coarse fit is one BLAS-parallel gemm, but
    the sub-fit loop was single-threaded small gemms and dominated the
    round-5 fit wall (97-116 s at 66k cells / 600k vectors).
    ``distributed_fit=None`` auto-enables it when the sample exceeds
    50k rows; members are ordered by their sample position inside each
    group, so the fitted centroids are BIT-IDENTICAL to the driver
    loop (asserted by tests/test_round6_opt.py).
    """
    if num_cells is None:
        n = vectors.count()
        num_cells = max(256, min(n // 8, 1 << 22))
    want = max(sample_size, points_per_cell * num_cells)
    if want > max_sample:
        import warnings

        warnings.warn(
            f"two_level_centroids: target {num_cells} cells wants a "
            f"{want}-row sample; capping at max_sample={max_sample} "
            f"(~{max_sample // num_cells} points/cell)",
            RuntimeWarning,
            stacklevel=2,
        )
        want = max_sample
    pts = _hash_ordered_sample(vectors, want, key_col, vec_col)
    dim = pts.shape[1]
    c1 = max(1, min(-(-num_cells // branch), len(pts)))
    coarse = _lloyd(pts, c1, iters)
    c1 = len(coarse)

    l1 = _chunked_argmax(pts, coarse)
    order = np.argsort(l1, kind="stable")
    bounds = np.searchsorted(l1[order], np.arange(c1 + 1))
    fine = np.zeros((c1, branch, dim), dtype=np.float64)
    valid = np.zeros((c1, branch), dtype=bool)
    if distributed_fit is None:
        # Scale-dependent default, measured not assumed: at 600k rows /
        # local[8] the driver loop (single-thread BLAS) runs in 3.6 s
        # while the distributed form pays ~9 s shipping the sample via
        # Arrow + shuffle — shipping beats compute only when executor
        # count >> driver throughput, i.e. on a real cluster. (This
        # falsifies the round-5 premise that the sub-fit LOOP was the
        # 97-116 s fit wall: the phase breakdown is sample collect
        # 8.7 s [now Arrow, <1 s] + coarse Lloyd 9.4 s + assign 0.9 s +
        # sub-fits 3.6 s — see OPTIMIZATION_r06.md.)
        master = vectors.sparkSession.sparkContext.master or ""
        distributed_fit = not master.startswith("local")
    if distributed_fit:
        filled = _fit_subcells_distributed(
            vectors.sparkSession, pts, l1, branch, iters,
            points_per_cell, fine, valid,
        )
    else:
        filled = np.zeros(c1, dtype=bool)
        with _single_thread_blas():
            for c in range(c1):
                members = pts[order[bounds[c]:bounds[c + 1]]]
                if len(members) == 0:
                    continue
                k2 = max(
                    1, min(branch, len(members) // points_per_cell or 1)
                )
                sub = _lloyd(members, k2, iters)
                fine[c, : len(sub)] = sub
                valid[c, : len(sub)] = True
                filled[c] = True
    for c in np.nonzero(~filled)[0]:
        # keep empty cells addressable: the single sub-cell is the
        # coarse centroid itself.
        fine[c, 0] = coarse[c]
        valid[c, 0] = True
    return TwoLevelQuantizer(coarse, fine, valid)


def _fit_subcells_distributed(
    spark,
    pts: np.ndarray,
    l1: np.ndarray,
    branch: int,
    iters: int,
    points_per_cell: int,
    fine: np.ndarray,
    valid: np.ndarray,
) -> np.ndarray:
    """Run the per-coarse-cell Lloyd sub-fits as one
    ``applyInPandas`` over (cell, sample-position, vector) rows.

    Members are re-ordered by sample position inside each group before
    fitting — ``_lloyd``'s init is the first ``k2`` members, so order
    is part of the result — making the output bit-identical to the
    driver loop. Fills ``fine``/``valid`` in place; returns the bool
    mask of coarse cells that received a fit.
    """
    import pandas as pd

    dim = pts.shape[1]
    sample_pdf = pd.DataFrame(
        {
            "cell": l1.astype(np.int64),
            "pos": np.arange(len(pts), dtype=np.int64),
            "vec": list(pts),
        }
    )
    sample_df = spark.createDataFrame(sample_pdf)

    def fit_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        members = np.array(list(pdf["vec"]), dtype=np.float64)
        k2 = max(1, min(branch, len(members) // points_per_cell or 1))
        # single-thread BLAS on BOTH paths = bit-identical centroids
        # (PySpark workers usually already run OMP_NUM_THREADS=1;
        # enforce it so a differently-configured cluster agrees too)
        with _single_thread_blas():
            sub = _lloyd(members, k2, iters)
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "k2": [len(sub)],
                "flat": [sub.ravel().tolist()],
            }
        )

    fitted = sample_df.groupBy("cell").applyInPandas(
        fit_cell, "cell long, k2 int, flat array<double>"
    )
    # Arrow transfer back (the fine array is the payload — at the 2^22-
    # cell auto cap it is ~2 GB, which py4j row collect would choke on).
    tbl = fitted.toArrow()
    cells = tbl.column("cell").to_numpy()
    k2s = tbl.column("k2").to_numpy()
    flats = tbl.column("flat").to_pylist()
    filled = np.zeros(len(fine), dtype=bool)
    for c, k2, flat in zip(cells, k2s, flats):
        sub = np.asarray(flat, dtype=np.float64).reshape(int(k2), dim)
        fine[c, : int(k2)] = sub
        valid[c, : int(k2)] = True
        filled[c] = True
    return filled


def _unwrap_broadcast(value):
    """Resolve a possibly-``sc.broadcast``-wrapped payload INSIDE a UDF
    body (so only the tiny broadcast handle rides in the pickled
    closure, and the torrent-distributed blocks ship the arrays once
    per executor instead of once per UDF construction)."""
    from pyspark.broadcast import Broadcast

    return value.value if isinstance(value, Broadcast) else value


def _two_level_udfs(quantizer, nprobe: int):
    """Arrow-batched assignment / probe UDFs over the fitted quantizer.

    ``quantizer`` may be a :class:`TwoLevelQuantizer` or an
    ``sc.broadcast`` of one (see :meth:`IvfIndex.broadcast`): with the
    broadcast form the UDF closure pickles only the handle — the
    c1·branch·dim float64 ``fine`` array (multi-GB at the 2^22-cell
    auto cap) is no longer re-serialized into every UDF construction,
    and the driver keeps ONE copy instead of one per query batch.

    ``asNondeterministic`` for the same reason as
    :func:`_nearest_centroids_udf`: without the barrier the cell join's
    inferred IsNotNull duplicates the assignment UDF into a second
    full Arrow pass over the corpus."""
    if nprobe == 1:

        @F.pandas_udf(LongType())
        def assign(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series(np.empty(0, dtype=np.int64))
            q = _unwrap_broadcast(quantizer)
            mat = np.array(list(vecs), dtype=np.float64)
            return pd.Series(q.assign_np(mat))

        return assign.asNondeterministic()

    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def probe(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        q = _unwrap_broadcast(quantizer)
        mat = np.array(list(vecs), dtype=np.float64)
        return pd.Series(q.probe_np(mat, nprobe))

    return probe.asNondeterministic()


def ivf_assign_two_level(
    vectors: DataFrame,
    quantizer: TwoLevelQuantizer,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach each vector's two-level IVF cell id (int64). All input
    columns ride along, so callers can score on a different column
    than the one that drives the cell geometry."""
    assign = _two_level_udfs(quantizer, nprobe=1)
    return vectors.select(
        "*", assign(F.col(vec_col)).alias("centroid_id")
    )


def ivf_probe_two_level(
    queries: DataFrame,
    quantizer: TwoLevelQuantizer,
    nprobe: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode each query into its ≤ ``nprobe`` best two-level cells
    (one skinny row per probed cell, input columns riding along) — the
    query side of :func:`ivf_topk_two_level`, exposed so callers can
    compose assignment and probing themselves."""
    probe = _two_level_udfs(quantizer, nprobe=nprobe)
    probe_col = (
        probe(F.col(vec_col)) if nprobe == 1
        else F.explode(probe(F.col(vec_col)))
    )
    return queries.select("*", probe_col.alias("centroid_id"))


def ivf_topk_two_level(
    vectors: DataFrame,
    queries: DataFrame,
    quantizer: TwoLevelQuantizer,
    k: int = 10,
    nprobe: int = 8,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k over a two-level IVF index — same plan shape as
    :func:`ivf_topk` (corpus assigned once → reusable/partitionable;
    queries explode to skinny (cell, query) rows and broadcast into the
    cell join; quantized-int scoring, window top-k)."""
    assigned = ivf_assign_two_level(
        vectors.select(key_col, vec_col), quantizer, key_col, vec_col
    )
    query_cells = ivf_probe_two_level(
        queries.select(
            F.col(query_key_col), F.col(vec_col).alias("_qvec")
        ),
        quantizer, nprobe=nprobe, vec_col="_qvec",
    )
    joined = ivf_probe_join(
        assigned, query_cells, "centroid_id", key_col, query_key_col
    )
    return rank_topk(joined, k, key_col, vec_col, query_key_col)


class IvfIndex:
    """A fitted IVF index: either a flat centroid matrix or a
    :class:`TwoLevelQuantizer`, plus the auto-sizing metadata. Fit ONCE
    per corpus (the index is the expensive, driver-side step — a real
    deployment builds it once and serves many query batches), then pass
    to :func:`ivf_topk_auto` / reuse across calls."""

    def __init__(self, kind: str, centroids=None, quantizer=None):
        self.kind = kind                    # 'flat' | 'two_level'
        self.centroids = centroids          # [cells, dim] when flat
        self.quantizer = quantizer          # TwoLevelQuantizer otherwise
        self._bc = None                     # explicit sc.broadcast handle

    @property
    def num_cells(self) -> int:
        if self.kind == "flat":
            return len(self.centroids)
        return self.quantizer.num_cells

    def broadcast(self, spark) -> "IvfIndex":
        """Explicitly ``sc.broadcast`` the fitted payload ONCE.

        Without this, the quantizer rides in every assignment/probe UDF
        closure: re-pickled per UDF construction (per query batch) and
        re-held by the driver each time — at the 2^22-cell auto cap the
        ``fine`` array is ~2 GB serialized. After ``broadcast()`` the
        UDF closures carry only the broadcast handle; workers fetch the
        blocks once per executor. Call :meth:`unpersist` when the index
        is retired (documented lifecycle — broadcasts otherwise live
        until the context dies). Idempotent.
        """
        if self._bc is None:
            payload = (
                self.centroids if self.kind == "flat" else self.quantizer
            )
            self._bc = spark.sparkContext.broadcast(payload)
        return self

    @property
    def payload(self):
        """What the UDF builders should close over: the broadcast
        handle when :meth:`broadcast` has been called, else the raw
        centroids/quantizer."""
        if self._bc is not None:
            return self._bc
        return self.centroids if self.kind == "flat" else self.quantizer

    def unpersist(self) -> None:
        """Release the executor-side broadcast blocks (idempotent)."""
        if self._bc is not None:
            self._bc.unpersist()
            self._bc = None


def ivf_fit_auto(
    vectors: DataFrame,
    num_cells: Optional[int] = None,
    flat_cell_cap: int = 65_536,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Fit the IVF index, picking the quantizer for the corpus size.

    ``num_cells=None`` targets ~8 vectors/cell (``clamp(n/8, 16, 2^22)``,
    the recall-per-scan sizing COVERAGE.md measures). While the target
    fits ``flat_cell_cap`` (the O(cells)-dots-per-vector assignment
    budget of the flat path) this is :func:`kmeans_centroids`; beyond
    it the two-level (coarse × branch) quantizer takes over with
    O(c1 + branch) assignment.

    Separated from the query path on purpose: the fit draws a bounded
    sample to the driver and runs Lloyd there (minutes of numpy at the
    65k-cell cap), a FIXED index-build cost that does not scale with
    executor count — benchmark and amortize it separately from query
    throughput, which does scale.
    """
    if num_cells is None:
        n = vectors.count()
        num_cells = max(16, min(n // 8, 1 << 22))
    if num_cells <= flat_cell_cap:
        cents = kmeans_centroids(
            vectors, num_centroids=num_cells,
            key_col=key_col, vec_col=vec_col,
        )
        return IvfIndex("flat", centroids=cents)
    quantizer = two_level_centroids(
        vectors, num_cells=num_cells, key_col=key_col, vec_col=vec_col
    )
    return IvfIndex("two_level", quantizer=quantizer)


def ivf_topk_auto(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: Optional[int] = None,
    nprobe: Optional[int] = None,
    flat_cell_cap: int = 65_536,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
    index: Optional[IvfIndex] = None,
) -> DataFrame:
    """IVF top-k over an auto-sized index — same plan shape on either
    quantizer (corpus assigned once, queries explode to skinny
    broadcast probe rows, quantized-int scoring).

    ``index=None`` fits one first via :func:`ivf_fit_auto` (one-call
    convenience); pass a pre-fitted index to reuse it across query
    batches and to time/amortize the fixed fit cost separately.

    ``nprobe=None`` defaults to the quarter-probe of the flat sweep
    (``ceil(cells/4)``, the 0.862-recall@0.25-scan point) on the flat
    path; on the two-level path it defaults to ``clamp(cells//128, 16,
    1024)`` — the measured knee of the recall/scan curve at 600k
    vectors / 66k cells (`tools/two_level_recall.py`: recall@10 0.454
    at nprobe=64 / 0.10% scan, 0.932 at 128 / 0.21%, 1.0 at 512 /
    0.79%; cells//128 lands at 516 there). A quarter of millions of
    cells is never a sensible explode width — tune per corpus.
    """
    if index is None:
        index = ivf_fit_auto(
            vectors, num_cells=num_cells, flat_cell_cap=flat_cell_cap,
            key_col=key_col, vec_col=vec_col,
        )
    if index.kind == "flat":
        eff_probe = (
            nprobe if nprobe is not None
            else -(-len(index.centroids) // 4)
        )
        return ivf_topk(
            vectors, queries, index.payload, k=k, nprobe=eff_probe,
            key_col=key_col, vec_col=vec_col,
            query_key_col=query_key_col,
        )
    eff_probe = (
        nprobe if nprobe is not None
        else max(16, min(1024, index.quantizer.num_cells // 128))
    )
    return ivf_topk_two_level(
        vectors, queries, index.payload, k=k, nprobe=eff_probe,
        key_col=key_col, vec_col=vec_col, query_key_col=query_key_col,
    )


def embedding_near_duplicates_exact(
    vectors: DataFrame,
    threshold_pct: int = 20,
    num_planes: int = 6,
    seed: int = 42,
    dim: int = 64,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs with an ENGINE-EXACT threshold test — the
    oracle-checkable twin of :func:`embedding_near_duplicates`.

    ``cos(a,b) >= t`` (``t = threshold_pct / 100``) is evaluated
    entirely in integer arithmetic on the quantized vectors:
    ``dot > 0  AND  10000·dot² >= threshold_pct²·|a|²·|b|²`` — both
    sides exact integers (decimal(38,0) in Spark, HUGEINT in DuckDB),
    so no float rounding can flip a boundary pair between engines.
    Plan shape matches the float operator: one Arrow matmul for
    signatures, norms computed once per VECTOR before the bucket
    self-join (not per pair), skinny (vec_a, vec_b, dot_q) output.
    """
    with_norm = hyperplane_signatures(
        vectors, num_planes, seed, dim, key_col, vec_col
    ).withColumn(
        "nq", batched_quantized_dot(F.col(vec_col), F.col(vec_col))
    )
    left = with_norm.select(
        "bucket", F.col(key_col).alias("vec_a"),
        F.col(vec_col).alias("emb_a"), F.col("nq").alias("_na"),
    )
    right = with_norm.select(
        "bucket", F.col(key_col).alias("vec_b"),
        F.col(vec_col).alias("emb_b"), F.col("nq").alias("_nb"),
    )
    scored = (
        left.join(right, on="bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            batched_quantized_dot(
                F.col("emb_a"), F.col("emb_b")
            ).alias("dot_q"),
            "_na", "_nb",
        )
    )
    dec = "decimal(38,0)"
    p2 = threshold_pct * threshold_pct
    keep = (F.col("dot_q") > 0) & (
        F.col("dot_q").cast(dec) * F.col("dot_q").cast(dec)
        * F.lit(10_000).cast(dec)
        >= F.lit(p2).cast(dec)
        * F.col("_na").cast(dec) * F.col("_nb").cast(dec)
    )
    return scored.where(keep).select("vec_a", "vec_b", "dot_q")


def embedding_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 16,
    seed: int = 42,
    dim: int = 64,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs: bucket by hyperplane signature, then
    verify candidates with true cosine ≥ threshold."""
    buckets = hyperplane_signatures(
        vectors, num_planes, seed, dim, key_col, vec_col
    )
    left = buckets.select(
        "bucket", F.col(key_col).alias("vec_a"),
        F.col(vec_col).alias("emb_a"),
    )
    right = buckets.select(
        "bucket", F.col(key_col).alias("vec_b"),
        F.col(vec_col).alias("emb_b"),
    )
    pairs = left.join(right, on="bucket").where(
        F.col("vec_a") < F.col("vec_b")
    )
    return (
        pairs.select(
            "vec_a",
            "vec_b",
            F.round(
                batched_cosine(F.col("emb_a"), F.col("emb_b")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )
