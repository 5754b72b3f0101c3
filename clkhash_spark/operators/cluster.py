"""Transitive clustering: connected components over matched pairs.

One entry point, :func:`cluster_records`: each record has an int64
vertex id, computed from its key (:func:`_vertex`), and its component's
label joins onto it once, by that id. One solver,
:func:`_component_labels`, labels every vertex with its component's
minimum id on one of two paths:

- **driver**: graphs at or below an edge gate go to the driver via
  Arrow and a vectorized union-find (:func:`_union_find_labels`);
- **distributed**: alternating **large-star / small-star** contraction
  (the standard MapReduce construction — O(log² n) rounds on any graph,
  O(log n) in practice, unlike min-label propagation whose rounds grow
  with component diameter). *Large-star* re-attaches every node's
  strictly-larger neighbours to the minimum of its neighbourhood
  (itself included); *small-star*, orienting edges large→small,
  attaches every node and its smaller neighbours to the neighbourhood
  minimum. Each is one shuffle aggregation + one join, and edges shrink
  to stars. A lazy ``localCheckpoint`` per round cuts lineage; the
  ``noop`` write that fills it observes the edge-set checksum (count +
  hash sum) that detects convergence. A round is 8 jobs on a 64-edge
  chain (local[4]): that write plus 7 shuffle stages that adaptive
  execution runs while planning the checkpoint.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._util import materialize

__all__ = ["cluster_records"]

# Pair graphs at or below this edge count are clustered driver-side
# (Arrow transfer, 16 B/edge → ≤64 MB; vectorized union-find) instead of
# O(log n) rounds of Spark jobs — the rounds are almost pure fixed
# latency at small/medium scale (the clusters stage measured 0.36
# scaling efficiency at 2→8 cores).
DRIVER_GATE_EDGES = 4_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    """Attach strictly-larger neighbours to min(Γ(u) ∪ {u})."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, on="u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; attach node + smaller neighbours to the
    neighbourhood minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        oriented.join(mins, on="u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        moved.union(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _union_find_labels(u, v) -> "object":
    """Driver-side connected components over a bounded edge list —
    fully vectorized (Shiloach–Vishkin-style hooking + pointer
    jumping), no per-edge Python loop.

    Each round every edge hooks the larger of its endpoints' current
    roots onto the smaller (``np.minimum.at`` is unbuffered, so
    concurrent hooks onto one target keep the minimum), then pointer
    jumping compresses all chains. Parent values only decrease and stay
    within the component, so the fixpoint root of each component is its
    minimum index — O(log n) rounds of O(E) numpy work.

    Returns a pandas DataFrame (id, label) labelling EVERY vertex with
    the minimum int64 id of its component — the same contract as the
    distributed star-contraction fixpoint. np.unique returns ids
    sorted, so index order == value order and min-index == min-id."""
    import numpy as np
    import pandas as pd

    edges = np.stack(
        [np.asarray(u, dtype=np.int64), np.asarray(v, dtype=np.int64)],
        axis=1,
    )
    ids, inv = np.unique(edges, return_inverse=True)
    eu, ev = inv.reshape(-1, 2).T
    parent = np.arange(len(ids), dtype=np.int64)
    while True:
        pu, pv = parent[eu], parent[ev]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:  # pointer jumping to the (current) roots
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        if np.array_equal(parent[eu], parent[ev]):
            break
    return pd.DataFrame({"id": ids, "label": ids[parent]})


def _vertex(key_type: str) -> Callable[[str], Column]:
    """Computed vertex id of a key column: integer keys pass through as
    longs, other keys hash with xxhash64 (collisions negligible below
    ~10^9 distinct keys). A record's vertex id is also its singleton
    cluster id."""
    if key_type in ("bigint", "int", "long"):
        return lambda c: F.col(c).cast("long")
    return lambda c: F.xxhash64(F.col(c))


def _driver_labels(edges: DataFrame) -> Optional[DataFrame]:
    """Collect ``(u, v)`` via Arrow and label it on the driver; ``None``
    when there are no edges.

    Arrow transfer, not collect(): 16 B/edge on the wire and as numpy
    columns — collect() would materialize Row objects at ~10x that."""
    tbl = edges.select("u", "v").toArrow()
    if tbl.num_rows == 0:
        return None
    labels_pdf = _union_find_labels(
        tbl.column("u").to_numpy(), tbl.column("v").to_numpy()
    )
    return edges.sparkSession.createDataFrame(labels_pdf)


def _component_labels(
    edges: DataFrame,
    max_iterations: int,
    small_graph_edges: int,
    known_edge_bound: Optional[int],
) -> Optional[DataFrame]:
    """The one solver: ``(id, label)`` for every vertex on an edge of
    ``(u, v)`` (``u != v``; edges may repeat), labelled with the minimum
    id of its component; ``None`` when there are no edges.

    ``known_edge_bound``, when given, upper-bounds the edge count: at or
    below the gate the edges go to the driver directly, repeats
    included — the union-find accepts them — with no distinct and no
    materialize-and-checksum action. Otherwise the deduplicated edges are
    materialized once, their count rides that action's checksum, and the
    gate picks the driver union-find or the distributed star
    contraction. A gate of 0 always takes the distributed path, even
    for an empty edge set."""
    if (
        known_edge_bound is not None
        and small_graph_edges > 0  # a gate of 0 forces the distributed path
        and 0 <= known_edge_bound <= small_graph_edges
    ):
        return _driver_labels(edges)

    # the edge set's signature: its row count and this hash sum, taken
    # mod 2^31 per row so the sum can never overflow a long
    checksum = F.coalesce(
        F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 31))), F.lit(0))
    edges = edges.distinct().localCheckpoint(eager=False)
    signature = materialize(edges, h=checksum)
    if signature["rows"] == 0:
        return None
    if signature["rows"] <= small_graph_edges:
        return _driver_labels(edges)

    converged = False
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_signature = materialize(edges, h=checksum)
        if new_signature == signature:
            converged = True
            break
        signature = new_signature
    if not converged:
        # Exhausting the budget without a stable edge set means the
        # final edges may not be star-shaped — emitting labels would be
        # silently wrong. O(log n) convergence makes this unreachable in
        # practice; fail loudly rather than mislabel.
        raise RuntimeError(
            f"cluster_records did not converge within "
            f"{max_iterations} iterations"
        )

    # Fixpoint edges are stars (v → component min). Roots map to
    # themselves.
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("label"))
    roots = (
        edges.select(F.col("v").alias("id"))
        .distinct()
        .join(labels.select("id"), on="id", how="left_anti")
        .withColumn("label", F.col("id"))
    )
    return labels.unionByName(roots)


def cluster_records(
    records: DataFrame,
    pairs: DataFrame,
    key_col: str = "url",
    small_graph_edges: int = DRIVER_GATE_EDGES,
    known_edge_bound: Optional[int] = None,
    max_iterations: int = 50,
) -> DataFrame:
    """``records`` plus the ``cluster_id`` of each record's component in
    the ``(key_a, key_b)`` pair graph over ``records[key_col]``. A
    record on no pair, or only on a self-pair, is its own singleton.

    A record's vertex id is computed from its key by :func:`_vertex`,
    so ``cluster_id`` values are deterministic; keys must not collide
    on it (the linkage pipeline checks its keys' xxhash64 ids before
    banding). ``cluster_id`` is the component's minimum vertex id, so
    the labels join onto the records once, by vertex id, as
    ``coalesce(label, id)``.

    Graphs of at most ``small_graph_edges`` edges (default
    ``DRIVER_GATE_EDGES``) are solved on the driver in one
    vectorized pass instead of O(log n) rounds of Spark jobs, which at
    small/medium scale are pure fixed latency (~16 s for 29k edges at
    local[32]). Larger graphs, or any graph when
    ``small_graph_edges=0``, run the star contraction, which raises if
    it has not converged in ``max_iterations`` rounds. A
    ``known_edge_bound`` (e.g. the pipeline's pairs-stage row count) at
    or below the gate skips the edge distinct and its materialization.
    """
    columns = records.columns
    vertex = _vertex(dict(records.dtypes)[key_col])
    records = records.withColumn("_vid", vertex(key_col))
    edges = pairs.select(vertex("key_a").alias("u"),
                         vertex("key_b").alias("v"))
    labels = _component_labels(
        edges.where(F.col("u") != F.col("v")),
        max_iterations=max_iterations,
        small_graph_edges=small_graph_edges,
        known_edge_bound=known_edge_bound,
    )
    if labels is None:
        return records.select(*columns, F.col("_vid").alias("cluster_id"))
    return (
        records.join(labels.withColumnRenamed("id", "_vid"), on="_vid",
                     how="left")
        .select(*columns, F.coalesce("label", "_vid").alias("cluster_id"))
    )
