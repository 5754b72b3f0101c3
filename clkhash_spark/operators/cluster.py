"""Transitive clustering: connected components over matched pairs.

Alternating **large-star / small-star** label contraction (the standard
MapReduce connected-components construction — converges in O(log² n)
rounds on any graph, O(log n) in practice, unlike plain min-label
propagation whose round count grows with component diameter):

- *large-star*: every node's strictly-larger neighbours re-attach to the
  minimum of its neighbourhood (including itself);
- *small-star*: orienting each edge large→small, every node and its
  smaller neighbours attach to the neighbourhood minimum.

Both steps are one shuffle aggregation + one join each; edges shrink to
stars (every vertex directly attached to its component's minimum id).

Scale notes:
- Vertices are int64 (hash of the key, or the key itself when callers
  already work in a hashed-id domain) — iterative joins on longs, one
  final join back to keys. :func:`cluster_records` joins the labels onto
  the records by that vertex id directly (no key↔id map).
- ``localCheckpoint`` per round truncates lineage (use
  ``reliable=True`` → ``checkpoint`` on a real cluster).
- Convergence is detected by an edge-set checksum (count + hash sum)
  collected by an ``Observation`` on the round's materializing action —
  one job per round, no data collect.
"""

from __future__ import annotations

from typing import Callable, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "attach_cluster_ids", "cluster_records"]


def _persist(df: DataFrame, reliable: bool) -> DataFrame:
    """Truncate lineage between iterations."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _materialize_with_checksum(
    df: DataFrame, reliable: bool
) -> Tuple[DataFrame, Tuple[int, int]]:
    """Checkpoint + convergence checksum in ONE Spark job.

    A non-eager (local)checkpoint materializes during the ``count``
    action, and an ``Observation`` rides the same action to collect the
    edge-set checksum — halving the per-round job count vs the old
    eager-checkpoint-then-aggregate pair (per-round driver latency is
    what dominates clustering wall time at small scale)."""
    from pyspark.sql import Observation

    base = df.checkpoint(eager=False) if reliable else df.localCheckpoint(
        eager=False
    )
    obs = Observation()
    out = base.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        # mod 2^31 per row so the sum can never overflow a long
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 31))), F.lit(0)
        ).alias("h"),
    )
    out.count()
    metrics = obs.get
    return out, (int(metrics["n"]), int(metrics["h"]))


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
    """Hash-mode vertex id of a key column: integer keys pass through as
    longs, other keys hash with xxhash64. It is also
    :func:`attach_cluster_ids`' singleton fallback."""
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
    reliable: bool,
    small_graph_edges: int,
    known_edge_bound: Optional[int],
) -> Optional[DataFrame]:
    """The one solver: ``(id, label)`` for every vertex on an edge of
    ``(u, v)`` (``u != v``; edges may repeat), labelled with the minimum
    id of its component; ``None`` when there are no edges.

    ``known_edge_bound`` (``None`` under dense ids, whose per-run id map
    must be pinned by a materialization) upper-bounds the edge count:
    at or below the gate the edges go to the driver directly, repeats
    included — the union-find accepts them — with no distinct and no
    materialize-and-checksum job. Otherwise the deduplicated edges are
    materialized once, their count rides that job's checksum, and the
    gate picks the driver union-find or the distributed star
    contraction."""
    if (
        known_edge_bound is not None
        and small_graph_edges > 0  # a gate of 0 forces the distributed path
        and 0 <= known_edge_bound <= small_graph_edges
    ):
        return _driver_labels(edges)

    edges, signature = _materialize_with_checksum(edges.distinct(), reliable)
    if signature[0] == 0:
        return None
    if signature[0] <= small_graph_edges:
        return _driver_labels(edges)

    converged = False
    for _ in range(max_iterations):
        edges, new_signature = _materialize_with_checksum(
            _small_star(_large_star(edges)), reliable
        )
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
            f"connected_components did not converge within "
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


def connected_components(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    max_iterations: int = 50,
    reliable: bool = False,
    id_assignment: str = "hash",
    small_graph_edges: int = 500_000,
    known_edge_bound: Optional[int] = None,
) -> DataFrame:
    """Cluster pairs into components; returns ``(key, cluster_id)`` for
    every key on a non-self pair (records without one are absent —
    :func:`attach_cluster_ids` gives them singleton ids).

    ``cluster_id`` is the minimum int64 vertex id in the component —
    deterministic for a given input under ``id_assignment='hash'``.

    ``id_assignment``:

    - ``'hash'`` (default): string keys → xxhash64 (collisions
      negligible below ~10^9 distinct keys); numeric keys pass through.
    - ``'dense'``: assign each distinct key a unique per-run int64 via
      ``monotonically_increasing_id`` — no birthday-collision risk at
      any scale (the 10^12-row path), at the cost of one extra distinct
      + two mapping joins, and cluster-id *values* that vary run-to-run
      (membership does not).

    Hybrid execution: the deduplicated edge count rides the first
    materialization's checksum for free; at or below
    ``small_graph_edges`` the components are solved driver-side —
    edges arrive via Arrow (``toArrow``: 16 B/edge on the wire and in
    numpy, no per-Row Python objects — so the transfer is
    16 B × the configured gate: ~8 MB at this function's 500k
    default, ~64 MB at the 4,000,000-edge gate the linkage pipeline
    passes via ``LinkageConfig.cluster_driver_gate_edges``, plus a
    labels DataFrame of up to 2×gate rows sent back through
    ``createDataFrame``) and are labelled by one vectorized hook+jump
    pass instead of O(log n) rounds of 3-4 Spark jobs each — at
    small/medium scale the rounds are pure fixed latency (measured:
    ~16 s for 29k edges at local[32]). Above the gate the standard
    distributed large-star/small-star contraction runs;
    ``small_graph_edges=0`` always takes the distributed path
    (strict: even an empty edge set never collects). A
    ``known_edge_bound`` (e.g. the pipeline's pairs-stage row count)
    at or below the gate skips the materialization under hash ids.
    """
    key_type = dict(pairs.dtypes)[key_a]
    dense = id_assignment == "dense"

    if dense:
        key_ids = (
            pairs.select(F.col(key_a).alias("key"))
            .union(pairs.select(F.col(key_b).alias("key")))
            .distinct()
            .withColumn("id", F.monotonically_increasing_id())
        )
        # The id map feeds both the edge build and the final join —
        # persist so both consumers see ONE assignment (re-evaluation
        # could repartition and renumber).
        key_ids = _persist(key_ids, reliable)
        edges = (
            pairs.join(
                key_ids.select(F.col("key").alias(key_a),
                               F.col("id").alias("u")),
                on=key_a,
            )
            .join(
                key_ids.select(F.col("key").alias(key_b),
                               F.col("id").alias("v")),
                on=key_b,
            )
            .select("u", "v")
        )
    else:
        vertex = _vertex(key_type)
        edges = pairs.select(vertex(key_a).alias("u"),
                             vertex(key_b).alias("v"))
        key_ids = (
            pairs.select(F.col(key_a).alias("key"))
            .union(pairs.select(F.col(key_b).alias("key")))
            .distinct()
            .select("key", vertex("key").alias("id"))
        )

    labels = _component_labels(
        edges.where(F.col("u") != F.col("v")), max_iterations, reliable,
        small_graph_edges, None if dense else known_edge_bound,
    )
    if labels is None:
        # No edges: every key is its own (absent) component; return the
        # empty mapping (attach_cluster_ids fills singletons).
        return key_ids.select(
            "key", F.col("id").alias("cluster_id")
        ).limit(0)
    return (
        key_ids.join(labels, on="id", how="inner")
        .select("key", F.col("label").alias("cluster_id"))
    )


def attach_cluster_ids(
    records: DataFrame,
    clusters: DataFrame,
    key_col: str = "url",
    id_assignment: str = "hash",
) -> DataFrame:
    """Left-join :func:`connected_components`' ``(key, cluster_id)``
    back onto records; singletons get their own id (their hash-mode
    vertex id, or a fresh negative id under ``id_assignment='dense'`` —
    disjoint from the non-negative dense component labels), so the
    output is a total clustering. :func:`cluster_records` produces the
    same rows from the pairs in one label join."""
    key_type = dict(records.dtypes)[key_col]
    if id_assignment == "dense":
        fallback = F.monotonically_increasing_id().bitwiseOR(
            F.lit(-(1 << 63))
        )
    else:
        fallback = _vertex(key_type)(key_col)
    joined = records.join(
        clusters.withColumnRenamed("key", key_col), on=key_col, how="left"
    )
    return joined.withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), fallback)
    )


def cluster_records(
    records: DataFrame,
    pairs: DataFrame,
    key_col: str = "url",
    id_assignment: str = "hash",
    small_graph_edges: int = 500_000,
    known_edge_bound: Optional[int] = None,
) -> DataFrame:
    """``records`` plus the ``cluster_id`` of each record's component in
    the ``(key_a, key_b)`` pair graph: the rows of
    ``attach_cluster_ids(records, connected_components(pairs, ...))``.

    Under hash ids a record's vertex id is also its singleton id, so
    the labels join onto the records once, by vertex id, as
    ``coalesce(label, id)``: no key↔id map and, on the
    ``known_edge_bound`` driver path, no edge distinct. Dense ids need
    the key↔id map, so they take the two-step route."""
    if id_assignment == "dense":
        return attach_cluster_ids(
            records,
            connected_components(
                pairs, id_assignment=id_assignment,
                small_graph_edges=small_graph_edges,
            ),
            key_col=key_col, id_assignment=id_assignment,
        )
    vertex = _vertex(dict(records.dtypes)[key_col])
    labels = _component_labels(
        pairs.select(vertex("key_a").alias("u"), vertex("key_b").alias("v"))
        .where(F.col("u") != F.col("v")),
        max_iterations=50, reliable=False,
        small_graph_edges=small_graph_edges,
        known_edge_bound=known_edge_bound,
    )
    if labels is None:
        return records.withColumn("cluster_id", vertex(key_col))
    return (
        records.withColumn("_vid", vertex(key_col))
        .join(labels.withColumnRenamed("id", "_vid"), on="_vid", how="left")
        .select(*records.columns,
                F.coalesce("label", "_vid").alias("cluster_id"))
    )
