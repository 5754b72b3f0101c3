"""spark-submit job for document-ops scaling evidence.

Modes (``--mode``):

- ``dedup``: synthetic web pages → MinHash signatures → banded LSH
  candidate pairs → connected components → keep-list, with pair-level
  precision/recall against the generator's entity truth.
- ``ann``: deterministic clustered 64-dim embeddings → brute-force
  top-10 (the labeled baseline), production LSH config (4 planes × 16
  tables), and auto-sized IVF probe top-k — recall@10 of both measured
  against the brute-force result.

Prints exactly one JSON line; ``tools/scaling_bench.py ... dedup|ann``
runs it at two parallelism levels via ``spark-submit --py-files
dist/clkhash_spark.zip``, exactly as it runs tools/linkage_job.py for
the CLK pipeline.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def run_dedup(spark: SparkSession, rows: int) -> dict:
    from clkhash_spark.operators.cluster import cluster_records
    from clkhash_spark.operators.dedup import minhash_near_duplicates
    from clkhash_spark.sources.webpages import synthetic_webpages

    pages = (
        synthetic_webpages(spark, rows, seed=42)
        .select(
            F.shiftrightunsigned(F.xxhash64("url"), 1).alias("doc_id"),
            "text",
            "entity_id",
        )
        .persist()
    )
    pages.count()  # input off the clock

    # Config tuned to the generator's variant distance: variant-variant
    # pairs sit at true 3-shingle Jaccard ~0.33 (each differs from the
    # base in ~1/12 of positions), so the threshold is 0.3 and banding
    # is 32 bands x 2 rows (P[candidate] = 1-(1-s^2)^32: 0.985 at
    # s=0.35, ~0.003 at the s~0.01 of unrelated docs).
    t0 = time.time()
    pairs = minhash_near_duplicates(
        pages.select("doc_id", "text"),
        threshold=0.3,
        num_hashes=64,
        num_bands=32,
        shingle_size=3,
    ).persist()
    n_pairs = pairs.count()
    t_pairs = time.time() - t0

    t1 = time.time()
    keep = (
        cluster_records(
            pages.select("doc_id"),
            pairs.select(F.col("doc_a").alias("key_a"),
                         F.col("doc_b").alias("key_b")),
            key_col="doc_id",
        )
        .withColumnRenamed("cluster_id", "group_id")
        .persist()
    )
    n_keep = keep.where(F.col("doc_id") == F.col("group_id")).count()
    t_cc = time.time() - t1
    total = time.time() - t0

    # Quality of the *closed groups* (the operator's product) vs the
    # generator's entity truth — off the clock. Same-group pairs within
    # one entity are true positives; closure credit is intended (A~base
    # and base~B implies A~B in the keep-list).
    ids = pages.select("doc_id", "entity_id")
    cells = (
        keep.join(ids, "doc_id")
        .groupBy("group_id", "entity_id")
        .agg(F.count("*").alias("n"))
        .persist()
    )

    def pair_sum(df, *group_cols) -> int:
        return (
            df.groupBy(*group_cols)
            .agg(F.sum("n").alias("n"))
            .select(
                F.sum(F.col("n") * (F.col("n") - 1) / 2)
                .cast("long")
                .alias("pairs")
            )
            .collect()[0]["pairs"]
            or 0
        )

    tp = (
        cells.select(
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("long")
            .alias("pairs")
        ).collect()[0]["pairs"]
        or 0
    )
    group_pairs = pair_sum(cells, "group_id")
    truth_pairs = pair_sum(cells, "entity_id")
    return {
        "mode": "dedup",
        "rows": rows,
        "pairs_found": n_pairs,
        "keep_docs": n_keep,
        "pairs_seconds": round(t_pairs, 2),
        "cc_seconds": round(t_cc, 2),
        "dedup_seconds": round(total, 2),
        "dedup_rows_per_sec": round(rows / total, 1),
        "group_precision": round(tp / group_pairs, 4)
        if group_pairs else None,
        "group_recall": round(tp / truth_pairs, 4)
        if truth_pairs else None,
    }


ANN_DIM = 64
ANN_CENTERS = 256
ANN_QUERIES = 100
ANN_K = 10


def synthetic_embeddings(spark: SparkSession, rows: int):
    """Deterministic clustered embeddings, Arrow-vectorized numpy.

    vec(id) = center(id % 256) + 0.15 * noise(id); both terms are pure
    sin-hash functions of (id, dim), so any partitioning yields the
    same vectors.
    """
    import numpy as np
    import pandas as pd

    def gen(batches):
        dims = np.arange(ANN_DIM)
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            c = (ids % ANN_CENTERS)[:, None]
            centers = np.sin((c * 7919 + dims[None, :] * 13 + 1) * 0.7071)
            noise = np.sin(
                (ids[:, None] * 104729 + dims[None, :] * 31 + 7) * 0.6180
            )
            vecs = centers + 0.15 * noise
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [
                        v.astype(np.float32) for v in vecs
                    ],
                }
            )

    parallelism = spark.sparkContext.defaultParallelism
    return spark.range(0, rows, 1, parallelism * 4).mapInPandas(
        gen, "vec_id long, embedding array<float>"
    )


def _topk_sets(df, id_col="query_id", n_col="vec_id"):
    rows = df.select(id_col, n_col).collect()
    out: dict = {}
    for r in rows:
        out.setdefault(r[id_col], set()).add(r[n_col])
    return out


def run_ann(spark: SparkSession, rows: int) -> dict:
    from clkhash_spark.operators.similarity import (
        brute_force_topk,
        ivf_fit_auto,
        ivf_topk_auto,
        lsh_topk,
    )

    emb = synthetic_embeddings(spark, rows).persist()
    emb.count()  # input off the clock
    queries = (
        emb.where(F.col("vec_id") < ANN_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .persist()
    )
    queries.count()

    t0 = time.time()
    brute = brute_force_topk(emb, queries, k=ANN_K)
    brute_sets = _topk_sets(brute)
    t_brute = time.time() - t0

    t1 = time.time()
    lsh = lsh_topk(emb, queries, k=ANN_K, num_planes=4, num_tables=16)
    lsh_sets = _topk_sets(lsh)
    t_lsh = time.time() - t1

    # the IVF index fit is a FIXED driver-side cost (bounded-sample
    # Lloyd) that does not scale with executor count — time it apart
    # from the query path, which does.
    t2 = time.time()
    index = ivf_fit_auto(emb)
    t_fit = time.time() - t2
    t3 = time.time()
    ivf = ivf_topk_auto(emb, queries, k=ANN_K, index=index)
    ivf_sets = _topk_sets(ivf)
    t_ivf = time.time() - t3

    def recall(got: dict) -> float:
        hits = sum(
            len(got.get(q, set()) & brute_sets[q]) for q in brute_sets
        )
        return round(hits / (len(brute_sets) * ANN_K), 4)

    return {
        "mode": "ann",
        "rows": rows,
        "queries": ANN_QUERIES,
        "k": ANN_K,
        "brute_seconds": round(t_brute, 2),
        "lsh_seconds": round(t_lsh, 2),
        "ivf_fit_seconds": round(t_fit, 2),
        "ivf_cells": index.num_cells,
        "ivf_seconds": round(t_ivf, 2),
        "lsh_rows_per_sec": round(rows / t_lsh, 1),
        "ivf_rows_per_sec": round(rows / t_ivf, 1),
        "lsh_recall_at_10": recall(lsh_sets),
        "ivf_recall_at_10": recall(ivf_sets),
    }


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--mode", choices=("dedup", "ann"), required=True)
    parser.add_argument("--rows", type=int, required=True)
    args = parser.parse_args()

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from clkhash_spark.session import warm_python_workers

    warmup_s = warm_python_workers(spark)

    result = (
        run_dedup(spark, args.rows)
        if args.mode == "dedup"
        else run_ann(spark, args.rows)
    )
    result["cores"] = spark.sparkContext.defaultParallelism
    result["warmup_seconds"] = round(warmup_s, 2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
