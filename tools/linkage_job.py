"""spark-submit entry point for the end-to-end CLK linkage job.

This is the cluster-faithful way to run the pipeline (BASELINE.json
north rule: "run via spark-submit --py-files ... at N and 4N
executors"):

    spark-submit --master local[8] \
        --py-files dist/clkhash_spark.zip \
        --conf spark.sql.shuffle.partitions=16 \
        tools/linkage_job.py --rows 600000

Nothing here touches sys.path: ``clkhash_spark`` must come from the
``--py-files`` archive (built by ``tools/scaling_bench.py`` or
``python -m zipfile -c dist/clkhash_spark.zip clkhash_spark``), exactly
as it would on a real multi-executor cluster. All tuning confs are
passed on the submit line; the job itself only calls
``SparkSession.builder.getOrCreate()``.

The job generates the deterministic synthetic web-page fixture
(url/warc_ts/html/text/lang — the BASELINE.json input shape), times the
CLK encode stage and the full encode→block→score→cluster linkage
pipeline, and prints one JSON line with throughput and per-stage
seconds.
"""

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--rows", type=int, default=100_000,
                        help="synthetic web pages to link (two-party "
                             "mode: total rows across both parties)")
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--secret", default="scaling-secret")
    parser.add_argument("--two-party", action="store_true",
                        help="run the cross-party linkage pipeline over "
                             "two overlapping synthetic parties instead "
                             "of single-table dedup")
    parser.add_argument("--num-bands", type=int, default=None,
                        help="pin the band count (default: the law "
                             "searches the volume-minimal count)")
    parser.add_argument("--quality", action="store_true",
                        help="also compute pairwise P/R/F1 vs the "
                             "fixture ground truth (outside the timed "
                             "region)")
    parser.add_argument("--json-out", default=None,
                        help="also write the JSON summary to this path")
    args = parser.parse_args()

    spark = SparkSession.builder.appName("clk-linkage-job").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    # Resolved from --py-files, as on a real cluster. Every Python
    # worker starts here, off the pipeline's clock.
    from clkhash_spark.session import warm_python_workers

    warmup_s = warm_python_workers(spark)

    summary = (run_two_party if args.two_party else run_single)(
        spark, args, cores)
    summary["warmup_seconds"] = round(warmup_s, 2)
    spark.stop()

    line = json.dumps(summary)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as fp:
            fp.write(line + "\n")


def run_single(spark, args, cores: int) -> dict:
    """One-table linkage: times the CLK encode stage alone, then the
    full pipeline."""
    # Imported after getOrCreate and resolved from --py-files, as on a
    # real cluster.
    from clkhash_spark.operators.encode import encode_clks
    from clkhash_spark.pipeline import (LinkageConfig, run_linkage,
                                        webpages_schema)
    from clkhash_spark.sources.webpages import synthetic_webpages

    pages = synthetic_webpages(spark, args.rows, seed=args.seed)
    pages = pages.select("url", "text").repartition(4 * cores).persist()
    pages.count()  # materialize input outside the timed region

    clks = encode_clks(pages, webpages_schema(), args.secret,
                       key_cols=("url",))
    # Warm-up pass over the encode plan (code generation, the workers'
    # hasher caches), so the timed region measures steady-state
    # throughput (what a long job sees).
    clks.write.format("noop").mode("overwrite").save()

    t0 = time.time()
    clks.write.format("noop").mode("overwrite").save()
    encode_s = time.time() - t0

    # Auto banding: run_linkage resolves the geometry from the
    # materialized row count AND the measured unrelated-bit agreement
    # (the calibrated law; the textbook 0.57 prior under-sized r by 5
    # bits at 600k rows → 10x the budgeted join volume).
    t0 = time.time()
    result = run_linkage(
        spark, pages,
        LinkageConfig(schema=webpages_schema(), secret=args.secret,
                      num_bands=args.num_bands))
    result.clusters.write.format("noop").mode("overwrite").save()
    pipeline_s = time.time() - t0

    summary = {
        "cores": cores,
        "rows": args.rows,
        "encode_seconds": round(encode_s, 2),
        "encode_rows_per_sec": round(args.rows / encode_s, 1),
        "pipeline_seconds": round(pipeline_s, 2),
        "pipeline_rows_per_sec": round(args.rows / pipeline_s, 1),
        "stage_seconds": {k: v for k, v in result.metrics.items()
                          if k.endswith("_seconds")},
        "banding": result.metrics.get("banding"),
    }

    if args.quality:
        # P/R/F1 vs the fixture's entity ground truth — outside the
        # timed region (the A/B evidence that band-geometry changes
        # leave quality unchanged).
        from clkhash_spark.operators.evaluate import (cluster_pairs,
                                                      pairwise_metrics,
                                                      truth_pairs)
        from clkhash_spark.sources.webpages import webpages_truth

        truth = webpages_truth(
            synthetic_webpages(spark, args.rows, seed=args.seed)
        )
        m = pairwise_metrics(
            cluster_pairs(result.clusters, key_col="url"),
            truth_pairs(truth),
        )
        summary["quality"] = {k: round(v, 6) if isinstance(v, float) else v
                              for k, v in m.items()}
    return summary


def run_two_party(spark, args, cores: int) -> dict:
    """Two-party cross-linkage over overlapping synthetic parties: the
    headline workload of a linkage engine at scale (the single-table
    path deduplicates; this one matches A against B under one secret).

    ``--rows`` is the TOTAL encoded rows: rows/2 entities per party,
    50% overlap (rows/4 true cross-party matches, each a near-duplicate
    variant pair — never byte-identical)."""
    from pyspark.sql import functions as F

    from clkhash_spark.pipeline import (LinkageConfig,
                                        run_linkage_two_party,
                                        webpages_schema)
    from clkhash_spark.sources.webpages import synthetic_webpage_parties

    entities = args.rows // 2
    party_a, party_b, truth = synthetic_webpage_parties(
        spark, entities, overlap=0.5, seed=args.seed
    )
    party_a = party_a.repartition(2 * cores).persist()
    party_b = party_b.repartition(2 * cores).persist()
    # Entity ground truth rides outside the timed pipeline input.
    ent_a = party_a.select(F.col("key").alias("key_a"),
                           F.col("entity_id").alias("_ent_a")).persist()
    ent_b = party_b.select(F.col("key").alias("key_b"),
                           F.col("entity_id").alias("_ent_b")).persist()
    for df in (party_a, party_b, ent_a, ent_b):
        df.count()  # materialize input outside the timed region

    config = LinkageConfig(
        schema=webpages_schema(), secret=args.secret, key_col="key",
    )
    t0 = time.time()
    result = run_linkage_two_party(
        spark,
        party_a.select("key", "text"),
        party_b.select("key", "text"),
        config,
    )
    result.pairs.persist()
    n_matched = result.pairs.count()
    pipeline_s = time.time() - t0

    correct = (
        result.pairs.join(ent_a, on="key_a").join(ent_b, on="key_b")
        .where(F.col("_ent_a") == F.col("_ent_b"))
        .count()
    )
    return {
        "mode": "two_party",
        "cores": cores,
        "rows": args.rows,
        "rows_per_party": entities,
        "truth_matches": truth,
        "matched_pairs": n_matched,
        "precision": round(correct / n_matched, 6) if n_matched else None,
        "recall": round(correct / truth, 6) if truth else None,
        "pipeline_seconds": round(pipeline_s, 2),
        "pipeline_rows_per_sec": round(args.rows / pipeline_s, 1),
        "stage_seconds": {k: v for k, v in result.metrics.items()
                          if k.endswith("_seconds")},
        "banding": result.metrics.get("banding"),
    }


if __name__ == "__main__":
    main()
