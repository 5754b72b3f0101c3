"""Round-6 optimization profiling harness (bench.py is FROZEN — this
file carries the extra instrumentation the optimization round needs).

Per-query noop-sink isolation (guide §1.4) plus per-STAGE wall times for
the two pipelines (clk_pipeline / clk_two_party), which are ~85% of the
bench total: the pipeline already records clks/blocks/pairs/clusters
stage seconds in its metrics dict — this harness surfaces them.

Usage: python bench_extra.py [--repeats N] [--queries a,b,...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_PIPELINE_ROWS,
SPARK_GRAFT_TWO_PARTY_ROWS (same as bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PIPELINE_ROWS = int(os.environ.get("SPARK_GRAFT_PIPELINE_ROWS", "100000"))
TWO_PARTY_ROWS = int(os.environ.get("SPARK_GRAFT_TWO_PARTY_ROWS", "100000"))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def profile_suite(which: set) -> dict:
    from pyspark.sql import functions as F

    from clkhash_spark.entry_queries import (
        q_doc_dedup_groups,
        q_doc_exact_dedup,
        q_doc_minhash_pairs,
        q_doc_quality_scores,
        q_emb_topk,
        q_local_supplier_revenue,
    )
    from clkhash_spark.operators.encode import encode_clks
    from clkhash_spark.pipeline import (
        LinkageConfig,
        run_linkage,
        run_linkage_two_party,
        webpages_schema,
    )
    from clkhash_spark.session import build_session, warm_python_workers
    from clkhash_spark.sources.webpages import (
        synthetic_webpage_parties,
        synthetic_webpages,
    )

    spark = build_session(app_name="bench-extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    warm_python_workers(spark)

    out: dict = {}

    def timed(name, fn):
        if which and name not in which:
            return None
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        start = time.time()
        res = fn()
        out[name] = round(time.time() - start, 3)
        spark.sparkContext.setJobDescription(None)
        return res

    # clk_encode
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pages = docs.select(F.col("doc_id").cast("string").alias("url"), "text")
    timed(
        "clk_encode",
        lambda: force(
            encode_clks(pages, webpages_schema(), "bench-secret",
                        key_cols=("url",))
        ),
    )

    # clk_pipeline with stage breakdown
    if not which or "clk_pipeline" in which:
        fixture = synthetic_webpages(spark, PIPELINE_ROWS, seed=42)
        fixture = fixture.persist()
        fixture.count()
        config = LinkageConfig(schema=webpages_schema(),
                               secret="bench-secret")
        spark.sparkContext.setJobDescription("bench_extra:clk_pipeline")
        start = time.time()
        result = run_linkage(spark, fixture.select("url", "text"), config)
        result.pairs.persist()
        n_pairs = result.pairs.count()
        result.clusters.persist()
        result.clusters.count()
        out["clk_pipeline"] = round(time.time() - start, 3)
        out["clk_pipeline_stages"] = {
            k: v for k, v in result.metrics.items()
            if k.endswith("_seconds") or k.endswith("_rows")
        }
        out["clk_pipeline_banding"] = result.metrics.get("banding")
        out["clk_pipeline_pairs"] = n_pairs
        spark.sparkContext.setJobDescription(None)

    # clk_two_party with stage breakdown
    if not which or "clk_two_party" in which:
        pa, pb, truth = synthetic_webpage_parties(
            spark, TWO_PARTY_ROWS // 2, overlap=0.5, seed=42
        )
        pa = pa.select("key", "text").persist()
        pb = pb.select("key", "text").persist()
        pa.count(), pb.count()
        tp_config = LinkageConfig(
            schema=webpages_schema(), secret="bench-secret", key_col="key",
        )
        spark.sparkContext.setJobDescription("bench_extra:clk_two_party")
        start = time.time()
        result = run_linkage_two_party(spark, pa, pb, tp_config)
        result.pairs.persist()
        matched = result.pairs.count()
        out["clk_two_party"] = round(time.time() - start, 3)
        out["clk_two_party_stages"] = {
            k: v for k, v in result.metrics.items()
            if k.endswith("_seconds") or k.endswith("_rows")
        }
        out["clk_two_party_banding"] = result.metrics.get("banding")
        out["clk_two_party_matched"] = matched
        spark.sparkContext.setJobDescription(None)

    timed("doc_exact_dedup", lambda: force(q_doc_exact_dedup(spark, SF_DIR)))
    timed("doc_minhash_pairs",
          lambda: force(q_doc_minhash_pairs(spark, SF_DIR)))
    timed("doc_dedup_groups",
          lambda: force(q_doc_dedup_groups(spark, SF_DIR)))
    timed("doc_quality_scores",
          lambda: force(q_doc_quality_scores(spark, SF_DIR)))
    timed("emb_topk", lambda: force(q_emb_topk(spark, SF_DIR)))
    timed("local_supplier_revenue",
          lambda: force(q_local_supplier_revenue(spark, SF_DIR)))

    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--queries", type=str, default="")
    args = ap.parse_args()
    which = set(q for q in args.queries.split(",") if q)
    for rep in range(args.repeats):
        out = profile_suite(which)
        print(json.dumps({"repeat": rep, **out}))


if __name__ == "__main__":
    main()
