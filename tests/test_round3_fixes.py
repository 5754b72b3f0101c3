"""Round-3 regression tests: two-party skew cap in the int64 kid
domain, band-independent block splitting, and resuming with the key ids
stored in the clks stage table (ADVICE r2, medium)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from clkhash_spark.operators.blocking import cap_block_size
from clkhash_spark.operators.scoring import candidate_pairs
from clkhash_spark.pipeline import (
    LinkageConfig,
    run_linkage,
    run_linkage_two_party,
    webpages_schema,
)
from clkhash_spark.sources.webpages import synthetic_webpages

pytestmark = pytest.mark.spark


def _two_party_with_boilerplate(spark, n_pages=400, n_boiler=40):
    """Each synthetic dup cluster contributes variant 0 to party A and
    variant 1 to party B (window=10, cluster_size=3 → ids 0,1 of each
    window), plus ``n_boiler`` rows per party sharing ONE boilerplate
    text — the web-scale mega-block pattern the cap exists for."""
    # url is "https://example.org/<entity_id>/<variant>": variant-0 rows
    # (cluster reps + singletons) go to party A, variant-1 rows to B —
    # each dup cluster contributes exactly one true cross-party pair.
    pages = synthetic_webpages(spark, n_pages, seed=7).select("url", "text")
    variant = F.regexp_extract("url", r"/(\d+)$", 1).cast("int")
    party_a = pages.where(variant == 0)
    party_b = pages.where(variant == 1)

    boiler_text = " ".join(["boilerplate footer nav menu copyright"] * 12)
    boiler_a = spark.range(n_boiler).select(
        F.concat(F.lit("https://boiler-a-"), F.col("id")).alias("url"),
        F.lit(boiler_text).alias("text"),
    )
    boiler_b = spark.range(n_boiler).select(
        F.concat(F.lit("https://boiler-b-"), F.col("id")).alias("url"),
        F.lit(boiler_text).alias("text"),
    )
    return (
        party_a.unionByName(boiler_a),
        party_b.unionByName(boiler_b),
        n_boiler,
    )


class TestTwoPartyMegaBlock:
    def test_cap_bounds_pair_volume_and_keeps_recall(self, spark):
        """A shared boilerplate text forms an 80-row block in EVERY band
        (identical CLKs). With max_block_size=16 the cap must engage,
        bound candidate volume well below the uncapped 40x40 per band,
        and leave the real duplicate pairs matched."""
        party_a, party_b, n_boiler = _two_party_with_boilerplate(spark)
        config = LinkageConfig(
            schema=webpages_schema(), secret="r3-megablock",
            num_bands=64, bits_per_band=16,
            max_block_size=16, threshold=0.75,
        )
        result = run_linkage_two_party(spark, party_a, party_b, config)

        acct = result.metrics["block_cap_accounting"]
        assert acct["oversized_blocks"] >= 32, acct  # cap engaged per band

        # Capped blocks bounded (hash splitting is multinomial → slack).
        max_size = (
            result.blocks.groupBy("block_key").count()
            .agg(F.max("count")).first()[0]
        )
        assert max_size <= 3 * config.max_block_size, max_size

        # Candidate volume from the boilerplate block is bounded:
        # uncapped it is 40x40=1600 cross pairs; 5-way splits leave
        # ~1600/5 per band, and band-independent salting re-randomizes
        # pairs across bands, so the distinct union stays well under
        # the uncapped volume only in the per-band sense — assert the
        # *blocks table* (what the pair join consumes) carries no block
        # above the cap instead, plus end-to-end volume sanity below.
        cand = candidate_pairs(
            result.blocks.where(F.col("_kid") >= 0),
            other=result.blocks.where(F.col("_kid") < 0),
            key_col="_kid",
            min_band_matches=config.min_band_matches,
        )
        n_cand = cand.count()
        # <=40 true synthetic pairs + <=1600 boiler pairs (+ slack for
        # rare spurious >=2-band collisions); the point is the pipeline
        # completes with bounded per-block join fan-out, not that boiler
        # pairs vanish (they ARE true duplicates here).
        assert n_cand <= n_boiler * n_boiler + 100, n_cand

        # Real (non-boilerplate) duplicate pairs survive the cap: each
        # entity's variant 0 (party A) matches its variant 1 (party B).
        ent_a = F.regexp_extract("key_a", r"org/(\d+)/", 1)
        ent_b = F.regexp_extract("key_b", r"org/(\d+)/", 1)
        matched = result.pairs.where(
            ~F.col("key_a").startswith("https://boiler")
            & ~F.col("key_b").startswith("https://boiler")
        )
        good = matched.where(
            (ent_a == ent_b) & (ent_a != "")
        ).count()
        assert good >= 36, good  # >=90% of the 40 true cross pairs

    def test_blocks_are_kid_domain_and_party_tagged(self, spark):
        party_a, party_b, _ = _two_party_with_boilerplate(
            spark, n_pages=100, n_boiler=0
        )
        config = LinkageConfig(
            schema=webpages_schema(), secret="r3-kid",
            num_bands=16, bits_per_band=16,
        )
        result = run_linkage_two_party(spark, party_a, party_b, config)
        assert result.blocks.schema["_kid"].dataType.simpleString() == (
            "bigint"
        )
        n_a = party_a.count() * 16
        n_b = party_b.count() * 16
        assert result.blocks.where(F.col("_kid") >= 0).count() == n_a
        assert result.blocks.where(F.col("_kid") < 0).count() == n_b


class TestBandIndependentSplit:
    def test_split_assignment_differs_across_bands(self, spark):
        """The sub-block salt hashes (block_key, record key): the same
        key set split in two different bands must not produce the same
        partition of keys (which would drop a separated pair from every
        band at once)."""
        keys = spark.range(100)
        band0 = keys.select(F.col("id").alias("url"),
                            F.lit(0 << 48).alias("block_key"))
        band1 = keys.select(F.col("id").alias("url"),
                            F.lit(1 << 48).alias("block_key"))
        m0 = {r["url"]: r["block_key"]
              for r in cap_block_size(band0, 25,
                                      key_cols=("url",))[0].collect()}
        m1 = {r["url"]: r["block_key"]
              for r in cap_block_size(band1, 25,
                                      key_cols=("url",))[0].collect()}
        # Same-group relation must differ between the bands.
        same0 = {(i, j) for i in range(100) for j in range(i + 1, 100)
                 if m0[i] == m0[j]}
        same1 = {(i, j) for i in range(100) for j in range(i + 1, 100)
                 if m1[i] == m1[j]}
        assert same0 != same1
        # And a pair separated in band 0 survives in band 1 (graceful
        # degradation, not all-bands loss).
        assert (same1 - same0), "no pair recovered by the other band"


class TestVectorizedEmbeddingParity:
    def test_batched_dot_matches_expression_dot(self, spark):
        """batched_quantized_dot (Arrow matmul) must be bit-identical to
        quantized_dot (the Catalyst expression the SQL oracles mirror)."""
        from clkhash_spark.operators.similarity import (
            batched_quantized_dot,
            quantized_dot,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(200)
        pairs = emb.alias("a").crossJoin(
            emb.selectExpr(
                "vec_id AS vid_b", "embedding AS emb_b"
            ).limit(5).alias("b")
        )
        diff = pairs.select(
            (
                quantized_dot(F.col("embedding"), F.col("emb_b"))
                - batched_quantized_dot(F.col("embedding"), F.col("emb_b"))
            ).alias("d")
        ).where(F.col("d") != 0)
        assert diff.count() == 0

    def test_single_table_lsh_unchanged_by_generalization(self, spark):
        """num_tables=1 must reproduce the oracle'd single-table result
        exactly (table 0 uses the base seed and a zero table tag)."""
        from clkhash_spark.operators.similarity import (
            hyperplane_signatures,
            lsh_topk,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).cache()
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        one = sorted(
            (r["query_id"], r["vec_id"], r["dot_q"], r["rank"])
            for r in lsh_topk(
                emb, queries, k=10, num_planes=8, num_tables=1
            ).collect()
        )
        # hyperplane_signatures (used by bucket-sizes + near-dup) must
        # agree with table 0 of the generalized path.
        from clkhash_spark.operators.similarity import _table_signatures

        sig_a = {
            (r["vec_id"], r["bucket"])
            for r in hyperplane_signatures(
                emb, num_planes=8, dim=64
            ).select("vec_id", "bucket").collect()
        }
        sig_b = {
            (r["vec_id"], r["bucket"])
            for r in _table_signatures(
                emb, 8, 1, 42, 64, "vec_id", "embedding"
            ).collect()
        }
        assert sig_a == sig_b
        assert one, "single-table lsh returned nothing"


class TestAnnRecall:
    """Measured recall@10 of the approximate ANN paths vs the exact
    baseline (numbers published in COVERAGE.md; floors here are safety
    margins under the measured values on the driver embeddings)."""

    @pytest.fixture(scope="class")
    def topk_sets(self, spark):
        from clkhash_spark.operators import similarity as S

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).cache()
        queries = emb.where(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        brute = {
            (r["query_id"], r["vec_id"])
            for r in S.brute_force_topk(emb, queries, k=10).collect()
        }
        return emb, queries, brute

    def test_multi_table_lsh_recall(self, spark, topk_sets):
        from clkhash_spark.operators import similarity as S

        emb, queries, brute = topk_sets
        lsh = {
            (r["query_id"], r["vec_id"])
            for r in S.lsh_topk(
                emb, queries, k=10, num_planes=4, num_tables=16
            ).collect()
        }
        recall = len(lsh & brute) / len(brute)
        assert recall >= 0.80, recall  # measured 0.89 (sf0.01) / 0.92 (sf0.1)

    def test_ivf_recall_at_partial_probe(self, spark, topk_sets):
        from clkhash_spark.operators import similarity as S

        emb, queries, brute = topk_sets
        cents = S.kmeans_centroids(emb, num_centroids=8)
        ivf2 = {
            (r["query_id"], r["vec_id"])
            for r in S.ivf_topk(
                emb, queries, cents, k=10, nprobe=2
            ).collect()
        }
        ivf4 = {
            (r["query_id"], r["vec_id"])
            for r in S.ivf_topk(
                emb, queries, cents, k=10, nprobe=4
            ).collect()
        }
        r2 = len(ivf2 & brute) / len(brute)
        r4 = len(ivf4 & brute) / len(brute)
        assert r2 >= 0.35, r2  # measured 0.48 at 1/4 corpus scanned
        assert r4 >= r2  # more probes never hurt
        assert r4 >= 0.60, r4  # measured 0.75 at 1/2 corpus scanned


class TestHybridConnectedComponents:
    def _random_graph(self, spark, n_edges=400, n_nodes=300):
        import hashlib

        edges = []
        for i in range(n_edges):
            h = hashlib.sha256(f"edge:{i}".encode()).digest()
            u = int.from_bytes(h[:4], "big") % n_nodes
            v = int.from_bytes(h[4:8], "big") % n_nodes
            if u != v:
                edges.append((f"n{u}", f"n{v}"))
        return spark.createDataFrame(edges, ["key_a", "key_b"])

    def test_driver_path_matches_distributed(self, spark):
        """The union-find fast path must produce the exact (key,
        cluster_id) mapping of the star-contraction rounds — same
        min-hash-id labels, not just the same membership."""
        from .test_spark_pipeline import cluster_keys

        pairs = self._random_graph(spark)
        fast = {
            (r["key"], r["cluster_id"])
            for r in cluster_keys(pairs).collect()
        }
        slow = {
            (r["key"], r["cluster_id"])
            for r in cluster_keys(pairs, small_graph_edges=0).collect()
        }
        assert fast == slow and fast

    def test_driver_path_long_chain(self, spark):
        """A 5000-node chain (worst diameter) is exactly the shape the
        driver path wins on; labels must be the chain-wide minimum."""
        from pyspark.sql import functions as F2

        from .test_spark_pipeline import cluster_keys

        chain = spark.range(5000).select(
            F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b")
        )
        out = cluster_keys(chain)
        assert out.select("cluster_id").distinct().count() == 1
        assert out.agg(F2.min("cluster_id")).first()[0] == 0

    def test_empty_pairs(self, spark):
        from .test_spark_pipeline import cluster_keys

        empty = spark.createDataFrame([], "key_a string, key_b string")
        assert cluster_keys(empty).count() == 0


class TestCalibratedBanding:
    def test_agreement_estimate_deterministic_and_sane(self, spark):
        from clkhash_spark.operators.encode import encode_clks
        from clkhash_spark.pipeline import (
            estimate_bit_agreement,
            webpages_schema,
        )

        pages = synthetic_webpages(spark, 1500, seed=5).select(
            "url", "text"
        )
        clks = encode_clks(
            pages, webpages_schema(), "s", key_cols=("url",)
        ).persist()
        a1 = estimate_bit_agreement(clks)
        a2 = estimate_bit_agreement(clks)
        assert a1 == a2  # hash-ordered sample → deterministic
        # Fill-only lower bound: agreement >= 1 - 2f(1-f) (shared
        # vocabulary only adds positive bit correlation); and it must
        # stay below the near-duplicate regime.
        fill = (
            clks.agg(F.avg("popcount")).first()[0] / 1024.0
        )
        assert a1 >= 1 - 2 * fill * (1 - fill) - 0.02, (a1, fill)
        assert a1 < 0.9, a1
        clks.unpersist()

    def test_median_robust_to_duplicated_corpus(self, spark):
        """40%% exact-duplicate boilerplate must not drag the unrelated
        agreement estimate into the duplicate regime (median, not
        mean)."""
        from clkhash_spark.operators.encode import encode_clks
        from clkhash_spark.pipeline import (
            estimate_bit_agreement,
            webpages_schema,
        )

        pages = synthetic_webpages(spark, 900, seed=6).select("url", "text")
        boiler = spark.range(600).select(
            F.concat(F.lit("https://b-"), F.col("id")).alias("url"),
            F.lit(" ".join(["menu nav footer copyright terms"] * 10)
                  ).alias("text"),
        )
        clks = encode_clks(
            pages.unionByName(boiler), webpages_schema(), "s",
            key_cols=("url",),
        )
        a = estimate_bit_agreement(clks)
        # A duplicate pair agrees on ~100% of bits; unrelated ~0.6.
        # With 40% duplicates, ~16% of random pairs are dup-dup — the
        # median must still sit in the unrelated regime.
        assert a < 0.9, a


class TestDenseKidResume:
    def test_pairs_recompute_after_partial_resume_matches(
        self, spark, tmp_path
    ):
        """ADVICE r2 (medium): the clks stage table stores each record's
        _kid; a killed job that resumes blocks (written with run 1's
        kids) while recomputing pairs must pair the same records as the
        first run, even over a re-read with another partition layout."""
        path = str(tmp_path / "pages")
        synthetic_webpages(spark, 200, seed=3).select(
            "url", "text"
        ).write.parquet(path)
        pages = spark.read.parquet(path)
        config = LinkageConfig(
            schema=webpages_schema(), secret="r3-dense",
            checkpoint_dir=str(tmp_path / "stages"),
            num_bands=32, bits_per_band=16,
        )
        first = run_linkage(spark, pages, config)
        first_pairs = sorted(
            (r["key_a"], r["key_b"]) for r in first.pairs.collect()
        )
        assert first_pairs, "fixture produced no pairs"

        # Simulate a job killed after blocks: invalidate pairs+clusters.
        manifest_path = os.path.join(
            str(tmp_path / "stages"), "_clkhash_manifest.json"
        )
        with open(manifest_path) as fp:
            manifest = json.load(fp)
        for stage in ("pairs", "clusters"):
            manifest["stages"][stage]["complete"] = False
        with open(manifest_path, "w") as fp:
            json.dump(manifest, fp)

        # Re-read the input with a DIFFERENT partition layout: the kids
        # hash the keys, so the resumed blocks still match them.
        pages2 = spark.read.parquet(path).repartition(7)
        second = run_linkage(spark, pages2, config)
        assert second.metrics.get("clks_resumed") is True
        assert second.metrics.get("blocks_resumed") is True
        assert "pairs_resumed" not in second.metrics
        second_pairs = sorted(
            (r["key_a"], r["key_b"]) for r in second.pairs.collect()
        )
        assert second_pairs == first_pairs
