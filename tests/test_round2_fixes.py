"""Round-2 regression tests: split-cap overflow, auto-tuned banding,
the unique key-id check, stage-fingerprint safety, two-party resume,
vectorized simhash, convergence guard."""

import hashlib
import json
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from clkhash_spark.operators.blocking import cap_block_size
from clkhash_spark.operators.dedup import simhash, _WS
from clkhash_spark.pipeline import (
    KeyIdCollisionError,
    LinkageConfig,
    run_linkage,
    run_linkage_two_party,
    tuned_blocking,
    webpages_schema,
)
from clkhash_spark.sources.webpages import synthetic_webpages

from .test_spark_pipeline import cluster_keys

pytestmark = pytest.mark.spark


class TestBlockSplitOverflow:
    def test_mega_block_splits_without_overflow(self, spark):
        """A block needing >=128 splits used to overflow int64 under ANSI
        mode (the additive (sub_block+1)<<56 rekey). 300k rows at cap
        2000 → 150 splits."""
        n = 300_000
        big = spark.range(n).select(
            F.col("id").alias("url"), F.lit(7 << 48).alias("block_key")
        )
        small = spark.range(50).select(
            (F.col("id") + 10_000_000).alias("url"),
            F.lit(3 << 48).alias("block_key"),
        )
        capped, acct = cap_block_size(
            big.unionByName(small), 2000, key_cols=("url",)
        )
        sizes = capped.groupBy("block_key").count()
        stats = sizes.agg(
            F.count("*").alias("n_blocks"),
            F.max("count").alias("max_size"),
            F.sum("count").alias("rows"),
        ).first()
        assert stats["rows"] == n + 50  # nothing lost
        assert stats["n_blocks"] >= 100  # genuinely split
        # hash-splitting is multinomial; allow slack over the cap
        assert stats["max_size"] <= 2 * 2000
        # split keys carry the sign bit → disjoint from band keys
        assert capped.where(
            (F.col("block_key") >= 0) & (F.col("block_key") != (3 << 48))
        ).count() == 0
        # non-oversized block untouched
        assert capped.where(F.col("block_key") == (3 << 48)).count() == 50
        assert acct["oversized_blocks"] == 1
        assert acct["rows_in_oversized"] == n


class TestTunedBlockingWiring:
    def test_defaults_auto_tune_from_row_count(self, spark):
        pages = synthetic_webpages(spark, 2000, seed=3).select("url", "text")
        result = run_linkage(
            spark, pages,
            LinkageConfig(schema=webpages_schema(), secret="s"),
        )
        banding = result.metrics["banding"]
        # Auto mode now calibrates the law's leakage base from a CLK
        # sample (round 3): the resolved geometry must match
        # tuned_blocking evaluated at the measured agreement.
        measured = banding["measured_bit_agreement"]
        assert measured is not None and 0.4 < measured < 0.95, measured
        tuned = tuned_blocking(
            2000, unrelated_agreement=min(max(measured, 0.50), 0.90)
        )
        assert result.config.num_bands == tuned["num_bands"]
        assert result.config.bits_per_band == tuned["bits_per_band"]
        assert banding["n_rows"] == 2000

    def test_explicit_banding_is_respected(self, spark):
        pages = synthetic_webpages(spark, 300, seed=3).select("url", "text")
        result = run_linkage(
            spark, pages,
            LinkageConfig(
                schema=webpages_schema(), secret="s",
                num_bands=32, bits_per_band=20,
            ),
        )
        assert result.config.num_bands == 32
        assert result.config.bits_per_band == 20

    def test_bits_grow_with_scale(self):
        small = tuned_blocking(20_000)
        large = tuned_blocking(2_000_000)
        web = tuned_blocking(10**12)
        assert small["bits_per_band"] < large["bits_per_band"]
        assert large["bits_per_band"] < web["bits_per_band"]
        assert web["bits_per_band"] <= 48  # fits the key layout
        for t in (small, large):
            # floor = the gate-derived 0.9925 target (round 4: the
            # duplicate-agreement model is tail-calibrated to 0.91)
            assert t["predicted_recall"] >= 0.9925
        # 10^12 hits the 48-bit/512-band caps; the tail-calibrated
        # model honestly reports the marginal-duplicate shortfall.
        assert web["predicted_recall"] >= 0.97

    def test_candidate_volume_stays_linear_at_20k(self, spark):
        """F1 + bounded candidates/row at 20k rows with NO banding
        overrides — the auto-tuning acceptance gate."""
        from clkhash_spark.operators.evaluate import (
            cluster_pairs,
            pairwise_metrics,
            truth_pairs,
        )
        from clkhash_spark.sources.webpages import webpages_truth

        pages = synthetic_webpages(spark, 20_000, seed=11).cache()
        pages.count()
        result = run_linkage(
            spark, pages.select("url", "text"),
            LinkageConfig(schema=webpages_schema(), secret="s20k"),
        )
        metrics = pairwise_metrics(
            cluster_pairs(result.clusters, key_col="url"),
            truth_pairs(webpages_truth(pages)),
        )
        assert metrics["f1"] >= 0.99, metrics
        # scored pairs (kept above threshold) must be O(n)
        assert result.metrics["pairs_rows"] <= 20 * 20_000
        pages.unpersist()


def _group_jobs(spark, group):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


class TestUniqueKeyIds:
    """Between the clks stages and banding the pipeline checks that no
    two records share a key id: a repeated key, in one table or across
    two parties, and a key-id hash collision each raise a named error
    before any blocks job runs."""

    @staticmethod
    def _pages(spark):
        pages = synthetic_webpages(spark, 200, seed=5).select("url", "text")
        return pages, sorted(r["url"] for r in pages.select("url").collect())

    @staticmethod
    def _config(**kwargs):
        return LinkageConfig(schema=webpages_schema(), secret="kid-check",
                             num_bands=16, bits_per_band=16, **kwargs)

    @staticmethod
    def _rekey(df, old, new):
        url = F.col("url")
        return df.withColumn("url", F.when(url == old, new).otherwise(url))

    @staticmethod
    def _assert_repeated(err, key):
        assert not isinstance(err.value, KeyIdCollisionError)
        assert f"duplicate 'url' values [{key!r}]" in str(err.value)

    def test_repeated_key_raises_before_blocking(self, spark):
        pages, urls = self._pages(spark)
        before = _group_jobs(spark, "clk:blocks")
        with pytest.raises(ValueError) as err:
            run_linkage(spark, self._rekey(pages, urls[0], urls[1]),
                        self._config())
        self._assert_repeated(err, urls[1])
        assert _group_jobs(spark, "clk:blocks") == before

    @pytest.mark.parametrize("repeat", ["across_parties", "within_b"])
    def test_two_party_repeated_key_raises(self, spark, repeat):
        pages, urls = self._pages(spark)
        party_a = pages.where(F.col("url") < urls[100])
        party_b = pages.where(F.col("url") >= urls[100])
        key = urls[0] if repeat == "across_parties" else urls[101]
        before = _group_jobs(spark, "clk:blocks")
        with pytest.raises(ValueError) as err:
            run_linkage_two_party(
                spark, party_a, self._rekey(party_b, urls[100], key),
                self._config(),
            )
        self._assert_repeated(err, key)
        assert _group_jobs(spark, "clk:blocks") == before

    @pytest.mark.parametrize("parties", [1, 2])
    def test_forced_collision_names_both_keys(self, spark, monkeypatch,
                                              parties):
        from clkhash_spark import pipeline

        key_id = pipeline._key_id
        # keep 2 hash bits plus the party (sign) bit: 200 keys, 4 ids
        monkeypatch.setattr(
            pipeline, "_key_id", lambda key_col, party: key_id(
                key_col, party).bitwiseAND(F.lit(3 | -(1 << 63))))
        pages, urls = self._pages(spark)
        with pytest.raises(KeyIdCollisionError) as err:
            if parties == 1:
                run_linkage(spark, pages, self._config())
            else:
                run_linkage_two_party(
                    spark, pages.where(F.col("url") < urls[100]),
                    pages.where(F.col("url") >= urls[100]), self._config())
        found = re.search(r"'url' values '([^']+)' and '([^']+)' hash",
                          str(err.value))
        assert found, str(err.value)
        assert found[1] != found[2] and {found[1], found[2]} <= set(urls)

    def test_resumed_clks_are_checked(self, spark, tmp_path, monkeypatch):
        from clkhash_spark import pipeline

        pages, urls = self._pages(spark)
        pages = self._rekey(pages, urls[0], urls[1])
        stages = tmp_path / "stages"
        config = self._config(checkpoint_dir=str(stages),
                              input_fingerprint="repeated-key")
        with pytest.raises(ValueError, match="duplicate 'url' values"):
            run_linkage(spark, pages, config)
        with open(stages / "_clkhash_manifest.json") as fp:
            written = json.load(fp)["stages"]
        # the failed run left a complete clks stage and nothing after it
        assert list(written) == ["clks"] and written["clks"]["complete"]

        def encode_again(*args, **kwargs):
            raise AssertionError("the resumed run encoded the clks again")

        # the second run resumes clks (a read-back) instead of encoding
        monkeypatch.setattr(pipeline, "encode_clks", encode_again)
        with pytest.raises(ValueError) as err:
            run_linkage(spark, pages, config)
        self._assert_repeated(err, urls[1])


class TestConvergenceGuard:
    def test_nonconvergence_raises(self, spark):
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], ["key_a", "key_b"]
        )
        # small_graph_edges=0 forces the distributed rounds (the hybrid
        # driver path would solve a 64-edge chain without iterating).
        with pytest.raises(RuntimeError, match="did not converge"):
            cluster_keys(chain, max_iterations=1, small_graph_edges=0)

    def test_default_budget_converges(self, spark):
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], ["key_a", "key_b"]
        )
        out = cluster_keys(chain, small_graph_edges=0)
        assert out.select("cluster_id").distinct().count() == 1


class TestFingerprintSafety:
    def _pages(self, spark, tmp_path, name, n, seed):
        path = str(tmp_path / name)
        synthetic_webpages(spark, n, seed=seed).select(
            "url", "text"
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def test_changed_secret_invalidates_resume(self, spark, tmp_path):
        pages = self._pages(spark, tmp_path, "pages", 200, 7)
        base = dict(schema=webpages_schema(),
                    checkpoint_dir=str(tmp_path / "stages"))
        run_linkage(spark, pages, LinkageConfig(secret="one", **base))
        second = run_linkage(
            spark, pages, LinkageConfig(secret="two", **base)
        )
        assert second.metrics.get("clks_resumed") is None

    def test_changed_input_invalidates_resume(self, spark, tmp_path):
        base = dict(schema=webpages_schema(), secret="s",
                    checkpoint_dir=str(tmp_path / "stages2"))
        first = self._pages(spark, tmp_path, "in1", 200, 7)
        run_linkage(spark, first, LinkageConfig(**base))
        other = self._pages(spark, tmp_path, "in2", 200, 8)
        second = run_linkage(spark, other, LinkageConfig(**base))
        assert second.metrics.get("clks_resumed") is None

    def test_changed_schema_document_invalidates_resume(self, spark,
                                                        tmp_path):
        # Same field identifiers and CLK length, 4-grams → 2-grams: a
        # different encoding, so every stage recomputes and the run
        # links what a fresh 2-gram run links.
        from copy import deepcopy

        from clkhash_spark.core.schema import from_json_dict
        from clkhash_spark.pipeline import WEBPAGES_SCHEMA_DICT

        doc = deepcopy(WEBPAGES_SCHEMA_DICT)
        doc["features"][0]["hashing"]["comparison"]["n"] = 2
        bigrams = from_json_dict(doc)
        pages = self._pages(spark, tmp_path, "in5", 300, 7)
        base = dict(secret="s", num_bands=16, bits_per_band=16)
        store = dict(checkpoint_dir=str(tmp_path / "stages5"))
        first = run_linkage(spark, pages, LinkageConfig(
            schema=webpages_schema(), **base, **store))
        second = run_linkage(spark, pages, LinkageConfig(
            schema=bigrams, **base, **store))
        fresh = run_linkage(spark, pages, LinkageConfig(
            schema=bigrams, **base))
        assert not [k for k in second.metrics if k.endswith("_resumed")]
        assert (sorted(second.pairs.collect())
                == sorted(fresh.pairs.collect()))
        assert second.metrics["pairs_rows"] != first.metrics["pairs_rows"]

    def test_same_everything_resumes(self, spark, tmp_path):
        base = dict(schema=webpages_schema(), secret="s",
                    checkpoint_dir=str(tmp_path / "stages3"))
        pages = self._pages(spark, tmp_path, "in3", 200, 7)
        run_linkage(spark, pages, LinkageConfig(**base))
        second = run_linkage(spark, pages, LinkageConfig(**base))
        assert second.metrics.get("clks_resumed") is True
        assert second.metrics.get("clusters_resumed") is True

    def test_explicit_input_fingerprint_busts_resume(self, spark, tmp_path):
        pages = self._pages(spark, tmp_path, "in4", 100, 7)
        base = dict(schema=webpages_schema(), secret="s",
                    checkpoint_dir=str(tmp_path / "stages4"))
        run_linkage(
            spark, pages,
            LinkageConfig(input_fingerprint="v1", **base),
        )
        second = run_linkage(
            spark, pages,
            LinkageConfig(input_fingerprint="v2", **base),
        )
        assert second.metrics.get("clks_resumed") is None


class TestTwoPartyStages:
    def test_two_party_resume_and_metrics(self, spark, tmp_path):
        a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
        synthetic_webpages(spark, 150, seed=1).select(
            F.concat(F.lit("a:"), "url").alias("url"), "text"
        ).write.parquet(a_path)
        synthetic_webpages(spark, 150, seed=1).select(
            F.concat(F.lit("b:"), "url").alias("url"), "text"
        ).write.parquet(b_path)
        config = LinkageConfig(
            schema=webpages_schema(), secret="tp",
            checkpoint_dir=str(tmp_path / "stages"),
        )
        a = spark.read.parquet(a_path)
        b = spark.read.parquet(b_path)
        first = run_linkage_two_party(spark, a, b, config)
        assert first.metrics.get("clks_a_rows") == 150
        assert first.metrics.get("clks_b_rows") == 150
        assert "pairs_rows" in first.metrics
        second = run_linkage_two_party(spark, a, b, config)
        assert second.metrics.get("clks_a_resumed") is True
        assert second.metrics.get("clks_b_resumed") is True
        assert second.metrics.get("pairs_resumed") is True
        assert second.metrics.get("clusters_resumed") is True
        assert (
            second.pairs.orderBy("key_a", "key_b").collect()
            == first.pairs.orderBy("key_a", "key_b").collect()
        )


class TestVectorizedSimhash:
    @staticmethod
    def _reference_simhash(text):
        normalized = _WS.sub(" ", text.strip()).lower()
        votes = np.zeros(60, dtype=np.int64)
        for w in normalized.split(" "):
            h = int(hashlib.md5(f"sim:{w}".encode()).hexdigest()[:15], 16)
            votes += ((h >> np.arange(60, dtype=np.int64)) & 1) * 2 - 1
        weights = 1 << np.arange(60, dtype=np.int64)
        return int(weights[votes > 0].sum())

    def test_long_doc_parity(self, spark):
        rng = np.random.RandomState(0)
        vocab = [f"word{i}" for i in range(500)]
        docs = [
            (i, " ".join(rng.choice(vocab, 1000))) for i in range(20)
        ] + [(100, ""), (101, "   "), (102, "one"), (103, None)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
        for doc_id, text in docs:
            assert got[doc_id] == self._reference_simhash(text or "")
