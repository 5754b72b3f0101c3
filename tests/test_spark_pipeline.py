"""Spark-layer tests: encode operator parity, blocking recall, Dice
scoring vs oracle, connected components, e2e linkage F1, resume."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from clkhash_spark.core import encode_record, serialize_clk
from clkhash_spark.operators.blocking import (
    block_keys,
    block_size_histogram,
    cap_block_size,
)
from clkhash_spark.operators.cluster import cluster_records
from clkhash_spark.operators.encode import encode_clks
from clkhash_spark.operators.evaluate import (
    cluster_pairs,
    pairwise_metrics,
    truth_pairs,
)
from clkhash_spark.operators.scoring import (
    candidate_pairs,
    one_to_one_matching,
    pair_payload,
    score_candidates,
)
from clkhash_spark.pipeline import (
    LinkageConfig,
    run_linkage,
    webpages_schema,
)
from clkhash_spark.sources.webpages import synthetic_webpages, webpages_truth

from .conftest import GOLDEN_CLK_B64, GOLDEN_ROWS, GOLDEN_SECRET


pytestmark = pytest.mark.spark


class TestEncodeOperator:
    def test_spark_encode_matches_reference_golden(
        self, spark, golden_schema
    ):
        df = spark.createDataFrame(
            [(i, *row) for i, row in enumerate(GOLDEN_ROWS)],
            ["rowid", "name", "id", "dob", "gender", "children"],
        ).repartition(3)
        out = encode_clks(
            df,
            golden_schema,
            GOLDEN_SECRET,
            key_cols=("rowid",),
            feature_cols=["name", "id", "dob", "gender", "children"],
            validate=True,
        )
        got = {r["rowid"]: r for r in out.collect()}
        for i, expected in enumerate(GOLDEN_CLK_B64):
            assert serialize_clk(bytes(got[i]["clk"])) == expected
            assert got[i]["popcount"] > 0

    def test_ignored_field_mapped_to_none(self, spark):
        from clkhash_spark.core import from_json_dict

        schema = from_json_dict(
            dict(
                version=3,
                clkConfig=dict(l=1024, kdf=dict(type="HKDF")),
                features=[
                    dict(identifier="skipme", ignored=True),
                    dict(
                        identifier="name",
                        format=dict(type="string"),
                        hashing=dict(
                            comparison=dict(type="ngram", n=2),
                            strategy=dict(bitsPerToken=20),
                            hash=dict(type="doubleHash"),
                        ),
                    ),
                ],
            )
        )
        df = spark.createDataFrame([("k1", "Alice")], ["key", "name"])
        out = encode_clks(
            df, schema, "s", key_cols=("key",),
            feature_cols=[None, "name"],
        ).collect()
        from clkhash_spark.core import generate_key_lists

        keys = generate_key_lists("s", 2)
        expected, _ = encode_record(["", "Alice"], schema, keys)
        assert bytes(out[0]["clk"]) == expected

    def test_validate_flag_raises_on_bad_entry(self, spark, golden_schema):
        from py4j.protocol import Py4JJavaError

        df = spark.createDataFrame(
            [("BAD", "zzz999", "not-a-date", "M", "1")],
            ["name", "id", "dob", "gender", "children"],
        )
        out = encode_clks(
            df, golden_schema, "s", key_cols=("name",), validate=True
        )
        with pytest.raises(Exception):
            out.collect()


@pytest.fixture(scope="module")
def small_linkage(spark):
    """2000-page fixture + pipeline result, shared by the linkage tests."""
    pages = synthetic_webpages(spark, 2000, seed=42).cache()
    pages.count()
    config = LinkageConfig(schema=webpages_schema(), secret="test-secret")
    result = run_linkage(spark, pages.select("url", "text"), config)
    config = result.config  # banding resolved by auto-tuning
    result.clks.cache().count()
    result.pairs.cache().count()
    result.clusters.cache().count()
    return pages, config, result


class TestBlocking:
    def test_every_true_duplicate_pair_shares_a_block(
        self, spark, small_linkage
    ):
        pages, config, result = small_linkage
        blocks = result.blocks  # kid (hashed-key) domain
        ids = result.clks.select(
            F.xxhash64("url").alias("kid"), "url"
        )
        kid_pairs = candidate_pairs(blocks, key_col="_kid")
        pair_universe = (
            kid_pairs.join(
                ids.select(F.col("kid").alias("key_a"),
                           F.col("url").alias("url_a")), on="key_a")
            .join(
                ids.select(F.col("kid").alias("key_b"),
                           F.col("url").alias("url_b")), on="key_b")
            .select(
                F.least("url_a", "url_b").alias("key_a"),
                F.greatest("url_a", "url_b").alias("key_b"),
            )
        )
        truth = truth_pairs(webpages_truth(pages))
        missed = truth.join(
            pair_universe, on=["key_a", "key_b"], how="left_anti"
        ).count()
        total = truth.count()
        assert total == 600
        # ≥98% of true pairs must share ≥1 block at the default band
        # sizing (tuned for 100k rows — generous at this 2k fixture, see
        # tuned_blocking); transitive closure recovers most of the
        # remainder (e2e F1 ≥ 0.99 asserted separately).
        assert missed <= total * 0.02

    def test_block_key_determinism(self, spark, small_linkage):
        pages, config, result = small_linkage
        again = block_keys(
            result.clks, l=config.schema.l,
            num_bands=config.num_bands,
            bits_per_band=config.bits_per_band,
            seed=config.lsh_seed, salt=config.lsh_salt, key_cols=("url",),
        )
        assert again.exceptAll(
            block_keys(
                result.clks, l=config.schema.l,
                num_bands=config.num_bands,
                bits_per_band=config.bits_per_band,
                seed=config.lsh_seed, salt=config.lsh_salt,
                key_cols=("url",),
            )
        ).count() == 0

    def test_salt_changes_keys(self, spark, small_linkage):
        pages, config, result = small_linkage
        salted = block_keys(
            result.clks.limit(10), l=config.schema.l,
            num_bands=4, bits_per_band=16, salt=7, key_cols=("url",),
        )
        unsalted = block_keys(
            result.clks.limit(10), l=config.schema.l,
            num_bands=4, bits_per_band=16, salt=0, key_cols=("url",),
        )
        assert salted.join(
            unsalted, on=["url", "block_key"], how="inner"
        ).count() == 0

    @staticmethod
    def _cap_blocks(spark):
        """One 100-row block and one singleton."""
        rows = [(f"k{i}", 1) for i in range(100)] + [("solo", 2)]
        return spark.createDataFrame(rows, ["url", "block_key"])

    def test_block_size_cap_split(self, spark):
        capped, acct = cap_block_size(self._cap_blocks(spark), 10)
        sizes = capped.groupBy("block_key").count().collect()
        assert max(r["count"] for r in sizes) <= 25  # hash split is uneven
        assert capped.count() == 101
        assert acct["oversized_blocks"] == 1
        assert acct["rows_in_oversized"] == 100
        assert acct["pair_volume_affected"] == 100 * 99 / 2

    @pytest.mark.parametrize("max_block_size", [None, 0, -1])
    def test_block_size_cap_rejects_out_of_range(self, spark,
                                                 max_block_size):
        # None, 0 or a negative cap would silently disable the cap
        with pytest.raises(ValueError, match="max_block_size"):
            cap_block_size(self._cap_blocks(spark), max_block_size)

    def test_histogram(self, spark):
        blocks = spark.createDataFrame(
            [(f"k{i}", i % 3) for i in range(12)], ["url", "block_key"]
        )
        hist = block_size_histogram(blocks).collect()
        assert sum(r["num_blocks"] for r in hist) == 3


class TestScoring:
    def test_dice_matches_numpy_oracle(self, spark, small_linkage):
        pages, config, result = small_linkage
        sample = result.pairs.limit(50).select("key_a", "key_b").cache()
        clk_map = {
            r["url"]: (bytes(r["clk"]), r["popcount"])
            for r in result.clks.collect()
        }
        lut = np.unpackbits(
            np.arange(256, dtype=np.uint8)[:, None], axis=1
        ).sum(1)

        def oracle(url_a, url_b):
            a, pa = clk_map[url_a]
            b, pb = clk_map[url_b]
            inter = int(
                lut[
                    np.frombuffer(a, np.uint8) & np.frombuffer(b, np.uint8)
                ].sum()
            )
            return 2 * inter / (pa + pb)

        joined = score_candidates(
            sample, result.clks, threshold=0.0, key_col="url",
        ).collect()
        assert len(joined) == 50
        for row in joined:
            assert abs(row["score"] - oracle(row["key_a"], row["key_b"])
                       ) < 1e-12

        # Keyed by an int64 id, the clks' other columns (here the url)
        # ride through the payload join, tagged by side.
        kid = F.xxhash64
        carried = score_candidates(
            sample.select(kid("key_a").alias("key_a"),
                          kid("key_b").alias("key_b")),
            result.clks.withColumn("_kid", kid("url")),
            threshold=0.0, key_col="_kid",
        )
        assert carried.columns == ["key_a", "key_b", "a_url", "b_url",
                                   "score"]
        kids = {r["url"]: r["_kid"] for r in
                result.clks.select("url", kid("url").alias("_kid"))
                .collect()}
        rows = carried.collect()
        assert len(rows) == 50
        for row in rows:
            assert (kids[row["a_url"]], kids[row["b_url"]]) == (
                row["key_a"], row["key_b"])
            assert abs(row["score"] - oracle(row["a_url"], row["b_url"])
                       ) < 1e-12
        sample.unpersist()

    def test_pair_payload_tags_each_side(self, spark):
        pairs = spark.createDataFrame([(1, 10), (2, 20), (1, 20)],
                                      ["key_a", "key_b"])
        side_a = spark.createDataFrame(
            [(1, "x1", 1.5), (2, "x2", 2.5), (3, "x3", 3.5)],
            ["id", "name", "weight"])
        # a side column named ``key`` arrives as b_key, never as key_b
        side_b = spark.createDataFrame(
            [("y10", 10, 100), ("y20", 20, 200), ("y30", 30, 300)],
            ["key", "id", "n"])
        out = pair_payload(pairs, side_a, "id", other=side_b)
        assert out.columns == ["key_a", "key_b", "a_name", "a_weight",
                               "b_key", "b_n"]
        assert sorted(tuple(r) for r in out.collect()) == [
            (1, 10, "x1", 1.5, "y10", 100),
            (1, 20, "x1", 1.5, "y20", 200),
            (2, 20, "x2", 2.5, "y20", 200),
        ]
        # one table serves both sides by default
        own = pair_payload(pairs.where(F.col("key_b") == 20)
                           .select("key_a", F.lit(3).alias("key_b")),
                           side_a, "id")
        assert sorted(tuple(r) for r in own.collect()) == [
            (1, 3, "x1", 1.5, "x3", 3.5), (2, 3, "x2", 2.5, "x3", 3.5)]

    def test_pairs_are_canonical_and_deduped(self, spark, small_linkage):
        pages, config, result = small_linkage
        bad_order = result.pairs.where(F.col("key_a") >= F.col("key_b"))
        assert bad_order.count() == 0
        assert (
            result.pairs.select("key_a", "key_b").distinct().count()
            == result.pairs.count()
        )

    def test_one_to_one_matching_mutual_best(self, spark):
        scored = spark.createDataFrame(
            [
                ("a1", "b1", 0.95),
                ("a1", "b2", 0.90),
                ("a2", "b1", 0.85),
                ("a2", "b2", 0.80),
            ],
            ["key_a", "key_b", "score"],
        )
        kept = one_to_one_matching(scored).collect()
        assert {(r["key_a"], r["key_b"]) for r in kept} == {("a1", "b1")}


def cluster_keys(pairs, **kwargs):
    """``cluster_records`` over the pairs' distinct keys: one
    ``(key, cluster_id)`` row per key on a pair."""
    keys = (
        pairs.select(F.col("key_a").alias("key"))
        .union(pairs.select(F.col("key_b").alias("key")))
        .distinct()
    )
    return cluster_records(keys, pairs, key_col="key", **kwargs)


class TestClustering:
    def test_connected_components_chain_and_triangle(self, spark):
        pairs = spark.createDataFrame(
            [
                ("a", "b"), ("b", "c"),              # chain a-b-c
                ("x", "y"), ("y", "z"), ("x", "z"),  # triangle
                ("solo1", "solo2"),
            ],
            ["key_a", "key_b"],
        )
        components = cluster_keys(pairs)
        got = {
            r["key"]: r["cluster_id"] for r in components.collect()
        }
        assert got["a"] == got["b"] == got["c"]
        assert got["x"] == got["y"] == got["z"]
        assert got["solo1"] == got["solo2"]
        assert len({got["a"], got["x"], got["solo1"]}) == 3

    def test_long_chain_converges(self, spark):
        n = 40
        pairs = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)],
            ["key_a", "key_b"],
        )
        components = cluster_keys(pairs)
        assert components.select("cluster_id").distinct().count() == 1

    def test_very_long_chain_pointer_jumping(self, spark):
        """A 300-node path graph must converge well inside the iteration
        cap — pointer jumping makes rounds O(log n), not O(n)."""
        n = 300
        pairs = spark.createDataFrame(
            [(f"c{i:04d}", f"c{i+1:04d}") for i in range(n)],
            ["key_a", "key_b"],
        )
        components = cluster_keys(pairs, max_iterations=15)
        assert components.select("cluster_id").distinct().count() == 1
        assert components.count() == n + 1

    def test_attach_cluster_ids_gives_singletons_ids(self, spark):
        records = spark.createDataFrame(
            [("a",), ("b",), ("lonely",)], ["url"]
        )
        total = cluster_records(
            records, spark.createDataFrame([("a", "b")], ["key_a", "key_b"])
        )
        got = {r["url"]: r["cluster_id"] for r in total.collect()}
        assert got["a"] == got["b"]
        assert got["lonely"] is not None
        assert got["lonely"] != got["a"]


class TestEndToEnd:
    def test_pairwise_f1_target(self, spark, small_linkage):
        pages, config, result = small_linkage
        metrics = pairwise_metrics(
            cluster_pairs(result.clusters, key_col="url"),
            truth_pairs(webpages_truth(pages)),
        )
        assert metrics["f1"] >= 0.99, metrics

    def test_checkpoint_resume_skips_stages(self, spark, tmp_path):
        pages = synthetic_webpages(spark, 300, seed=7).select("url", "text")
        config = LinkageConfig(
            schema=webpages_schema(),
            secret="resume-secret",
            checkpoint_dir=str(tmp_path / "stages"),
            input_fingerprint="pages-300-seed-7",
        )
        first = run_linkage(spark, pages, config)
        assert first.metrics.get("clks_rows") == 300
        second = run_linkage(spark, pages, config)
        assert second.metrics.get("clks_resumed") is True
        assert second.metrics.get("clusters_resumed") is True
        assert (
            second.clusters.orderBy("url").collect()
            == first.clusters.orderBy("url").collect()
        )

    def test_changed_config_invalidates_resume(self, spark, tmp_path):
        pages = synthetic_webpages(spark, 200, seed=7).select("url", "text")
        base = dict(schema=webpages_schema(), secret="x",
                    checkpoint_dir=str(tmp_path / "stages2"),
                    input_fingerprint="pages-200-seed-7")
        run_linkage(spark, pages, LinkageConfig(**base))
        changed = run_linkage(
            spark, pages, LinkageConfig(**base, threshold=0.9)
        )
        # pairs stage depends on threshold → must recompute.
        assert changed.metrics.get("pairs_resumed") is None


class TestInputHintSchema:
    """The fixture must match BASELINE.json's input_hint exactly:
    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
    """

    def test_webpages_schema_matches_input_hint(self, spark):
        pages = synthetic_webpages(spark, 10, seed=1)
        got = [(f.name, f.dataType.simpleString()) for f in pages.schema]
        assert got[:5] == [
            ("url", "string"),
            ("warc_ts", "timestamp"),
            ("html", "binary"),
            ("text", "string"),
            ("lang", "string"),
        ]
        # anything beyond the input shape must be ground-truth labels only
        assert [name for name, _ in got[5:]] == ["entity_id", "variant"]

    def test_webpages_deterministic_and_text_embedded_in_html(self, spark):
        a = synthetic_webpages(spark, 50, seed=9).orderBy("url").collect()
        b = synthetic_webpages(spark, 50, seed=9).orderBy("url").collect()
        assert a == b
        for row in a:
            assert row.text.encode("utf-8") in bytes(row.html)
