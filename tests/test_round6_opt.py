"""Round-6 optimization regressions: the properties the optimization
round introduced must survive refactors.

- stage-boundary lineage truncation in the pipelines (plans stay small;
  the driver-gap pathology was ~10 s of zero-task Catalyst time per run),
  for one and two parties, with the skew cap idle or splitting; blocks
  stay a block_key-partitioned cache, and a run leaves only its stage
  outputs persisted
- per-stage Spark job counts of the blocks, pairs and clusters
  stages and of the key-id check, for one and two parties, with the
  skew cap idle or splitting; a fully resumed run starts no ungrouped
  job besides the key-id check
- a query leaves only the persisted RDDs it cannot avoid
- single-evaluation MinHash plans (signature UDF appears once)
- dedup-group sizes via partial aggregation, not a window over the
  skewed group key
- narrow-scan widening fires only when it should
- two-level IVF: executor-side sub-fit is bit-identical to the driver
  loop; the quantizer ships as ONE explicit broadcast, not per-UDF
  closure pickles; the BLAS thread pin is only taken when it can be
  restored
"""

import os

import numpy as np
import pytest

SF = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")

pytestmark = [
    pytest.mark.spark,
    pytest.mark.skipif(
        not os.path.isdir(SF), reason="driver testdata not available"
    ),
]


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestPlanShapes:
    def test_minhash_pairs_single_signature_evaluation(self, spark):
        from clkhash_spark.entry_queries import q_doc_minhash_pairs

        import re

        # Earlier tests in the shared session may have registered cache
        # entries for the same signature plan; re-matching against them
        # nests InMemoryRelations and the formatted printout then shows
        # extra (cached, not live) ArrowEvalPython ids. Clear to assert
        # on the first-construction plan. (No other module's fixtures
        # are alive here — module scopes are torn down per file.)
        spark.catalog.clearCache()
        plan = plan_of(q_doc_minhash_pairs(spark, SF))
        # one DISTINCT ArrowEvalPython node: the signature UDF feeds a
        # persisted InMemoryRelation consumed by the band join and both
        # verification joins (round 5: 8 distinct nodes = 3+
        # evaluations). The formatted plan re-prints the cached subtree
        # under every InMemoryTableScan, so count unique node ids, not
        # string occurrences.
        node_ids = set(
            re.findall(r"^\((\d+)\) ArrowEvalPython", plan, re.MULTILINE)
        )
        assert len(node_ids) == 1, sorted(node_ids)
        assert "InMemoryTableScan" in plan

    def test_dedup_groups_no_group_size_window(self, spark):
        from clkhash_spark.entry_queries import q_doc_dedup_groups

        plan = plan_of(q_doc_dedup_groups(spark, SF))
        # group_size comes from groupBy().count() + join (partial
        # aggregation; AQE-skew-splittable), never a window over the
        # skewed group_id.
        assert "Window" not in plan
        assert "HashAggregate" in plan

    @pytest.mark.parametrize("parties", [1, 2])
    @pytest.mark.parametrize("max_block_size", [2000, 16],
                             ids=["cap_idle", "cap_split"])
    def test_pipeline_stages_truncate_lineage(self, spark, parties,
                                              max_block_size):
        from pyspark.sql import functions as F

        from clkhash_spark.operators.scoring import candidate_pairs

        result = _run_skewed(spark, parties, max_block_size=max_block_size)
        engaged = result.metrics["block_cap_accounting"]["oversized_blocks"]
        assert bool(engaged) == (max_block_size == 16), engaged
        for name, df in (("pairs", result.pairs),
                         ("clusters", result.clusters)):
            plan = plan_of(df)
            # materialized stage outputs are LogicalRDD scans; without
            # truncation the clusters plan embedded ~19 copies of the
            # synthetic-pages expression tree (1,800+ lines at 20k rows)
            assert "Scan ExistingRDD" in plan, name
            assert len(plan.splitlines()) < 120, (
                name, len(plan.splitlines())
            )
        # blocks stays a cache hash-partitioned by block_key on both cap
        # paths, so the pair join reads it without a join-side exchange
        # (the cache's own repartition is REPARTITION_BY_NUM)
        assert "InMemoryRelation" in plan_of(result.blocks)
        blocks = result.blocks
        sides = ((blocks,) if parties == 1 else
                 (blocks.where(F.col("_kid") >= 0),
                  blocks.where(F.col("_kid") < 0)))
        join_plan = plan_of(candidate_pairs(*sides, key_col="_kid",
                                            min_band_matches=2))
        exchanges = [line for line in join_plan.splitlines()
                     if "ENSURE_REQUIREMENTS" in line and "block_key" in line]
        assert exchanges == [], exchanges


def _run_skewed(spark, parties, **config):
    """Linkage over 400 synthetic pages plus 80 identical boilerplate
    pages (an 80-row block in every band), as one table or split into
    two parties; ``max_block_size=16`` engages the cap's split path."""
    from clkhash_spark.pipeline import (
        LinkageConfig, run_linkage, run_linkage_two_party, webpages_schema,
    )

    from .test_round3_fixes import _two_party_with_boilerplate

    party_a, party_b, _ = _two_party_with_boilerplate(spark)
    config = LinkageConfig(
        schema=webpages_schema(), secret="s", num_bands=16,
        bits_per_band=16, **config,
    )
    if parties == 1:
        return run_linkage(spark, party_a.unionByName(party_b), config)
    return run_linkage_two_party(spark, party_a, party_b, config)


class TestStageCaches:
    @pytest.mark.parametrize("parties, outputs", [
        # clks, blocks, pairs, clusters
        (1, 4),
        # clks_a, clks_b, blocks, pairs, clusters
        (2, 5),
    ], ids=["hash-16-4", "two_party-hash-16-5"])
    def test_run_leaves_only_stage_outputs(self, spark, parties, outputs):
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs())
        result = _run_skewed(spark, parties, max_block_size=16)
        persistent = jsc.getPersistentRDDs()
        grown = set(persistent) - before
        try:
            # the scratch cache (the uncapped blocks the cap rewrote) is
            # released when the blocks stage ends
            assert len(grown) == outputs, sorted(grown)
            # the key id is stage-internal
            assert "_kid" not in result.clks.columns
            m = result.metrics
            assert result.blocks.count() == m["blocks_rows"] > 0
            assert result.pairs.count() == m["pairs_rows"] > 0
        finally:
            for rdd_id in grown:
                persistent[rdd_id].unpersist(True)


def _new_jobs(spark, run):
    """Groups of the Spark jobs ``run()`` starts: ``{group: count}``,
    read from the status store (newest job first)."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def newest():
        jobs = store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    mark = newest()
    run()
    counts = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        if job.jobId() <= mark:
            break
        group = job.jobGroup()
        group = group.get() if group.isDefined() else None
        counts[group] = counts.get(group, 0) + 1
    return counts


class TestStageJobCounts:
    # Spark jobs per stage group, one table or two parties, cap idle /
    # cap split. With banding pinned the only ungrouped (None) jobs are
    # the key-id check between the clks stages and banding.
    @pytest.mark.parametrize(
        "parties, config, blocks_jobs, pairs_jobs, clusters_jobs", [
            (1, {"max_block_size": 2000}, 6, 5, 4),
            (1, {"max_block_size": 16}, 9, 5, 4),
            (2, {"max_block_size": 2000}, 6, 8, 4),
            (2, {"max_block_size": 16}, 9, 8, 4),
        ], ids=["cap_idle", "cap_split", "two_party-cap_idle",
                "two_party-cap_split"])
    def test_blocks_and_clusters_job_counts(self, spark, parties, config,
                                            blocks_jobs, pairs_jobs,
                                            clusters_jobs):
        tracker = spark.sparkContext.statusTracker()
        groups = ("clk:blocks", "clk:pairs", "clk:clusters", None)

        def jobs():
            return [set(tracker.getJobIdsForGroup(g)) for g in groups]

        # groups accumulate over the session: count this run's jobs as
        # new job ids, which the status store's eviction of older jobs
        # (past spark.ui.retainedJobs) cannot skew
        before = jobs()
        _run_skewed(spark, parties, **config)
        grown = [len(a - b) for a, b in zip(jobs(), before)]
        assert grown == [blocks_jobs, pairs_jobs, clusters_jobs, 2], dict(
            zip(groups, grown))

    @pytest.mark.parametrize("parties", [1, 2])
    def test_resumed_run_groups_every_stage_job(self, spark, tmp_path,
                                                parties):
        # A fully resumed run reads every stage back from the StageStore
        # under the stage's own group; only the key-id check (2 jobs)
        # runs ungrouped.
        config = {"max_block_size": 16, "checkpoint_dir": str(tmp_path),
                  "input_fingerprint": "skewed"}
        _run_skewed(spark, parties, **config)
        jobs = _new_jobs(spark, lambda: _run_skewed(spark, parties,
                                                    **config))
        ungrouped = jobs.pop(None, 0)
        assert ungrouped == 2, (ungrouped, jobs)
        assert jobs and all(g.startswith("clk:") for g in jobs), jobs
class TestQueryScratchCaches:
    def test_dedup_groups_does_not_persist_pairs(self, spark):
        from clkhash_spark.entry_queries import q_doc_dedup_groups

        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs())
        q_doc_dedup_groups(spark, SF).collect()
        persistent = jsc.getPersistentRDDs()
        grown = set(persistent) - before
        try:
            # the MinHash signatures cache (read three times by the pair
            # generator) and the solver's edge checkpoint; the cluster
            # operator reads the pair list once, so it is not persisted
            # (a pairs cache made this 3)
            assert len(grown) == 2, sorted(grown)
        finally:
            for rdd_id in grown:
                persistent[rdd_id].unpersist(True)


class TestWidenIfNarrow:
    def test_fires_on_single_partition(self, spark):
        from clkhash_spark.operators._util import widen_if_narrow

        df = spark.range(0, 1000, 1, 1)
        out = widen_if_narrow(df)
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )

    def test_inert_near_full_parallelism(self, spark):
        from clkhash_spark.operators._util import widen_if_narrow

        par = spark.sparkContext.defaultParallelism
        df = spark.range(0, 1000, 1, max(1, par - 1))
        assert widen_if_narrow(df) is df

    def test_streaming_passthrough(self, spark):
        from clkhash_spark.operators._util import widen_if_narrow

        stream = spark.readStream.format("rate").load()
        assert widen_if_narrow(stream) is stream


class TestClusterEdgeBound:
    def test_known_edge_bound_matches_gated_path(self, spark):
        from .test_spark_pipeline import cluster_keys

        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), ("a", "c")],
            ["key_a", "key_b"],
        )
        gated = sorted(map(tuple, cluster_keys(pairs).collect()))
        fast = sorted(
            map(tuple, cluster_keys(pairs, known_edge_bound=5).collect())
        )
        assert fast == gated and len(fast) == 6
        # f is only on a self-pair: it is its own singleton
        ids = dict(fast)
        assert [k for k, c in ids.items() if c == ids["f"]] == ["f"]

    def test_known_edge_bound_empty_edges(self, spark):
        from pyspark.sql import functions as F

        from .test_spark_pipeline import cluster_keys

        pairs = spark.createDataFrame(
            [("x", "x")], ["key_a", "key_b"]  # self-loop only → no edges
        )
        out = cluster_keys(pairs, known_edge_bound=1)
        # a key only on a self-pair is its own singleton: its vertex id
        (row,) = out.collect()
        assert row["key"] == "x"
        assert row["cluster_id"] == pairs.select(
            F.xxhash64("key_a")).first()[0]

    def test_bound_above_gate_uses_gated_path(self, spark):
        from .test_spark_pipeline import cluster_keys

        pairs = spark.createDataFrame(
            [("a", "b")], ["key_a", "key_b"]
        )
        out = cluster_keys(pairs, small_graph_edges=0, known_edge_bound=1)
        # bound > gate → falls through to the distributed contraction
        assert sorted(r["cluster_id"] is not None for r in out.collect())

    def test_zero_gate_forces_gated_path_even_at_zero_bound(
        self, spark, monkeypatch
    ):
        import clkhash_spark.operators.cluster as cluster

        from .test_spark_pipeline import cluster_keys

        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "e")], ["key_a", "key_b"]
        )
        gated = sorted(map(tuple, cluster_keys(pairs).collect()))

        def driver_side(*args):
            raise AssertionError("gate 0 took the driver-side path")

        monkeypatch.setattr(cluster, "_union_find_labels", driver_side)
        forced = sorted(map(tuple, cluster_keys(
            pairs, small_graph_edges=0, known_edge_bound=0
        ).collect()))
        assert forced == gated and len(forced) == 5


class TestSingleThreadBlas:
    @pytest.mark.parametrize("get_threads, calls", [
        (None, []),   # set-only build: the pin could not be undone
        (4, [1, 4]),  # pinned inside, restored on exit
    ], ids=["set_only", "set_and_get"])
    def test_pins_only_what_it_restores(self, monkeypatch, get_threads,
                                        calls):
        import clkhash_spark.operators.similarity as S

        seen = []
        get_fn = None if get_threads is None else (lambda: get_threads)
        monkeypatch.setattr(S._single_thread_blas, "_probed", True)
        monkeypatch.setattr(S._single_thread_blas, "_lib",
                            (seen.append, get_fn))
        with S._single_thread_blas():
            pass
        assert seen == calls


class TestTwoLevelFit:
    def test_distributed_subfit_bit_identical(self, spark):
        import clkhash_spark.operators.similarity as S

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        driver = S.two_level_centroids(
            emb, num_cells=64, branch=16, distributed_fit=False
        )
        dist = S.two_level_centroids(
            emb, num_cells=64, branch=16, distributed_fit=True
        )
        np.testing.assert_array_equal(driver.coarse, dist.coarse)
        np.testing.assert_array_equal(driver.valid, dist.valid)
        np.testing.assert_array_equal(driver.fine, dist.fine)

    def test_index_broadcast_single_handle(self, spark):
        from pyspark.broadcast import Broadcast

        import clkhash_spark.operators.similarity as S

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        idx = S.ivf_fit_auto(emb, num_cells=8)
        assert idx.payload is idx.centroids  # raw before broadcast
        idx.broadcast(spark)
        handle = idx.payload
        assert isinstance(handle, Broadcast)
        # idempotent: a second call must NOT create a second broadcast
        idx.broadcast(spark)
        assert idx.payload is handle
        # queries through the broadcast handle match the raw path
        from pyspark.sql import functions as F

        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        via_bc = sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in S.ivf_topk_auto(
                emb, queries, k=5, index=idx
            ).collect()
        )
        idx.unpersist()
        assert idx.payload is idx.centroids
        raw = sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in S.ivf_topk_auto(
                emb, queries, k=5, index=idx
            ).collect()
        )
        assert via_bc == raw

    def test_two_level_broadcast_queries_green(self, spark):
        from pyspark.sql import functions as F

        import clkhash_spark.operators.similarity as S

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        idx = S.ivf_fit_auto(emb, num_cells=64, flat_cell_cap=16)
        assert idx.kind == "two_level"
        idx.broadcast(spark)
        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = S.ivf_topk_auto(emb, queries, k=5, index=idx, nprobe=16)
        rows = out.collect()
        assert len(rows) > 0
        idx.unpersist()
