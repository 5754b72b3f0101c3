"""Round-6 optimization regressions: the properties the optimization
round introduced must survive refactors.

- stage-boundary lineage truncation in the pipelines (plans stay small;
  the driver-gap pathology was ~10 s of zero-task Catalyst time per run),
  for one and two parties, with the skew cap idle or splitting; blocks
  stay a block_key-partitioned cache, and a run leaves only its stage
  outputs persisted (with a StageStore, only the blocks cache)
- per-stage Spark job counts of every stage and of the key-id check,
  for one and two parties, with the skew cap idle or splitting: one
  table of counts holds in memory and with a fresh StageStore, and a
  fully resumed run starts only the key-id check's jobs
- no store, a fresh StageStore and a resumed run give the same pairs
  and clusters, and the manifest's row counts are the tables' counts
- an out-of-range LinkageConfig field or a missing column is named
  before any Spark job
- the skew cap's accounting: a resumed blocks stage restores the fresh
  run's, and an empty table or party B links nothing, reports zeros
  and is not counted again
- a query leaves only the persisted RDDs it cannot avoid
- single-evaluation MinHash plans (signature UDF appears once)
- dedup-group sizes via partial aggregation, not a window over the
  skewed group key
- narrow-scan widening fires only when it should, and starts no job
  on an input whose plan has an exchange
- two-level IVF: executor-side sub-fit is bit-identical to the driver
  loop; the quantizer ships as ONE explicit broadcast, not per-UDF
  closure pickles; the BLAS thread pin is only taken when it can be
  restored, and is found under scipy-openblas's prefixed symbol names
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
    @pytest.mark.parametrize("parties, max_block_size, store, outputs", [
        # clks, blocks, pairs, clusters
        (1, 16, False, 4),
        # clks_a, clks_b, blocks, pairs, clusters
        (2, 16, False, 5),
        # with a StageStore only blocks is cached: the other stages are
        # parquet read-backs
        (1, 2000, True, 1),
        (2, 2000, True, 1),
    ], ids=["hash-16-4", "two_party-hash-16-5", "store-2000-1",
            "two_party-store-2000-1"])
    def test_run_leaves_only_stage_outputs(self, spark, tmp_path, parties,
                                           max_block_size, store, outputs):
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs())
        config = ({"checkpoint_dir": str(tmp_path),
                   "input_fingerprint": "skewed"} if store else {})
        result = _run_skewed(spark, parties, max_block_size=max_block_size,
                             **config)
        persistent = jsc.getPersistentRDDs()
        grown = set(persistent) - before
        try:
            # the scratch cache (the uncapped blocks) is released when the
            # blocks stage ends unless it is that stage's output, which it
            # is not when the cap rewrote it
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


_JOB_COUNTS = [
    # parties, max_block_size, Spark jobs per stage group
    (1, 2000, {"clk:clks": 1, "clk:blocks": 4, "clk:pairs": 4,
               "clk:clusters": 3, None: 2}),
    (1, 16, {"clk:clks": 1, "clk:blocks": 7, "clk:pairs": 4,
             "clk:clusters": 3, None: 2}),
    (2, 2000, {"clk:clks_a": 1, "clk:clks_b": 1, "clk:blocks": 4,
               "clk:pairs": 7, "clk:clusters": 3, None: 2}),
    (2, 16, {"clk:clks_a": 1, "clk:clks_b": 1, "clk:blocks": 7,
             "clk:pairs": 7, "clk:clusters": 3, None: 2}),
]
_JOB_COUNT_IDS = ["cap_idle", "cap_split", "two_party-cap_idle",
                  "two_party-cap_split"]


class TestStageJobCounts:
    # Spark jobs per stage group, one table or two parties, cap idle /
    # cap split, in memory and with a fresh StageStore. Each stage ends
    # in one action, a noop or a parquet write that also counts it, so
    # both modes start the same jobs. With banding pinned the only
    # ungrouped (None) jobs are the key-id check between the clks stages
    # and banding.
    @pytest.mark.parametrize(
        "store, parties, max_block_size, expected",
        [(store, *row) for store in (False, True) for row in _JOB_COUNTS],
        ids=_JOB_COUNT_IDS + [f"store-{i}" for i in _JOB_COUNT_IDS])
    def test_blocks_and_clusters_job_counts(self, spark, tmp_path, store,
                                            parties, max_block_size,
                                            expected):
        config = {"max_block_size": max_block_size}
        if store:
            config.update(checkpoint_dir=str(tmp_path),
                          input_fingerprint="skewed")
        assert _new_jobs(spark, lambda: _run_skewed(spark, parties,
                                                    **config)) == expected

    @pytest.mark.parametrize("parties", [1, 2])
    def test_resumed_run_groups_every_stage_job(self, spark, tmp_path,
                                                parties):
        # A fully resumed run reads every stage back from the StageStore
        # with its stored schema, which starts no job; only the key-id
        # check (2 jobs) runs.
        config = {"max_block_size": 16, "checkpoint_dir": str(tmp_path),
                  "input_fingerprint": "skewed"}
        _run_skewed(spark, parties, **config)
        jobs = _new_jobs(spark, lambda: _run_skewed(spark, parties,
                                                    **config))
        assert jobs == {None: 2}, jobs


class TestStageStoreParity:
    @pytest.mark.parametrize("parties", [1, 2])
    @pytest.mark.parametrize("max_block_size", [2000, 16],
                             ids=["cap_idle", "cap_split"])
    def test_store_runs_match_memory_run(self, spark, tmp_path, parties,
                                         max_block_size):
        # No store, a fresh StageStore and a fully resumed run link the
        # same pairs and clusters, and every stage's manifest row count is
        # the count of its table and the in-memory run's row count.
        import json

        stored = {"max_block_size": max_block_size,
                  "checkpoint_dir": str(tmp_path),
                  "input_fingerprint": "skewed"}
        memory = _run_skewed(spark, parties, max_block_size=max_block_size)
        fresh = _run_skewed(spark, parties, **stored)
        resumed = _run_skewed(spark, parties, **stored)
        assert "clusters_resumed" not in fresh.metrics
        assert resumed.metrics["clusters_resumed"]
        for name in ("pairs", "clusters"):
            memory_rows = sorted(getattr(memory, name).collect())
            assert memory_rows
            for run in (fresh, resumed):
                assert sorted(getattr(run, name).collect()) == memory_rows
        with open(tmp_path / "_clkhash_manifest.json") as fp:
            manifest = json.load(fp)["stages"]
        stages = (["clks"] if parties == 1 else ["clks_a", "clks_b"]) + [
            "blocks", "pairs", "clusters"]
        assert sorted(manifest) == sorted(stages)
        for stage in stages:
            table = spark.read.parquet(str(tmp_path / stage)).count()
            assert manifest[stage]["rows"] == table == memory.metrics[
                f"{stage}_rows"] == resumed.metrics[f"{stage}_rows"], stage


class TestConfigCheck:
    # Each out-of-range field is named before any Spark job starts.
    @pytest.mark.parametrize("parties, field, config", [
        (1, "threshold", {"threshold": 1.5}),
        (1, "threshold", {"threshold": -0.1}),
        (1, "num_bands", {"num_bands": 0}),
        (1, "bits_per_band", {"bits_per_band": 60}),
        (1, "bits_per_band", {"bits_per_band": 0}),
        (1, "min_band_matches", {"min_band_matches": 17}),
        (1, "min_band_matches", {"min_band_matches": 0}),
        (1, "max_block_size", {"max_block_size": 0}),
        (1, "key_col", {"key_col": "page"}),
        (1, "feature_cols", {"feature_cols": ["body"]}),
        (2, "key_col", {}),
    ])
    def test_bad_config_raises_by_name_before_any_job(self, spark, parties,
                                                      field, config):
        from clkhash_spark.pipeline import (
            LinkageConfig, run_linkage, run_linkage_two_party,
            webpages_schema,
        )

        from .test_round3_fixes import _two_party_with_boilerplate

        party_a, party_b, _ = _two_party_with_boilerplate(spark)
        config = LinkageConfig(**{
            "schema": webpages_schema(), "secret": "s", "num_bands": 16,
            "bits_per_band": 16, **config})

        def run():
            with pytest.raises(ValueError, match=f"LinkageConfig.{field}"):
                if parties == 1:
                    run_linkage(spark, party_a.unionByName(party_b), config)
                else:  # party B lacks the key column
                    run_linkage_two_party(
                        spark, party_a,
                        party_b.withColumnRenamed("url", "page"), config)

        assert _new_jobs(spark, run) == {}

    @pytest.mark.parametrize("parties", [1, 2])
    @pytest.mark.parametrize("field", ["input_fingerprint", "schema"])
    def test_store_needs_input_and_schema_identity(self, spark, tmp_path,
                                                   parties, field):
        # A StageStore resumes a stage whose fingerprint matches; an
        # in-memory input (no source files) without input_fingerprint,
        # or a schema built without a document, has no identity, so it
        # is named before any Spark job instead of resuming another
        # input's stages.
        from clkhash_spark.core.schema import Schema
        from clkhash_spark.pipeline import (
            LinkageConfig, run_linkage, run_linkage_two_party,
            webpages_schema,
        )

        from .test_round3_fixes import _two_party_with_boilerplate

        party_a, party_b, _ = _two_party_with_boilerplate(spark)
        schema = webpages_schema()
        if field == "schema":
            schema = Schema(schema.fields, schema.l)
        config = LinkageConfig(
            schema=schema, secret="s", num_bands=16, bits_per_band=16,
            checkpoint_dir=str(tmp_path),
            input_fingerprint="skewed" if field == "schema" else None)

        def run():
            with pytest.raises(ValueError, match=f"LinkageConfig.{field}"):
                if parties == 1:
                    run_linkage(spark, party_a.unionByName(party_b), config)
                else:
                    run_linkage_two_party(spark, party_a, party_b, config)

        assert _new_jobs(spark, run) == {}
        assert not os.listdir(tmp_path)


_NO_CAP_ACCOUNTING = {"oversized_blocks": 0, "rows_in_oversized": 0,
                      "pair_volume_affected": 0.0}


def _assert_accounting_types(acct):
    assert [type(acct[k]) for k in _NO_CAP_ACCOUNTING] == [int, int, float]


class TestCapAccounting:
    @pytest.mark.parametrize("parties", [1, 2])
    @pytest.mark.parametrize("max_block_size", [2000, 16],
                             ids=["cap_idle", "cap_split"])
    def test_resumed_blocks_restore_accounting(self, spark, tmp_path,
                                               parties, max_block_size):
        config = {"max_block_size": max_block_size,
                  "checkpoint_dir": str(tmp_path),
                  "input_fingerprint": "skewed"}
        fresh = _run_skewed(spark, parties, **config).metrics
        resumed = _run_skewed(spark, parties, **config).metrics
        assert resumed["blocks_resumed"] and "blocks_resumed" not in fresh
        acct = fresh["block_cap_accounting"]
        assert bool(acct["oversized_blocks"]) == (max_block_size == 16)
        assert resumed["block_cap_accounting"] == acct
        _assert_accounting_types(resumed["block_cap_accounting"])

    @pytest.mark.parametrize("banding", [
        {}, {"num_bands": 16, "bits_per_band": 16},
    ], ids=["auto", "pinned"])
    @pytest.mark.parametrize("parties", [1, 2])
    def test_empty_party(self, spark, parties, banding):
        # One empty table, or two parties with B empty: nothing to pair,
        # so the cap's collect is empty; every A record is a cluster.
        # With banding pinned, the only ungrouped jobs are the key-id
        # check's (none over an empty table): banding reads the clks
        # stages' recorded row counts and recounts no empty one.
        from clkhash_spark.pipeline import (
            LinkageConfig, run_linkage, run_linkage_two_party,
            webpages_schema,
        )

        from .test_round3_fixes import _two_party_with_boilerplate

        party_a, party_b, _ = _two_party_with_boilerplate(spark)
        config = LinkageConfig(schema=webpages_schema(), secret="s",
                               **banding)
        results = []
        if parties == 1:
            jobs = _new_jobs(spark, lambda: results.append(
                run_linkage(spark, party_a.limit(0), config)))
            records = 0
        else:
            jobs = _new_jobs(spark, lambda: results.append(
                run_linkage_two_party(spark, party_a, party_b.limit(0),
                                      config)))
            records = party_a.count()
        (result,) = results
        if banding:
            assert jobs.get(None, 0) == (0 if parties == 1 else 2), jobs
        assert result.pairs.count() == 0
        acct = result.metrics["block_cap_accounting"]
        assert acct == _NO_CAP_ACCOUNTING
        _assert_accounting_types(acct)
        assert result.clusters.count() == records


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

    def test_shuffled_input_starts_no_job(self, spark):
        # An exchange already set the partitioning; reading the plan
        # must not run the upstream shuffle stage to count partitions.
        from clkhash_spark.operators._util import widen_if_narrow

        df = spark.range(0, 100_000, 1, 8).repartition(3, "id")
        out = []
        jobs = _new_jobs(spark, lambda: out.append(widen_if_narrow(df)))
        assert jobs == {} and out == [df], jobs


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


    def test_probes_prefixed_openblas_symbols(self, monkeypatch):
        # numpy >= 2 wheels ship scipy-openblas, whose control symbols
        # carry a scipy_ prefix and a 64_ suffix.
        import ctypes
        import glob
        import types

        import clkhash_spark.operators.similarity as S

        seen = []
        stub = types.SimpleNamespace(
            scipy_openblas_set_num_threads64_=seen.append,
            scipy_openblas_get_num_threads64_=lambda: 3,
        )
        monkeypatch.setattr(glob, "glob",
                            lambda pattern: ["libscipy_openblas64_.so"])
        monkeypatch.setattr(ctypes, "CDLL", lambda path: stub)
        monkeypatch.setattr(S._single_thread_blas, "_probed", False)
        monkeypatch.setattr(S._single_thread_blas, "_lib", None)
        with S._single_thread_blas():
            pass
        assert seen == [1, 3]


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
