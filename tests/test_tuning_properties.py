"""Property tests (no Spark) for the round-2 scaling laws and the
recall model, and the stage fingerprints of small StageStore runs."""

import json
import math

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from clkhash_spark.pipeline import (
    LinkageConfig,
    _band_recall,
    _resolve_banding,
    _secret_fingerprint,
    tuned_blocking,
    webpages_schema,
)


class TestTunedBlockingLaw:
    @given(n=st.integers(min_value=1_000, max_value=10**12))
    @settings(max_examples=200, deadline=None)
    def test_invariants(self, n):
        from clkhash_spark.pipeline import _BAND_GRID

        t = tuned_blocking(n)
        assert 14 <= t["bits_per_band"] <= 48
        assert t["num_bands"] in _BAND_GRID
        # Feasible picks meet the gate-derived 0.9925 floor; only the
        # grid-exhausted 512-band fallback (web-scale r at the 48-bit
        # cap) may honestly report lower.
        if t["num_bands"] < 512:
            assert t["predicted_recall"] >= 0.9925
        else:
            assert t["predicted_recall"] >= 0.97
        assert t["min_band_matches"] == 2

    @given(n=st.integers(min_value=1_000, max_value=10**12))
    @settings(max_examples=100, deadline=None)
    def test_search_picks_minimal_feasible_bands(self, n):
        """The searched band count must be the SMALLEST grid entry
        meeting the recall target (banded rows are shuffle volume)."""
        from clkhash_spark.pipeline import _BAND_GRID

        t = tuned_blocking(n)
        smaller = [b for b in _BAND_GRID if b < t["num_bands"]]
        if smaller:
            # The next-smaller grid entry, at the law's bit depth for
            # it, misses the n-scaled recall target — else the search
            # would have chosen it.
            prev = tuned_blocking(n, num_bands=smaller[-1])
            allowed_miss = min(1 - 0.9925, max(1e-5, n / 1e8))
            miss = 1 - _band_recall(prev["num_bands"], prev["bits_per_band"],
                                    2, 0.91)
            assert miss > allowed_miss, (n, t, prev)

    @given(n=st.integers(min_value=1_000, max_value=10**12),
           bands=st.integers(min_value=2, max_value=512))
    @example(n=600_000, bands=16)
    @settings(max_examples=100, deadline=None)
    def test_pinned_num_bands_is_exact(self, n, bands):
        """A pinned band count is run as given, at the bit depth the
        law reports for that count (not the depth of a larger count)."""
        t = tuned_blocking(n, num_bands=bands)
        assert t["num_bands"] == bands
        resolved = _resolve_banding(
            LinkageConfig(schema=webpages_schema(), secret="s",
                          num_bands=bands), n)
        assert (resolved.num_bands, resolved.bits_per_band) == (
            t["num_bands"], t["bits_per_band"])

    @given(
        n=st.integers(min_value=1_000, max_value=10**11),
        factor=st.integers(min_value=2, max_value=100),
    )
    @settings(max_examples=100, deadline=None)
    def test_bits_monotone_in_n(self, n, factor):
        assert (
            tuned_blocking(n * factor)["bits_per_band"]
            >= tuned_blocking(n)["bits_per_band"]
        )

    def test_resolve_banding_fills_only_none(self):
        schema = webpages_schema()
        auto = _resolve_banding(
            LinkageConfig(schema=schema, secret="s"), 600_000
        )
        assert auto.num_bands is not None
        assert auto.bits_per_band == tuned_blocking(600_000)["bits_per_band"]
        pinned = _resolve_banding(
            LinkageConfig(schema=schema, secret="s",
                          num_bands=32, bits_per_band=19),
            600_000,
        )
        assert (pinned.num_bands, pinned.bits_per_band) == (32, 19)


class TestRecallModel:
    @given(bands=st.integers(min_value=1, max_value=512),
           bits=st.integers(min_value=14, max_value=48),
           matches=st.integers(min_value=1, max_value=8),
           agreement=st.floats(min_value=0.5, max_value=0.99))
    # 600k rows at the law's 64 × 23 geometry: the tail is 0.981856,
    # where treating every m >= 2 as 2 predicted 0.996077
    @example(bands=64, bits=23, matches=3, agreement=0.91)
    @settings(max_examples=300, deadline=None)
    def test_recall_is_the_binomial_tail(self, bands, bits, matches,
                                         agreement):
        p = agreement ** bits
        tail = sum(math.comb(bands, k) * p ** k * (1 - p) ** (bands - k)
                   for k in range(matches, bands + 1))
        recall = _band_recall(bands, bits, matches, agreement)
        assert recall == pytest.approx(tail, abs=1e-9)
        if matches <= 2:
            # the closed form the band search has always used, float
            # for float, so no auto banding moves
            miss = (1 - p) ** bands
            if matches == 2:
                miss += bands * p * (1 - p) ** (bands - 1)
            assert recall == 1 - miss

    @given(n=st.integers(min_value=1_000, max_value=10**12),
           matches=st.integers(min_value=1, max_value=40))
    @settings(max_examples=100, deadline=None)
    def test_search_never_picks_fewer_bands_than_matches(self, n, matches):
        assert tuned_blocking(n, min_band_matches=matches)[
            "num_bands"] >= matches


@pytest.fixture(scope="class")
def stage_runs(spark, tmp_path_factory):
    """Manifest stages of small StageStore runs, by variant: one table at
    a base config and with one setting changed, and two parties at two
    band counts. Runs of one graph share a store, so each resumes what
    the last run's fingerprints match; the manifest then holds the run's
    own fingerprints."""
    from clkhash_spark.pipeline import run_linkage, run_linkage_two_party
    from clkhash_spark.sources.webpages import synthetic_webpages

    pages = synthetic_webpages(spark, 60, seed=5).select("url", "text")
    halves = (pages.where("substr(url, -1) = '0'"),
              pages.where("substr(url, -1) != '0'"))
    stores = {False: tmp_path_factory.mktemp("one_table"),
              True: tmp_path_factory.mktemp("two_party")}
    variants = {
        "base": {},
        "threshold": {"threshold": 0.9},
        "banding": {"num_bands": 16},
        "secret": {"secret": "t"},
        "input": {"input_fingerprint": "other-input"},
    }
    runs = {}
    for two_party in (False, True):
        for name, changes in variants.items():
            if two_party and name not in ("base", "banding"):
                continue
            config = LinkageConfig(**{
                "schema": webpages_schema(), "secret": "hunter2-super-secret",
                "num_bands": 8, "bits_per_band": 16, "input_fingerprint": "in",
                "checkpoint_dir": str(stores[two_party]), **changes})
            if two_party:
                run_linkage_two_party(spark, *halves, config)
            else:
                run_linkage(spark, pages, config)
            with open(stores[two_party] / "_clkhash_manifest.json") as fp:
                text = fp.read()
            runs[name, two_party] = (json.loads(text)["stages"], text)
    return runs


@pytest.mark.spark
class TestStageFingerprints:
    STAGES = ("clks", "blocks", "pairs", "clusters")

    @staticmethod
    def _fps(stage_runs, name, two_party=False):
        stages, _ = stage_runs[name, two_party]
        return {stage: entry["fingerprint"]
                for stage, entry in stages.items()}

    def test_secret_never_appears_raw(self, stage_runs):
        assert "hunter2" not in _secret_fingerprint("hunter2-super-secret")
        for _, text in stage_runs.values():
            assert "hunter2" not in text

    def test_threshold_only_invalidates_downstream(self, stage_runs):
        a = self._fps(stage_runs, "base")
        b = self._fps(stage_runs, "threshold")
        for stage in ("clks", "blocks"):
            assert a[stage] == b[stage]
        for stage in ("pairs", "clusters"):
            assert a[stage] != b[stage]

    def test_banding_invalidates_blocks_not_clks(self, stage_runs):
        a = self._fps(stage_runs, "base")
        b = self._fps(stage_runs, "banding")
        assert a["clks"] == b["clks"]
        for stage in ("blocks", "pairs", "clusters"):
            assert a[stage] != b[stage]

    def test_secret_and_input_invalidate_everything(self, stage_runs):
        base = self._fps(stage_runs, "base")
        for other in ("secret", "input"):
            changed = self._fps(stage_runs, other)
            for stage in self.STAGES:
                assert base[stage] != changed[stage], (other, stage)

    def test_two_party_stage_names_share_clks_params(self, stage_runs):
        base = self._fps(stage_runs, "base", two_party=True)
        changed = self._fps(stage_runs, "banding", two_party=True)
        # banding must not invalidate either party's clks stage
        for stage in ("clks_a", "clks_b"):
            assert base[stage] == changed[stage]
        assert base["clks_a"] != base["clks_b"]
        assert base["blocks"] != changed["blocks"]

    @pytest.mark.parametrize("two_party", [False, True])
    def test_lineage_is_the_parents_fingerprints(self, stage_runs,
                                                 two_party):
        clks = ("clks_a", "clks_b") if two_party else ("clks",)
        parents = {**{c: set() for c in clks}, "blocks": set(clks),
                   "pairs": {*clks, "blocks"}, "clusters": {*clks, "pairs"}}
        for name in ("base", "banding"):
            stages, _ = stage_runs[name, two_party]
            for stage, entry in stages.items():
                assert set(entry["lineage"]) == parents[stage], stage
                assert entry["lineage"] == {
                    p: stages[p]["fingerprint"] for p in parents[stage]}
