"""Tests of the linkage benchmark itself.

    python -m pytest perfbench/tests -q -p no:cacheprovider

They start Spark (in process, and in subprocesses for the end-to-end
runs), so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.workloads import (
    SKEW_COPIES, SKEW_GROUPS, WORKLOADS, JobOutput, _cluster_f1, _match_f1,
)

SMOKE_ROWS = 2000


def _spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fp:
        return json.load(fp)


@pytest.fixture(scope="module")
def spark():
    run._prepare_environment()
    session = run._set_up(cores=2, rows=SMOKE_ROWS)
    yield session
    session.stop()


def _rows(inputs):
    """(record key, text) of every input row, sorted."""
    out = []
    for table in inputs.tables:
        arrow = table.select(table.columns[0], "text").toArrow()
        out += zip(arrow.column(0).to_pylist(), arrow.column(1).to_pylist())
    return sorted(out)


@pytest.mark.parametrize("name", ["skewed_dedup", "two_party_20k"])
def test_inputs_are_a_function_of_the_seed(spark, name):
    workload = WORKLOADS[name]
    first, again, other = (workload.prepare(spark, seed, SMOKE_ROWS)
                           for seed in (7, 7, 8))
    try:
        assert _rows(first) == _rows(again)
        assert first.truth == again.truth
        assert _rows(first) != _rows(other)
    finally:
        for inputs in (first, again, other):
            inputs.release()


def test_boilerplate_groups_copy_one_page(spark):
    inputs = WORKLOADS["skewed_dedup"].prepare(spark, 3, SMOKE_ROWS)
    try:
        texts = dict(_rows(inputs))
        copies = [url for url in texts if "boilerplate" in url]
        assert len(copies) == SKEW_GROUPS * SKEW_COPIES
        for url in copies:
            source = url.replace("boilerplate.", "").rsplit("/", 1)[0]
            assert texts[url] == texts[source]
            assert inputs.truth[url] == inputs.truth[source]
    finally:
        inputs.release()


def test_skewed_dedup_engages_the_cap(spark):
    workload = WORKLOADS["skewed_dedup"]
    inputs = workload.prepare(spark, 42, SMOKE_ROWS)
    try:
        result, handles = workload.run_job(spark, inputs)
        accounting = result.metrics["block_cap_accounting"]
        assert accounting["oversized_blocks"] > 0
        out = workload.output(result, inputs)
        assert workload.check(out, None, 42, SMOKE_ROWS) == []
        for handle in handles:
            handle.unpersist()
    finally:
        inputs.release()


def test_wrong_answers_are_reported_not_raised():
    workload = WORKLOADS["dedup_20k"]
    good = JobOutput(pairs=10, pairs_sha="a", f1=0.999)
    assert workload.check(good, good, seed=1, rows=20_000) == []
    changed = JobOutput(pairs=11, pairs_sha="b", f1=0.999)
    assert "changed" in workload.check(changed, good, 1, 20_000)[0]
    poor = JobOutput(pairs=10, pairs_sha="a", f1=0.5)
    assert "F1" in workload.check(poor, good, 1, 20_000)[0]
    # Seed 42 at 100k rows is pinned to the repository's recorded values.
    pinned = JobOutput(pairs=29_229, pairs_sha="a", f1=0.997795)
    assert workload.check(pinned, None, 42, 100_000) == []
    fewer = JobOutput(pairs=29_228, pairs_sha="a", f1=0.997795)
    assert workload.check(fewer, None, 42, 100_000) == [
        "seed 42: 29228 pairs, pinned 29229"]


def test_f1_counts_pairs():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2}
    # clusters {a,b} and {c,d}: 2 predicted pairs, 1 true of 3 actual
    assert _cluster_f1(["a", "b", "c", "d"], [0, 0, 1, 1], truth) == \
        pytest.approx(2 * 0.5 * (1 / 3) / (0.5 + 1 / 3))
    assert _match_f1(["a", "c"], ["b", "d"], truth, 2) == pytest.approx(0.5)


def _bench(args, cwd=run.ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


def test_listed_workloads_exist():
    assert {w["name"] for w in _spec()["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload,trace", [
    ("dedup_20k", 0), ("dedup_20k", 1), ("two_party_20k", 1),
])
def test_smoke_run_prints_every_metric(workload, trace):
    proc = _bench(["--workload", workload, "--seed", "5", "--seconds", "1",
                   "--trace", str(trace), "--rows", str(SMOKE_ROWS)])
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1 + run.MIN_TIMED_JOBS  # and the warm-up
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()}
    for metric in result["metrics"].values():
        assert isinstance(metric["value"], (int, float))
    if trace:
        assert result["metrics"]["blocking.records_per_banded_row"][
            "value"] == pytest.approx(1.0, abs=1e-3)
        assert result["metrics"]["scoring.join_exchanges"]["value"] == 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(["--workload", "dedup_20k", "--seed", "1", "--seconds",
                   "1", "--trace", "0"], cwd=tmp_path)
    assert proc.returncode != 0
    assert "{" not in proc.stdout
