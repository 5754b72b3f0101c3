"""The cluster entry point must work as a real ``spark-submit --py-files``
job: package zipped, imported from the zip (repo not on PYTHONPATH),
confs on the submit line. This drives tools/linkage_job.py exactly the
way ``tools/scaling_bench.py`` runs its ladder, for one table and for
two parties.
"""

import os
import sys

import pytest

from clkhash_spark.session import session_confs

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import scaling_bench  # noqa: E402

pytestmark = pytest.mark.spark

STAGES = {
    "single": ("clks", "blocks", "pairs", "clusters"),
    "two_party": ("clks_a", "clks_b", "blocks", "pairs", "clusters"),
}


@pytest.mark.parametrize("mode", ["single", "two_party"])
def test_spark_submit_job_runs_from_zip(mode):
    zip_path = scaling_bench.build_zip()
    assert os.path.exists(zip_path)
    # The submit line carries exactly the shared session conf table:
    # telemetry comes from the status stores, so no event-log conf.
    command = scaling_bench.submit_command(2, 500, mode)
    confs = [command[i + 1] for i, arg in enumerate(command)
             if arg == "--conf"]
    assert confs == [f"{k}={v}" for k, v in session_confs(2).items()]
    assert not [c for c in confs if c.startswith("spark.event")]

    result = scaling_bench.run_level_once(cores=2, rows=500, mode=mode)

    assert result["cores"] == 2
    assert result["rows"] == 500
    assert result["pipeline_seconds"] > 0
    if mode == "single":
        assert result["encode_seconds"] > 0
        assert result["encode_rows_per_sec"] > 0
    else:
        assert result["matched_pairs"] > 0
    # run_linkage's stage metrics must ride through the submit boundary
    assert set(result["stage_seconds"]) == {
        f"{stage}_seconds" for stage in STAGES[mode]}


def test_zip_contains_full_package():
    import zipfile

    scaling_bench.build_zip()
    with zipfile.ZipFile(scaling_bench.ZIP_PATH) as zf:
        names = set(zf.namelist())
    for required in [
        "clkhash_spark/__init__.py",
        "clkhash_spark/pipeline.py",
        "clkhash_spark/session.py",
        "clkhash_spark/core/vectorized.py",
        "clkhash_spark/operators/encode.py",
        "clkhash_spark/operators/blocking.py",
        "clkhash_spark/operators/scoring.py",
        "clkhash_spark/operators/cluster.py",
        "clkhash_spark/sources/webpages.py",
    ]:
        assert required in names, f"{required} missing from --py-files zip"
    assert not any("__pycache__" in n for n in names)
