"""Scaling ladder: the same spark-submit job at two parallelism levels.

The north rule's two-cluster-size criterion cannot use a real cluster on
one box, so this runs the identical workload on the same input at
local[N] and local[factor x N] and reports, per timed stage,

    efficiency = (rows/s at factor x N / rows/s at N) / factor

Each level is a real ``spark-submit --master local[k] --py-files
dist/clkhash_spark.zip`` invocation: the package is shipped as a zip and
imported from it, exactly as on a multi-executor cluster, and every
tuning conf (``clkhash_spark.session.session_confs``) rides on the
submit line.

Usage: python tools/scaling_bench.py [rows] [small_cores] [factor] [repeats] [mode]

``mode`` picks the job: ``single`` (one-table linkage) or ``two_party``
run ``tools/linkage_job.py``; ``dedup`` or ``ann`` run
``tools/docops_job.py --mode``. Prints one JSON line, then a markdown
table. Per-layer shuffle, occupancy and task-seconds come from
``perfbench/run.py --trace 1`` instead.

Run on a quiet machine: concurrent load silently destroys the
measurement. Each level runs ``repeats`` times and keeps the minimum of
every ``*_seconds`` value (noise only ever adds time).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP_PATH = os.path.join(REPO, "dist", "clkhash_spark.zip")
MODES = ("single", "two_party", "dedup", "ann")

sys.path.insert(0, REPO)

from clkhash_spark.session import session_confs  # noqa: E402


def spark_submit_bin() -> str:
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")


def build_zip() -> str:
    """Package clkhash_spark/ into dist/clkhash_spark.zip for --py-files."""
    os.makedirs(os.path.dirname(ZIP_PATH), exist_ok=True)
    pkg = os.path.join(REPO, "clkhash_spark")
    with zipfile.ZipFile(ZIP_PATH, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in sorted(filenames):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(dirpath, name)
                zf.write(full, os.path.relpath(full, REPO))
    return ZIP_PATH


def submit_command(cores: int, rows: int, mode: str = "single") -> list[str]:
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
    cmd = [spark_submit_bin(), "--master", f"local[{cores}]",
           "--py-files", ZIP_PATH]
    for key, value in session_confs(cores).items():
        cmd += ["--conf", f"{key}={value}"]
    if mode in ("single", "two_party"):
        cmd += [os.path.join(REPO, "tools", "linkage_job.py"),
                "--rows", str(rows)]
        if mode == "two_party":
            cmd.append("--two-party")
    else:
        cmd += [os.path.join(REPO, "tools", "docops_job.py"),
                "--mode", mode, "--rows", str(rows)]
    return cmd


def run_level_once(cores: int, rows: int, mode: str = "single") -> dict:
    env = dict(os.environ,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    # Keep the repo out of PYTHONPATH and cwd: clkhash_spark must resolve
    # from the --py-files zip, proving the shipped artifact is complete.
    env.pop("PYTHONPATH", None)
    out = subprocess.run(submit_command(cores, rows, mode),
                         cwd=tempfile.gettempdir(),
                         # multi-million-row local[2] levels run >30 min
                         capture_output=True, text=True, timeout=7200,
                         env=env)
    if out.returncode != 0:
        raise RuntimeError(f"level {cores} failed:\n{out.stderr[-3000:]}")
    json_lines = [ln for ln in out.stdout.strip().splitlines()
                  if ln.startswith("{")]
    return json.loads(json_lines[-1])


def _timed(d: dict) -> list[str]:
    return [k for k, v in d.items()
            if k.endswith("_seconds") and isinstance(v, (int, float))]


def run_level(cores: int, rows: int, repeats: int,
              mode: str = "single") -> dict:
    """Best-of-``repeats`` for one level: the minimum of every numeric
    ``*_seconds`` value, at top level and in ``stage_seconds``. The
    jobs' own ``*_rows_per_sec`` keys are dropped; ``seconds`` derives
    throughput from the kept minimum."""
    runs = [run_level_once(cores, rows, mode) for _ in range(repeats)]
    best = {k: v for k, v in runs[0].items()
            if not k.endswith("_rows_per_sec")}
    for key in _timed(best):
        best[key] = min(r[key] for r in runs)
    if "stage_seconds" in best:
        stages = dict(best["stage_seconds"])
        for key in _timed(stages):
            stages[key] = min(r["stage_seconds"][key] for r in runs)
        best["stage_seconds"] = stages
    best["repeats"] = repeats
    return best


def seconds(level: dict) -> dict:
    """Every timed value of a level, top-level keys first."""
    flat = {k: level[k] for k in _timed(level)}
    stages = level.get("stage_seconds", {})
    flat.update((k, stages[k]) for k in _timed(stages))
    return flat


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    mode = sys.argv[5] if len(sys.argv) > 5 else "single"
    big = small * factor

    build_zip()
    low = run_level(small, rows, repeats, mode)
    high = run_level(big, rows, repeats, mode)
    lo_s, hi_s = seconds(low), seconds(high)
    # Same rows at both levels, so the rows/s ratio is the time ratio.
    eff = {k: round(lo_s[k] / hi_s[k] / factor, 3)
           for k in lo_s if lo_s[k] and hi_s.get(k)}
    print(json.dumps({"mode": mode, "rows": rows, "factor": factor,
                      "levels": [low, high], "efficiency": eff}))

    print(f"\n| timed | local[{small}] s | local[{big}] s "
          f"| local[{small}] rows/s | local[{big}] rows/s | efficiency |")
    print("|---|---|---|---|---|---|")
    for key, lo in lo_s.items():
        hi = hi_s.get(key)
        rate = [f"{rows / s:.0f}" if s else "-" for s in (lo, hi)]
        print(f"| {key[:-len('_seconds')]} | {lo} | {hi} | {rate[0]} "
              f"| {rate[1]} | {eff.get(key, '-')} |")


if __name__ == "__main__":
    main()
