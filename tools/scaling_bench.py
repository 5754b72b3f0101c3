"""Scaling-efficiency evidence: the same spark-submit job at two
parallelism levels.

The north rule's two-cluster-size criterion can't use a real cluster in
this sandbox, so (per the driver instruction) we run the identical
workload on the same input at local[N] and local[4N] and report
throughput at both plus scaling efficiency:

    efficiency = (throughput_4N / throughput_N) / 4

Each level is a real ``spark-submit --master local[k] --py-files
dist/clkhash_spark.zip tools/linkage_job.py`` invocation — the package
is shipped as a zip and imported from it, exactly as on a
multi-executor cluster; every tuning conf rides on the submit line.

Usage: python tools/scaling_bench.py [rows] [small_cores] [factor] [repeats]
Writes/updates BENCH-SCALING.md and prints a JSON summary.

NOTE: run on a quiet machine. Concurrent load (pytest, another Spark
job) silently destroys the measurement — the box shares one DRAM bus.
Even "quiet", this sandbox VM shows 2x run-to-run noise, so each level
is run ``repeats`` times and each timing takes the per-metric minimum
(noise only ever adds time; the minimum is the closest observable to
the true cost).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP_PATH = os.path.join(REPO, "dist", "clkhash_spark.zip")
EVENTLOG_DIR = "/tmp/clk-eventlog"


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


def submit_command(cores: int, rows: int, two_party: bool = False) -> list[str]:
    # Mirrors clkhash_spark.session.build_session, but on the submit
    # line — the job script itself only calls getOrCreate().
    confs = {
        "spark.sql.shuffle.partitions": str(max(2 * cores, 8)),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        # Event log feeds the per-stage shuffle counters linkage_job
        # aggregates after the app stops (no UI/REST needed).
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + EVENTLOG_DIR,
        # One plain-text JSON-lines file per app (Spark 4 defaults to a
        # rolling zstd directory, which the post-run parser would need
        # a zstd codec for).
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    cmd = [spark_submit_bin(), "--master", f"local[{cores}]",
           "--py-files", ZIP_PATH]
    for key, value in confs.items():
        cmd += ["--conf", f"{key}={value}"]
    cmd += [os.path.join(REPO, "tools", "linkage_job.py"),
            "--rows", str(rows)]
    if two_party:
        cmd.append("--two-party")
    return cmd


def run_level_once(cores: int, rows: int, two_party: bool = False) -> dict:
    os.makedirs(EVENTLOG_DIR, exist_ok=True)
    env = dict(os.environ,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    # Keep the repo out of PYTHONPATH: clkhash_spark must resolve from
    # the --py-files zip, proving the shipped artifact is complete.
    env.pop("PYTHONPATH", None)
    out = subprocess.run(submit_command(cores, rows, two_party),
                         cwd="/tmp",
                         # multi-million-row local[2] levels run >30 min
                         capture_output=True, text=True, timeout=7200,
                         env=env)
    if out.returncode != 0:
        raise RuntimeError(f"level {cores} failed:\n{out.stderr[-3000:]}")
    json_lines = [ln for ln in out.stdout.strip().splitlines()
                  if ln.startswith("{")]
    return json.loads(json_lines[-1])


def run_level(
    cores: int, rows: int, repeats: int, two_party: bool = False
) -> dict:
    """Best-of-``repeats`` per metric (min seconds) for one level."""
    runs = [run_level_once(cores, rows, two_party) for _ in range(repeats)]
    best = dict(runs[0])
    metrics = (("pipeline_seconds",) if two_party
               else ("encode_seconds", "pipeline_seconds"))
    for metric in metrics:
        best[metric] = min(r[metric] for r in runs)
    if not two_party:
        best["encode_rows_per_sec"] = round(
            rows / best["encode_seconds"], 1
        )
    best["pipeline_rows_per_sec"] = round(rows / best["pipeline_seconds"], 1)
    best["stage_seconds"] = {
        key: min(r["stage_seconds"][key] for r in runs)
        for key in runs[0]["stage_seconds"]}
    # Shuffle volume is a property of the plan, not the run — take it
    # from the fastest pipeline run (all runs agree modulo AQE wiggle).
    fastest = min(runs, key=lambda r: r["pipeline_seconds"])
    best["shuffle_by_stage"] = fastest.get("shuffle_by_stage", {})
    best["occupancy_by_stage"] = fastest.get("occupancy_by_stage", {})
    best["repeats"] = repeats
    return best


def preserved_analysis(path: str) -> list:
    """Carry hand-written '## Round-N analysis' sections across
    regenerations (everything from the first such heading up to the
    generated 'Submit line' footer)."""
    if not os.path.exists(path):
        return []
    kept: list = []
    keeping = False
    with open(path) as fp:
        for line in fp:
            if line.startswith("## Round-") and "analysis" in line:
                keeping = True
            if line.startswith("Submit line"):
                keeping = False
            if keeping:
                kept.append(line.rstrip("\n"))
    return kept


def run_two_party(rows: int, small: int, factor: int,
                  repeats: int) -> None:
    """Two-party linkage at two parallelism levels → BENCH-SCALING-2P.md."""
    big = small * factor
    low = run_level(small, rows, repeats, two_party=True)
    high = run_level(big, rows, repeats, two_party=True)
    eff = round(
        (high["pipeline_rows_per_sec"] / low["pipeline_rows_per_sec"])
        / factor, 3,
    )
    summary = {"mode": "two_party", "rows": rows,
               "levels": [low, high],
               "pipeline_scaling_efficiency": eff}
    print(json.dumps(summary))

    shuffle = high.get("shuffle_by_stage") or {}
    lines = [
        "# BENCH-SCALING-2P — two-party linkage at two parallelism levels",
        "",
        f"Cross-party pipeline (encode A + encode B → joint blocks → "
        f"cross-party pairs → 1-1 matching → clusters) over "
        f"{rows:,} total rows ({rows // 2:,} entities/party, 50% "
        "overlap — every true match is a near-duplicate variant pair), "
        "run via real `spark-submit --py-files dist/clkhash_spark.zip "
        "tools/linkage_job.py --two-party`",
        f"at local[{small}] vs local[{big}], best-of-{repeats} submits "
        "per level (per-metric minimum).",
        "",
        f"| metric | local[{small}] | local[{big}] | speedup "
        "| efficiency |",
        "|---|---|---|---|---|",
        "| pipeline rows/s | {:.0f} | {:.0f} | {:.2f}x | {:.3f} |".format(
            low["pipeline_rows_per_sec"], high["pipeline_rows_per_sec"],
            high["pipeline_rows_per_sec"] / low["pipeline_rows_per_sec"],
            eff),
        "",
        "Quality at local[{k}]: precision {p}, recall {r} "
        "({m:,} matched / {t:,} truth).".format(
            k=big, p=high.get("precision"), r=high.get("recall"),
            m=high.get("matched_pairs", 0),
            t=high.get("truth_matches", 0)),
        "",
        "## Per-stage seconds (best runs)",
        "",
        "| stage | local[{}] s | local[{}] s | speedup |".format(
            small, big),
        "|---|---|---|---|",
    ]
    for key in ("clks_a_seconds", "clks_b_seconds", "blocks_seconds",
                "pairs_seconds", "clusters_seconds"):
        lo = low["stage_seconds"].get(key)
        hi = high["stage_seconds"].get(key)
        if lo and hi:
            lines.append(
                f"| {key[:-8]} | {lo:.1f} | {hi:.1f} | {lo / hi:.2f}x |"
            )
    if shuffle:
        lines += [
            "",
            "## Shuffle volume per stage (event-log task counters, "
            f"local[{big}] fastest run)",
            "",
            "| stage | write MB | write B/input-row | shuffled records |",
            "|---|---|---|---|",
        ]
        for group in sorted(shuffle):
            s = shuffle[group]
            lines.append(
                "| {} | {:.1f} | {:.1f} | {:,} |".format(
                    group.split(":", 1)[-1],
                    s["write_bytes"] / 1e6,
                    s["write_bytes"] / rows,
                    s["write_records"],
                )
            )
    lines += [
        "",
        "Submit line (level {k}): `{cmd}`".format(
            k=small,
            cmd=" ".join(submit_command(small, rows, two_party=True))),
        "",
        f"Raw: `{json.dumps(summary)}`",
        "",
    ]
    with open(os.path.join(REPO, "BENCH-SCALING-2P.md"), "w") as fp:
        fp.write("\n".join(lines))


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    big = small * factor
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    mode = sys.argv[5] if len(sys.argv) > 5 else "single"

    build_zip()
    if mode == "two_party":
        run_two_party(rows, small, factor, repeats)
        return

    low = run_level(small, rows, repeats)
    high = run_level(big, rows, repeats)

    def eff(metric: str) -> float:
        return round((high[metric] / low[metric]) / factor, 3)

    # DRAM ceiling for the bandwidth-bound argument (after the Spark
    # runs so the probe never pollutes a timed level).
    probe = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "membw_probe.py"),
         "1", str(small), str(big), "32"],
        capture_output=True, text=True, timeout=600,
    )
    triad = (
        json.loads(probe.stdout.strip().splitlines()[-1])["triad_gbps"]
        if probe.returncode == 0 else {}
    )

    summary = {
        "rows": rows,
        "levels": [low, high],
        "encode_scaling_efficiency": eff("encode_rows_per_sec"),
        "pipeline_scaling_efficiency": eff("pipeline_rows_per_sec"),
        "triad_gbps": triad,
    }
    print(json.dumps(summary))

    def stage_row(label: str, key: str) -> str:
        lo, hi = low["stage_seconds"].get(key), high["stage_seconds"].get(key)
        if not lo or not hi:
            return ""
        speed = lo / hi  # same rows, so time ratio == throughput ratio
        return (f"| {label} | {rows / lo:.0f} | {rows / hi:.0f} "
                f"| {speed:.2f}x | {speed / factor:.3f} |")

    lines = [
        "# BENCH-SCALING — throughput at two parallelism levels",
        "",
        f"Same job, same input ({rows:,} synthetic web pages), run via",
        "real `spark-submit --master local[k] --py-files"
        " dist/clkhash_spark.zip tools/linkage_job.py`",
        f"at local[{small}] vs local[{big}] (sandbox stand-in for N vs"
        " 4N executors; the package is imported from the zip, all confs"
        " on the submit line).",
        f"Each level is best-of-{low.get('repeats', 1)} submits,"
        " per-metric minimum seconds (the sandbox VM has ~2x"
        " run-to-run noise; noise only adds time).",
        "",
        f"| stage | local[{small}] rows/s | local[{big}] rows/s "
        "| speedup | efficiency |",
        "|---|---|---|---|---|",
        "| CLK encode | {:.0f} | {:.0f} | {:.2f}x | {:.3f} |".format(
            low["encode_rows_per_sec"], high["encode_rows_per_sec"],
            high["encode_rows_per_sec"] / low["encode_rows_per_sec"],
            summary["encode_scaling_efficiency"]),
    ]
    for label, key in [("blocking (band explode+cap)", "blocks_seconds"),
                       ("pair scoring (join+Dice)", "pairs_seconds"),
                       ("clustering (CC rounds)", "clusters_seconds")]:
        row = stage_row(label, key)
        if row:
            lines.append(row)
    lines += [
        "| full pipeline | {:.0f} | {:.0f} | {:.2f}x | {:.3f} |".format(
            low["pipeline_rows_per_sec"], high["pipeline_rows_per_sec"],
            high["pipeline_rows_per_sec"] / low["pipeline_rows_per_sec"],
            summary["pipeline_scaling_efficiency"]),
        "",
        "Efficiency = (throughput_4N / throughput_N) / 4. Target ≥ 0.8 "
        "(BASELINE.json north rule). See BASELINE.md for the",
        "stage-by-stage interpretation (single-box DRAM ceiling vs what "
        "a real cluster's added memory channels change).",
        "",
    ]

    # --- shuffle counters: bytes shuffled per pipeline stage --------
    shuffle = high.get("shuffle_by_stage") or {}
    if shuffle:
        lines += [
            "## Shuffle volume per stage (event-log task counters, "
            f"local[{big}] fastest run)",
            "",
            "| stage | write MB | read MB | write B/input-row "
            "| shuffled records | stage s | agg MB/s |",
            "|---|---|---|---|---|---|---|",
        ]
        order = sorted(
            shuffle,
            key=lambda g: ["clk:clks", "clk:blocks", "clk:pairs",
                           "clk:clusters"].index(g)
            if g in ("clk:clks", "clk:blocks", "clk:pairs",
                     "clk:clusters") else 99,
        )
        for group in order:
            s = shuffle[group]
            stage = group.split(":", 1)[-1]
            secs = high["stage_seconds"].get(f"{stage}_seconds")
            total_mb = (s["write_bytes"] + s["read_bytes"]) / 1e6
            lines.append(
                "| {} | {:.1f} | {:.1f} | {:.1f} | {:,} | {} | {} |"
                .format(
                    stage,
                    s["write_bytes"] / 1e6,
                    s["read_bytes"] / 1e6,
                    s["write_bytes"] / rows,
                    s["write_records"],
                    f"{secs:.1f}" if secs else "-",
                    f"{total_mb / secs:.0f}" if secs else "-",
                )
            )
        lines.append("")

    # --- scheduler occupancy: task-time / (wall x cores) per stage ---
    occ_lo = low.get("occupancy_by_stage") or {}
    occ_hi = high.get("occupancy_by_stage") or {}
    if occ_lo or occ_hi:
        lines += [
            "## Scheduler occupancy per stage (event log: "
            "sum(task finish-launch) / (stage wall x cores), "
            "fastest run per level)",
            "",
            "Low occupancy at the big level = cores idle inside the "
            "stage window (driver rounds, AQE barriers, worker waves); "
            "high occupancy with sub-linear speedup = cores busy but "
            "slower per task (shared-substrate ceiling).",
            "",
            f"| stage | local[{small}] occ | local[{big}] occ "
            "| task-s ratio (lo/hi) |",
            "|---|---|---|---|",
        ]
        for group in sorted(set(occ_lo) | set(occ_hi)):
            lo_e, hi_e = occ_lo.get(group), occ_hi.get(group)
            ratio = (
                f"{lo_e['task_seconds'] / hi_e['task_seconds']:.2f}x"
                if lo_e and hi_e and hi_e["task_seconds"] else "-"
            )
            lines.append(
                "| {} | {} | {} | {} |".format(
                    group.split(":", 1)[-1],
                    f"{lo_e['occupancy']:.2f}" if lo_e else "-",
                    f"{hi_e['occupancy']:.2f}" if hi_e else "-",
                    ratio,
                )
            )
        lines.append("")

    if summary.get("triad_gbps"):
        tg = summary["triad_gbps"]
        lines += [
            "## Measured DRAM ceiling (STREAM-triad, tools/membw_probe.py)",
            "",
            "| concurrent procs | aggregate GB/s |",
            "|---|---|",
        ]
        lines += [f"| {k} | {v} |" for k, v in tg.items()]
        lines += [
            "",
            "The probe is noisy on this shared VM (range across runs: "
            "64-181 GB/s at 32 procs); use it as a ceiling to compare "
            "against, not as a precise number. Shuffle MB/s alone does "
            "not settle bandwidth-boundedness (it omits Arrow batches, "
            "hash tables, sorts); the discriminating evidence is the "
            "occupancy table plus the concurrent-independent-jobs "
            "control — see the Round-5 analysis section (hand-written "
            "## Round-N analysis sections are preserved when "
            "regenerating this file).",
        ]
        lines.append("")

    # Hand-written round-analysis sections survive regeneration.
    out_path = os.path.join(REPO, "BENCH-SCALING.md")
    kept = preserved_analysis(out_path)
    if kept:
        lines += kept + [""]
    lines += [
        "Submit line (level {k}): `{cmd}`".format(
            k=small, cmd=" ".join(submit_command(small, rows))),
        "",
        f"Raw: `{json.dumps(summary)}`",
        "",
    ]
    with open(out_path, "w") as fp:
        fp.write("\n".join(lines))


if __name__ == "__main__":
    main()
