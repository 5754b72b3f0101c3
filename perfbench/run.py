"""Linkage benchmark: one workload, a closed loop with one client.

    python3 perfbench/run.py --workload dedup_20k --seed 42 --seconds 15 --trace 0

Run from the repository root. One process drives ``local[nproc]``: it
builds the session (timed as ``setup_s``), generates the workload's input
from the seed, runs one untimed warm-up job, then runs linkage jobs one
after another until ``--seconds`` have passed and at least
``MIN_TIMED_JOBS`` jobs were timed. Every job's output is checked; a
wrong answer counts as a failed job, not a crash.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` reads Spark's
status stores after every job and prints the per-layer metrics instead
(see ``perfbench/README.md``). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Scratch space inside the checkout: Spark's local dirs, JVM and Python
# temp files, and the span dump of traced runs.
STATE = os.path.join(ROOT, ".perfbench")
MB = float(1 << 20)
# The first timed job is often still slower than the rest (JIT and code
# generation go on past the warm-up job). The median of three or more
# timed jobs leaves that one out.
MIN_TIMED_JOBS = 3
_T0 = time.perf_counter()


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc.

    Covers the driver, the JVM it launched and the JVM's Python workers.
    """
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fp:
                stat = fp.read()
        except OSError:  # the process exited while we listed
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, stack = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as fp:
                total += int(fp.read().split()[1]) * page
        except OSError:
            continue
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak process-tree RSS, sampled by the benchmark's only thread."""

    INTERVAL_S = 0.05

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = _tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._done.wait(self.INTERVAL_S):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
        self._sample()

    def peak_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak / MB

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=5)


def _cpu_ticks() -> tuple:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fp:
        ticks = [int(x) for x in fp.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _steal_share(before: tuple, after: tuple) -> float:
    """Share of the CPU time between two readings that the hypervisor
    gave to other guests."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def _prepare_environment() -> None:
    """Keep every file Spark and Python write inside the checkout, and let
    the Python workers import the package from the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    # Every JVM spark-submit starts: temp files in the checkout, and no
    # hsperfdata files under the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}") if o)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _import_worker_modules(batches):
    # Runs in each Python worker: pays the fork and the imports the
    # pipeline's UDFs need, once per worker.
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import clkhash_spark.core.vectorized  # noqa: F401
    import clkhash_spark.operators.blocking  # noqa: F401
    import clkhash_spark.operators.scoring  # noqa: F401

    for batch in batches:
        yield batch


# The package's session broadcasts join sides up to 64 MiB. The blocks
# self-join crosses that line near 70k input rows, so the benchmark scales
# the threshold with the input (64 MiB at 100k rows): a 20k-row job then
# plans the same sort-merge block join on the cached exchange as the 100k
# job the repository measures, while the small CLK payload sides stay
# broadcast as they are at 100k.
BROADCAST_BYTES_PER_ROW = (64 << 20) / 100_000


def _set_up(cores: int, rows: int):
    """Build the session and fork every Python worker; this is setup_s."""
    from clkhash_spark.session import build_session

    spark = build_session(
        app_name="clkhash-perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.autoBroadcastJoinThreshold":
                str(int(BROADCAST_BYTES_PER_ROW * rows)),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 4 * cores, 1, 4 * cores).mapInPandas(
        _import_worker_modules, "id long"
    ).write.format("noop").mode("overwrite").save()
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, which takes the Python workers
    down with it, to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)


def _persistent_rdds(spark) -> dict:
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


class Runner:
    """Runs and checks jobs of one workload in one session."""

    def __init__(self, spark, workload, inputs, seed, rows, cores,
                 reader) -> None:
        self.spark = spark
        self.workload = workload
        self.inputs = inputs
        self.seed = seed
        self.rows = rows
        self.cores = cores
        self.reader = reader
        self.reference = None
        self.attempted = 0
        self.failed = 0
        self.outputs = []
        self.times = []
        self.steal = []
        self.layers = []
        self.spans = []

    def clear(self) -> None:
        """Forget the samples so far (those of the warm-up job)."""
        for samples in (self.times, self.steal, self.layers, self.spans):
            samples.clear()

    def job(self) -> None:
        """Run, time and check one linkage job."""
        self.attempted += 1
        before = set(_persistent_rdds(self.spark))
        mark = self.reader.mark() if self.reader else None
        result = handles = None
        try:
            start = time.time()
            ticks = _cpu_ticks()
            tick = time.perf_counter()
            result, handles = self.workload.run_job(self.spark, self.inputs)
            job_s = time.perf_counter() - tick
            steal = _steal_share(ticks, _cpu_ticks())
            end = time.time()
            if self.reader:
                tick = time.perf_counter()
                layers, spans = self.reader.read(mark, result, start, end,
                                                 self.cores)
                candidates = self.workload.candidates(result)
                layers["scoring.candidates"] = candidates
                layers["scoring.yield"] = (
                    layers["scoring.pairs"] / candidates if candidates
                    else 0.0)
                layers["pipeline.trace_read_s"] = time.perf_counter() - tick
                layers["pipeline.traced_job_s"] = job_s
            out = self.workload.output(result, self.inputs)
        except Exception:  # a job that raises is a failed job
            traceback.print_exc()
            self.failed += 1
            return
        finally:
            leaked = self._release(before, result, handles)
        problems = self.workload.check(out, self.reference, self.seed,
                                       self.rows)
        if problems:
            print(f"perfbench: job {self.attempted} wrong: "
                  + "; ".join(problems), file=sys.stderr)
            self.failed += 1
            return
        self.reference = self.reference or out
        self.outputs.append(out)
        self.times.append(job_s)
        self.steal.append(steal)
        if self.reader:
            layers["pipeline.leaked_rdds"] = leaked
            layers["pipeline.cores"] = self.cores
            self.layers.append(layers)
            self.spans.append(spans)

    def _release(self, before, result, handles) -> int:
        """Drop this job's caches so the next job starts from the same
        state; returns how many persisted RDDs the pipeline left behind
        once the benchmark's own handles were released."""
        for handle in handles or ():
            handle.unpersist()
        leftover = set(_persistent_rdds(self.spark)) - before
        if result is not None:
            for df in (result.clks, result.blocks, result.pairs,
                       result.clusters):
                df.unpersist()
        persistent = _persistent_rdds(self.spark)
        for rdd_id in set(persistent) - before:
            persistent[rdd_id].unpersist(True)
        self.spark.sparkContext._jvm.System.gc()
        return len(leftover)


def _median(values, default=0.0) -> float:
    return statistics.median(values) if values else default


def _metrics(names_units, values) -> dict:
    missing = [name for name, _ in names_units if name not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {name: {"value": values[name], "unit": unit}
            for name, unit in names_units}


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        return json.load(fp)


def _print_layers(layers: dict, job_s: float) -> None:
    print(f"# per-layer medians over timed jobs (traced job_s {job_s:.3f} s;"
          " tracing overhead = this minus job_s of a --trace 0 run, plus "
          f"{layers['pipeline.trace_read_s']:.3f} s of store reads per job "
          "outside job_s)")
    for name, value in layers.items():
        print(f"#   {name:36s} {value:.6g}")


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--seconds", type=float, default=15)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--rows", type=int, default=None,
                        help="override the workload's input size (pins "
                             "exist for 100000 at seed 42)")
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "clkhash_spark")):
        print(f"perfbench: no clkhash_spark package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    _prepare_environment()

    from perfbench.telemetry import StageReader
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = _load_spec()
    workload = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    rows = args.rows or workload.rows
    tick = time.perf_counter()
    spark = _set_up(cores, rows)
    setup_s = time.perf_counter() - tick

    phases = [("start", _T0), ("setup", tick)]
    sampler = RssSampler()
    sampler.start()
    try:
        phases.append(("prepare", time.perf_counter()))
        inputs = workload.prepare(spark, args.seed, rows)
        phases.append(("warm_up", time.perf_counter()))
        runner = Runner(spark, workload, inputs, args.seed, rows, cores,
                        StageReader(spark) if args.trace else None)
        runner.job()  # warm-up: JIT, worker hasher caches; checked too
        runner.clear()
        sampler.reset()
        phases.append(("timed", time.perf_counter()))
        deadline = time.perf_counter() + args.seconds
        while (time.perf_counter() < deadline
               or runner.attempted <= MIN_TIMED_JOBS):
            runner.job()
        peak_rss_mb = sampler.peak_mb()
        inputs.release()
    finally:
        phases.append(("stop", time.perf_counter()))
        sampler.stop()
        _stop(spark)
    phases.append(("end", time.perf_counter()))
    phase_s = {name: round(nxt - at, 2)
               for (name, at), (_, nxt) in zip(phases, phases[1:])}

    times = runner.times
    job_s = _median(times)
    f1s = [out.f1 for out in runner.outputs]
    print(f"# perfbench workload={workload.name} seed={args.seed} "
          f"cores={cores} input_rows={inputs.rows} "
          f"pairs={runner.reference.pairs if runner.reference else None} "
          f"jobs_s={[round(t, 3) for t in times]} "
          f"steal={[round(x, 3) for x in runner.steal]} phases_s={phase_s}")
    if args.trace:
        layers = {name: _median([job[name] for job in runner.layers])
                  for name in (runner.layers[0] if runner.layers else {})}
        if layers:
            _print_layers(layers, layers["pipeline.traced_job_s"])
        with open(os.path.join(
                STATE, f"spans-{workload.name}-seed{args.seed}.json"),
                "w") as fp:
            json.dump(runner.spans, fp)
        wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    else:
        layers = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": inputs.rows / job_s if job_s else 0.0,
            "peak_rss_mb": peak_rss_mb,
            "f1": _median(f1s),
            "ok_rate": (runner.attempted - runner.failed) / runner.attempted,
        }
        wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    metrics = _metrics(wanted, layers) if times else {
        name: {"value": 0.0, "unit": unit} for name, unit in wanted}
    print(json.dumps({
        "correct": runner.failed == 0 and bool(times),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
