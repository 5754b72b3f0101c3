"""Stage reports for one linkage job, read from Spark's in-process stores.

Three sources, all live in the driver with the UI off and no event log:

- the core status store (``sc._jsc.sc().statusStore()``): every Spark job
  with its job group, times and stage ids, and per stage the task time,
  JVM CPU, shuffle, spill, GC and peak execution memory;
- the SQL status store (``sharedState().statusStore()``): per execution
  the plan graph, whose nodes carry row counts and the exchanges;
- ``LinkageResult.metrics``: the runner's stage walls, row counts, cap
  accounting and the banding it resolved.

The pipeline runner tags every job of a stage with the job group
``clk:<stage>`` and every SQL execution with the description
``clkhash stage <stage>``; that naming is what maps a job to a stage.

One blind spot: a stage that ends in a lazy ``localCheckpoint`` runs its
last Spark stage under the ``count`` that follows, a later SQL execution
whose plan is only the checkpoint scan, so the store keeps no node metrics
for that last stage. For the pairs stage that stage holds the
``_band_matches`` filter, which is why the candidate count is recounted
by the runner instead of read here.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Tuple

from py4j.protocol import Py4JJavaError

# Pipeline stage (job group suffix) -> benchmark layer. Two-party runs
# encode twice; both add up into encode.*.
LAYER_OF_STAGE = {
    "clks": "encode", "clks_a": "encode", "clks_b": "encode",
    "blocks": "blocking",
    "pairs": "scoring",
    "clusters": "cluster",
}
GROUP_PREFIX = "clk:"
EXEC_PREFIX = "clkhash stage "
MIB = float(1 << 20)


def _scala_iter(seq) -> Iterator:
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _option(opt):
    return opt.get() if opt.isDefined() else None


@dataclass
class Mark:
    """Newest job and SQL execution ids seen before a linkage job."""

    job_id: int
    exec_id: int


@dataclass
class JobSpan:
    job_id: int
    group: Optional[str]
    start_ms: int
    end_ms: int
    stage_ids: Tuple[int, ...]


class StageReader:
    """Reads the stores after a job; :meth:`mark` before it starts."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    # -- cursors -----------------------------------------------------
    def mark(self) -> Mark:
        jobs = self.store.jobsList(None)
        job_id = jobs.head().jobId() if jobs.nonEmpty() else -1
        exec_id = -1
        for execution in _scala_iter(self.sql.executionsList()):
            exec_id = max(exec_id, execution.executionId())
        return Mark(job_id, exec_id)

    def _jobs_since(self, mark: Mark) -> List[JobSpan]:
        spans = []
        # jobsList is newest first: stop at the first job already seen.
        for job in _scala_iter(self.store.jobsList(None)):
            if job.jobId() <= mark.job_id:
                break
            submitted = _option(job.submissionTime())
            completed = _option(job.completionTime())
            if submitted is None or completed is None:
                continue
            spans.append(JobSpan(
                job.jobId(), _option(job.jobGroup()),
                submitted.getTime(), completed.getTime(),
                tuple(_scala_iter(job.stageIds())),
            ))
        spans.sort(key=lambda s: s.job_id)
        return spans

    def _stage(self, stage_id: int):
        try:
            return self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # the stage never ran, or was evicted
            return None

    # -- SQL plan nodes ----------------------------------------------
    @staticmethod
    def _rows(exec_values, accumulator_id: Optional[int]) -> int:
        """A node's "number of output rows" as the SQL store formats it
        (``"1,063,355"``); 0 when the node recorded none."""
        text = (_option(exec_values.get(accumulator_id))
                if accumulator_id is not None else None)
        return int(text.replace(",", "")) if text else 0

    def _plan_nodes(self, mark: Mark) -> Dict[str, List[dict]]:
        """Exchange / aggregate / join nodes per pipeline stage,
        unique by metric accumulator (a cached subtree shows up in every
        plan that reads the cache, with the same accumulators)."""
        wanted = ("Exchange", "HashAggregate", "Join")
        nodes: Dict[str, List[dict]] = {}
        seen = set()
        for execution in _scala_iter(self.sql.executionsList()):
            exec_id = execution.executionId()
            description = execution.description() or ""
            if exec_id <= mark.exec_id or not description.startswith(
                    EXEC_PREFIX):
                continue
            stage = description[len(EXEC_PREFIX):]
            values = self.sql.executionMetrics(exec_id)
            graph = self.sql.planGraph(exec_id)
            for node in _scala_iter(graph.allNodes()):
                name = node.name()
                if not any(w in name for w in wanted):
                    continue
                metrics = {m.name(): m.accumulatorId()
                           for m in _scala_iter(node.metrics())}
                key = min(metrics.values(), default=None)
                if key is None or key in seen:
                    continue
                seen.add(key)
                nodes.setdefault(stage, []).append({
                    "name": name,
                    "desc": node.desc(),
                    "rows": self._rows(
                        values, metrics.get("number of output rows")),
                })
        return nodes

    # -- the report --------------------------------------------------
    def read(self, mark: Mark, result, start_s: float, end_s: float,
             cores: int) -> Tuple[Dict[str, float], List[dict]]:
        """Per-layer metrics and stage spans of the job run since ``mark``.

        ``start_s``/``end_s`` bound the job in epoch seconds; ``result`` is
        its ``LinkageResult``.
        """
        jobs = self._jobs_since(mark)
        job_wall = end_s - start_s
        lm = result.metrics

        # Each stage id is counted once, under the first job that lists it
        # (a later job lists a reused shuffle stage as skipped).
        layer_stages: Dict[str, List] = {}
        stage_owner: Dict[int, str] = {}
        for job in jobs:
            layer = self._layer(job.group)
            for stage_id in job.stage_ids:
                if stage_id not in stage_owner:
                    stage_owner[stage_id] = layer
        all_stages = []
        for stage_id, layer in stage_owner.items():
            data = self._stage(stage_id)
            if data is None:
                continue
            layer_stages.setdefault(layer, []).append(data)
            all_stages.append(data)

        def task_s(layer):
            return sum(s.executorRunTime() for s in
                       layer_stages.get(layer, ())) / 1e3

        def jvm_cpu_s(layer):
            return sum(s.executorCpuTime() for s in
                       layer_stages.get(layer, ())) / 1e9

        def wall_s(stages):
            return sum(lm.get(f"{s}_seconds") or 0.0 for s in stages)

        nodes = self._plan_nodes(mark)
        out: Dict[str, float] = {}

        # encode
        encode_stages = [s for s in ("clks", "clks_a", "clks_b")
                         if f"{s}_seconds" in lm]
        out["encode.wall_s"] = wall_s(encode_stages)
        out["encode.task_s"] = task_s("encode")
        out["encode.jvm_cpu_s"] = jvm_cpu_s("encode")
        out["encode.python_s"] = out["encode.task_s"] - out["encode.jvm_cpu_s"]
        out["encode.rows"] = sum(lm.get(f"{s}_rows") or 0
                                 for s in encode_stages)

        # blocking
        blocks = layer_stages.get("blocking", ())
        banding = lm.get("banding", {})
        banded_rows = banding.get("n_rows", 0) * banding.get("num_bands", 0)
        out["blocking.wall_s"] = wall_s(["blocks"])
        out["blocking.task_s"] = task_s("blocking")
        out["blocking.shuffle_write_records"] = sum(
            s.shuffleWriteRecords() for s in blocks)
        out["blocking.shuffle_write_bytes"] = sum(
            s.shuffleWriteBytes() for s in blocks)
        out["blocking.records_per_banded_row"] = (
            out["blocking.shuffle_write_records"] / banded_rows
            if banded_rows else 0.0)
        out["blocking.cap_agg_groups"] = max(
            (n["rows"] for n in nodes.get("blocks", ())
             if n["name"] == "HashAggregate"
             and re.search(r"keys=\[block_key#\d+L?\], functions=\[count",
                           n["desc"])),
            default=0)
        out["blocking.oversized_blocks"] = (
            lm.get("block_cap_accounting") or {}).get("oversized_blocks", 0)
        out["blocking.spill_bytes"] = sum(s.diskBytesSpilled() for s in blocks)

        # scoring
        pair_nodes = nodes.get("pairs", ())
        out["scoring.wall_s"] = wall_s(["pairs"])
        out["scoring.task_s"] = task_s("scoring")
        out["scoring.jvm_cpu_s"] = jvm_cpu_s("scoring")
        out["scoring.python_s"] = (out["scoring.task_s"]
                                   - out["scoring.jvm_cpu_s"])
        out["scoring.band_hits"] = sum(
            n["rows"] for n in pair_nodes
            if "Join" in n["name"] and "block_key" in n["desc"])
        out["scoring.partial_agg_rows"] = sum(
            n["rows"] for n in pair_nodes
            if n["name"] == "HashAggregate" and "partial_count" in n["desc"]
            and "key_a" in n["desc"])
        out["scoring.pairs"] = lm.get("pairs_rows") or 0
        # Join-side exchanges on block_key: a plan that reuses the blocks
        # cache's partitioning has none. (The cache's own repartition is a
        # REPARTITION_BY_NUM exchange and is not counted.)
        out["scoring.join_exchanges"] = sum(
            1 for n in pair_nodes
            if n["name"] == "Exchange" and "block_key" in n["desc"]
            and "ENSURE_REQUIREMENTS" in n["desc"])

        # cluster
        cluster_jobs = [j for j in jobs if self._layer(j.group) == "cluster"]
        out["cluster.wall_s"] = wall_s(["clusters"])
        out["cluster.task_s"] = task_s("cluster")
        out["cluster.jobs"] = len(cluster_jobs)
        out["cluster.edges"] = lm.get("pairs_rows") or 0
        out["cluster.driver_s"] = max(
            0.0, out["cluster.wall_s"] - _union_s(cluster_jobs))

        # pipeline
        total_task_s = sum(s.executorRunTime() for s in all_stages) / 1e3
        out["pipeline.driver_gap_s"] = max(0.0, job_wall - _union_s(jobs))
        out["pipeline.ungrouped_s"] = _union_s(
            [j for j in jobs if self._layer(j.group) == "ungrouped"])
        out["pipeline.occupancy"] = (total_task_s / (job_wall * cores)
                                     if job_wall > 0 else 0.0)
        out["pipeline.gc_s"] = sum(s.jvmGcTime() for s in all_stages) / 1e3
        out["pipeline.peak_exec_mem_mb"] = max(
            (s.peakExecutionMemory() for s in all_stages), default=0) / MIB
        out["pipeline.num_bands"] = banding.get("num_bands", 0)
        out["pipeline.bits_per_band"] = banding.get("bits_per_band", 0)

        by_group: Dict[str, List[JobSpan]] = {}
        for job in jobs:
            if job.group:
                by_group.setdefault(job.group, []).append(job)
        spans = [{"name": "job", "start_ms": int(start_s * 1e3),
                  "end_ms": int(end_s * 1e3), "parent": None}]
        spans += [{"name": group,
                   "start_ms": min(j.start_ms for j in members),
                   "end_ms": max(j.end_ms for j in members),
                   "parent": "job",
                   "spark_jobs": len(members)}
                  for group, members in by_group.items()]
        return out, spans

    @staticmethod
    def _layer(group: Optional[str]) -> str:
        if group and group.startswith(GROUP_PREFIX):
            return LAYER_OF_STAGE.get(group[len(GROUP_PREFIX):], "other")
        if group:
            return "other"  # e.g. the benchmark's materialization
        return "ungrouped"


def _union_s(jobs: List[JobSpan]) -> float:
    """Length in seconds of the union of the jobs' intervals."""
    total = 0
    end = None
    for job in sorted(jobs, key=lambda j: j.start_ms):
        if end is None or job.start_ms > end:
            total += job.end_ms - job.start_ms
            end = job.end_ms
        elif job.end_ms > end:
            total += job.end_ms - end
            end = job.end_ms
    return total / 1e3
