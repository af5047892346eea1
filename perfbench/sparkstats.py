"""Read Spark's own status stores (they are populated with the UI off).

* stage metrics per job, from ``SparkContext.statusStore`` (executor run
  and CPU time, GC, shuffle, spill, stage submit/complete times);
* per-node SQL metrics of each execution, from the SQL status store
  (``executionMetrics`` + ``planGraph``). The plan graph is the final
  adaptive plan.

Jobs are attributed to benchmark spans through their job group.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

#: Plan-node names of the Python/Arrow boundary.
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "FlatMapGroupsInArrow")
JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def parse_metric(text: str | None) -> tuple[float, float]:
    """(total, max per task) of a formatted SQL metric value.

    Formats: ``1,236`` / ``124 ms`` / ``64.5 MiB`` or, for per-task
    metrics, ``total (min, med, max (stageId: taskId))\\n1.0 s (14 ms,
    185 ms, 639 ms (stage 4.0: task 5))``. Times come back in seconds,
    sizes in bytes. A single-task metric's max is its total.
    """
    if not text:
        return 0.0, 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text

    def value(s: str) -> float:
        m = _VALUE.match(s.strip())
        if not m:
            return 0.0
        num, unit = float(m.group(1).replace(",", "")), m.group(2)
        return num * _SIZE.get(unit, _TIME.get(unit, 1.0))

    total = value(body)
    inner = body[body.find("(") + 1:] if "(" in body else ""
    parts = [p for p in inner.split(",")[:3]]
    peak = value(parts[2]) if len(parts) == 3 else total
    return total, peak


@dataclass
class StageTotals:
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_fetch_wait_s: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)


@dataclass
class PlanNode:
    name: str
    metrics: dict[str, tuple[float, float]]


@dataclass
class Execution:
    execution_id: int
    job_ids: set[int]
    nodes: list[PlanNode]


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs_for_groups(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def stage_totals(self, job_ids: list[int]) -> StageTotals:
        out = StageTotals(jobs=len(job_ids))
        seen: set[int] = set()
        for j in job_ids:
            it = self.store.job(j).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out.tasks += sd.numCompleteTasks()
                out.task_cpu_s += sd.executorCpuTime() / 1e9
                out.task_run_s += sd.executorRunTime() / 1e3
                out.gc_s += sd.jvmGcTime() / 1e3
                out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
                out.shuffle_write_mb += sd.shuffleWriteBytes() / 1e6
                out.shuffle_read_mb += sd.shuffleReadBytes() / 1e6
                out.shuffle_fetch_wait_s += sd.shuffleFetchWaitTime() / 1e3
                start, end = _opt_time(sd.submissionTime()), _opt_time(sd.completionTime())
                if start is not None and end is not None:
                    out.intervals.append((start, end))
        return out

    def executions(self, job_ids: list[int]) -> list[Execution]:
        wanted = set(job_ids)
        out: list[Execution] = []
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs: set[int] = set()
            it = e.jobs().keys().iterator()
            while it.hasNext():
                jobs.add(int(it.next()))
            if not jobs & wanted:
                continue
            values = self.sql.executionMetrics(e.executionId())
            graph = self.sql.planGraph(e.executionId()).allNodes()
            nodes = []
            for k in range(graph.size()):
                n = graph.apply(k)
                ms = n.metrics()
                metrics = {}
                for m in range(ms.size()):
                    sm = ms.apply(m)
                    v = values.get(sm.accumulatorId())
                    metrics[sm.name()] = parse_metric(v.get() if v.isDefined() else None)
                nodes.append(PlanNode(n.name(), metrics))
            out.append(Execution(int(e.executionId()), jobs, nodes))
        return out


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def plan_counts(executions: list[Execution]) -> dict[str, float]:
    """Per-layer operator counts and summed node metrics over executions."""
    c = dict.fromkeys((
        "plans.exchanges", "plans.broadcast_joins", "plans.sort_merge_joins", "plans.python_nodes",
        "operators.python_rows", "operators.python_eval_s", "operators.python_start_s",
        "sources.scan_count", "sources.scan_s", "sources.scan_mb", "sources.scan_rows",
        "exec.agg_s", "exec.sort_s", "exec.join_build_s", "exec.peak_task_mem_mb"), 0.0)

    def total(m: dict, name: str) -> float:
        return m.get(name, (0.0, 0.0))[0]

    for ex in executions:
        for n in ex.nodes:
            m = n.metrics
            if n.name == "Exchange":
                c["plans.exchanges"] += 1
            elif n.name in ("BroadcastHashJoin", "BroadcastNestedLoopJoin"):
                c["plans.broadcast_joins"] += 1
            elif n.name == "SortMergeJoin":
                c["plans.sort_merge_joins"] += 1
            elif n.name in PYTHON_NODES:
                c["plans.python_nodes"] += 1
                c["operators.python_rows"] += total(m, "number of output rows")
                c["operators.python_eval_s"] += total(m, "time to run Python workers")
                c["operators.python_start_s"] += (total(m, "time to start Python workers")
                                                  + total(m, "time to initialize Python workers"))
            elif n.name.startswith("Scan "):
                c["sources.scan_count"] += 1
                c["sources.scan_s"] += total(m, "scan time")
                c["sources.scan_mb"] += total(m, "size of files read") / 1e6
                c["sources.scan_rows"] += total(m, "number of output rows")
            c["exec.agg_s"] += total(m, "time in aggregation build")
            c["exec.sort_s"] += total(m, "sort time")
            c["exec.join_build_s"] += total(m, "time to build hash map") + total(m, "time to build")
            c["exec.peak_task_mem_mb"] = max(c["exec.peak_task_mem_mb"],
                                             m.get("peak memory", (0.0, 0.0))[1] / 1e6)
    return c


def pair_counts(executions: list[Execution]) -> tuple[float, float]:
    """(candidate pairs, verified pairs) of pair-producing plans.

    Plan nodes come top-down, so the first join or generator under the
    output is where candidate pairs are formed (earlier generators, such
    as shingle or band explodes, sit below it); the first node with a
    row count is the plan's output.
    """
    candidates = verified = 0.0
    for ex in executions:
        rows = [(n.name, n.metrics["number of output rows"][0])
                for n in ex.nodes if "number of output rows" in n.metrics]
        pairs = next((r for name, r in rows if name in JOIN_NODES or name == "Generate"), None)
        if pairs is None:
            continue
        candidates += pairs
        verified += rows[0][1]
    return candidates, verified
