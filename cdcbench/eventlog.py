"""Offline reader of a Spark event log (uncompressed JSON lines): jobs with
their job group and time span, per-stage task totals, SQL metric sums per
stage, per-task durations, and the last physical plan of each SQL
execution."""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: Task Metrics fields summed per stage, under short names
_TASK_METRICS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "mem_spill": ("Memory Bytes Spilled",),
    "disk_spill": ("Disk Bytes Spilled",),
    "shuffle_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_records": ("Shuffle Write Metrics", "Shuffle Records Written"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
    "output_records": ("Output Metrics", "Records Written"),
}


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    totals: dict[str, float] = field(default_factory=dict)
    #: SQL metric name -> summed task updates
    sql: dict[str, float] = field(default_factory=dict)
    task_ms: list[int] = field(default_factory=list)


class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.stage_job: dict[int, int] = {}
        #: SQL execution id -> last sparkPlanInfo tree
        self.plans: dict[int, dict] = {}

    @classmethod
    def parse(cls, lines) -> "EventLog":
        log = cls()
        for line in lines:
            if line.strip():
                log._event(json.loads(line))
        return log

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                      int(ex) if ex is not None else None,
                      e["Submission Time"], stages=list(e["Stage IDs"]))
            self.jobs[job.id] = job
            for s in job.stages:
                self.stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            st.task_ms.append(info["Finish Time"] - info["Launch Time"])
            for name, path in _TASK_METRICS.items():
                v = tm
                for p in path:
                    v = v.get(p, 0) if isinstance(v, dict) else 0
                st.totals[name] = st.totals.get(name, 0) + (v or 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name", "")
                if name.startswith("internal.") or "Update" not in acc:
                    continue
                try:
                    upd = float(acc["Update"])
                except (TypeError, ValueError):
                    continue
                st.sql[name] = st.sql.get(name, 0) + upd
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            self.plans[int(e["executionId"])] = e["sparkPlanInfo"]

    # -- queries -------------------------------------------------------------

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def groups(self, prefix: str) -> list[str]:
        return sorted({j.group for j in self.jobs.values()
                       if (j.group or "").startswith(prefix)})

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stages
               if self.stage_job.get(s) == j.id}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    @staticmethod
    def total(stages: list[Stage], name: str) -> float:
        return sum(s.totals.get(name, 0) for s in stages)

    @staticmethod
    def sql_total(stages: list[Stage], name: str) -> float:
        return sum(s.sql.get(name, 0) for s in stages)


def busy_ms(jobs: list[Job]) -> float:
    """Wall time covered by the union of the jobs' [start, end] spans."""
    return union_length([(j.start_ms, j.end_ms) for j in jobs])


def union_length(spans: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


#: operators that only move data between codegen stages or wrap a plan
STRUCTURAL = {
    "AdaptiveSparkPlan", "Exchange", "ShuffleQueryStage", "AQEShuffleRead",
    "BroadcastExchange", "BroadcastQueryStage", "ReusedExchange",
    "ResultQueryStage", "TableCacheQueryStage", "WriteFiles", "InputAdapter",
    "CustomShuffleReader", "Subquery", "SubqueryBroadcast",
}


def plan_nodes(plan: dict) -> list[str]:
    out, todo = [], [plan]
    while todo:
        n = todo.pop()
        out.append(n["nodeName"])
        todo.extend(n.get("children", []))
    return out


def non_codegen_operators(plan: dict) -> list[str]:
    """Operators outside every WholeStageCodegen subtree, leaving out data
    movement, plan wrappers, scans and the write command."""
    out = []

    def walk(n: dict, in_codegen: bool) -> None:
        name = n["nodeName"]
        if name.startswith("WholeStageCodegen"):
            in_codegen = True
        elif name == "InputAdapter":
            in_codegen = False
        elif not in_codegen and not (
                name in STRUCTURAL or name.startswith(("Scan", "Execute"))
                or name in ("LocalTableScan", "InMemoryTableScan")):
            out.append(name)
        for c in n.get("children", []):
            walk(c, in_codegen)

    walk(plan, False)
    return out
