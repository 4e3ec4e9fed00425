"""Parser for Spark's JSON event log (``spark.eventLog.enabled`` with
``spark.eventLog.compress=false``; Spark 4 writes a rolling
``eventlog_v2_*`` directory of ``events_*`` files, older versions one
file).

It keeps what the benchmark's per-layer metrics need: jobs (with their
job group and SQL execution), stages, task metrics, and SQL metric
values keyed by the plan node that owns them.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
WORKER_SPAWN = "Python worker failed to connect back"


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float = 0.0
    group: str | None = None
    execution: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    n_tasks: int = 0
    submit: float = 0.0
    end: float = 0.0


@dataclass
class TaskTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    worker_spawn_failures: int = 0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class PlanMetric:
    execution: int
    name: str
    metric_type: str
    feeds_levenshtein: bool


class EventLog:
    def __init__(self):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, TaskTotals] = {}
        self.metrics: dict[int, PlanMetric] = {}  # accumulator id -> owner
        self.accum: dict[int, float] = {}  # accumulator id -> summed updates

    # -- reading -----------------------------------------------------------

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        for path in _event_files(log_dir):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        log._event(json.loads(line))
        return log

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(
                e["Job ID"],
                e["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                execution=int(ex) if ex is not None else None,
                stages=list(e.get("Stage IDs", [])),
            )
            self.jobs[job.job_id] = job
            for sid in job.stages:
                self.stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.n_tasks = info["Number of Tasks"]
            st.submit = (info.get("Submission Time") or 0) / 1000.0
            st.end = (info.get("Completion Time") or 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"], False)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                self.accum[acc_id] = self.accum.get(acc_id, 0.0) + value

    def _task_end(self, e: dict) -> None:
        t = TaskTotals(tasks=1)
        reason = e.get("Task End Reason") or {}
        if reason.get("Reason") != "Success" and WORKER_SPAWN in json.dumps(reason):
            t.worker_spawn_failures = 1
        m = e.get("Task Metrics") or {}
        t.run_s = m.get("Executor Run Time", 0) / 1000.0
        t.cpu_s = m.get("Executor CPU Time", 0) / 1e9
        t.gc_s = m.get("JVM GC Time", 0) / 1000.0
        inp = m.get("Input Metrics") or {}
        t.input_rows = inp.get("Records Read", 0)
        t.input_bytes = inp.get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        t.shuffle_read_bytes = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        t.shuffle_write_bytes = sw.get("Shuffle Bytes Written", 0)
        t.spill_bytes = m.get("Disk Bytes Spilled", 0)
        self.stage_tasks.setdefault(e["Stage ID"], TaskTotals()).add(t)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            upd = acc.get("Update")
            if isinstance(upd, (int, float)) or (isinstance(upd, str) and re.fullmatch(r"-?\d+", upd)):
                self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0.0) + float(upd)

    def _plan(self, execution: int, node: dict, below_lev: bool) -> None:
        """Index every SQL metric of the plan tree. A join node counts as
        feeding ``levenshtein`` when an ancestor up to the next join
        scores pairs with it."""
        name = node.get("nodeName", "")
        is_join = "Join" in name
        feeds = below_lev and is_join
        for m in node.get("metrics", []):
            self.metrics[m["accumulatorId"]] = PlanMetric(execution, m["name"], m["metricType"], feeds)
        lev = "levenshtein" in node.get("simpleString", "")
        child_flag = False if is_join else (below_lev or lev)
        for child in node.get("children", []):
            self._plan(execution, child, child_flag)

    # -- queries -----------------------------------------------------------

    def jobs_where(self, pred) -> list[Job]:
        return [j for j in self.jobs.values() if pred(j)]

    def executions_of(self, jobs: list[Job]) -> set[int]:
        return {j.execution for j in jobs if j.execution is not None}

    def metric_sum(self, executions: set[int], pred) -> float:
        """Sum of the SQL metric values (normalized to seconds for
        timings) of the given executions whose owner matches ``pred``."""
        total = 0.0
        for acc_id, pm in self.metrics.items():
            if pm.execution in executions and pred(pm) and acc_id in self.accum:
                v = self.accum[acc_id]
                if pm.metric_type == "nsTiming":
                    v /= 1e9
                elif pm.metric_type == "timing":
                    v /= 1000.0
                total += v
        return total

    def task_totals(self, jobs: list[Job]) -> TaskTotals:
        out = TaskTotals()
        for j in jobs:
            for sid in j.stages:
                if sid in self.stage_tasks and self.stage_job.get(sid) == j.job_id:
                    out.add(self.stage_tasks[sid])
        return out

    def completed_stages(self, jobs: list[Job]) -> list[Stage]:
        ids = {sid for j in jobs for sid in j.stages if self.stage_job.get(sid) == j.job_id}
        return [self.stages[s] for s in ids if s in self.stages and self.stages[s].end > 0]


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Wall time inside [start, end] covered by at least one job."""
    spans = sorted((max(j.submit, start), min(j.end or end, end)) for j in jobs)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def _event_files(log_dir: str) -> list[str]:
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):  # rolling: eventlog_v2_<app>/events_<n>_<app>
            files = [f for f in os.listdir(path) if f.startswith("events_")]
            files.sort(key=lambda f: int(f.split("_")[1]))
            out += [os.path.join(path, f) for f in files]
        elif not entry.startswith("."):  # one file per application
            out.append(path)
    return out
