"""Parser for a plain-text (uncompressed, non-rolling) Spark event log.

Attributes every job, stage and task to the operation that caused it
through two local properties the tracer sets on the calling thread:
``spark.jobGroup.id`` (one group per benchmark operation) and
``perfbench.span`` (the innermost open span).  Spark copies a thread's
local properties into every job it submits, including the broadcast and
adaptive-execution jobs it runs on its own threads.

Two rules keep the accounting honest:

- a stage without a ``Submission Time`` (skipped, or failed before it
  was submitted) falls back to its ``Completion Time``, so it is never
  placed at epoch 0, outside every window;
- every event that cannot be tied to an operation is counted in
  :attr:`EventLog.unattributed` instead of being dropped silently.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
SPAN_PROP = "perfbench.span"
EXEC_PROP = "spark.sql.execution.id"


@dataclass
class Job:
    job_id: int
    group: str | None
    span: str | None
    execution: int | None
    stage_ids: list[int]
    start_ms: int
    end_ms: int | None = None


@dataclass
class Stage:
    stage_id: int
    num_tasks: int = 0
    submit_ms: int | None = None
    complete_ms: int | None = None
    ran: bool = False


@dataclass
class OpTotals:
    """What one operation (job group) cost Spark."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    widest_stage: int = 0
    records_read: int = 0
    bytes_read: int = 0
    bytes_written: int = 0
    files_read: int = 0
    #: (start_ms, end_ms) of each job, for busy-time unions
    job_windows: list[tuple[int, int]] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    #: stage id -> [(failed, records_read, bytes_read, bytes_written)]
    tasks: dict[int, list[tuple[bool, int, int, int]]]
    #: sql execution id -> number of files its scans listed
    files_read: dict[int, int]
    #: events that could not be tied to any operation
    unattributed: int

    def stage_window(self, sid: int) -> tuple[int, int] | None:
        st = self.stages.get(sid)
        if st is None:
            return None
        end = st.complete_ms
        start = st.submit_ms if st.submit_ms is not None else end
        if start is None:
            return None
        return start, end if end is not None else start

    def by_group(self) -> dict[str, OpTotals]:
        out: dict[str, OpTotals] = defaultdict(OpTotals)
        seen_exec: set[tuple[str, int]] = set()
        for job in self.jobs.values():
            if job.group is None:
                continue
            t = out[job.group]
            t.jobs += 1
            if job.end_ms is not None:
                t.job_windows.append((job.start_ms, job.end_ms))
            for sid in job.stage_ids:
                st = self.stages.get(sid)
                if st is None or not st.ran:
                    continue
                t.stages += 1
                t.widest_stage = max(t.widest_stage, st.num_tasks)
                for failed, rec, nbytes, written in self.tasks.get(sid, ()):
                    t.tasks += 1
                    t.failed_tasks += int(failed)
                    t.records_read += rec
                    t.bytes_read += nbytes
                    t.bytes_written += written
            if job.execution is not None and (job.group, job.execution) not in seen_exec:
                seen_exec.add((job.group, job.execution))
                t.files_read += self.files_read.get(job.execution, 0)
        return dict(out)

    def jobs_by_span(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for job in self.jobs.values():
            if job.span is not None:
                out[job.span] += 1
        return dict(out)


def _plan_metric_ids(plan: dict, names: set[str], out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") in names:
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _plan_metric_ids(child, names, out)


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: dict[int, list] = defaultdict(list)
    stage_job: dict[int, int] = {}
    file_metric: dict[int, str] = {}
    files_read: dict[int, int] = defaultdict(int)
    unattributed = 0

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex = props.get(EXEC_PROP)
                job = Job(
                    job_id=ev["Job ID"],
                    group=props.get(GROUP_PROP),
                    span=props.get(SPAN_PROP),
                    execution=int(ex) if ex not in (None, "") else None,
                    stage_ids=list(ev.get("Stage IDs", ())),
                    start_ms=ev.get("Submission Time", 0),
                )
                jobs[job.job_id] = job
                for info in ev.get("Stage Infos", ()):
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.num_tasks = info.get("Number of Tasks", st.num_tasks)
                for sid in job.stage_ids:
                    stage_job[sid] = job.job_id
                if job.group is None:
                    unattributed += 1
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is None:
                    unattributed += 1
                    continue
                job.end_ms = ev.get("Completion Time")
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                st = stages.setdefault(sid, Stage(sid))
                st.num_tasks = info.get("Number of Tasks", st.num_tasks)
                st.ran = True
                if info.get("Submission Time") is not None:
                    st.submit_ms = info["Submission Time"]
                if info.get("Completion Time") is not None:
                    st.complete_ms = info["Completion Time"]
                if sid not in stage_job:
                    unattributed += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                inp = m.get("Input Metrics") or {}
                outp = m.get("Output Metrics") or {}
                tasks[sid].append(
                    (
                        bool(info.get("Failed")) or bool(info.get("Killed")),
                        int(inp.get("Records Read", 0)),
                        int(inp.get("Bytes Read", 0)),
                        int(outp.get("Bytes Written", 0)),
                    )
                )
                if sid not in stage_job:
                    unattributed += 1
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                _plan_metric_ids(
                    ev.get("sparkPlanInfo") or {}, {"number of files read"}, file_metric
                )
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                ex = ev.get("executionId")
                for acc_id, value in ev.get("accumUpdates", ()):
                    if acc_id in file_metric:
                        files_read[ex] += int(value)
    return EventLog(jobs, stages, dict(tasks), dict(files_read), unattributed)


def union_length(windows) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(windows):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
