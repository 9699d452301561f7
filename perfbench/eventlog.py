"""Read a Spark JSON event log (uncompressed, not rolling) into
per-phase counters.

A phase is one build or one execution of one registry entry (or arm) in
one pass. The benchmark labels the jobs it submits from its own thread
with a job group naming the phase; jobs that the program submits from
threads of its own carry no group and are assigned to the phase whose
wall-clock window holds their submission time.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from dataclasses import dataclass

#: SQL metrics read by name from the task-end accumulator updates; every
#: one is a Spark "timing" (milliseconds) or "size" (bytes) metric.
SQL_METRICS = {
    "scan time": "scan_ms",
    "time in aggregation build": "agg_build_ms",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
#: Spark stores an "average" metric per task as round(value * 10).
_AVG_PROBES = "avg hash probes per key"
#: Bytes of the files a scan reads: a metric the scan node sets while it
#: plans, sent in its own accumulator-update events, not with the tasks.
_FILES_READ = "size of files read"


@dataclass(frozen=True)
class Phase:
    group: str  # job group id the benchmark set for this phase
    start_ms: int
    end_ms: int


def read_events(path: str) -> list[dict]:
    """Every event of the log; a torn last line (the log of a killed
    application) is skipped."""
    events = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    return events


def _num(v) -> int:
    return int(float(v))


def _metric_ids(plan: dict, name: str, out: set) -> None:
    """Add to ``out`` the accumulator ids of the plan's metrics named ``name``."""
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _metric_ids(child, name, out)


def phase_counters(events: list[dict], phases: list[Phase]) -> dict[str, Counter]:
    """Counters per phase group: jobs, stages and tasks run, task times,
    shuffle, spill, input rows, scanned file bytes and the SQL metrics
    in ``SQL_METRICS``. A SQL execution's scanned bytes go to the phase
    of its first job. ``probe_sum``/``probe_tasks`` give the mean hash probes per key as
    probe_sum / probe_tasks / 10. Jobs outside every phase are dropped."""
    known = {p.group for p in phases}

    def phase_of(job: dict) -> str | None:
        group = (job.get("Properties") or {}).get("spark.jobGroup.id")
        if group in known:
            return group
        t = job.get("Submission Time", 0)
        for p in phases:
            if p.start_ms <= t <= p.end_ms:
                return p.group
        return None

    stage_phase: dict[int, str] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    ran: dict[str, set] = defaultdict(set)
    files_read_ids: set = set()
    execution_bytes: Counter = Counter()
    execution_phase: dict[str, str] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if "sparkPlanInfo" in ev:
            _metric_ids(ev["sparkPlanInfo"], _FILES_READ, files_read_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_id in files_read_ids:
                    execution_bytes[str(ev.get("executionId"))] += _num(value)
        elif kind == "SparkListenerJobStart":
            group = phase_of(ev)
            if group is None:
                continue
            out[group]["jobs"] += 1
            execution = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if execution is not None:
                execution_phase.setdefault(execution, group)
            for sid in ev.get("Stage IDs", []):
                stage_phase.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_phase.get(ev.get("Stage ID"))
            if group is None:
                continue
            c = out[group]
            ran[group].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            c["tasks"] += 1
            info = ev.get("Task Info", {})
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                c["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_mem_bytes"] += m.get("Memory Bytes Spilled", 0)
            c["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["peak_exec_mem_bytes"] = max(
                c["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
            c["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name in SQL_METRICS:
                    c[SQL_METRICS[name]] += _num(acc.get("Update", 0))
                elif name == _AVG_PROBES:
                    v = _num(acc.get("Update", 0))
                    if v > 0:
                        c["probe_sum"] += v
                        c["probe_tasks"] += 1
    for group, stages in ran.items():
        out[group]["stages"] = len(stages)
    for execution, nbytes in execution_bytes.items():
        if execution in execution_phase:
            out[execution_phase[execution]]["files_read_bytes"] += nbytes
    return dict(out)
