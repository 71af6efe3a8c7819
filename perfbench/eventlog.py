"""Roll Spark's event log up per span.

Jobs are attributed to the span whose time window holds the job's
submission time, never by job group: a bounded stream runs its
micro-batches on Spark's stream thread, which does not inherit the
caller's job group. Stages follow the job that first lists them, and
tasks follow their stage. The log must be written uncompressed
(``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import statistics

MB = 1024.0 * 1024.0

#: SQL metric names Spark gives the nodes that evaluate Python code.
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"

COUNTERS = (
    "jobs", "stages", "tasks", "task.failed", "task.run_s", "task.cpu_s",
    "task.gc_s", "shuffle.write_mb", "shuffle.read_mb", "spill.mb",
    "scan.input_mb", "scan.input_rows", "sink.output_mb", "sink.output_rows",
    "python.mb_sent", "python.mb_returned",
)


def read_events(log_dir: str) -> list[dict]:
    """Every event of the single application under ``log_dir``, whose
    log Spark writes as a directory of rolled ``events_<n>_*`` files."""
    files = [os.path.join(d, n) for d, _, names in os.walk(log_dir)
             for n in names if n.startswith("events_")]
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events: list[dict] = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _python_metric_ids(plan: dict, sent: set[int], returned: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == _PY_SENT:
            sent.add(m["accumulatorId"])
        elif m.get("name") == _PY_RETURNED:
            returned.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_metric_ids(child, sent, returned)


def rollup(events: list[dict], windows: dict) -> tuple[dict, dict]:
    """Counters per window, and per-stage tail ratios per window.

    ``windows`` maps a span id to its (start, end) in epoch seconds;
    windows must not overlap. Work outside every window is dropped.
    Returns ``{id: {counter: value}}`` and ``{id: [slowest task /
    median task, for each stage]}``.
    """
    bounds = sorted((s * 1000.0, e * 1000.0, n) for n, (s, e) in windows.items())

    def window_of(ms: float):
        for start, end, name in bounds:
            if start <= ms <= end:
                return name
        return None

    out = {n: dict.fromkeys(COUNTERS, 0.0) for n in windows}
    stage_owner: dict = {}
    task_times: dict[int, list[float]] = {}
    sent: set[int] = set()
    returned: set[int] = set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_metric_ids(ev.get("sparkPlanInfo", {}), sent, returned)
        elif kind == "SparkListenerJobStart":
            name = window_of(ev["Submission Time"])
            if name is None:
                continue
            out[name]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_owner.setdefault(sid, name)
        elif kind == "SparkListenerStageCompleted":
            name = stage_owner.get(ev["Stage Info"]["Stage ID"])
            if name is not None and ev["Stage Info"].get("Submission Time"):
                out[name]["stages"] += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        name = stage_owner.get(ev["Stage ID"])
        if name is None:
            continue
        c = out[name]
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        c["tasks"] += 1
        if ev["Task End Reason"]["Reason"] != "Success":
            c["task.failed"] += 1
        run_ms = m.get("Executor Run Time", 0)
        task_times.setdefault(ev["Stage ID"], []).append(run_ms)
        c["task.run_s"] += run_ms / 1e3
        c["task.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["task.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        c["shuffle.write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        c["shuffle.read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        c["spill.mb"] += m.get("Disk Bytes Spilled", 0) / MB
        c["scan.input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
        c["scan.input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
        c["sink.output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
        c["sink.output_rows"] += m.get("Output Metrics", {}).get("Records Written", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("ID") in sent:
                c["python.mb_sent"] += float(acc.get("Update", 0)) / MB
            elif acc.get("ID") in returned:
                c["python.mb_returned"] += float(acc.get("Update", 0)) / MB
    tails: dict = {n: [] for n in windows}
    for sid, times in task_times.items():
        median = statistics.median(times)
        if len(times) > 1 and median > 0:
            tails[stage_owner[sid]].append(max(times) / median)
    return out, tails
