"""Stdlib parser for Spark's JSON event log.

Aggregates task metrics per job description (the span name that was active
when the job started, see spans.Tracer), so each traced call gets its own
stage count, task time, shuffle bytes, spill, GC time and failed attempts.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path


def _label(props: dict | None) -> str | None:
    return (props or {}).get("spark.job.description")


def read_events(path) -> list[dict]:
    """All events of one application's log (a file, or a directory holding
    exactly one log file)."""
    p = Path(path)
    if p.is_dir():
        files = [f for f in p.iterdir() if f.is_file()
                 and not f.name.startswith((".", "appstatus"))]
        if len(files) != 1:
            raise ValueError(f"expected one event log in {p}, found {len(files)}")
        p = files[0]
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


def stage_metrics(events: list[dict]) -> dict[str, dict]:
    """label -> totals over every task of every stage run under it:
    stages, tasks, failed_tasks, retried_tasks, run_s, cpu_s, gc_s,
    shuffle_write_bytes, shuffle_read_bytes, spill_bytes, input_records,
    and ``task_records``: stage id -> records each task read (input plus
    shuffle), the input of the skew ratio."""
    stage_label: dict[int, str | None] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            for sid in e.get("Stage IDs", []):
                stage_label.setdefault(sid, _label(e.get("Properties")))
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            lab = _label(e.get("Properties"))
            if lab is not None:
                stage_label[sid] = lab

    out: dict[str, dict] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        lab = stage_label.get(sid) or "(unlabelled)"
        agg = out.setdefault(lab, {
            "stage_ids": set(), "tasks": 0, "failed_tasks": 0,
            "retried_tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "input_records": 0, "task_records": {}})
        info = e.get("Task Info", {})
        m = e.get("Task Metrics") or {}
        reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
        agg["stage_ids"].add(sid)
        agg["tasks"] += 1
        agg["failed_tasks"] += int(reason != "Success" or info.get("Failed", False))
        agg["retried_tasks"] += int(info.get("Attempt", 0) > 0)
        agg["run_s"] += m.get("Executor Run Time", 0) / 1e3
        agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        inp = m.get("Input Metrics") or {}
        agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        agg["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
        agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        agg["input_records"] += inp.get("Records Read", 0)
        agg["task_records"].setdefault(sid, []).append(
            (inp.get("Records Read", 0), sr.get("Total Records Read", 0)))
    for agg in out.values():
        agg["stages"] = len(agg.pop("stage_ids"))
    return out


def partition_skew(agg: dict) -> float:
    """max / median records per task, over the tasks of the stages that read
    a shuffle (the stages whose partitioning the shuffle chose); over every
    stage's input records when nothing was shuffled. 0.0 when no task read
    anything."""
    per_stage = agg["task_records"]
    shuffled = [[s for _, s in tasks] for tasks in per_stage.values()
                if any(s for _, s in tasks)]
    groups = shuffled or [[i for i, _ in tasks] for tasks in per_stage.values()]
    worst = 0.0
    for recs in groups:
        med = statistics.median(recs)
        if med > 0:
            worst = max(worst, max(recs) / med)
    return worst
