"""Per-layer figures of a traced run.

Spans come from ``workloads.TraceRecorder``; job, stage and task counts from
``SparkContext.statusTracker()`` under each operation's job group; executor,
GC, shuffle and spill figures from the Spark event log, which the traced run
enables at launch (``spark.eventLog.*``) and which is read here with the
standard ``json`` module once the session has stopped.
"""

from __future__ import annotations

import json
import os
import statistics


def eventlog_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that write an uncompressed event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def job_counts(sc, group: str) -> dict:
    """Jobs, and the stages and tasks they completed, under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "job_ids": sorted(jobs)}


def read_eventlog(log_dir: str) -> list[dict]:
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(".") or f.endswith(".crc"):
                continue
            with open(os.path.join(root, f)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _grouped_map_input_ids(events: list[dict]) -> set[int]:
    """Accumulator ids of the "records read" metric of every exchange that
    feeds a FlatMapGroupsInPandas node: the rows a grouped map receives."""
    ids: set[int] = set()

    def feeding(node):
        if node["nodeName"] == "Exchange":
            return [m["accumulatorId"] for m in node["metrics"] if m["name"] == "records read"]
        return [i for c in node.get("children", []) for i in feeding(c)]

    def walk(node):
        if node["nodeName"] == "FlatMapGroupsInPandas":
            ids.update(i for c in node["children"] for i in feeding(c))
        for c in node.get("children", []):
            walk(c)

    for ev in events:
        if "sparkPlanInfo" in ev:
            walk(ev["sparkPlanInfo"])
    return ids


def operator_metrics(events: list[dict], op_spans: list[dict], job_ids: set[int]) -> dict:
    """Sum executor, GC, shuffle and spill figures and the rows entering
    grouped maps over the tasks of ``job_ids``, and the time each operation
    spent outside its jobs."""
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_span[jid] = [ev["Submission Time"] / 1e3, None]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1e3

    out = dict.fromkeys(
        ["executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"], 0.0
    )
    boundary_ids = _grouped_map_input_ids(events)
    out["grouped_map_rows"] = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or stage_job.get(ev["Stage ID"]) not in job_ids:
            continue
        for acc in ev["Task Info"].get("Accumulables", []):
            if acc.get("ID") in boundary_ids:
                out["grouped_map_rows"] += int(acc["Update"])
        m = ev.get("Task Metrics") or {}
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    between = 0.0
    for span in op_spans:
        inside = [
            (max(a, span["start"]), min(b, span["end"]))
            for a, b in job_span.values()
            if b is not None and a < span["end"] and b > span["start"]
        ]
        between += (span["end"] - span["start"]) - _union_s(inside)
    out["between_jobs_s"] = between
    return out


def median_by(spans: list[dict], layer: str, op: str, passes: set[int]) -> float:
    """Median over ``passes`` of the per-pass total of one layer's spans."""
    per_pass = {p: 0.0 for p in passes}
    for s in spans:
        if s["layer"] == layer and s["op"] == op and s["pass"] in per_pass:
            per_pass[s["pass"]] += s["end"] - s["start"]
    return statistics.median(per_pass.values()) if per_pass else 0.0
