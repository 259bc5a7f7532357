"""Spark-side per-layer numbers, read from Spark's own JSON event log.

Only events inside a wall-clock window (epoch ms) are counted: jobs by
submission time, tasks by launch time, SQL executions by start time.
"""

from __future__ import annotations

import json
import os
import statistics

from stats import union_length

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def read_events(path: str) -> list[dict]:
    """Events of one application log: a plain (uncompressed, unrolled)
    event-log file, or the only such file in directory ``path``."""
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if not n.startswith(".")]
        if len(names) != 1:
            raise ValueError(f"expected one event log in {path}, found {names}")
        path = os.path.join(path, names[0])
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summarize(events: list[dict], t0_ms: float, t1_ms: float, cores: int) -> dict[str, float]:
    def inside(ms) -> bool:
        return ms is not None and t0_ms <= ms <= t1_ms

    jobs: dict[int, list[float]] = {}
    job_sql: dict[int, int] = {}
    sql_start: dict[int, float] = {}
    stage_tasks: dict[int, list[float]] = {}
    out = dict.fromkeys(
        "task_s task_cpu_s gc_s shuffle_read_bytes shuffle_write_bytes "
        "spill_bytes input_bytes output_bytes python_bytes_sent "
        "python_bytes_received".split(), 0.0)
    n_tasks = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart" and inside(e["Submission Time"]):
            jobs[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
            sql_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if sql_id is not None:
                job_sql[e["Job ID"]] = int(sql_id)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = e["Completion Time"]
        elif kind == SQL_START and inside(e["time"]):
            sql_start[e["executionId"]] = e["time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics")
            if not inside(info["Launch Time"]) or m is None:
                continue
            n_tasks += 1
            run_s = m["Executor Run Time"] / 1e3
            stage_tasks.setdefault(e["Stage ID"], []).append(run_s)
            out["task_s"] += run_s
            out["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            out["gc_s"] += m["JVM GC Time"] / 1e3
            rd = m["Shuffle Read Metrics"]
            out["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            out["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            out["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            out["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            out["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    out["python_bytes_sent"] += int(acc.get("Update") or 0)
                elif acc.get("Name") == PY_RECEIVED:
                    out["python_bytes_received"] += int(acc.get("Update") or 0)

    first_job: dict[int, float] = {}
    for job_id, sql_id in job_sql.items():
        t = jobs[job_id][0]
        first_job[sql_id] = min(first_job.get(sql_id, t), t)
    wall_s = (t1_ms - t0_ms) / 1e3
    job_s = union_length([tuple(v) for v in jobs.values()]) / 1e3
    out.update(
        jobs=len(jobs),
        stages=len(stage_tasks),
        tasks=n_tasks,
        skew_max_over_median=max(
            (max(ts) / statistics.median(ts) for ts in stage_tasks.values()
             if len(ts) > 1 and statistics.median(ts) > 0),
            default=1.0,
        ),
        plan_gap_s=sum(first_job[s] - sql_start[s] for s in first_job if s in sql_start) / 1e3,
        driver_only_s=wall_s - job_s,
        busy_share=out["task_s"] / (wall_s * cores) if wall_s > 0 else 0.0,
    )
    return out
