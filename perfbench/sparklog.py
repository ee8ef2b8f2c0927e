"""Spark-layer numbers read back from a Spark event log.

Tasks and SQL executions are assigned to a benchmark pass by time: the
driver records each pass's wall-clock window, and a task belongs to the
window its launch time falls in (driver and executors share one clock in
local mode).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# Spark 4.1's Python SQL metrics (PythonSQLMetrics), summed over tasks
PY_RUN = "time to run Python workers"  # ms
PY_SENT = "data sent to Python workers"  # bytes
PY_RECEIVED = "data returned from Python workers"  # bytes
PY_BOOT = "time to start Python workers"  # ms
PY_INIT = "time to initialize Python workers"  # ms


def load(log_dir: str) -> list[dict]:
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    with open(path) as f:
        return [json.loads(line) for line in f]


class Task:
    def __init__(self, ev: dict) -> None:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        self.stage = ev["Stage ID"]
        self.launch_ms = info["Launch Time"]
        self.run_ms = m.get("Executor Run Time", 0)
        self.gc_ms = m.get("JVM GC Time", 0)
        self.spill_b = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        self.input_b = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        self.output_b = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        self.shuffle_read_b = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        self.shuffle_write_b = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        self.sql: dict[str, int] = {}
        for acc in info.get("Accumulables", ()):
            name, upd = acc.get("Name"), acc.get("Update")
            if acc.get("Metadata") == "sql" and upd is not None:
                self.sql[name] = self.sql.get(name, 0) + int(upd)


def tasks(events: list[dict]) -> list[Task]:
    return [Task(e) for e in events if e["Event"] == "SparkListenerTaskEnd"]


def within(ts: list[Task], window: tuple[float, float]) -> list[Task]:
    lo, hi = window
    return [t for t in ts if lo <= t.launch_ms <= hi]


def _count_nodes(plan: dict, name: str) -> int:
    return (plan.get("nodeName") == name) + sum(_count_nodes(c, name) for c in plan.get("children", ()))


def exchanges(events: list[dict], window: tuple[float, float]) -> int:
    """Shuffle exchanges in the final physical plans of the SQL executions
    started inside ``window`` (adaptive re-plans replace the initial plan)."""
    started = {e["executionId"] for e in events if e["Event"] == SQL_START and window[0] <= e["time"] <= window[1]}
    final = {}
    for e in events:
        if e["Event"] in (SQL_START, SQL_AQE_UPDATE) and e["executionId"] in started:
            final[e["executionId"]] = e["sparkPlanInfo"]
    return sum(_count_nodes(p, "Exchange") for p in final.values())


def sql_sum(ts: list[Task], name: str) -> int:
    return sum(t.sql.get(name, 0) for t in ts)


def skew(ts: list[Task]) -> float:
    """max / median task run time in the stage holding most task time."""
    by_stage: dict[int, list[int]] = {}
    for t in ts:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    runs = max(by_stage.values(), key=sum, default=[])
    med = statistics.median(runs) if runs else 0
    return max(runs) / med if med else 1.0
