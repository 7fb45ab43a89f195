"""Reads Spark's own event log (plain JSON lines, written when the session
runs with spark.eventLog.enabled=true and spark.eventLog.compress=false).

From it the traced run takes per-task engine metrics (run, CPU and GC time,
shuffle, spill, peak execution memory, failures), the SQL executions with
their final adaptive plans and per-operator SQL metrics (including the Python
UDF operators' bytes to and from the Python workers), and the stage timeline
that gives core utilisation and the driver gap (wall time with no stage
running).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

PYTHON_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "time to run Python workers": "python_ms",
    "time to start Python workers": "boot_ms",
}


def load(path: Path) -> list[dict]:
    """Events of one application; `path` is the log file or the directory
    Spark writes per application (eventlog_v2_*), or a directory holding
    exactly one of those."""
    path = Path(path)
    files = [path] if path.is_file() else sorted(
        f for f in path.rglob("*") if f.is_file() and not f.name.startswith(".")
    )
    events = []
    for f in files:
        with f.open() as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _short(name: str) -> str:
    return name.rsplit(".", 1)[-1]


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


class EventLog:
    def __init__(self, events: list[dict]):
        self.events = events
        self.tasks: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.jobs: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        self.acc_updates: dict[int, float] = defaultdict(float)
        self.app_start = self.app_end = None
        for e in events:
            kind = _short(e["Event"])
            handler = getattr(self, "_on_" + kind, None)
            if handler:
                handler(e)

    # ------------------------------------------------------------ events --
    def _on_SparkListenerApplicationStart(self, e):
        self.app_start = e["Timestamp"] / 1000

    def _on_SparkListenerApplicationEnd(self, e):
        self.app_end = e["Timestamp"] / 1000

    def _on_SparkListenerJobStart(self, e):
        self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1000}

    def _on_SparkListenerJobEnd(self, e):
        self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000

    def _on_SparkListenerStageCompleted(self, e):
        si = e["Stage Info"]
        if "Submission Time" in si and "Completion Time" in si:
            self.stages[si["Stage ID"]] = {
                "start": si["Submission Time"] / 1000,
                "end": si["Completion Time"] / 1000,
            }

    def _on_SparkListenerTaskEnd(self, e):
        ti, m = e["Task Info"], e.get("Task Metrics") or {}
        sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        self.tasks.append({
            "stage": e["Stage ID"],
            "ok": (e.get("Task End Reason") or {}).get("Reason") == "Success",
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "spill_mem": m.get("Memory Bytes Spilled", 0),
            "spill_disk": m.get("Disk Bytes Spilled", 0),
            "peak_mem": m.get("Peak Execution Memory", 0),
            "bytes_read": inp.get("Bytes Read", 0),
            "records_read": inp.get("Records Read", 0),
            "attempt": ti.get("Attempt", 0),
        })
        for acc in ti.get("Accumulables", []):
            if "Update" in acc:
                try:
                    self.acc_updates[int(acc["ID"])] += float(acc["Update"])
                except (TypeError, ValueError):
                    pass

    def _register_plan(self, ex: int, plan: dict) -> None:
        for node in _walk(plan):
            for m in node.get("metrics", []):
                self.executions[ex]["metric_ids"][int(m["accumulatorId"])] = (
                    node["nodeName"], m["name"])

    def _on_SparkListenerSQLExecutionStart(self, e):
        ex = e["executionId"]
        self.executions[ex] = {
            "id": ex, "description": e.get("description", ""),
            "start": e["time"] / 1000, "plan": e.get("physicalPlanDescription", ""),
            "plan_info": e.get("sparkPlanInfo") or {}, "metric_ids": {},
        }
        self._register_plan(ex, self.executions[ex]["plan_info"])

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        ex = self.executions.get(e["executionId"])
        if ex is not None:
            ex["plan"] = e.get("physicalPlanDescription", ex["plan"])
            ex["plan_info"] = e.get("sparkPlanInfo") or ex["plan_info"]
            self._register_plan(e["executionId"], ex["plan_info"])

    def _on_SparkListenerSQLAdaptiveSQLMetricUpdates(self, e):
        ex = self.executions.get(e["executionId"])
        if ex is not None:
            for m in e.get("sqlPlanMetrics", []):
                ex["metric_ids"][int(m["accumulatorId"])] = ("", m["name"])

    def _on_SparkListenerDriverAccumUpdates(self, e):
        for acc_id, value in e.get("accumUpdates", []):
            self.acc_updates[int(acc_id)] += float(value)

    def _on_SparkListenerSQLExecutionEnd(self, e):
        ex = self.executions.get(e["executionId"])
        if ex is not None:
            ex["end"] = e["time"] / 1000

    # ----------------------------------------------------------- queries --
    def window(self) -> tuple[float, float]:
        starts = [s["start"] for s in self.stages.values()]
        ends = [s["end"] for s in self.stages.values()]
        lo = self.app_start if self.app_start is not None else min(starts)
        hi = self.app_end if self.app_end is not None else max(ends)
        return lo, hi

    def engine(self, cores: int) -> dict[str, float]:
        """Task and stage totals for the whole application."""
        t = self.tasks
        lo, hi = self.window()
        wall = max(hi - lo, 1e-9)
        run_s = sum(x["run_ms"] for x in t) / 1000
        return {
            "spark.jobs": len(self.jobs),
            "spark.stages": len(self.stages),
            "spark.tasks": len(t),
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": sum(x["cpu_ns"] for x in t) / 1e9,
            "spark.gc_s": sum(x["gc_ms"] for x in t) / 1000,
            "spark.shuffle_read_bytes": sum(x["shuffle_read"] for x in t),
            "spark.shuffle_write_bytes": sum(x["shuffle_write"] for x in t),
            "spark.spill_mem_bytes": sum(x["spill_mem"] for x in t),
            "spark.spill_disk_bytes": sum(x["spill_disk"] for x in t),
            "spark.peak_exec_mem_bytes": max((x["peak_mem"] for x in t), default=0),
            "spark.failed_tasks": sum(1 for x in t if not x["ok"]),
            "spark.retried_tasks": sum(1 for x in t if x["attempt"] > 0),
            "spark.core_util": run_s / (wall * cores),
            "spark.driver_gap_s": driver_gap(
                [(s["start"], s["end"]) for s in self.stages.values()], lo, hi),
            "spark.app_wall_s": wall,
        }

    def python_udf(self) -> dict[str, float]:
        """Python UDF operator metrics summed over all SQL executions: bytes
        sent/received, run and boot time."""
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        for ex in self.executions.values():
            for acc_id, (_node, name) in ex["metric_ids"].items():
                if name in PYTHON_METRICS:
                    out[PYTHON_METRICS[name]] += self.acc_updates.get(acc_id, 0.0)
        return out

    def scan_rows(self, ex: int, location_part: str) -> float:
        """'number of output rows' of the parquet scans in execution `ex`
        whose location mentions `location_part`."""
        total = 0.0
        seen = set()
        for node in _walk(self.executions[ex]["plan_info"]):
            if not node["nodeName"].startswith("Scan parquet"):
                continue
            where = json.dumps(node.get("metadata", {})) + node.get("simpleString", "")
            if location_part not in where:
                continue
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows" and m["accumulatorId"] not in seen:
                    seen.add(m["accumulatorId"])
                    total += self.acc_updates.get(int(m["accumulatorId"]), 0.0)
        return total


def driver_gap(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Time in [lo, hi] covered by no interval."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (hi - lo) - covered


def task_skew(run_ms: list[float]) -> float:
    """max / median task time of a stage (1.0 for an even stage)."""
    if not run_ms:
        return 0.0
    med = statistics.median(run_ms)
    return max(run_ms) / med if med > 0 else float(max(run_ms) > 0)


JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def plan_facts(plan_info: dict) -> dict:
    """Node counts of an executed plan (a sparkPlanInfo tree): join
    strategies, exchanges by partitioning, Python UDF and cache scans."""
    nodes = list(_walk(plan_info)) if plan_info else []
    names = [n["nodeName"] for n in nodes]
    facts = {j: names.count(j) for j in JOIN_NODES}
    exchanges = [n.get("simpleString", "") for n in nodes if n["nodeName"] == "Exchange"]
    facts["exchange.hash"] = sum("hashpartitioning" in x for x in exchanges)
    facts["exchange.round_robin"] = sum("RoundRobinPartitioning" in x for x in exchanges)
    facts["exchange.salted"] = sum("pmod(xxhash64" in x for x in exchanges)
    facts["ArrowEvalPython"] = names.count("ArrowEvalPython")
    facts["InMemoryTableScan"] = names.count("InMemoryTableScan")
    return facts
