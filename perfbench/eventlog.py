"""Per-span metrics read from Spark's event log.

A span is a Spark job group: the benchmark sets a group around each call
into a layer, and after the session stops it reads what Spark recorded
for the jobs, stages and tasks of that group. Nothing is derived by
subtracting totals. Two kinds of numbers come out:

- task metrics (run time, CPU, GC, shuffle, spill, input records), summed
  over the tasks of the span's stages;
- SQL metrics of the span's physical plans (for example the output rows
  of every ``BroadcastHashJoin``), summed per plan-node name.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."


def _log_files(log_dir: str) -> list[str]:
    apps = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not apps:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    app = apps[-1]
    if os.path.isdir(app):  # rolling layout: eventlog_v2_<app>/events_<n>_<app>
        return sorted(glob.glob(os.path.join(app, "events_*")),
                      key=lambda p: int(os.path.basename(p).split("_")[1]))
    return [app]


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


class EventLog:
    """One application's event log, indexed by job group."""

    def __init__(self, log_dir: str):
        self.jobs = defaultdict(list)          # group -> [job id]
        self.stages = defaultdict(list)        # group -> [stage id]
        self.tasks = defaultdict(list)         # stage id -> [TaskEnd event]
        self.exec_group = {}                   # sql execution id -> group
        self.exec_nodes = defaultdict(dict)    # exec id -> acc id -> (node, metric, type)
        self.acc_updates = defaultdict(int)    # acc id -> summed update
        for path in _log_files(log_dir):
            with open(path) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[group].append(ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.stages[group].append(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self.tasks[ev["Stage ID"]].append(ev)
            for acc in ev["Task Info"].get("Accumulables", ()):
                if acc.get("Metadata") == "sql":
                    self.acc_updates[acc["ID"]] += int(acc["Update"])
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            self.exec_group[ev["executionId"]] = ev.get("jobGroupId")
            self._add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                self.acc_updates[acc_id] += int(value)

    def _add_plan(self, exec_id: int, plan: dict) -> None:
        nodes = self.exec_nodes[exec_id]
        for node in _walk(plan):
            for m in node.get("metrics", ()):
                nodes[m["accumulatorId"]] = (
                    node["nodeName"], m["name"], m["metricType"])

    def span(self, group: str) -> "Span":
        return Span(self, group)


class Span:
    """Metrics of one job group."""

    def __init__(self, log: EventLog, group: str):
        self.log = log
        self.group = group
        self.stage_ids = log.stages.get(group, [])
        self.task_ends = [t for s in self.stage_ids for t in log.tasks.get(s, ())]

    @property
    def spark_jobs(self) -> int:
        return len(self.log.jobs.get(self.group, ()))

    @property
    def stages(self) -> int:
        return len(self.stage_ids)

    @property
    def tasks(self) -> int:
        return len(self.task_ends)

    @property
    def task_failures(self) -> int:
        return sum(t["Task End Reason"]["Reason"] != "Success"
                   for t in self.task_ends)

    def _sum(self, *keys) -> int:
        total = 0
        for t in self.task_ends:
            v = t.get("Task Metrics") or {}
            for k in keys:
                v = v.get(k, {}) if isinstance(v, dict) else 0
            total += v or 0
        return total

    @property
    def core_s(self) -> float:
        return self._sum("Executor Run Time") / 1e3

    @property
    def cpu_s(self) -> float:
        return self._sum("Executor CPU Time") / 1e9

    @property
    def gc_s(self) -> float:
        return self._sum("JVM GC Time") / 1e3

    @property
    def input_records(self) -> int:
        return self._sum("Input Metrics", "Records Read")

    @property
    def shuffle_write_bytes(self) -> int:
        return self._sum("Shuffle Write Metrics", "Shuffle Bytes Written")

    @property
    def spill_bytes(self) -> int:
        return (self._sum("Memory Bytes Spilled")
                + self._sum("Disk Bytes Spilled"))

    @property
    def output_bytes(self) -> int:
        return self._sum("Output Metrics", "Bytes Written")

    @property
    def task_skew(self) -> float:
        """Max ÷ median task run time in the span's heaviest stage (by
        summed run time): skew shows as per-task imbalance, which totals
        hide. 0 when the span ran no task."""
        by_stage = defaultdict(list)
        for t in self.task_ends:
            by_stage[t["Stage ID"]].append(
                (t.get("Task Metrics") or {}).get("Executor Run Time", 0))
        if not by_stage:
            return 0.0
        times = max(by_stage.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0

    def sql_metric(self, node_name: str, metric: str) -> float:
        """Sum of one SQL metric over every plan node called
        ``node_name`` in the span's queries; timings come back in
        seconds."""
        total = 0.0
        for exec_id, group in self.log.exec_group.items():
            if group != self.group:
                continue
            for acc_id, (node, name, mtype) in self.log.exec_nodes[exec_id].items():
                if node == node_name and name == metric:
                    v = self.log.acc_updates.get(acc_id, 0)
                    total += (v / 1e3 if mtype == "timing"
                              else v / 1e9 if mtype == "nsTiming" else v)
        return total
