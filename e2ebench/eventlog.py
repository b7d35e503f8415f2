"""Decode Spark's own event log and group it by job description.

The traced run sets every span's name as ``spark.job.description``, so
each Spark job, stage, task and SQL execution can be attributed to the
span that launched it. Task metrics give time, bytes, records and spill;
the final (AQE) physical plan of each SQL execution plus the accumulator
updates give per-node metrics such as join output rows, files read and
Python worker time.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

import pyarrow as pa

_SQL = "org.apache.spark.sql.execution.ui."
_TASK_FIELDS = {
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_bytes": ("Disk Bytes Spilled",),
    "input_records": ("Input Metrics", "Records Read"),
    "output_records": ("Output Metrics", "Records Written"),
    "shuffle_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_records": ("Shuffle Write Metrics", "Shuffle Records Written"),
}


def read_events(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``, in
    order. Rolling logs (``eventlog_v2_*/events_<n>_*``) are read part by
    part; zstd parts are decoded with pyarrow."""
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    events = []
    for part in parts:
        if part.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(part, "rb"), "zstd") as fh:
                data = fh.read()
        else:
            with open(part, "rb") as fh:
                data = fh.read()
        events += [json.loads(line) for line in data.decode().splitlines() if line]
    return events


class Span:
    """Everything Spark recorded for one job description."""

    def __init__(self):
        self.jobs = 0
        self.stages: set[int] = set()
        self.tasks = 0
        self.task = defaultdict(int)
        self.plans: list[dict] = []

    def nodes(self):
        """(nodeName, simpleString, {metric name: (type, accumulator id)})
        for every node of every final plan, pre-order."""
        stack = list(reversed(self.plans))
        while stack:
            node = stack.pop()
            yield (
                node["nodeName"],
                node["simpleString"],
                {m["name"]: (m["metricType"], m["accumulatorId"]) for m in node["metrics"]},
            )
            stack.extend(reversed(node["children"]))


class EventLog:
    def __init__(self, events: list[dict]):
        self.spans: dict[str, Span] = defaultdict(Span)
        self.acc: dict[int, int] = defaultdict(int)
        stage_desc: dict[int, str] = {}
        final_plan: dict[int, dict] = {}
        exec_desc: dict[int, str] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description", "")
                span = self.spans[desc]
                span.jobs += 1
                span.stages.update(e["Stage IDs"])
                for sid in e["Stage IDs"]:
                    stage_desc[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                span = self.spans[stage_desc.get(e["Stage ID"], "")]
                span.tasks += 1
                tm = e.get("Task Metrics") or {}
                for key, path in _TASK_FIELDS.items():
                    v = tm
                    for p in path:
                        v = v.get(p, 0) if isinstance(v, dict) else 0
                    span.task[key] += int(v)
                for a in e["Task Info"].get("Accumulables", []):
                    self._add(a["ID"], a.get("Update"))
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    self._add(acc_id, value)
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                exec_desc[e["executionId"]] = e.get("description", "")
                final_plan[e["executionId"]] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                final_plan[e["executionId"]] = e["sparkPlanInfo"]
        for eid, plan in final_plan.items():
            self.spans[exec_desc.get(eid, "")].plans.append(plan)

    def _add(self, acc_id: int, value) -> None:
        try:
            self.acc[int(acc_id)] += int(value)
        except (TypeError, ValueError):
            pass  # non-numeric accumulables are no SQL metric read here

    def metric(self, desc: str, node_prefix: str, name: str, contains: str = "") -> float:
        """Sum of one SQL metric over the nodes of a span's plans whose
        name starts with ``node_prefix`` (and whose description contains
        ``contains``). Timings come back in seconds."""
        total = 0.0
        for node, simple, metrics in self.spans[desc].nodes():
            if node.startswith(node_prefix) and contains in simple and name in metrics:
                mtype, acc_id = metrics[name]
                v = self.acc.get(acc_id, 0)
                total += v / 1e3 if mtype == "timing" else v / 1e9 if mtype == "nsTiming" else v
        return total

    def top_rows(self, desc: str) -> int:
        """Rows out of a span's materialized prefix: in each of its plans,
        the first node from the root that counts output rows."""
        total = 0
        for plan in self.spans[desc].plans:
            stack = [plan]
            while stack:
                node = stack.pop(0)
                ids = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
                if "number of output rows" in ids:
                    total += self.acc.get(ids["number of output rows"], 0)
                    break
                stack = node["children"] + stack
        return total

    def hash_exchanges(self, desc: str) -> int:
        return sum(
            1
            for node, simple, _ in self.spans[desc].nodes()
            if node == "Exchange" and "hashpartitioning" in simple
        )
