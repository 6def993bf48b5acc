"""Spans around the benchmark's calls into each layer, and the reader that
attributes Spark's event log to them.

Every traced call runs under its own Spark job group (the span name), so
its jobs, stages, tasks and SQL executions can be picked out of the event
log afterwards. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from aide_spark.plans.checkpoint import SnapshotStore

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        """Record (name, start, end, parent); with ``group`` the Spark jobs
        started inside carry ``name`` as their job group."""
        parent = self._stack[-1] if self._stack else None
        if group:
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty(_GROUP, prev)
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent})

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def last(self, name: str) -> dict | None:
        hits = [s for s in self.spans if s["name"] == name]
        return hits[-1] if hits else None


class TracedStore(SnapshotStore):
    """A SnapshotStore whose read/stage/commit calls are spans."""

    def __init__(self, base: str, tracer: Tracer):
        super().__init__(base)
        self.tracer = tracer

    def read(self, spark, table, as_of=None):
        with self.tracer.span(f"checkpoint.read.{table}"):
            return super().read(spark, table, as_of)

    def stage(self, df, table, batch_id):
        with self.tracer.span(f"checkpoint.stage.{table}"):
            return super().stage(df, table, batch_id)

    def commit(self, batch_id, stats):
        with self.tracer.span("checkpoint.commit"):
            super().commit(batch_id, stats)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


class EventLog:
    """Per-job-group totals from one uncompressed Spark event log file."""

    _WANTED = ("StageSubmitted", "TaskEnd", "SQLExecutionStart",
               "SQLAdaptiveExecutionUpdate")

    def __init__(self, path: str):
        self.stage_group: dict[int, str] = {}
        self.stages: dict[str, dict[int, dict]] = defaultdict(dict)
        self.accums: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        self.exec_group: dict[int, str] = {}
        self.final_plan: dict[int, dict] = {}
        self.metric_of: dict[int, tuple[str, str]] = {}
        with open(path) as fh:
            for line in fh:
                if any(w in line[:120] for w in self._WANTED):
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get(_GROUP)
            if group:
                self.stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(e["Stage ID"])
            if group is None or not e.get("Task Metrics"):
                return
            m = e["Task Metrics"]
            st = self.stages[group].setdefault(
                e["Stage ID"], {"run_ms": 0, "shuffle_write": 0, "written": 0, "read": 0}
            )
            st["run_ms"] += m["Executor Run Time"]
            st["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st["written"] += m["Output Metrics"]["Bytes Written"]
            st["read"] += m["Input Metrics"]["Bytes Read"]
            acc = self.accums[group]
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    acc[a["ID"]] += int(a["Update"])
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            xid = e["executionId"]
            if kind == "SparkListenerSQLExecutionStart" and e.get("jobGroupId"):
                self.exec_group[xid] = e["jobGroupId"]
            self.final_plan[xid] = e["sparkPlanInfo"]
            for node in _plan_nodes(e["sparkPlanInfo"]):
                for metric in node.get("metrics", []):
                    self.metric_of[metric["accumulatorId"]] = (node["nodeName"], metric["name"])

    def group(self, name: str) -> dict:
        """Totals of everything Spark ran under job group ``name``."""
        stages = self.stages.get(name, {}).values()
        counts = {"scans": 0, "exchanges": 0, "sorts": 0}
        for xid, group in self.exec_group.items():
            if group != name:
                continue
            for node in _plan_nodes(self.final_plan[xid]):
                n = node["nodeName"]
                counts["scans"] += n.startswith("Scan ") and n != "Scan OneRowRelation"
                counts["exchanges"] += n == "Exchange"
                counts["sorts"] += n == "Sort"
        return {
            "task_s": sum(s["run_ms"] for s in stages) / 1e3,
            "shuffle_mb": sum(s["shuffle_write"] for s in stages) / 1e6,
            "written_mb": sum(s["written"] for s in stages) / 1e6,
            "input_stages": sum(1 for s in stages if s["read"] > 0),
            **counts,
        }

    def sql_metric(self, name: str, node: str, metric: str) -> int:
        """Sum over group ``name`` of SQL metric ``metric`` of ``node`` plans."""
        return sum(
            v for aid, v in self.accums.get(name, {}).items()
            if self.metric_of.get(aid) == (node, metric)
        )
