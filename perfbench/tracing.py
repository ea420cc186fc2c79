"""Span recorder, Spark event-log reader and process-tree RSS sampler.

Spans are recorded only in the traced run. Each span sets the Spark job
group to its span id, so the event log attributes every stage to the span
that started it. The reader is a plain parse of the uncompressed event log
(no listener is registered): plan metrics come from
``SparkListenerSQLExecutionStart`` and its adaptive re-plans, task metrics
from ``SparkListenerTaskEnd``, and ``SparkListenerJobStart`` ties stages to
job groups.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class SpanRecorder:
    """In-memory spans: name, start, end, parent and run id."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        sid = f"{self.run_id}.{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> list:
        """Durations of the spans called ``name`` inside a timed operation
        (a span called ``op``)."""
        by_id = {s["id"]: s for s in self.spans}

        def inside(s):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
                if s["name"] == "op":
                    return True
            return False

        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and inside(s)
        ]

    def subtree(self, root_id: str) -> set:
        ids = {root_id}
        for s in self.spans:  # children are always recorded after parents
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def read_event_log(path: str) -> dict:
    """Per job group totals: {group: {"python_worker_s", "python_bytes_sent",
    "python_bytes_returned", "shuffle_write_bytes", "spill_bytes", "gc_s",
    "stages": {stage_id: [task seconds]}}}."""
    stage_group: dict = {}
    acc_meta: dict = {}
    groups: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev["sparkPlanInfo"], acc_meta)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups.setdefault(
                    group,
                    {
                        "python_worker_s": 0.0,
                        "python_bytes_sent": 0,
                        "python_bytes_returned": 0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                        "gc_s": 0.0,
                        "stages": {},
                    },
                )
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                g["stages"].setdefault(ev["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3
                )
                g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in info.get("Accumulables", []):
                    meta = acc_meta.get(acc["ID"])
                    if meta is None:
                        continue
                    _node, name, mtype = meta
                    update = int(acc["Update"])
                    if name == _PY_RUN:
                        g["python_worker_s"] += update / (1e9 if mtype == "nsTiming" else 1e3)
                    elif name == _PY_SENT:
                        g["python_bytes_sent"] += update
                    elif name == _PY_RETURNED:
                        g["python_bytes_returned"] += update
    return groups


def spark_layers(groups: dict, span_ids: set) -> dict:
    """Event-log totals over the job groups of ``span_ids``. ``task_skew`` is
    max / median task time in the stage with the most task time."""
    tot = {
        k: 0
        for k in (
            "python_worker_s",
            "python_bytes_sent",
            "python_bytes_returned",
            "shuffle_write_bytes",
            "spill_bytes",
            "gc_s",
        )
    }
    stages: dict = {}
    for gid in span_ids & set(groups):
        g = groups[gid]
        for k in tot:
            tot[k] += g[k]
        stages.update(g["stages"])
    heaviest = max(stages.values(), key=sum, default=[])
    med = statistics.median(heaviest) if heaviest else 0.0
    tot["task_skew"] = max(heaviest) / med if med > 0 else 1.0
    return tot


def _children(pid: int) -> list:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list:
    """Every live descendant process of ``pid``."""
    found, todo = [], [pid]
    while todo:
        try:
            kids = _children(todo.pop())
        except OSError:
            continue
        found.extend(kids)
        todo.extend(kids)
    return found


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid``'s descendants: the driver JVM and the Python
    workers it forks (the benchmark's own interpreter is not counted)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for child in descendants(pid):
        try:
            with open(f"/proc/{child}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread that keeps the peak of ``tree_rss_bytes``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
