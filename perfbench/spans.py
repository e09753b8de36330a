"""In-memory spans for the traced run, joined to Spark's event log.

A span records (name, start, end, parent, run id). Every Spark job started
inside a span carries the innermost span's name as its job group, so after
the run the event log (plain JSON lines, read with the standard library)
attributes tasks, shuffle bytes and SQL operator metrics to spans:

* shuffle bytes: ``Shuffle Write Metrics`` of every task;
* Arrow bytes to and from Python: the MapInPandas node's SQL metrics,
  matched through the plan's accumulator ids (initial and AQE plans);
* skew: per stage, the longest task over the median task (stages with at
  least two tasks), the worst stage reported.

Self time is a span's duration minus the part of it that child spans cover.
"""
from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

PY_BYTES_IN = "data sent to Python workers"
PY_BYTES_OUT = "data returned from Python workers"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time(), "end": None}
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(self._stack[-1]["name"],
                                   self._stack[-1]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def get(self, name: str) -> dict:
        for s in self.spans:
            if s["name"] == name:
                return s
        raise KeyError(name)

    def duration(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def self_time(self, name: str) -> float:
        s = self.get(name)
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == name)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class EventLog:
    """Per-job-group aggregates from one uncompressed Spark event log."""

    def __init__(self, path: str):
        self.jobs = defaultdict(list)           # group -> [job id]
        self.stage_group = {}                   # stage id -> group
        self.task_ms = defaultdict(list)        # stage id -> [task ms]
        self.shuffle_bytes = defaultdict(int)   # group -> bytes written
        self.tasks = defaultdict(int)           # group -> task count
        self.acc_names = {}                     # accumulator id -> (node, metric)
        self.scan_desc = {}                     # scan accumulator id -> plan text
        self.acc_sum = defaultdict(int)         # (group, accumulator id) -> sum
        pending = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    self.jobs[group].append(ev["Job ID"])
                    for sid in ev.get("Stage IDs", []):
                        self.stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    pending.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    self._index_plan(ev.get("sparkPlanInfo") or {})
        for ev in pending:
            sid = ev["Stage ID"]
            group = self.stage_group.get(sid)
            info = ev.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                continue
            self.tasks[group] += 1
            self.task_ms[sid].append(info["Finish Time"] - info["Launch Time"])
            w = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
            self.shuffle_bytes[group] += w.get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                aid = acc.get("ID")
                if aid in self.acc_names:
                    try:
                        self.acc_sum[(group, aid)] += int(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass

    def _index_plan(self, node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            self.acc_names[m["accumulatorId"]] = (name, m["name"])
            if name.startswith("Scan"):
                self.scan_desc[m["accumulatorId"]] = node.get("simpleString", "")
        for child in node.get("children", []):
            self._index_plan(child)

    def n_jobs(self, *groups) -> int:
        return sum(len(self.jobs.get(g, [])) for g in groups)

    def n_tasks(self, *groups) -> int:
        return sum(self.tasks.get(g, 0) for g in groups)

    def shuffle(self, *groups) -> int:
        return sum(self.shuffle_bytes.get(g, 0) for g in groups)

    def metric(self, node: str, name: str, *groups) -> int:
        return sum(v for (g, aid), v in self.acc_sum.items()
                   if g in groups and self.acc_names[aid] == (node, name))

    def scan_rows(self, group: str, needle: str) -> int:
        """Rows output by the file scans in ``group`` whose plan text
        contains ``needle`` (a path component of the scanned input)."""
        return sum(v for (g, aid), v in self.acc_sum.items()
                   if g == group and needle in self.scan_desc.get(aid, "")
                   and self.acc_names[aid][1] == "number of output rows")

    def skew(self, *groups) -> float:
        """Worst max/median task time over the groups' multi-task stages."""
        worst = 1.0
        for sid, group in self.stage_group.items():
            ms = self.task_ms.get(sid, [])
            if group in groups and len(ms) >= 2:
                med = statistics.median(ms)
                worst = max(worst, max(ms) / med if med > 0 else 1.0)
        return float(worst)


def event_log_path(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
