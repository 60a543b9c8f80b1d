"""Tracing and host probes for the benchmark.

* :class:`Tracer` keeps spans (name, start, end, parent) in memory around
  the benchmark's own calls into the engine. While a span is open its
  path, behind the tracer's tag, rides on every Spark job as the
  ``perfbench.span`` local property, so the event log ties jobs, tasks
  and SQL metrics to spans.
  Nothing inside the engine is instrumented.
* :func:`parse_event_log` reads a Spark JSON event log into per-job,
  per-task and per-SQL-execution records; :class:`EventLog` sums them
  over the jobs of a span prefix.
* :func:`steal_ticks`, :func:`loadavg` and :func:`tree_hwm_mb` read
  /proc: CPU steal, load and the peak RSS of this process tree.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"
MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    touches no Spark state."""

    def __init__(self, spark=None, enabled: bool = False, tag: str = ""):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled, self.tag = enabled, tag
        self.spans = []   # (id, parent id, name, path, start, end)
        self._stack = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        path = f"{parent[1]}/{name}" if parent else name
        sid = len(self.spans)
        self.spans.append([sid, parent[0] if parent else None, name, path,
                           time.perf_counter(), None])
        self._stack.append((sid, path))
        self.sc.setLocalProperty(SPAN_PROP, f"{self.tag}|{path}")
        try:
            yield
        finally:
            self.spans[sid][5] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP,
                f"{self.tag}|{self._stack[-1][1]}" if self._stack else None)

    def durations(self, path: str):
        """Wall seconds of every closed span at ``path``."""
        return [s[5] - s[4] for s in self.spans
                if s[3] == path and s[5] is not None]

    def dump(self, path: str) -> None:
        keys = ("id", "parent", "name", "path", "start", "end")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------

def steal_ticks() -> int:
    """Cumulative CPU-steal ticks over all CPUs (USER_HZ, 100/s)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _children():
    kids = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(pid))
    return kids


def process_tree(root: int):
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_hwm_mb(root: int) -> dict:
    """VmHWM in MiB of ``root`` and each descendant, by ``pid:name``:
    the driver Python, the JVM it launched and the JVM's Python
    workers."""
    out = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = \
                int(fields["VmHWM"].split()[0]) / 1024.0
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = ("org.apache.spark.sql.execution.ui."
            "SparkListenerSQLAdaptiveExecutionUpdate")
_DRIVER_ACCUM = ("org.apache.spark.sql.execution.ui."
                 "SparkListenerDriverAccumUpdates")


def _walk(info, out):
    out.append(info)
    for c in info.get("children", ()):
        _walk(c, out)
    return out


class EventLog:
    """Jobs, tasks and SQL plans from one application's event log; only
    the jobs a tracer tagged ``tag`` started are kept."""

    def __init__(self, tag: str = ""):
        self.tag = tag + "|"
        self.jobs = {}          # job id -> {span, exec_id}
        self.stage_job = {}     # stage id -> job id
        self.tasks = []         # (stage id, task info, task metrics)
        self.plans = {}         # exec id -> latest plan info
        self.metric_desc = {}   # accumulator id -> (node name, name, type)
        self.driver_accum = defaultdict(int)  # (exec id, acc id) -> sum

    def _add_plan(self, exec_id, info):
        self.plans[exec_id] = info
        for node in _walk(info, []):
            for m in node.get("metrics", ()):
                self.metric_desc[m["accumulatorId"]] = (
                    node["nodeName"], m["name"], m["metricType"])

    def feed(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROP) or ""
            if not span.startswith(self.tag):
                return
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "span": span[len(self.tag):],
                "exec_id": props.get("spark.sql.execution.id"),
            }
            for s in ev.get("Stage IDs", []):
                self.stage_job[s] = jid
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append((ev["Stage ID"], ev.get("Task Info") or {},
                               ev.get("Task Metrics") or {}))
        elif kind in (_SQL_START, _SQL_AQE):
            self._add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _DRIVER_ACCUM:
            for acc_id, val in ev.get("accumUpdates", ()):
                self.driver_accum[ev["executionId"], acc_id] += int(val)

    def job_ids(self, prefix: str):
        return [j for j, r in self.jobs.items()
                if r["span"] == prefix or r["span"].startswith(prefix + "/")]

    def task_totals(self, job_ids) -> dict:
        """Summed task metrics over the given jobs (seconds / MiB)."""
        jobs = set(job_ids)
        t = defaultdict(float)
        for stage, info, m in self.tasks:
            if self.stage_job.get(stage) not in jobs:
                continue
            t["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0) / MB
            t["write_mb"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0) / MB
            t["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / MB
            wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            busy = (run_ms + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0))
            get_result = info.get("Getting Result Time", 0)
            if get_result:
                busy += info.get("Finish Time", 0) - get_result
            t["sched_delay_s"] += max(wall - busy, 0) / 1e3
        return t

    def sql_metric(self, job_ids, node: str, name: str) -> float:
        """Sum of one SQL metric of plan nodes called ``node`` over the
        tasks of the given jobs. Timings come back in ms, sizes in MiB."""
        ids = {a for a, (n, nm, _) in self.metric_desc.items()
               if n == node and nm == name}
        if not ids:
            return 0.0
        jobs = set(job_ids)
        total = 0.0
        for stage, info, _ in self.tasks:
            if self.stage_job.get(stage) not in jobs:
                continue
            for acc in info.get("Accumulables", ()):
                if acc.get("ID") in ids and acc.get("Update") is not None:
                    total += float(acc["Update"])
        kind = self.metric_desc[next(iter(ids))][2]
        scale = {"nsTiming": 1e-6, "size": 1 / MB}.get(kind, 1.0)
        return total * scale

    def _exec_ids(self, job_ids):
        return {int(self.jobs[j]["exec_id"]) for j in job_ids
                if self.jobs[j]["exec_id"] is not None}

    def scan_mb(self, job_ids) -> float:
        """Size of the files the scans of these jobs' SQL executions
        selected (the driver-side ``size of files read`` metric; the
        task input metrics miss vectored Parquet reads)."""
        execs = self._exec_ids(job_ids)
        total = 0
        for (e, acc), v in self.driver_accum.items():
            node, name, _ = self.metric_desc.get(acc, ("", "", ""))
            if e in execs and node.startswith("Scan") \
                    and name == "size of files read":
                total += v
        return total / MB

    def plan_nodes(self, job_ids):
        """Node names of the final plans of the SQL executions the given
        jobs belong to."""
        names = []
        for e in self._exec_ids(job_ids):
            info = self.plans.get(e)
            if info is not None:
                names += [n["nodeName"] for n in _walk(info, [])]
        return names


def parse_event_log(log_dir: str, tag: str = "") -> EventLog:
    """Parse the (single, uncompressed) event log file in ``log_dir``,
    keeping the jobs of the tracer tagged ``tag``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {files}")
    log = EventLog(tag)
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            log.feed(json.loads(line))
    return log
