"""Spans, Spark event-log reader and streaming-checkpoint reader.

Spans are recorded by the benchmark around each public engine call and
each action. A span's name is stamped on the Spark jobs it starts (a local
property), so the event log can attribute tasks and SQL-node metrics to the
span that caused them. Spans stay in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"
_UNIT = {"timing": 1e3, "nsTiming": 1e9}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, it only times (no job labels)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.spark = None

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 id=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.id)
        label = self.enabled and self.spark is not None
        if label:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if label:
                self.spark.sparkContext.setLocalProperty(
                    SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, root: int) -> set[int]:
        out = {root}
        for s in self.spans:          # parents always precede children
            if s.parent in out:
                out.add(s.id)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [{"id": s.id, "name": s.name, "start": s.start,
                                  "end": s.end, "parent": s.parent,
                                  "run_id": self.run_id}
                                 for s in self.spans]}, f, indent=1)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Tasks:
    """Task-metric totals over a set of Spark jobs."""
    n: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    input_bytes: int = 0

    def add(self, ev: dict) -> None:
        m = ev.get("Task Metrics") or {}
        self.n += 1
        self.run_s += m.get("Executor Run Time", 0) / 1e3
        self.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1e3
        self.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        self.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        self.shuffle_records += sw.get("Shuffle Records Written", 0)
        self.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)


class EventLog:
    """Parsed uncompressed Spark event log (one application)."""

    def __init__(self, log_dir: str):
        self.job_span: dict[int, int | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.job_stream: dict[int, bool] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_last: dict[int, int] = {}       # job → its last stage
        self.tasks_by_job: dict[int, list] = defaultdict(list)
        self.acc_node: dict[int, tuple[str, str, str]] = {}
        # SQL-metric updates by the job (tasks) or execution (driver) that
        # made them: a cached plan's nodes keep their accumulators across
        # every execution that reads the cache, so an accumulator alone
        # does not say which action did the work
        self.job_acc: dict[int, list] = defaultdict(list)
        self.exec_acc: dict[int, list] = defaultdict(list)
        self.exec_nodes: dict[int, set] = defaultdict(set)
        self.exec_time: dict[int, list] = {}
        self.peak_heap_bytes = 0      # JVM heap, sampled per stage and task
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                       + [p for p in glob.glob(os.path.join(log_dir, "*"))
                          if os.path.isfile(p)])
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, info: dict, exec_id: int) -> None:
        self.exec_nodes[exec_id].add(info["nodeName"])
        for m in info.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (info["nodeName"], m["name"],
                                                 m["metricType"])
        for c in info.get("children", []):
            self._plan(c, exec_id)

    def _heap(self, metrics: dict | None) -> None:
        if metrics:
            self.peak_heap_bytes = max(self.peak_heap_bytes,
                                       metrics.get("JVMHeapMemory", 0))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            span = props.get(SPAN_PROPERTY)
            self.job_span[jid] = int(span) if span not in (None, "") else None
            ex = props.get("spark.sql.execution.id")
            self.job_exec[jid] = int(ex) if ex is not None else None
            self.job_stream[jid] = "sql.streaming.queryId" in props
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = jid
            if e.get("Stage IDs"):
                self.stage_last[jid] = max(e["Stage IDs"])
        elif kind == "SparkListenerStageExecutorMetrics":
            self._heap(e.get("Executor Metrics"))
        elif kind == "SparkListenerTaskEnd":
            self._heap(e.get("Task Executor Metrics"))
            jid = self.stage_job.get(e["Stage ID"])
            if jid is not None:
                self.tasks_by_job[jid].append(e)
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        self.job_acc[jid].append((a["ID"], float(a["Update"])))
        elif kind in ("SparkListenerSQLExecutionStart",
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"], e["executionId"])
            if kind == "SparkListenerSQLExecutionStart":
                self.exec_time[e["executionId"]] = [e["time"] / 1e3, None]
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.exec_time:
                self.exec_time[e["executionId"]][1] = e["time"] / 1e3
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.exec_acc[e["executionId"]].append((acc_id, float(value)))

    # -- selections ---------------------------------------------------------

    def jobs_in(self, span_ids: set[int]) -> list[int]:
        return [j for j, s in self.job_span.items() if s in span_ids]

    def stream_jobs(self) -> list[int]:
        return [j for j, s in self.job_stream.items() if s]

    def tasks(self, jobs: list[int]) -> Tasks:
        t = Tasks()
        for j in jobs:
            for ev in self.tasks_by_job[j]:
                t.add(ev)
        return t

    def executions(self, jobs: list[int]) -> list[int]:
        """SQL executions these jobs ran, in start order."""
        execs = {self.job_exec[j] for j in jobs if self.job_exec[j] is not None}
        return sorted(execs, key=lambda x: self.exec_time.get(x, [0])[0])

    def metric(self, jobs: list[int], node: str, metric: str,
               execs: list[int] | None = None) -> float:
        """Sum of one SQL-node metric over the updates these jobs' tasks
        made and their executions' driver-side updates (`execs` narrows
        those to some executions); timings in seconds."""
        jobs = set(jobs)
        if execs is None:
            execs = self.executions(jobs)
        updates = [u for j in jobs for u in self.job_acc[j]]
        updates += [u for x in execs for u in self.exec_acc[x]]
        total = 0.0
        for a, v in updates:
            name, m, kind = self.acc_node.get(a, ("", "", ""))
            if m == metric and name.startswith(node):
                total += v / _UNIT.get(kind, 1)
        return total

    def has_node(self, ex: int, node: str) -> bool:
        return any(n.startswith(node) for n in self.exec_nodes[ex])

    def exec_wall(self, ex: int) -> float:
        start, end = self.exec_time.get(ex, [None, None])
        return end - start if start is not None and end is not None else 0.0

    def last_stage_skew(self, jobs: list[int]) -> float:
        """max ÷ median task time over the last stage of each job."""
        ratios = []
        for j in jobs:
            times = [(ev["Task Info"]["Finish Time"]
                      - ev["Task Info"]["Launch Time"]) / 1e3
                     for ev in self.tasks_by_job[j]
                     if ev["Stage ID"] == self.stage_last.get(j)]
            if times and statistics.median(times) > 0:
                ratios.append(max(times) / statistics.median(times))
        return max(ratios) if ratios else 0.0


# ---------------------------------------------------------------------------
# Streaming checkpoint
# ---------------------------------------------------------------------------


def checkpoint_batches(ckpt: str) -> tuple[dict[str, list[int]], dict[int, float]]:
    """(file name → batch ids that read it, batch id → commit time).

    File lists come from the file source's metadata log
    (``sources/0/<batch>`` and its ``.compact`` roll-ups, one JSON entry per
    file with its batchId); commit times are the mtimes of
    ``commits/<batch>``."""
    seen: dict[str, set[int]] = defaultdict(set)
    src = os.path.join(ckpt, "sources", "0")
    for p in glob.glob(os.path.join(src, "*")):
        base = os.path.basename(p)
        if base.startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                seen[os.path.basename(entry["path"])].add(int(entry["batchId"]))
    commits = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        base = os.path.basename(p)
        if base.isdigit():
            commits[int(base)] = os.stat(p).st_mtime
    return {k: sorted(v) for k, v in seen.items()}, commits
