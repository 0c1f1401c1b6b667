"""Spans recorded around the benchmark's calls into each engine layer,
and the Spark event log joined to them by time.

A span is (name, start, end, parent, trace id, attributes); spans are
kept in memory and written out once at the end. With tracing off,
`Tracer.span` records nothing and `Tracer.enabled` is False, so the
workloads skip every traced-only probe.

Spark jobs are attributed to a span by event-log time: a job belongs to
the innermost span whose interval contains the job's submission time.
Job groups are not used — jobs submitted from the engine's own thread
pools (the nine concurrent table writes) carry no caller group.

When a ``cpu_clock`` is set, every span also records the driver's CPU
clocks at its start and end (``cpu0``, ``cpu1``), so driver time is
measured on its own rather than derived from wall time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from common import median


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "trace_id", "attrs")

    def __init__(self, sid, name, start, parent, trace_id):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.trace_id = trace_id
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "trace_id": self.trace_id,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace_id: str | None = None
        #: returns (Python driver CPU s, JVM CPU s); see
        #: `common.driver_cpu_clock`
        self.cpu_clock = None

    def new_trace(self, trace_id: str) -> None:
        self._trace_id = trace_id

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent, self._trace_id)
        s.attrs.update(attrs)
        if self.cpu_clock:
            s.attrs["cpu0"] = self.cpu_clock()
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.cpu_clock:
                s.attrs["cpu1"] = self.cpu_clock()
            self._stack.pop()

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.sid
        )
        return (s.end - s.start) - _union_len(kids, s.start, s.end)

    def write(self, path: str) -> None:
        """One JSON object per span, with its self time (``self_s``)."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s.as_dict(), "self_s": self.self_time(s)}) + "\n")


def _union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _lines(paths):
    for p in paths:
        with open(p) as fh:
            yield from fh


class EventLog:
    """Jobs, task metrics and SQL scan metrics from one application's
    Spark event log."""

    SQL = "org.apache.spark.sql.execution.ui."

    def __init__(self, log_dir: str):
        # Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` parts
        parts = glob.glob(os.path.join(log_dir, "*", "events_*"))
        if not parts:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        self.jobs: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        self._stage_job: dict[int, int] = {}
        self._acc: dict[int, float] = {}
        for line in _lines(parts):
            self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            for sid in ev["Stage IDs"]:
                self._stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = self.jobs.get(self._stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if job is None or not m:
                return
            job["tasks"] += 1
            job["run_s"] += m["Executor Run Time"] / 1000.0
            job["cpu_s"] += (
                m["Executor CPU Time"] + m["Executor Deserialize CPU Time"]
            ) / 1e9
            job["gc_s"] += m["JVM GC Time"] / 1000.0
            job["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            job["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        elif kind == "SparkListenerStageCompleted":
            for a in ev["Stage Info"].get("Accumulables", []):
                v = a.get("Value")
                if isinstance(v, (int, float)) or (isinstance(v, str) and v.isdigit()):
                    self._acc[a["ID"]] = max(self._acc.get(a["ID"], 0), float(v))
        elif kind == self.SQL + "SparkListenerSQLExecutionStart":
            self.sql[ev["executionId"]] = {
                "start": ev["time"] / 1000.0,
                "files": set(),
                "rows": set(),
            }
            self._scan_accs(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == self.SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            if ev["executionId"] in self.sql:
                self._scan_accs(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == self.SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, v in ev["accumUpdates"]:
                self._acc[acc_id] = self._acc.get(acc_id, 0) + float(v)

    def _scan_accs(self, exec_id: int, node: dict) -> None:
        if node["nodeName"].startswith("Scan"):
            for m in node["metrics"]:
                if m["name"] == "number of files read":
                    self.sql[exec_id]["files"].add(m["accumulatorId"])
                elif m["name"] == "number of output rows":
                    self.sql[exec_id]["rows"].add(m["accumulatorId"])
        for c in node["children"]:
            self._scan_accs(exec_id, c)

    def scans_under(self, tracer: "Tracer", s: "Span") -> tuple[float, float]:
        """(files read, rows read) by the scans of SQL executions that
        started inside span ``s``."""
        files = rows = 0.0
        for e in self.sql.values():
            if s.start <= e["start"] <= s.end:
                files += sum(self._acc.get(a, 0) for a in e["files"])
                rows += sum(self._acc.get(a, 0) for a in e["rows"])
        return files, rows

    def attribute(self, tracer: Tracer) -> None:
        """Attach each job to the innermost span containing its
        submission time (span attribute ``jobs``: list of job ids)."""
        for s in tracer.spans:
            s.attrs.setdefault("jobs", [])
        by_start = sorted(tracer.spans, key=lambda s: s.start)
        for jid, job in sorted(self.jobs.items()):
            best = None
            for s in by_start:
                if s.start > job["start"]:
                    break
                if s.end >= job["start"] and (
                    best is None or s.start >= best.start
                ):
                    best = s
            if best is not None:
                best.attrs["jobs"].append(jid)

    def jobs_under(self, tracer: Tracer, s: Span) -> list[int]:
        """Job ids attributed to span ``s`` or any span below it."""
        below = {s.sid}
        for c in tracer.spans:  # spans are appended parent-first
            if c.parent in below:
                below.add(c.sid)
        return [
            j for c in tracer.spans if c.sid in below for j in c.attrs["jobs"]
        ]

    def step_metrics(self, tracer: Tracer, s: Span, cores: int) -> dict:
        """The exec layer of one step.

        * ``jobs_s``: wall time with at least one of the step's Spark
          jobs running (event log).
        * ``driver_s``: driver CPU time in the step, measured on its
          own: the Python driver process's CPU plus the JVM's CPU less
          the CPU of its task threads (event log) and of its JIT and GC
          threads.
        * ``jvm_runtime_s``: CPU time of the JVM's JIT-compiler and GC
          threads (a thread that ended inside the step is not counted).
        * ``unaccounted_s``: wall − jobs_s − driver_s. Positive when
          neither a job nor the driver was on a CPU (waits, Python
          worker start, I/O); negative when driver CPU overlapped jobs
          or ran on several threads at once.
        """
        wall = s.end - s.start
        jids = self.jobs_under(tracer, s)
        jobs = [self.jobs[j] for j in jids]
        jobs_s = _union_len(
            [(j["start"], j["end"] or s.end) for j in jobs], s.start, s.end
        )
        run_s = sum(j["run_s"] for j in jobs)
        (py0, jvm0, rt0), (py1, jvm1, rt1) = s.attrs["cpu0"], s.attrs["cpu1"]
        runtime_s = sum(cpu - rt0.get(tid, 0.0) for tid, cpu in rt1.items())
        driver_s = (
            (py1 - py0) + (jvm1 - jvm0) - runtime_s - sum(j["cpu_s"] for j in jobs)
        )
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "jobs_s": jobs_s,
            "driver_s": driver_s,
            "unaccounted_s": wall - jobs_s - driver_s,
            "jvm_runtime_s": runtime_s,
            "core_util": run_s / (wall * cores) if wall > 0 else 0.0,
            "tasks": sum(j["tasks"] for j in jobs),
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "gc_s": sum(j["gc_s"] for j in jobs),
        }


def exec_summary(evlog: EventLog, tracer: Tracer, steps, cores: int) -> dict:
    """Median over steps of each exec-layer figure (see
    `EventLog.step_metrics`)."""
    rows = [evlog.step_metrics(tracer, s, cores) for s in steps]
    if not rows:
        return {}
    return {
        f"exec.{k}": median([r[k] for r in rows])
        for k in (
            "jobs_s",
            "driver_s",
            "unaccounted_s",
            "jvm_runtime_s",
            "core_util",
            "tasks",
            "shuffle_write_bytes",
            "spill_bytes",
            "gc_s",
        )
    }


def catalyst_phases_ms(df) -> dict[str, float]:
    """Plan the DataFrame and read the QueryExecution phase tracker:
    {analysis, optimization, planning} in ms."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.keys().iterator()
    while it.hasNext():
        k = it.next()
        p = phases.apply(k)
        out[k] = float(p.durationMs())
    return out
