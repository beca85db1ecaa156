"""Tracing for the per-layer run: named spans and Spark's event log.

Every call the benchmark makes into a layer runs inside ``Tracer.span``,
which records the wall-clock interval and sets the Spark job description
for the duration of the call, restoring the previous one after it.  After
the session stops, ``EventLog`` reads Spark's uncompressed event log and
rolls the task metrics of every job up by job description, so each span
gets the engine counters of exactly the jobs it launched.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

DESC = "spark.job.description"

COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "scheduler_delay_s", "input_bytes", "shuffle_write_bytes",
            "spill_bytes", "tasks_failed")


class Tracer:
    """Spans kept in memory: (name, start_ms, end_ms)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        old = self.sc.getLocalProperty(DESC)
        self.sc.setJobDescription(name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0 * 1e3, time.time() * 1e3))
            self.sc.setLocalProperty(DESC, old)

    def seconds(self, name: str) -> list:
        return [(e - s) / 1e3 for n, s, e in self.spans if n == name]


class EventLog:
    """Jobs and task metrics from one application's event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in "
                               f"{log_dir}, found {files}")
        self.jobs: dict = {}                 # id -> {desc, start, end}
        stage_job: dict = {}
        tasks = []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {"desc": props.get(DESC) or "",
                                      "start": ev["Submission Time"],
                                      "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    j = self.jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
        self.task_rows = defaultdict(list)   # job id -> task metric dicts
        for ev in tasks:
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            run = m.get("Executor Run Time", 0)
            delay = max(0, dur - run - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0))
            self.task_rows[jid].append({
                "executor_run_s": run / 1e3,
                "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "scheduler_delay_s": delay / 1e3,
                "input_bytes": (m.get("Input Metrics") or {})
                .get("Bytes Read", 0),
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)),
                "failed": bool(info.get("Failed")),
            })

    def job_ids(self, desc: str) -> list:
        return [j for j, v in self.jobs.items() if v["desc"] == desc]

    def counters(self, job_ids: list, per: int = 1) -> dict:
        """The COUNTERS summed over ``job_ids``, divided by ``per`` (the
        number of span instances they came from)."""
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(len(job_ids))
        for j in job_ids:
            for t in self.task_rows.get(j, ()):
                out["tasks"] += 1
                out["tasks_failed"] += t["failed"]
                for k in COUNTERS[2:-1]:
                    out[k] += t[k]
        return {k: v / max(per, 1) for k, v in out.items()}

    def busy_ms(self, job_ids: list, start: float, end: float) -> float:
        """Length of the union of the jobs' running intervals, clipped to
        [start, end] (milliseconds)."""
        iv = sorted((max(self.jobs[j]["start"], start),
                     min(self.jobs[j]["end"] or end, end)) for j in job_ids)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
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

    def jobs_within(self, start: float, end: float) -> list:
        return [j for j, v in self.jobs.items()
                if start <= v["start"] <= end]


def plan_counts(df) -> tuple:
    """(parquet scans, shuffle exchanges) in a DataFrame's physical plan."""
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(r"\bFileScan parquet\b|\bScan parquet\b", plan))
    exchanges = len(re.findall(
        r"\bExchange (?:hashpartitioning|SinglePartition|rangepartitioning"
        r"|RoundRobinPartitioning)", plan))
    return scans, exchanges
