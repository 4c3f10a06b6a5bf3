"""Spans around calls into pysyslog's layers, and per-job-group metrics
read back from a Spark event log.

Spans stay in memory and are written out once, at the end of a traced
run (`Tracer.dump`).  Each top-level span tags the Spark jobs it
launches with `setJobGroup(<layer>)`, so the event log attributes task
time, GC, spill, shuffle and the Python UDF SQL metrics to the layer.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

MB = 1024 * 1024

# SQL metric names of the Arrow UDF operators (Spark's PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_RUN = "time to run Python workers"


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "epoch_start": time.time()}
        if parent is None:
            self.sc.setJobGroup(name, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        """Duration of the last span called `name`."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def epoch_start(self, name: str) -> float:
        return next(s for s in reversed(self.spans) if s["name"] == name)["epoch_start"]

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = dict(extra)
        out["spans"] = [
            {"name": s["name"], "parent": s["parent"],
             "start_s": round(s["start"] - t0, 6),
             "end_s": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)


class GroupStats:
    """Task and SQL metrics summed over the jobs of one job group."""

    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.tasks = 0
        self.run_ms = 0
        self.gc_ms = 0
        self.spill_bytes = 0
        self.shuffle_write_bytes = 0
        self.py = defaultdict(int)
        self.stage_task_ms: dict[int, list[int]] = defaultdict(list)

    def last_stage_skew(self) -> float:
        """max / median task duration of the group's last stage."""
        if not self.stage_task_ms:
            return 0.0
        ms = self.stage_task_ms[max(self.stage_task_ms)]
        mid = median(ms)
        return max(ms) / mid if mid > 0 else 0.0

    def first_execution_end(self) -> float | None:
        """Completion time (epoch s) of the jobs of the group's first SQL
        execution: for a route call, the sink-size count before the write."""
        if not self.jobs:
            return None
        first = min(j["execution"] for j in self.jobs.values())
        ends = [j["end_ms"] for j in self.jobs.values()
                if j["execution"] == first and j["end_ms"] is not None]
        return max(ends) / 1000.0 if ends else None


def _event_files(log_dir: str) -> list[str]:
    """The event files of the one application logged in `log_dir`: a
    single file, or with rolling logs (Spark 4's default) the numbered
    `events_<n>_*` files of one `eventlog_v2_*` directory."""
    apps = os.listdir(log_dir)
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if os.path.isfile(path):
        return [path]
    events = glob.glob(os.path.join(path, "events_*"))
    return sorted(events, key=lambda f: int(os.path.basename(f).split("_")[1]))


def read_event_log(log_dir: str) -> tuple[dict[str, GroupStats], dict]:
    """Parse the event log in `log_dir` -> (stats per job group, Python
    SQL metrics summed over the whole application)."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    app_py: dict[str, int] = defaultdict(int)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for path in _event_files(log_dir):
        with open(path) as fh:
            lines = fh.readlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g:
                    job_group[ev["Job ID"]] = g
                    groups[g].jobs[ev["Job ID"]] = {
                        "execution": int(props.get("spark.sql.execution.id", -1)),
                        "end_ms": None,
                    }
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"])
                if g:
                    groups[g].jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                py = {}
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in (PY_SENT, PY_RETURNED, PY_BOOT, PY_RUN):
                        py[acc["Name"]] = py.get(acc["Name"], 0) + int(acc.get("Update", 0))
                for k, v in py.items():
                    app_py[k] += v
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                st = groups[g]
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.shuffle_write_bytes += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                st.stage_task_ms[ev["Stage ID"]].append(
                    info["Finish Time"] - info["Launch Time"])
                for k, v in py.items():
                    st.py[k] += v
    return groups, app_py
