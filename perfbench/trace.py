"""Spans recorded around calls into each layer, and Spark's event log.

A span is (id, name, parent, start, end), kept in memory and written out
when the run ends. While a span is open, every Spark job the calling thread
submits carries the span's name as its job description, so the event log
can be cut per layer call.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["name"] if self._stack else None
            self.sc.setJobDescription(outer)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children
        cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, stopped) application logged under
    ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def job_stats(events: list[dict], description: str) -> dict:
    """Totals over the Spark jobs tagged ``description``: counts, shuffle,
    spill, executor CPU, GC, Python transfer bytes, task durations, and the
    wall those jobs cover (the union of their intervals)."""
    jobs: dict[int, dict] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.job.description") == description:
                jobs[e["Job ID"]] = {"start": e["Submission Time"],
                                     "end": e["Submission Time"],
                                     "stages": set(e["Stage IDs"])}
    for e in events:
        if e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
    stages = set().union(*(j["stages"] for j in jobs.values())) if jobs else set()

    ran_stages, task_s = set(), []
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "executor_cpu_s": 0.0,
           "gc_s": 0.0, "python_bytes_sent": 0, "python_bytes_received": 0}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        ran_stages.add(e["Stage ID"])
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == _PY_SENT:
                out["python_bytes_sent"] += int(acc.get("Update") or 0)
            elif acc.get("Name") == _PY_RECV:
                out["python_bytes_received"] += int(acc.get("Update") or 0)

    covered, last_end = 0.0, None
    for j in sorted(jobs.values(), key=lambda j: j["start"]):
        start = j["start"] if last_end is None else max(j["start"], last_end)
        if j["end"] > start:
            covered += (j["end"] - start) / 1000.0
        last_end = j["end"] if last_end is None else max(last_end, j["end"])

    task_s.sort()
    out.update(
        jobs=len(jobs), stages=len(ran_stages), tasks=len(task_s),
        task_s_max=task_s[-1] if task_s else 0.0,
        task_s_p99=task_s[min(len(task_s) - 1, int(0.99 * len(task_s)))]
        if task_s else 0.0,
        job_wall_s=covered,
    )
    return out
