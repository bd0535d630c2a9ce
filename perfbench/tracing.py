"""Spans, Spark job groups and the event-log reader for the traced run.

A span is (id, name, start, end, parent, request): one call into one
layer, named ``<layer>.<call>``.  Spans live in memory and are written
as JSON when the run ends.  A span opened with ``group=True`` tags the
Spark jobs its thread submits with a job group named after the span, so
the event log attributes shuffle bytes, task time, GC and failed tasks
to it; jobs submitted from threads the library starts itself carry no
group and are attributed to the innermost span open when they started.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time

# the library modules the benchmark calls into; a span is named
# <layer>.<call>.  README.md maps each to the end-to-end metric it moves.
LAYERS = ("session", "analysis", "index.builder", "search.parser", "search.executor",
          "search.phrase", "search.multiterm", "index.deletes", "streaming.nrt",
          "index.merge")
# the layers that run Spark jobs
SPARK_LAYERS = ("session", "index.builder", "search.executor", "search.phrase",
                "search.multiterm", "index.deletes", "streaming.nrt", "index.merge")


def layer_of(name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if name == layer or name.startswith(layer + "."):
            return layer
    return name.split(".")[0]


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None  # set once the session exists
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, group: bool = False):
        if not self.enabled:
            yield None
            return
        t_in = time.time()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name, "parent": parent and parent["id"],
               "request": request or (parent and parent["request"]),
               "group": None, "start": 0.0, "end": 0.0}
        sc = self.spark.sparkContext if self.spark is not None else None
        prev_group = None
        if group and sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = f"span-{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if group and sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)
                self.self_s += (rec["start"] - t_in) + (time.time() - rec["end"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


class EventLog:
    """Jobs and tasks from a Spark event log directory (one application)."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks = []
        for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
            if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
                continue
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        props = ev.get("Properties") or {}
                        self.jobs[jid] = {
                            "start": ev["Submission Time"] / 1e3,
                            "group": props.get("spark.jobGroup.id"),
                            "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
                            "failed_tasks": 0, "shuffle_write_bytes": 0,
                            "records_read": 0,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append(ev)
        for ev in tasks:
            job = self.jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None:
                continue
            job["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                job["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            job["run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            job["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)

    def attribute(self, spans: list[dict]) -> dict[int, list[dict]]:
        """span id -> the jobs it caused: by job group when the job has
        one, else the innermost span open when the job was submitted."""
        by_group = {s["group"]: s["id"] for s in spans if s["group"]}
        out: dict[int, list[dict]] = {s["id"]: [] for s in spans}
        for job in self.jobs.values():
            sid = by_group.get(job["group"])
            if sid is None:
                inside = [s for s in spans if s["start"] <= job["start"] <= s["end"]]
                if not inside:
                    continue
                sid = min(inside, key=lambda s: s["end"] - s["start"])["id"]
            out[sid].append(job)
        return out


def jobs_under(span_id: int, spans: list[dict], jobs_of: dict[int, list[dict]]) -> list[dict]:
    """Jobs of a span and all its descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [span_id]
    while todo:
        sid = todo.pop()
        out.extend(jobs_of.get(sid, []))
        todo.extend(kids.get(sid, []))
    return out


def layer_totals(spans: list[dict], jobs_of: dict[int, list[dict]]) -> dict[str, dict]:
    """Per layer: failed tasks and GC seconds of the jobs its spans caused."""
    out = {layer: {"failed_tasks": 0, "gc_s": 0.0} for layer in SPARK_LAYERS}
    for s in spans:
        layer = layer_of(s["name"])
        if layer not in out:
            continue
        for job in jobs_of.get(s["id"], []):
            out[layer]["failed_tasks"] += job["failed_tasks"]
            out[layer]["gc_s"] += job["gc_s"]
    return out
