"""Spans around the benchmark's calls into the engine, and Spark
event-log metrics attributed to them.

Spans are kept in memory: name, start, end, parent and the run id they
belong to. With tracing on, each span also becomes the Spark job
description of the jobs started inside it, so the event log (switched on
through ``SPARK_GRAFT_EXTRA_CONF``) attributes every stage and task to
a span. Self time is a span's duration minus the part its children
cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from host import tree_cpu_s


class Tracer:
    def __init__(self, run_id: str, jobs_traced: bool) -> None:
        self.run_id = run_id
        self.jobs_traced = jobs_traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None
        self.jvm_pid: int | None = None

    def attach(self, sc, jvm_pid: int) -> None:
        self.sc = sc
        self.jvm_pid = jvm_pid

    def _describe(self, sid: int | None) -> None:
        if self.jobs_traced and self.sc is not None:
            self.sc.setJobDescription(
                None if sid is None else f"span{sid}:{self.spans[sid]['name']}")

    @contextmanager
    def span(self, name: str, cpu: bool = False):
        """Time the body; ``cpu`` also records CPU seconds of the JVM tree."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        if cpu:
            rec["cpu0"] = tree_cpu_s(self.jvm_pid)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            if cpu:
                rec["cpu_s"] = tree_cpu_s(self.jvm_pid) - rec.pop("cpu0")
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            self._describe(rec["parent"])

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Duration minus the union of the children's intervals."""
        s = self.spans[sid]
        covered, last = 0.0, s["start"]
        for c in sorted(self.children(sid), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return s["wall_s"] - covered

    def named(self, name: str, under: int | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if under is not None:
            out = [s for s in out if self.within(s["id"], under)]
        return out

    def within(self, sid: int, ancestor: int) -> bool:
        p = self.spans[sid]["parent"]
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p]["parent"]
        return False


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ----------------------------------------------------------- event log

def read_event_log(log_dir: str) -> dict:
    """Stages and tasks of one event log, each stage tagged with the span
    id its job carried as description."""
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    stage_span: dict[int, int | None] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                sid = int(desc[4:desc.index(":")]) if desc.startswith("span") else None
                jobs[ev["Job ID"]] = {"span": sid, "stages": ev["Stage IDs"]}
                for st in ev["Stage IDs"]:
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                st["name"] = info.get("Stage Name", "")
                st["wall_s"] = (info.get("Completion Time", 0)
                                - info.get("Submission Time", 0)) / 1000.0
                st["completed"] = True
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["tasks"].append(m.get("Executor Run Time", 0) / 1000.0)
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name") or ""
                    if name in ("data sent to Python workers",
                                "data returned from Python workers"):
                        st["python_bytes"] += int(acc.get("Update") or 0)
                    elif name == "time to run Python workers":
                        st["python_run_s"] += int(acc.get("Update") or 0) / 1000.0
    for st_id, st in stages.items():
        st["span"] = stage_span.get(st_id)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"name": "", "wall_s": 0.0, "completed": False, "tasks": [], "cpu_s": 0.0,
            "shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0,
            "python_bytes": 0, "python_run_s": 0.0}
