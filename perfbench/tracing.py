"""Spans recorded by the benchmark around each call into a layer, and a
stdlib-only reader for Spark's uncompressed JSON event log.

Spans nest run -> pass -> item -> build/execute for batch workloads and
run -> pass -> op -> micro-batch for live ones (micro-batch bounds come
from the query's progress reports).  They are kept in memory and written
once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime


class Spans:
    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent,
                           **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def with_self_time(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the union of the
        intervals its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out.append({**s, "self_s": s["end"] - s["start"] - covered})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.with_self_time(), f)


def progress_time(p) -> float:
    """Epoch seconds of a progress report's ``timestamp`` (batch start)."""
    return datetime.strptime(p["timestamp"].replace("Z", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


#: task-accumulable name of the Python worker run time (milliseconds)
PYTHON_TIME = "time to run Python workers"


def read_event_log(path: str) -> dict[tuple[str, str], dict]:
    """Per ``(job group, job description)`` totals from an uncompressed
    event log: jobs, stages, tasks, executor run / CPU seconds, shuffle
    bytes written, bytes spilled and Python worker seconds."""
    group_of_stage: dict[int, tuple[str, str]] = {}
    acc: dict[tuple[str, str], dict] = defaultdict(lambda: defaultdict(int))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = (props.get("spark.jobGroup.id") or "",
                       props.get("spark.job.description") or "")
                acc[key]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    group_of_stage.setdefault(sid, key)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                acc[group_of_stage.get(sid, ("", ""))]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                a = acc[group_of_stage.get(ev["Stage ID"], ("", ""))]
                a["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                             or {}).get(
                    "Shuffle Bytes Written", 0)
                a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                for u in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if u.get("Name") == PYTHON_TIME:
                        a["python_s"] += float(u.get("Update", 0)) / 1e3
    return acc
