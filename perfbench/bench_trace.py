"""Spans around layer calls, and the per-layer figures Spark's event log
gives for them.

Spans are recorded from the benchmark's own files only: name, start, end
and parent, kept in memory and written once when the run ends. Each layer
call also sets its own Spark job group, so every stage and task in the
event log maps back to the span that caused it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

PY_RUN = "time to run Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, root: bool = False):
        parent = None if root or not self._stack else self.spans[self._stack[-1]]["name"]
        rec = {"name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def layer(self, name: str, root: bool = False):
        """A span whose Spark jobs all carry the job group ``name``."""
        self.sc.setJobGroup(name, name, False)
        try:
            with self.span(name, root=root) as rec:
                yield rec
        finally:
            self.sc.setJobGroup("untraced", "outside any layer", False)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def children_of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == name]

    def write(self, path: Path, t0: float) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        path.write_text(json.dumps(rows, indent=1))


def empty_group() -> dict:
    return {
        "jobs": 0, "run_ms": [], "gc_ms": 0, "shuffle_write_b": 0,
        "py_run_ms": 0, "py_start_ms": 0, "py_sent_b": 0,
    }


def read_event_log(event_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, tasks, task run times, GC, shuffle bytes and the
    Python-runner SQL metrics, summed over the group's successful tasks."""
    logs = [p for p in event_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        if name not in groups:
            groups[name] = empty_group()
        return groups[name]

    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
                group(g)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
                stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                if ev["Task End Reason"]["Reason"] != "Success":
                    continue
                g = group(stage_group.get(ev["Stage ID"], "untraced"))
                tm = ev["Task Metrics"]
                g["run_ms"].append(tm["Executor Run Time"])
                g["gc_ms"] += tm["JVM GC Time"]
                g["shuffle_write_b"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                for acc in ev["Task Info"].get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == PY_RUN:
                        g["py_run_ms"] += int(upd)
                    elif name in PY_START:
                        g["py_start_ms"] += int(upd)
                    elif name == PY_SENT:
                        g["py_sent_b"] += int(upd)
    return groups


def stage_metrics(g: dict | None, wall_s: float, cores: int) -> dict[str, float]:
    """The event-log half of a geo layer's metrics."""
    g = g or empty_group()
    run = g["run_ms"]
    busy_s = sum(run) / 1000.0
    return {
        "tasks": len(run),
        "task_p50_ms": statistics.median(run) if run else 0.0,
        "task_max_ms": max(run) if run else 0.0,
        "idle_core_frac": 1.0 - busy_s / (cores * wall_s) if wall_s > 0 else 0.0,
        "shuffle_write_mb": g["shuffle_write_b"] / 1e6,
        "gc_ms": g["gc_ms"],
        "py_run_s": g["py_run_ms"] / 1000.0,
        "py_start_s": g["py_start_ms"] / 1000.0,
        "py_sent_mb": g["py_sent_b"] / 1e6,
    }
