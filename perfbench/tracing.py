"""Spans recorded around calls into the program, and the Spark event log
attached to them.

A span is (id, name, job, parent, start, end). Spans stay in memory
and are written out once, when the run ends. Opening a span also sets
the Spark job group to the span id, so every Spark job the call
submits can be matched to it in the event log afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# Event-log units are mixed. Every conversion to seconds happens here:
# task walls and GC time are in ms, shuffle write time is in ns.
_MS = 1e-3
_NS = 1e-9


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.job = None

    @contextmanager
    def span(self, name: str):
        sp = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "job": self.job,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    def _set_group(self, group_id: str | None) -> None:
        sc = self.spark.sparkContext
        if group_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group_id, group_id)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def by_name(spans: list[dict], job: str) -> dict[str, list[dict]]:
    """Span name -> the spans of that name in one job."""
    out: dict[str, list[dict]] = {}
    for sp in spans:
        if sp["job"] == job:
            out.setdefault(sp["name"], []).append(sp)
    return out


def duration(named: dict[str, list[dict]], *names: str) -> float:
    """Summed duration of the named spans."""
    return sum(sp["end"] - sp["start"] for n in names
               for sp in named.get(n, ()))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> its duration minus the part its children cover."""
    child_cover: dict[str, float] = {}
    for sp in spans:
        if sp["parent"] is not None:
            child_cover[sp["parent"]] = (
                child_cover.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
            )
    return {
        sp["id"]: sp["end"] - sp["start"] - child_cover.get(sp["id"], 0.0)
        for sp in spans
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Job group -> engine counters summed over its Spark jobs, plus the
    walls of its result tasks (the tasks that produce a job's output,
    e.g. the COG writes; shuffle-map tasks are left out)."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {paths}")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups.setdefault(group, {
                    "tasks": 0, "shuffle_write_bytes": 0,
                    "shuffle_write_s": 0.0, "spill_bytes": 0, "gc_s": 0.0,
                    "result_task_s": [],
                })
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                g["tasks"] += 1
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) * _NS
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                g["gc_s"] += m.get("JVM GC Time", 0) * _MS
                if ev["Task Type"] == "ResultTask":
                    g["result_task_s"].append(
                        (info["Finish Time"] - info["Launch Time"]) * _MS
                    )
    return groups


def engine_totals(groups: dict[str, dict], span_ids) -> dict:
    """Sum the engine counters of the given spans' job groups."""
    out = {"tasks": 0, "shuffle_write_bytes": 0, "shuffle_write_s": 0.0,
           "spill_bytes": 0, "gc_s": 0.0, "result_task_s": []}
    for sid in span_ids:
        g = groups.get(sid)
        if g is None:
            continue
        for k, v in g.items():
            out[k] = out[k] + v
    return out


def task_stats(walls: list[float]) -> tuple[float, float]:
    """(max, median) of task walls; (0, 0) when no task ran."""
    if not walls:
        return 0.0, 0.0
    return max(walls), statistics.median(walls)
