"""Layer spans for the traced run.

A span wraps one call into a layer of the engine from the benchmark's own
code. While it is open, every Spark job submitted from the benchmark's
thread carries the span's name as its job group. Spans are kept in
memory; after the session stops, the Spark event log is read back and
each job's tasks are attributed to the span that submitted it, giving
per-span Spark counts: ``jobs``, ``tasks``, ``task_s`` (summed task
duration), ``core_util`` (task_s / (span wall * cores)),
``shuffle_write_bytes``, ``spill_bytes`` (memory + disk) and ``gc_s``.

Superstep loops are not separate calls (they run inside ``pagerank_result``
and friends), so their jobs are attributed by time: a loop's window is the
last ``sum(step walls)`` seconds of the span that ran it. For loops that
write checkpoints that window excludes the write time, so ``supersteps.*``
Spark counts are approximate there.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

IDLE_GROUP = "bench"


class Tracer:
    """Records spans and superstep loops; ``enabled=False`` makes every
    method a no-op so the untraced passes run the same benchmark code."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.loops: list[dict] = []
        self.counters: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)
            self.spans.append({"name": name, "start": start, "end": end})

    def loop(self, span: str, metrics: list[dict]) -> None:
        """Record one superstep loop (``SuperstepResult.metrics``) that just
        finished inside the open span ``span``."""
        if self.enabled:
            self.loops.append(
                {"span": span, "end": time.time(), "metrics": list(metrics)}
            )

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0.0) + float(value)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "loops": self.loops,
                 "counters": self.counters},
                fh,
            )


def read_event_log(log_dir: str) -> tuple[list[dict], dict]:
    """Jobs ``[{id, group, submit, stages}]`` and per-stage task totals from
    the (uncompressed) Spark event log files under ``log_dir``."""
    jobs, stages = [], {}
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "group": props.get("spark.jobGroup.id"),
                            "submit": ev["Submission Time"] / 1000.0,
                            "stages": ev["Stage IDs"],
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st = stages.setdefault(
                        ev["Stage ID"],
                        {"tasks": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
                         "spill_bytes": 0, "gc_s": 0.0},
                    )
                    st["tasks"] += 1
                    st["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    st["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return jobs, stages


def _totals(jobs: list[dict], stages: dict) -> dict:
    out = {"jobs": len(jobs), "tasks": 0, "task_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0}
    seen = set()
    for job in jobs:
        for sid in job["stages"]:
            if sid in seen or sid not in stages:
                continue  # skipped stages run no tasks
            seen.add(sid)
            for k, v in stages[sid].items():
                out[k] += v
    return out


def span_counts(tracer: Tracer, log_dir: str, cores: int) -> dict:
    """Per-span Spark counts ``{span: {count: value}}`` (spans of one name
    summed), plus the ``supersteps`` pseudo-span built from loop windows."""
    jobs, stages = read_event_log(log_dir)
    walls: dict[str, float] = {}
    for s in tracer.spans:
        walls[s["name"]] = walls.get(s["name"], 0.0) + s["end"] - s["start"]
    by_group: dict[str, list] = {}
    for job in jobs:
        by_group.setdefault(job["group"], []).append(job)
    out = {}
    for name, wall in walls.items():
        t = _totals(by_group.get(name, []), stages)
        t["core_util"] = t["task_s"] / (wall * cores) if wall > 0 else 0.0
        out[name] = t
    loop_jobs, loop_wall = [], 0.0
    for lp in tracer.loops:
        w = sum(m["wall_ms"] for m in lp["metrics"]) / 1000.0
        lo = lp["end"] - w
        loop_jobs += [
            j for j in by_group.get(lp["span"], []) if lo <= j["submit"] <= lp["end"]
        ]
        loop_wall += w
    t = _totals(loop_jobs, stages)
    t["core_util"] = t["task_s"] / (loop_wall * cores) if loop_wall > 0 else 0.0
    out["supersteps"] = t
    return out
