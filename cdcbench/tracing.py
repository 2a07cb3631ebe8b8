"""Spans recorded by the benchmark around its calls into each layer, and
the fold of Spark's event log into those spans.

Spans live in memory and are written out once, at the end of a run. The
event-log fields are the ones ``bench/profile_epoch.py`` parses; here they
are attributed to spans by time instead of summed over a whole run. Both
clocks are the host's wall clock: span times come from ``time.time()``
and event-log times from the JVM's ``System.currentTimeMillis``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Spans:
    """Nested wall-clock spans: name, start, end and parent, in memory."""

    def __init__(self):
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
            **attrs,
        }
        self.records.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def named(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name and "end" in r]

    def walls(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.named(name)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


class EventLog:
    """Tasks, stages and jobs of one application's event log."""

    def __init__(self, log_dir: str):
        self.tasks: list[dict] = []
        self.stages: list[tuple[float, float]] = []
        self.jobs: list[float] = []
        files = glob.glob(os.path.join(log_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    self._task(ev)
                elif kind == "SparkListenerStageCompleted":
                    si = ev.get("Stage Info") or {}
                    if si.get("Submission Time") and si.get("Completion Time"):
                        self.stages.append(
                            (si["Submission Time"] / 1e3, si["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerJobStart":
                    self.jobs.append(ev["Submission Time"] / 1e3)

    def _task(self, ev: dict) -> None:
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        srm = m.get("Shuffle Read Metrics") or {}
        self.tasks.append(
            {
                "stage": ev.get("Stage ID"),
                "launch": info.get("Launch Time", 0) / 1e3,
                "run_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_read_bytes": srm.get("Local Bytes Read", 0)
                + srm.get("Remote Bytes Read", 0),
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
            }
        )

    def fold(self, spans: list[dict]) -> dict:
        """Totals over the tasks launched, jobs submitted and stage time
        covered inside the given spans."""
        tasks = [t for t in self.tasks if any(_inside(t["launch"], s) for s in spans)]
        out = {
            k: sum(t[k] for t in tasks)
            for k in ("cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes")
        }
        out["jobs"] = sum(1 for j in self.jobs if any(_inside(j, s) for s in spans))
        out["wall_s"] = sum(s["end"] - s["start"] for s in spans)
        out["stage_covered_s"] = sum(
            _covered(self.stages, s["start"], s["end"]) for s in spans
        )
        by_stage: dict[int, list[dict]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t)
        # max / median task time of each stage that reads a shuffle
        skews = [
            max(t["run_s"] for t in ts) / statistics.median(t["run_s"] for t in ts)
            for ts in by_stage.values()
            if len(ts) > 1
            and sum(t["shuffle_read_bytes"] for t in ts) > 0
            and statistics.median(t["run_s"] for t in ts) > 0
        ]
        out["task_skew"] = statistics.median(skews) if skews else 1.0
        return out


def _inside(t: float, span: dict) -> bool:
    return span["start"] <= t <= span["end"]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
