"""The benchmark's own measuring helpers: order statistics, spans and the
Spark event-log parser.

Nothing here imports the engine or starts Spark, so ``test_perfbench.py``
exercises it without a session.
"""

from __future__ import annotations

import json
import math
import re
import time
from contextlib import contextmanager

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# percentiles tried for a tail figure, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(xs) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    m = n // 2
    return float(s[m]) if n % 2 else (s[m - 1] + s[m]) / 2.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[rank - 1])


def tail(xs) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile in ``TAIL_LADDER``
    that leaves at least ``MIN_BEYOND`` samples above it; None when even
    the median leaves fewer than that."""
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return p, percentile(xs, p)
    return None


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    When ``sc`` is given, each span also tags the Spark jobs started inside
    it with ``sc.setJobGroup(<span id>, <name>)`` so the event log can be
    split per span; the enclosing span's group is restored on exit. With
    ``enabled=False`` :meth:`span` records nothing and touches no Spark
    state, which is how the untraced half of a traced run is timed.
    """

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.enabled = True
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": f"{self.run_id}.{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["id"],
                                        self._stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def seconds(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def _stage_skew(run_times: list[int]) -> float:
    if not run_times:
        return 0.0
    med = median(run_times)
    return max(run_times) / med if med > 0 else 0.0


def parse_event_log(lines) -> dict[str, dict]:
    """Spark event-log lines → per job group totals.

    For each ``spark.jobGroup.id`` seen on a job: executor run time (s),
    shuffle read and write bytes, spilled bytes (memory + disk), JVM GC
    time (s), task count, and task skew — max over median task run time in
    the group's stage with the largest total run time.
    """
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[dict]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            stage_tasks.setdefault(ev["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "write": sw.get("Shuffle Bytes Written", 0)})
    out: dict[str, dict] = {}
    dominant: dict[str, tuple[int, list[int]]] = {}
    for sid, tasks in stage_tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out.setdefault(group, {"run_s": 0.0, "gc_s": 0.0,
                                   "spill_bytes": 0,
                                   "shuffle_read_bytes": 0,
                                   "shuffle_write_bytes": 0, "tasks": 0,
                                   "task_skew": 0.0})
        runs = [t["run_ms"] for t in tasks]
        g["run_s"] += sum(runs) / 1e3
        g["gc_s"] += sum(t["gc_ms"] for t in tasks) / 1e3
        g["spill_bytes"] += sum(t["spill"] for t in tasks)
        g["shuffle_read_bytes"] += sum(t["read"] for t in tasks)
        g["shuffle_write_bytes"] += sum(t["write"] for t in tasks)
        g["tasks"] += len(tasks)
        if group not in dominant or sum(runs) > dominant[group][0]:
            dominant[group] = (sum(runs), runs)
    for group, (_, runs) in dominant.items():
        out[group]["task_skew"] = _stage_skew(runs)
    return out
