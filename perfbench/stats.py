"""Pure helpers of the benchmark harness: percentiles, span self
times and the Spark event-log fold. No Spark import, so the harness's
self-tests run without a session."""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable

TAIL_BEYOND = 10


def median(xs: Iterable[float]) -> float:
    return float(statistics.median(list(xs)))


def tail_index(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Index, in ascending order, of the highest sample that still has
    ``beyond`` samples above it; None when there are too few."""
    return n - beyond - 1 if n > beyond else None


def tail(xs: Iterable[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least
    ``beyond`` samples beyond it, or None when there are too few."""
    s = sorted(xs)
    i = tail_index(len(s), beyond)
    if i is None:
        return None
    return s[i], 100.0 * (i + 1) / len(s)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of self time per span name. A span is a dict with ``id``,
    ``parent`` (an id or None), ``name``, ``start`` and ``end``; its self
    time is its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(lo, s["start"]), min(hi, s["end"])) for lo, hi in children.get(s["id"], [])]
        covered = union_length((lo, hi) for lo, hi in kids if hi > lo)
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


EVENT_FIELDS = (
    "jobs", "stages", "tasks", "task_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "spill_bytes",
)


def fold_event_log(lines: Iterable[str]) -> dict[str, dict]:
    """Fold a Spark event log (one JSON event per line) per job group.

    Returns ``{group: {jobs, stages, tasks, task_cpu_ms, gc_ms,
    shuffle_write_bytes, spill_bytes, job_intervals}}``, where
    ``job_intervals`` lists each job's (submission, completion) in epoch
    milliseconds. Stages count once per attempt that ran tasks; jobs
    outside any group are dropped."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stages_seen: set[tuple[str, int, int]] = set()
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {**{k: 0 for k in EVENT_FIELDS}, "job_intervals": []})

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            acc(group)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                acc(job_group[jid])["job_intervals"].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            a = acc(group)
            key = (group, ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            if key not in stages_seen:
                stages_seen.add(key)
                a["stages"] += 1
            a["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            a["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            a["gc_ms"] += m.get("JVM GC Time", 0)
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
