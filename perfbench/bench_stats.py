"""Arithmetic the benchmark reports: percentiles, self time, job-group
attribution. Pure functions over plain data, so the unit tests in
``test_bench.py`` can pin them on synthetic traces."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``.

    Nearest rank returns a value that was measured, never an interpolation
    between two samples, so a tail figure is one real operation's latency.
    """
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs) / 100) - 1)]


def tail_percentile(n: int, wanted=(99.0, 90.0, 75.0, 50.0)) -> float:
    """The highest of ``wanted`` that leaves at least ten samples above it
    among ``n`` samples; 50 when none does."""
    for q in wanted:
        if n - math.ceil(q * n / 100) >= 10:
            return q
    return 50.0


def median(values) -> float:
    return statistics.median(values)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict:
    """Self time of every span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once).

    ``spans`` holds dicts with ``id``, ``parent`` (an id or None),
    ``start`` and ``end``. Returns ``{id: self_seconds}``.
    """
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def spark_by_group(events) -> dict:
    """Fold Spark event-log records into per-job-group totals.

    ``events`` are the decoded JSON lines of one event log. Every job
    carries its group in ``Properties["spark.jobGroup.id"]``; each stage
    belongs to the first job that lists it, and each task to its stage.
    Returns ``{group: {"jobs", "stages", "tasks", "executor_run_ms",
    "executor_cpu_ms", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "stage_task_ms": [[task ms, ...] per stage]}}``.
    Jobs without a group are filed under ``None``.
    """
    stage_group: dict = {}
    stage_tasks: dict = {}
    out: dict = {}

    def slot(group):
        return out.setdefault(
            group,
            {
                "jobs": 0,
                "stages": 0,
                "tasks": 0,
                "executor_run_ms": 0.0,
                "executor_cpu_ms": 0.0,
                "input_bytes": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "stage_task_ms": [],
            },
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            slot(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group:
                slot(stage_group[sid])["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_group:
                continue
            rec = slot(stage_group[sid])
            rec["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["executor_run_ms"] += m.get("Executor Run Time", 0)
            rec["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            info = ev.get("Task Info") or {}
            if "Finish Time" in info and "Launch Time" in info:
                stage_tasks.setdefault(sid, []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
    for sid, ms in stage_tasks.items():
        out[stage_group[sid]]["stage_task_ms"].append(ms)
    return out


def max_over_median(stage_task_ms) -> float:
    """Median over stages of (slowest task / median task); 1.0 is balanced."""
    ratios = []
    for ms in stage_task_ms:
        med = statistics.median(ms)
        if med > 0:
            ratios.append(max(ms) / med)
    return statistics.median(ratios) if ratios else 0.0
