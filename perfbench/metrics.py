"""The benchmark's arithmetic, kept free of Spark so it can be tested alone:
percentiles, span self time, and per-query stage-metric sums."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

#: a tail percentile is reported only when at least this many samples lie
#: strictly beyond it; fewer make it a reading of one or two outliers
MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def percentile(samples: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(samples: Sequence[float], q: float = 90.0) -> tuple[float, int, bool]:
    """``(value, beyond, steady)`` for the ``q``-th percentile: ``beyond``
    counts the samples strictly greater than it, and ``steady`` says
    whether that count reaches ``MIN_BEYOND``."""
    value = percentile(samples, q)
    beyond = sum(1 for s in samples if s > value)
    return value, beyond, beyond >= MIN_BEYOND


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. Spans are dicts with ``id``,
    ``parent`` (an id or None), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        inner = [
            (max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered((a, b) for a, b in inner if b > a)
    return out


#: stage record fields summed per query, as read from Spark's status store
STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "spill_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "input_mb",
    "output_mb",
)


def core_use(task_run_s: float, exec_s: float, cores: int) -> tuple[float, float]:
    """``(core_util, idle_core_s)``: task time over the core-seconds
    available while jobs ran, and the core-seconds left unused then."""
    capacity = exec_s * cores
    if capacity <= 0:
        return 0.0, 0.0
    return task_run_s / capacity, max(0.0, capacity - task_run_s)


def exec_summary(jobs: Sequence[tuple[float, float]], stages: Sequence[dict]) -> dict:
    """Sum the stage records of one query. ``jobs`` holds each job's
    ``(submitted, completed)`` wall times in seconds; their union is the
    time the executors had work (``exec_s``). ``stages`` holds one record
    per executed stage with the keys of ``STAGE_FIELDS``."""
    out = {f: sum(s[f] for s in stages) for f in STAGE_FIELDS}
    out["jobs"] = len(jobs)
    out["stages"] = len(stages)
    out["exec_s"] = covered(jobs)
    return out
