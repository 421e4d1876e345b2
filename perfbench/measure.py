"""Pure helpers of the benchmark: percentile rules, interval arithmetic,
Spark event-log and streaming-progress parsing, and result comparison.

Nothing here starts Spark, so the helpers are testable on the small
fixtures in ``perfbench/fixtures``. Task metrics are parsed by
``tools/shuffle_audit_probe._collect_task_windows`` (imported, not
copied); job intervals, which that parser does not read, are parsed
here.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile that leaves at
    least ten samples above it (nearest-rank). With ten samples or fewer
    no percentile qualifies, and the maximum is returned as p100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail_percentile of no samples")
    if n <= TAIL_MIN_BEYOND:
        return xs[-1], 100
    pct = (100 * (n - TAIL_MIN_BEYOND)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return xs[rank - 1], pct


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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


def parse_jobs(log_path: str) -> list[dict]:
    """Jobs of a Spark event log: id, job group, submission and
    completion time (epoch ms)."""
    jobs: dict[int, dict] = {}
    with open(log_path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "start_ms": ev.get("Submission Time", 0),
                    "end_ms": None,
                }
            elif '"SparkListenerJobEnd"' in line:
                ev = json.loads(line)
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
    out = list(jobs.values())
    for j in out:
        if j["end_ms"] is None:  # cut off by stop(): count it as ending at once
            j["end_ms"] = j["start_ms"]
    return out


def task_windows(log_path: str, windows: list[tuple[float, float]]) -> list[dict]:
    """Task-end metrics summed per window, by the shuffle-audit probe's
    parser."""
    if _REPO not in sys.path:
        sys.path.insert(0, _REPO)
    from tools.shuffle_audit_probe import _collect_task_windows

    return _collect_task_windows(log_path, windows)


def progress_epoch_ms(timestamp: str) -> float:
    """Epoch ms of a StreamingQueryProgress timestamp
    (``2026-10-16T18:06:54.912Z``)."""
    t = dt.datetime.strptime(timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit")


def progress_batches(progress: list[dict]) -> list[dict]:
    """One record per micro-batch that read input: batch id, epoch-ms
    window [start, start + triggerExecution], input rows and the phase
    durations in seconds. Progress entries of idle triggers are skipped."""
    out = []
    for p in progress:
        rows = p.get("numInputRows") or 0
        if rows <= 0:
            continue
        d = p.get("durationMs") or {}
        start = progress_epoch_ms(p["timestamp"])
        rec = {
            "batch_id": p["batchId"],
            "rows": rows,
            "start_ms": start,
            "end_ms": start + d.get("triggerExecution", 0),
            "trigger_s": d.get("triggerExecution", 0) / 1000.0,
        }
        for ph in PHASES:
            rec[ph + "_s"] = d.get(ph, 0) / 1000.0
        out.append(rec)
    return out


def window_jobs(jobs: list[dict], lo: float, hi: float, group: str | None = None) -> list[dict]:
    """Jobs attributed to one window. Without ``group``: every job
    submitted inside [lo, hi]. With it: the jobs tagged ``group`` plus
    untagged jobs submitted inside the window (helper threads do not
    inherit the caller's job group)."""
    def inside(j: dict) -> bool:
        return lo <= j["start_ms"] <= hi

    if group is None:
        return [j for j in jobs if inside(j)]
    return [j for j in jobs if j["group"] == group or (not j["group"] and inside(j))]


def proc_stat(text: str) -> tuple[str, int, int, int]:
    """(name, parent pid, own CPU ticks, reaped children's CPU ticks) of
    one ``/proc/<pid>/stat`` or ``/proc/<pid>/task/<tid>/stat`` line. CPU
    ticks are user + system time; time the hypervisor stole from the CPU
    is not in them. A thread's line repeats its process's children."""
    name = text[text.index("(") + 1 : text.rindex(")")]
    f = text[text.rindex(")") + 2 :].split()
    return name, int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def comparable(a: dict, b: dict) -> None:
    """Raise unless two result sidecars were taken at the same core count
    and master: a cross-core-count ratio measures the box, not the code."""
    pa, pb = a.get("provenance", {}), b.get("provenance", {})
    for key in ("cpus", "master"):
        if pa.get(key) != pb.get(key):
            raise ValueError(
                f"refusing to compare: {key} differs ({pa.get(key)!r} vs {pb.get(key)!r})"
            )
    if a.get("workload") != b.get("workload"):
        raise ValueError(
            f"refusing to compare: workload differs ({a.get('workload')!r} vs {b.get('workload')!r})"
        )
