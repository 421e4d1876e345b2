"""Per-layer metrics of a traced run, from the Spark event log.

Each operation ran under its own job group (``<layer>.<op>#<pass>``) in
a wall-clock window recorded by the benchmark; each micro-batch has the
window its StreamingQueryProgress reports. Jobs are attributed by group
(and untagged jobs by window), tasks by launch time within the window.
"""

from __future__ import annotations

import os

from perfbench import measure
from perfbench.workloads import LLM_OPS, VIEW_OPS, WAREHOUSE_OPS

LAYERS = ("operators", "views", "dedup", "similarity", "text")
ALL_OPS = [f"{layer}.{q}" for layer, q in WAREHOUSE_OPS] + [f"views.{v}" for v in VIEW_OPS] + [
    f"{layer}.{q}" for layer, q in LLM_OPS
]
STREAMS = ("streaming.ingest", "streaming.neardup")


def event_log_path(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if os.path.exists(path):
        return path
    cands = sorted(p for p in os.listdir(log_dir) if p.startswith(app_id))
    if not cands:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return os.path.join(log_dir, cands[0])


def per_layer(log_dir, app_id, runs, cpus, get_spark_s) -> dict:
    """{metric: (value, unit)} for every per-layer metric, from the
    (workload, timed passes) pairs of one traced session."""
    log = event_log_path(log_dir, app_id)
    jobs = measure.parse_jobs(log)
    passes = [p for _wl, ps in runs for p in ps]
    ops = [o for p in passes for o in p["ops"]]
    batches = [(wl.stream.layer, b) for wl, ps in runs for p in ps for b in p["batches"]]
    windows = [(o["t0_ms"], o["t1_ms"]) for o in ops] + [(b["start_ms"], b["end_ms"]) for _, b in batches]
    tasks = measure.task_windows(log, windows)
    op_tasks, batch_tasks = tasks[: len(ops)], tasks[len(ops):]

    out: dict = {
        "session.get_spark_s": (get_spark_s, "s"),
        "tables.release_session_checkpoints_s": (
            measure.median([p["release_s"] for p in passes]), "s"),
    }
    for wl, ps in runs:
        out[f"trace.{wl.name}.pass_s"] = (ps[0]["ops_wall_s"] + ps[0]["drain_wall_s"], "s")
        out[f"trace.{wl.name}.pass_cpu_s"] = (ps[0]["ops_cpu_s"] + ps[0]["drain_cpu_s"], "s")

    # per operation: wall and jobs, medians over passes
    per_op: dict[str, dict] = {}
    for o, t in zip(ops, op_tasks):
        lo, hi = o["t0_ms"], o["t1_ms"]
        mine = measure.window_jobs(jobs, lo, hi, o["group"])
        busy = measure.union_length([(j["start_ms"], j["end_ms"]) for j in mine], lo, hi)
        d = per_op.setdefault(o["label"], {"wall": [], "jobs": [], "rows": []})
        d["wall"].append(o["wall_s"])
        d["jobs"].append(len(mine))
        d["rows"].append((o, t, (hi - lo - busy) / 1000.0))
    for label in ALL_OPS:
        d = per_op.get(label, {"wall": [], "jobs": []})
        out[f"{label}.wall_s"] = (measure.median(d["wall"]), "s")
        out[f"{label}.jobs"] = (measure.median(d["jobs"]), "count")

    # per layer: sums over the layer's operations within a pass, then the
    # median over passes
    for layer in LAYERS:
        sums: dict[int, dict] = {}
        for label, d in per_op.items():
            if not label.startswith(layer + "."):
                continue
            for k, (o, t, idle_s) in enumerate(d["rows"]):
                s = sums.setdefault(k, dict.fromkeys(
                    ("tasks", "shuffle", "spill", "run_ms", "wall_ms", "idle_s"), 0.0))
                s["tasks"] += t["tasks"]
                s["shuffle"] += t["shuffle_write_bytes"]
                s["spill"] += t["memory_spill_bytes"] + t["disk_spill_bytes"]
                s["run_ms"] += t["executor_run_ms"]
                s["wall_ms"] += o["t1_ms"] - o["t0_ms"]
                s["idle_s"] += idle_s
        vals = list(sums.values())
        out[f"{layer}.tasks"] = (measure.median([v["tasks"] for v in vals]), "count")
        out[f"{layer}.shuffle_write_bytes"] = (measure.median([v["shuffle"] for v in vals]), "bytes")
        out[f"{layer}.spill_bytes"] = (measure.median([v["spill"] for v in vals]), "bytes")
        out[f"{layer}.executor_busy_frac"] = (measure.median(
            [v["run_ms"] / (v["wall_ms"] * cpus) for v in vals if v["wall_ms"]]), "ratio")
        out[f"{layer}.driver_only_s"] = (measure.median([v["idle_s"] for v in vals]), "s")

    # streaming: phases from the progress records, jobs and shuffle bytes
    # from the batch windows
    for stream in STREAMS:
        mine = [(b, t) for (layer, b), t in zip(batches, batch_tasks) if layer == stream]
        trig = [b["trigger_s"] for b, _ in mine]
        for ph in measure.PHASES:
            if stream == "streaming.ingest" or ph == "addBatch":
                out[f"{stream}.{ph}_s"] = (measure.median([b[ph + "_s"] for b, _ in mine]), "s")
        out[f"{stream}.jobs_per_batch"] = (measure.median(
            [len(measure.window_jobs(jobs, b["start_ms"], b["end_ms"])) for b, _ in mine]), "count")
        out[f"{stream}.batch_p50_s"] = (measure.median(trig), "s")
        rate = sum(b["rows"] for b, _ in mine) / sum(trig) if trig else 0.0
        out[f"{stream}.rows_per_s"] = (rate, "1/s")
    # set by workloads.check_ingest, which ran before the trace is read
    out["streaming.ingest.dedup_rate"] = (
        next(wl.meta["dedup_rate"] for wl, _ps in runs if "dedup_rate" in wl.meta), "ratio")
    out["streaming.shuffle_write_bytes"] = (
        measure.median([t["shuffle_write_bytes"] for t in batch_tasks]), "bytes")
    return out
