#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload per run, closed loop,
one client, on local[N] with N the CPUs this process may use.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

Inputs are generated from ``--seed`` under ``.perfbench_run/`` in the
checkout. After set-up and one untimed warm-up pass, whole passes run
until ``--seconds`` have elapsed; every answer is then checked against
its DuckDB oracle and the stores against their planted contents. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``; with ``--trace 1``,
per-layer metrics from the Spark event log of one session that runs
both workloads). A full record with
provenance goes to ``perfbench_results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T_START = time.perf_counter()
SETUP_REPS = 3
DRIVER_MEMORY = "1g"  # fixed, so that every run has the same heap
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # as /proc cuts the names
# _probe's median CPU time on the 4-core box these figures were first
# taken on, at a quiet hour: the speed the bounded times are scaled to
PROBE_REF_S = 0.0126


def _parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("warehouse", "llm_corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(run_root: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the run dir."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: temp files and no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_root, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_MASTER", None)


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def cpu_seconds(jvm_pid: int) -> dict[str, float]:
    """CPU seconds used so far. ``cpu``: this process and every process
    under it (the driver JVM and its Python workers), less the JVM's JIT
    compiler threads; compiling is a warm-up cost that tails off over
    minutes, and steal time (the box's neighbours) is not in the kernel's
    count. ``jit``: the JVM's compiler threads."""
    from perfbench.measure import proc_stat

    procs, children = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = proc_stat(_read(f"/proc/{d}/stat"))
            except (OSError, ValueError):  # ended while listed
                continue
            children.setdefault(procs[int(d)][1], []).append(int(d))
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][2] + procs[pid][3]
        todo += children.get(pid, [])
    jit = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            name, _ppid, own, _reaped = proc_stat(_read(f"/proc/{jvm_pid}/task/{tid}/stat"))
        except (OSError, ValueError):
            continue
        if name.startswith(JIT_THREADS):
            jit += own
    hz = os.sysconf("SC_CLK_TCK")
    return {"cpu": (ticks - jit) / hz, "jit": jit / hz}


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _git_commit() -> str | None:
    if not os.path.exists(os.path.join(REPO, ".git")):  # an exported checkout
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _probe() -> tuple[float, float]:
    """(CPU, wall) seconds of a fixed pure-Python task. Its CPU time
    follows how fast the box's cores run this minute: on a shared host a
    busy neighbour on the same physical core or cache slows every
    instruction, and that shows in CPU time as well as wall time (the
    engine's CPU time per pass and this probe's both halved between a
    busy and a quiet hour)."""
    w, t = time.perf_counter(), time.thread_time()
    d = {}
    for i in range(30000):
        d[(i * 7919) % 30011] = str(i)
    sorted(d.items())
    return time.thread_time() - t, time.perf_counter() - w


def run_pass(wl, spark, index: int, trace: bool, cpu, drain: bool) -> dict:
    """Every operation once, then (with ``drain``) land one file and drain
    it. Wall and CPU time of the operations and of the drain apart, with
    a probe before each operation and before the drain, whose time is
    not counted in the pass's."""
    from data_ingestion_system_spark.tables import release_session_checkpoints

    sc = spark.sparkContext
    rec: dict = {"ops": [], "batches": [], "release_s": 0.0, "stream_error": None, "probes": []}
    cpu_pass = cpu()
    t_pass = time.perf_counter()
    for op in wl.ops:
        rec["probes"].append(_probe())
        t = time.perf_counter()
        release_session_checkpoints(spark)
        rec["release_s"] += time.perf_counter() - t
        group = f"{op.label}#{index}"
        if trace:
            sc.setJobGroup(group, f"{op.label} pass {index}")
        row = {"label": op.label, "group": group, "error": None, "cols": None, "out": None}
        row["t0_ms"], t0 = time.time() * 1000, time.perf_counter()
        try:
            df = op.build()
            row["out"] = df.count() if op.count_only else df.collect()
            row["cols"] = df.columns
        except Exception as e:  # a failed operation counts in error_rate
            row["error"] = f"{type(e).__name__}: {e}"[:500]
        row["wall_s"] = time.perf_counter() - t0
        row["t1_ms"] = time.time() * 1000
        rec["ops"].append(row)
    rec["probes"].append(_probe())
    cpu_ops, t_ops = cpu(), time.perf_counter()
    if drain and wl.stream.land_next():
        if trace:
            sc.setJobGroup(f"{wl.stream.layer}#{index}", f"{wl.stream.layer} drain {index}")
        from perfbench.measure import progress_batches

        try:
            query = wl.stream.drain(spark)
            rec["batches"] = progress_batches([json.loads(p.json) for p in query.recentProgress])
        except Exception as e:
            rec["stream_error"] = f"{type(e).__name__}: {e}"[:500]
    if trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    t_end, cpu_end = time.perf_counter(), cpu()
    rec["ops_wall_s"] = t_ops - t_pass - sum(w for _c, w in rec["probes"])
    rec["drain_wall_s"] = t_end - t_ops
    rec["ops_cpu_s"] = cpu_ops["cpu"] - cpu_pass["cpu"] - sum(c for c, _w in rec["probes"])
    rec["drain_cpu_s"] = cpu_end["cpu"] - cpu_ops["cpu"]
    rec["jit_s"] = cpu_end["jit"] - cpu_pass["jit"]
    return rec


def check(wl, spark, passes: list[dict]) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): each operation execution and each
    micro-batch is one attempt; an exception, an answer that differs from
    the oracle, or a store that breaks an invariant is a failure."""
    from perfbench import workloads as W

    con = W.duck_connection(wl)
    attempted = failed = 0
    problems: list[str] = []
    for i, op in enumerate(wl.ops):
        runs = [p["ops"][i] for p in passes]
        attempted += len(runs)
        bad = [r for r in runs if r["error"]]
        for r in bad:
            problems.append(f"{op.label}: {r['error']}")
        good = [r for r in runs if not r["error"]]
        if not good:
            failed += len(runs)
            continue
        if op.count_only:
            answers = [r["out"] for r in good]
            df = op.build()
            first = W.canonical(df.columns, df.collect())
            mismatch = [a != len(first[1]) for a in answers]
        else:
            first = W.canonical(good[0]["cols"], good[0]["out"])
            mismatch = [not W.same_answer(r, good[0], first) for r in good]
        if op.oracle:
            diff = W.answers_match(first, W.oracle_answer(con, op.oracle))
            if diff:
                problems.append(f"{op.label}: oracle mismatch: {diff}")
                mismatch = [True] * len(good)
        if any(mismatch):
            problems.append(f"{op.label}: {sum(mismatch)} of {len(good)} answers wrong or unstable")
        failed += len(bad) + sum(mismatch)
    con.close()
    n_batches = sum(len(p["batches"]) for p in passes)
    attempted += n_batches
    stream_errors = [p["stream_error"] for p in passes if p["stream_error"]]
    check_fn = W.check_ingest if wl.stream.layer == "streaming.ingest" else W.check_neardup
    stream_errors += check_fn(wl, spark)
    if stream_errors:
        problems += [f"{wl.stream.layer}: {e}" for e in stream_errors]
        failed += max(n_batches, 1)
        attempted = max(attempted, failed)
    return attempted, failed, problems


def end_to_end(
    passes: list[dict], setup_cpu_s: float, setup_wall_s: float, rss_mb: float, probe_s: float
) -> tuple[dict, dict]:
    """(metrics, extra): the bounded end-to-end metrics, and the figures
    printed beside them but not bounded. The bounded times are CPU time
    (``cpu_seconds``) scaled to the reference speed, PROBE_REF_S / the
    run's median ``_probe`` CPU time: on a shared 4-core box the time the
    hypervisor steals moved wall-clock figures by up to 2x within an
    hour, which the kernel's CPU count leaves out, and neighbours on the
    same cores moved the CPU time itself by 2x, which the probe follows.
    The pass figures are the first timed pass's, the one that drains
    (see _run). Wall times, one operation's
    latency, a few micro-batches or a tail of a few samples spread more
    between runs than a bound can hold: a run drains one file in its
    timed span, so the stream figures rest on one micro-batch."""
    from perfbench.measure import median, tail_percentile

    op_walls = [o["wall_s"] for p in passes for o in p["ops"] if not o["error"]]
    batches = [b for p in passes for b in p["batches"]]
    trig = [b["trigger_s"] for b in batches]
    op_tail, op_pct = tail_percentile(op_walls)
    b_tail, b_pct = tail_percentile(trig) if trig else (0.0, 0)
    scale = PROBE_REF_S / probe_s
    first = passes[0]
    pass_cpu_s = first["ops_cpu_s"] + first["drain_cpu_s"]
    metrics = {
        "setup_s": (setup_cpu_s * scale, "s"),
        "pass_cpu_s": (pass_cpu_s * scale, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    extra = {
        "probe_s": probe_s,
        "setup_cpu_raw_s": setup_cpu_s,
        "pass_cpu_raw_s": pass_cpu_s,
        "pass_s": first["ops_wall_s"] + first["drain_wall_s"],
        "setup_wall_s": setup_wall_s,
        "ingest_rows_per_s": sum(b["rows"] for b in batches) / sum(trig) if trig else 0.0,
        "op_p50_s": median(op_walls),
        "op_tail_s": op_tail,
        "op_tail_percentile": op_pct,
        "op_samples": len(op_walls),
        "batch_p50_s": median(trig),
        "batch_tail_s": b_tail,
        "batch_tail_percentile": b_pct,
        "batch_samples": len(trig),
        "passes": len(passes),
    }
    return metrics, extra


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    run_root = os.path.join(REPO, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(run_root, cpus)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    try:
        try:
            import pyspark

            from data_ingestion_system_spark.registry import load_all
            from data_ingestion_system_spark.session import get_spark
            from perfbench import measure, workloads
        except ImportError as e:
            print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
            return 2
        return _run(args, run_root, cpus, get_spark, load_all, measure, workloads, pyspark.__version__)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))  # kept while another run uses it
        except OSError:
            pass


def _run(args, run_root, cpus, get_spark, load_all, measure, workloads, spark_version) -> int:
    trace = bool(args.trace)
    # a traced run measures both workloads in one session, so that it
    # reports every per-layer metric whichever workload it is named for
    names = [args.workload] + [n for n in workloads.SCALE if trace and n != args.workload]
    wls = [workloads.build(n, os.path.join(run_root, n), args.seed) for n in names]
    primary = wls[0]
    log_dir = os.path.join(run_root, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap is committed and touched up front, so that peak RSS
        # measures what grows outside it (metaspace, code cache, direct
        # buffers, the Python process) rather than when the GC expanded it.
        # The JIT compiles with C1 only: with C2 it kept compiling for
        # minutes, as much CPU as the engine itself on 4 cores, and each
        # pass ran on a different point of that curve; with C1 it settles
        # within the warm-up pass. The compiler threads are a fixed set,
        # so that cpu_seconds can leave them out without losing the time
        # of one that ended.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    # set-up: SETUP_REPS fresh sessions (the first also launches the JVM),
    # each with registry load and a warm query; then each workload's own
    # set-up (the first drain) once in the last session
    spark, jvm_pid, reps, rep_cpu, get_spark_s, probes = None, None, [], [], [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        c0 = cpu_seconds(jvm_pid)["cpu"] if jvm_pid else 0.0
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{primary.name}", extra_conf=conf)
        get_spark_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        registry = load_all()
        registry["group_frequency"].spark(spark, primary.data_dir).collect()
        reps.append(time.perf_counter() - t0)
        jvm_pid = jvm_pid or spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rep_cpu.append(cpu_seconds(jvm_pid)["cpu"] - c0)
        probes.append(_probe())
    _log(f"set-up sessions {[round(r, 2) for r in reps]} cpu {[round(r, 2) for r in rep_cpu]}")

    def cpu() -> dict[str, float]:
        return cpu_seconds(jvm_pid)

    prep_s, prep_cpu = {}, {}
    for wl in wls:
        c0, t0 = cpu()["cpu"], time.perf_counter()
        wl.stream.land_next()
        wl.stream.drain(spark)
        prep_s[wl.name] = time.perf_counter() - t0
        prep_cpu[wl.name] = cpu()["cpu"] - c0
        probes.append(_probe())
        workloads.attach_ops(wl, spark, registry)
    setup_cpu_s = measure.median(rep_cpu) + prep_cpu[primary.name]
    setup_wall_s = measure.median(reps) + prep_s[primary.name]
    _log(f"prepared in {[round(v, 2) for v in prep_s.values()]}s"
         f" cpu {[round(v, 2) for v in prep_cpu.values()]}")

    warm = {wl.name: run_pass(wl, spark, 0, trace, cpu, drain=False) for wl in wls}
    _log(f"warm-up passes {[round(p['ops_wall_s'], 2) for p in warm.values()]}"
         f" cpu {[round(p['ops_cpu_s'], 2) for p in warm.values()]}"
         f" jit {[round(p['jit_s'], 2) for p in warm.values()]}")
    # timed: passes until --seconds have elapsed. Only the first drains,
    # and the pass figures are its own: each drain grows the store and
    # makes the next dearer, and on llm_corpus later passes of the
    # operations read dearer than the first too, so a median over however
    # many passes fit would follow the box's speed. The later passes add
    # operation-latency samples. Peak RSS is read after the first pass
    # too: each further pass raised it by about 70 MB.
    passes: dict[str, list[dict]] = {wl.name: [] for wl in wls}
    rounds = 0
    t_start = time.perf_counter()
    while not rounds or time.perf_counter() - t_start < args.seconds:
        rounds += 1
        for wl in wls:
            passes[wl.name].append(run_pass(wl, spark, rounds, trace, cpu, drain=rounds == 1))
        if rounds == 1:
            rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    measured_s = time.perf_counter() - t_start
    for wl in wls:
        ps = passes[wl.name]
        _log(f"{wl.name}: {rounds} passes {[round(p['ops_wall_s'], 2) for p in ps]}"
             f" cpu {[round(p['ops_cpu_s'], 2) for p in ps]} jit {[round(p['jit_s'], 2) for p in ps]};"
             f" drain {ps[0]['drain_wall_s']:.2f} s cpu {ps[0]['drain_cpu_s']:.2f}")

    attempted = failed = 0
    problems: list[str] = []
    for wl in wls:
        a, f, p = check(wl, spark, [warm[wl.name]] + passes[wl.name])
        attempted, failed, problems = attempted + a, failed + f, problems + p
    _log("checked")
    mine = passes[primary.name]
    for p in [*warm.values(), *(p for ps in passes.values() for p in ps)]:
        probes += p["probes"]
    probe_s = measure.median([c for c, _w in probes])
    metrics, extra = end_to_end(mine, setup_cpu_s, setup_wall_s, rss_mb, probe_s)
    provenance = {
        "workload": primary.name,
        "seed": args.seed,
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "sf": {wl.name: wl.sf for wl in wls},
        "manifest": {wl.name: _manifest(wl.data_dir) for wl in wls},
        "git_commit": _git_commit(),
        "spark_version": spark_version,
        "python_version": platform.python_version(),
        "run_seconds": args.seconds,
        "measured_s": measured_s,
        "trace": trace,
    }
    app_id = spark.sparkContext.applicationId
    _stop_jvm(spark)
    _log("stopped")

    report = {name: v for name, (v, _u) in metrics.items()}
    units = {name: u for name, (_v, u) in metrics.items()}
    if trace:
        from perfbench.trace import per_layer

        layer = per_layer(
            log_dir, app_id, [(wl, passes[wl.name]) for wl in wls], cpus,
            get_spark_s=measure.median(get_spark_s),
        )
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        out_metrics = {k: {"value": report[k], "unit": units[k]} for k in report}

    error_rate = failed / attempted if attempted else 1.0
    sidecar = {
        "workload": primary.name,
        "provenance": provenance,
        "end_to_end": report,
        "units": units,
        "extra": dict(extra, error_rate=error_rate, setup_reps_s=reps, prep_s=prep_s,
                      warmup_pass_s=warm[primary.name]["ops_wall_s"]),
        "metrics": out_metrics,
        "problems": problems,
        "passes": [
            dict({k: p[k] for k in ("ops_wall_s", "drain_wall_s", "ops_cpu_s", "drain_cpu_s", "jit_s")},
                 ops={o["label"]: o["wall_s"] for o in p["ops"]}, batches=p["batches"])
            for p in mine
        ],
    }
    res_dir = os.path.join(REPO, "perfbench_results")
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{primary.name}-seed{args.seed}-trace")
    with open(f"{stem}{int(trace)}.json", "w") as fh:
        json.dump(sidecar, fh, indent=1, default=str)

    for p in problems:
        print(f"PROBLEM {p}")
    print(f"{primary.name} seed={args.seed} cpus={cpus} passes={extra['passes']} "
          f"op_samples={extra['op_samples']} batches={extra['batch_samples']}")
    if trace:
        for k, m in out_metrics.items():
            print(f"  {k:<52} {m['value']:>14.4f} {m['unit']}")
        if os.path.exists(f"{stem}0.json"):
            with open(f"{stem}0.json") as fh:
                plain = json.load(fh)
            print("  tracing overhead (traced - untraced):"
                  f" pass_cpu_s {report['pass_cpu_s'] - plain['end_to_end']['pass_cpu_s']:+.4f} s,"
                  f" pass_s {extra['pass_s'] - plain['extra']['pass_s']:+.4f} s")
    else:
        for k, v in report.items():
            print(f"  {k:<20} {v:>12.4f} {units[k]}")
    print(f"  {'probe_s':<20} {extra['probe_s']:>12.4f} s (CPU, median of {len(probes)})")
    print(f"  {'setup_cpu_raw_s':<20} {extra['setup_cpu_raw_s']:>12.4f} s")
    print(f"  {'pass_cpu_raw_s':<20} {extra['pass_cpu_raw_s']:>12.4f} s")
    print(f"  {'pass_s':<20} {extra['pass_s']:>12.4f} s (wall)")
    print(f"  {'setup_wall_s':<20} {extra['setup_wall_s']:>12.4f} s")
    print(f"  {'op_p50_s':<20} {extra['op_p50_s']:>12.4f} s")
    print(f"  {'ingest_rows_per_s':<20} {extra['ingest_rows_per_s']:>12.4f} 1/s")
    print(f"  {'op_tail_s':<20} {extra['op_tail_s']:>12.4f} s (p{extra['op_tail_percentile']})")
    print(f"  {'batch_p50_s':<20} {extra['batch_p50_s']:>12.4f} s")
    print(f"  {'batch_tail_s':<20} {extra['batch_tail_s']:>12.4f} s (p{extra['batch_tail_percentile']})")
    print(f"  {'error_rate':<20} {error_rate:>12.4f} ratio ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


def _manifest(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "manifest.json")) as fh:
        m = json.load(fh)
    return {
        "generator_sha256": m.get("generator_sha256"),
        "seed": m.get("seed"),
        "sf": m.get("sf"),
        "rows": {t: v.get("rows") for t, v in m.get("tables", {}).items()},
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
