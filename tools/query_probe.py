"""Run named catalog queries against an arbitrary sf directory and print
one JSON line of wall timings — the generic scale-probe harness the
per-round SCALING.md sweeps have been re-implementing ad hoc.

Usage:
    python tools/query_probe.py SF_DIR QUERY [QUERY ...] [--reps N]
    python tools/query_probe.py SF_DIR --all           # whole catalog
    python tools/query_probe.py SF_DIR Q... --master local-cluster[4,8,4096]

--master overrides the session master (default: local[$SPARK_GRAFT_CPUS]).
local-cluster[N,C,M] launches REAL separate executor JVMs with their own
python workers — the cheapest non-single-JVM datapoint (VERDICT r7 ask
#4); the probe sets spark.executorEnv.PYTHONPATH so executors can import
the package for Pandas-UDF paths.

Timing convention matches bench.py: queries whose DEFINED answer is
pair-scale (bench.OUTPUT_BOUND) execute via .count() — the full plan
runs engine-side and the count doubles as the answer row count — while
everything else is .collect()ed. With --reps N the per-query value is
the median of N runs (default 1: scale probes are usually one-shot).
Each query also records, per rep, the classes Janino compiled and their
milliseconds (`codegen_compiles`, `codegen_ms`; the driver JVM's
counters, so a multi-JVM master's executor compiles are not in them).
The ANN index cache is warmed first (untimed) whenever an `ann_*` query
is requested, mirroring bench.py's serving-vs-training split.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import KEEPER_SINK, OUTPUT_BOUND, time_query  # noqa: E402
from data_ingestion_system_spark.registry import load_all  # noqa: E402
from data_ingestion_system_spark.session import get_spark  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    reps = 1
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
    master = None
    if "--master" in argv:
        i = argv.index("--master")
        master = argv[i + 1]
        del argv[i : i + 2]
    args = [a for a in argv if not a.startswith("--")]
    if not args:
        sys.exit(__doc__)
    sf_dir = args[0]
    registry = load_all()
    names = list(registry) if "--all" in argv else args[1:]
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    extra = {"spark.executorEnv.PYTHONPATH": _REPO} if master else None
    spark = get_spark(app_name="dis-spark-probe", master=master, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    warm_sec = None
    if any(n.startswith("ann_") for n in names):
        from data_ingestion_system_spark.similarity.ivf import warm_index_cache

        t0 = time.perf_counter()
        warm_index_cache(spark, sf_dir)
        warm_sec = round(time.perf_counter() - t0, 3)
    import shutil
    import tempfile

    sink_root = tempfile.mkdtemp(prefix="probe_keeper_sink_")
    out: dict[str, dict] = {}
    for name in names:
        sink_measured = name in OUTPUT_BOUND
        keeper_sink = name in KEEPER_SINK
        walls, rows, compiles, compile_ms = time_query(
            spark, registry, name, sf_dir, reps, sink_root
        )
        walls = [round(w, 3) for w in walls]
        out[name] = {
            "sec": round(statistics.median(walls), 3),
            "rows": rows,
            "reps": walls if reps > 1 else None,
            # per rep: Janino compiles (driver JVM) and their milliseconds
            "codegen_compiles": compiles,
            "codegen_ms": compile_ms,
            "sink_measured": sink_measured or None,
            "keeper_sink": keeper_sink or None,
        }
        print(f"  {name}: {out[name]['sec']} s, {rows} rows", file=sys.stderr)
    shutil.rmtree(sink_root, ignore_errors=True)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "master": spark.sparkContext.master,
                "ann_warm_sec": warm_sec,
                "noisy_box": _noisy_box(out),
                "queries": {
                    k: {kk: vv for kk, vv in v.items() if vv is not None}
                    for k, v in out.items()
                },
            }
        )
    )


def _noisy_box(out: dict) -> bool | None:
    """Within-run box-noise stamp (CONVENTIONS.md §7, r8 ask #6): the
    median per-query max/min spread over the WARM reps — rep 1 carries
    JIT/file-listing warm-up by design (2-6x on small queries; the
    multi-JVM audit measured per-executor codegen recompiles), which is
    expected cost, not box drift, so it is excluded whenever at least
    two warm reps remain. Same-code warm reps back-to-back should
    agree; a median spread past 1.3x means the box was drifting under
    this probe and the sidecar must not be cited as performance
    evidence. None when fewer than two warm reps exist (no signal)."""
    spreads = []
    for v in out.values():
        warm = (v.get("reps") or [])[1:]  # reps >= 3 leaves >= 2 warm
        if len(warm) >= 2 and min(warm) > 0:
            spreads.append(max(warm) / min(warm))
    if not spreads:
        return None
    return statistics.median(spreads) > 1.3


if __name__ == "__main__":
    main()
