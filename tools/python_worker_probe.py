#!/usr/bin/env python
"""Python-worker probe: which steps of a perfbench workload start Python
worker processes under the driver JVM.

In one session it runs the workload's set-up drain, every operation once
and a second drain, the way `perfbench/run.py` does. After each step it
lists the driver JVM's child processes from
`/proc/<jvm>/task/*/children` (a `pyspark.daemon` and its workers appear
there once any Python task has run). The last stdout line is one JSON
object: `{"workload", "seed", "steps": [{"step", "children"}],
"python_workers": <bool>}`.

Usage:
    python tools/python_worker_probe.py warehouse [seed]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def jvm_children(jvm_pid: int) -> list[str]:
    """Command lines of the JVM's direct child processes."""
    pids: set[str] = set()
    for path in glob.glob(f"/proc/{jvm_pid}/task/*/children"):
        try:
            with open(path) as fh:
                pids.update(fh.read().split())
        except OSError:
            pass  # the thread ended while being listed
    out = []
    for pid in sorted(pids, key=int):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                out.append(fh.read().replace(b"\0", b" ").decode(errors="replace").strip())
        except OSError:
            pass  # the child ended while being listed
    return out


def main(workload: str, seed: int) -> None:
    from data_ingestion_system_spark.registry import load_all
    from data_ingestion_system_spark.session import get_spark
    from perfbench import workloads

    root = tempfile.mkdtemp(prefix="python_worker_probe_")
    try:
        wl = workloads.build(workload, os.path.join(root, workload), seed)
        spark = get_spark(app_name="python-worker-probe")
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        steps = []

        def step(name: str) -> None:
            steps.append({"step": name, "children": jvm_children(jvm)})

        step("session")
        wl.stream.land_next()
        wl.stream.drain(spark)
        step(f"{wl.stream.layer} drain 1")
        workloads.attach_ops(wl, spark, load_all())
        for op in wl.ops:
            df = op.build()
            df.count() if op.count_only else df.collect()
            step(op.label)
        wl.stream.land_next()
        wl.stream.drain(spark)
        step(f"{wl.stream.layer} drain 2")
        spark.stop()
        print(json.dumps({
            "workload": workload,
            "seed": seed,
            "steps": steps,
            "python_workers": any(s["children"] for s in steps),
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "warehouse",
         int(sys.argv[2]) if len(sys.argv) > 2 else 1)
