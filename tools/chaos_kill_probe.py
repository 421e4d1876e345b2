"""Chaos probe: prove the reliable-checkpoint mode survives an executor
kill (VERDICT r8 ask #1 — the round-8 flagship's missing half).

Runs `dedup_clusters` — the iterative component loop, the engine's
longest checkpoint-truncated lineage chain — under a multi-JVM
`local-cluster[2,4,2048]` master. A killer thread waits until the query
is mid-flight with >= `--min-truncations` MATERIALIZED lineage
truncations and an active job, then SIGKILLs one executor JVM
(`CoarseGrainedExecutorBackend` process):

- arm `reliable` (`SPARK_GRAFT_RELIABLE_CHECKPOINT` set): the truncated
  lineage reads back from checkpoint FILES on shared storage, the
  standalone master relaunches a replacement executor, and the job must
  COMPLETE with rows identical to an unkilled run in the same session.
- arm `local` (the control): the truncated lineage lives in the dead
  executor's block manager and Spark cannot recompute past a truncation
  (`tables.py` RELIABLE_CHECKPOINT_ENV rationale), so the job must FAIL
  (checkpoint block not found / repeated fetch failure).

Each arm first runs the query unkilled in the same session to capture
the expected rows, releases the session's checkpoints, then runs again
with the killer armed. Prints one JSON line per arm with the kill
timeline (trigger state, victim pid, executor pids before/after,
outcome, row parity).

Usage:
  python tools/chaos_kill_probe.py [SF_DIR] [--arm reliable|local|both]
      [--master local-cluster[2,4,2048]] [--min-truncations 4]
      [--query dedup_clusters]

--query accepts any registered catalog query (default dedup_clusters —
the component loop, the engine's longest truncated lineage chain).
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

DEFAULT_MASTER = "local-cluster[2,4,2048]"
DEFAULT_MIN_TRUNCATIONS = 4


def _executor_pids(app_id: str) -> list[int]:
    """Executor JVM pids of this app (local-cluster workers fork one
    `CoarseGrainedExecutorBackend` process per executor)."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read().decode(errors="replace")
        except OSError:
            continue
        if "CoarseGrainedExecutorBackend" in cmd and app_id in cmd:
            pids.append(int(p))
    return sorted(pids)


def _materialized_truncations(spark, ckpt_dir: str | None) -> int:
    """How many lineage truncations have actually materialized: reliable
    mode counts rdd-* checkpoint dirs holding part files; local mode
    counts persistent RDDs with cached partitions (getRDDStorageInfo)."""
    if ckpt_dir:
        n = 0
        for root, subs, files in os.walk(ckpt_dir):
            if os.path.basename(root).startswith("rdd-") and any(
                f.startswith("part-") for f in files
            ):
                n += 1
                subs[:] = []
        return n
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(1 for i in infos if i.numCachedPartitions() > 0)


class _Killer(threading.Thread):
    """Waits for the mid-flight trigger, then SIGKILLs one executor."""

    def __init__(self, spark, ckpt_dir: str | None, min_truncations: int, baseline: int):
        super().__init__(daemon=True)
        self.spark = spark
        self.ckpt_dir = ckpt_dir
        self.min_truncations = min_truncations
        self.baseline = baseline
        self.stop_evt = threading.Event()
        self.victim: int | None = None
        self.t_kill: float | None = None
        self.truncations_at_kill: int | None = None
        self.jobs_active_at_kill: list[int] = []
        self.pids_before: list[int] = []
        self.t0 = time.perf_counter()

    def run(self):
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        app_id = sc.applicationId
        while not self.stop_evt.is_set():
            n = _materialized_truncations(self.spark, self.ckpt_dir) - self.baseline
            active = list(tracker.getActiveJobsIds())
            if n >= self.min_truncations and active:
                pids = _executor_pids(app_id)
                if len(pids) >= 2:
                    victim = pids[-1]
                    os.kill(victim, signal.SIGKILL)
                    self.victim = victim
                    self.t_kill = round(time.perf_counter() - self.t0, 2)
                    self.truncations_at_kill = n
                    self.jobs_active_at_kill = active
                    self.pids_before = pids
                    return
            time.sleep(0.05)


def run_arm(
    arm: str, sf_dir: str, master: str, min_truncations: int,
    query: str = "dedup_clusters",
) -> dict:
    from data_ingestion_system_spark import tables
    from data_ingestion_system_spark.dedup import clusters
    from data_ingestion_system_spark.session import get_spark

    # the probe exists to kill an executor MID-COMPONENT-LOOP and watch
    # the reliable machinery recover the iterative rounds — the driver
    # union-find arm (no distributed rounds at small edge counts) would
    # dodge exactly the code path under test, so force it off: the kill
    # then lands in the edge-contraction loop (clusters._cc_contract)
    clusters.CC_DRIVER_MAX_EDGES = -1

    ckpt_dir = None
    if arm == "reliable":
        ckpt_dir = os.path.join("/tmp", f"chaos_ckpt_{os.getpid()}")
        os.environ[tables.RELIABLE_CHECKPOINT_ENV] = ckpt_dir
    else:
        os.environ.pop(tables.RELIABLE_CHECKPOINT_ENV, None)

    spark = get_spark(
        app_name=f"chaos-kill-{arm}",
        master=master,
        extra_conf={"spark.executorEnv.PYTHONPATH": _REPO},
    )
    from data_ingestion_system_spark.registry import load_all

    run_query = load_all()[query].spark

    out: dict = {"arm": arm, "master": master, "sf_dir": sf_dir, "query": query}
    try:
        t0 = time.perf_counter()
        expected = sorted(tuple(r) for r in run_query(spark, sf_dir).collect())
        out["clean_wall_sec"] = round(time.perf_counter() - t0, 1)
        out["clean_rows"] = len(expected)
        tables.release_session_checkpoints(spark)

        baseline = _materialized_truncations(spark, ckpt_dir)
        killer = _Killer(spark, ckpt_dir, min_truncations, baseline)
        killer.start()
        t0 = time.perf_counter()
        try:
            got = sorted(tuple(r) for r in run_query(spark, sf_dir).collect())
            out["outcome"] = "completed"
            out["rows"] = len(got)
            out["row_parity"] = got == expected
        except Exception as ex:  # noqa: BLE001 — the control arm MUST fail
            out["outcome"] = "job_failed"
            head = str(ex).splitlines()
            out["error_head"] = " ".join(head[:2])[:300]
        out["killed_wall_sec"] = round(time.perf_counter() - t0, 1)
        killer.stop_evt.set()
        killer.join(timeout=5)
        out["kill_fired"] = killer.victim is not None
        out["victim_pid"] = killer.victim
        out["t_kill_sec"] = killer.t_kill
        out["truncations_at_kill"] = killer.truncations_at_kill
        out["jobs_active_at_kill"] = killer.jobs_active_at_kill
        out["executor_pids_at_kill"] = killer.pids_before
        out["executor_pids_after"] = _executor_pids(spark.sparkContext.applicationId)
        if killer.victim is not None:
            out["victim_dead"] = not os.path.exists(f"/proc/{killer.victim}")
    finally:
        spark.stop()
        os.environ.pop(tables.RELIABLE_CHECKPOINT_ENV, None)
        if ckpt_dir:
            import shutil

            shutil.rmtree(ckpt_dir, ignore_errors=True)
    return out


def main(argv: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    pos = [a for a in argv if not a.startswith("--")]
    if pos:
        sf_dir = pos[0]
    arm = "both"
    if "--arm" in argv:
        arm = argv[argv.index("--arm") + 1]
    master = DEFAULT_MASTER
    if "--master" in argv:
        master = argv[argv.index("--master") + 1]
    min_tr = DEFAULT_MIN_TRUNCATIONS
    if "--min-truncations" in argv:
        min_tr = int(argv[argv.index("--min-truncations") + 1])
    query = "dedup_clusters"
    if "--query" in argv:
        query = argv[argv.index("--query") + 1]
    arms = ["reliable", "local"] if arm == "both" else [arm]
    for a in arms:
        print(json.dumps(run_arm(a, sf_dir, master, min_tr, query)), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
