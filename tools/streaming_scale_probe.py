#!/usr/bin/env python
"""Streaming throughput probe (VERDICT r6 ask #6): one scale datapoint
for the foreachBatch ingestion paths, run at a generated sfN dir.

Measures two surfaces:
  1. `run_file_ingestion` — exact-dedup INSERT-OR-IGNORE over events,
     N_BATCHES landing files drained with Trigger.AvailableNow; reports
     per-batch duration (from the audit table the operator itself
     writes), end-to-end rows/s, and the state-size trajectory (target
     rows + bytes after each batch — the anti-join's build side).
  2. `run_neardup_ingestion` — MinHash-LSH near-dup filtering over
     documents; reports per-batch fetched/dup counts, wall seconds, and
     the index state (bands + tokens bytes) growth.

Both report `jobs_per_batch`: the Spark jobs of each micro-batch, from
the status store (a stream runs its jobs under the job group of its
runId, each described with its batch id).

Usage:
    python tools/streaming_scale_probe.py /tmp/sf1.0
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from data_ingestion_system_spark.session import get_spark  # noqa: E402
from data_ingestion_system_spark.streaming.ingest import (  # noqa: E402
    IngestPaths,
    run_file_ingestion,
)
from data_ingestion_system_spark.streaming.neardup import (  # noqa: E402
    NearDupPaths,
    run_neardup_ingestion,
)
from data_ingestion_system_spark.tables import load_table  # noqa: E402

N_EVENT_BATCHES = 8
N_DOC_BATCHES = 5


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ) if os.path.isdir(path) else 0


def _jobs_per_batch(spark, query) -> list[int]:
    """Spark jobs each micro-batch of `query` ran, in batch order, read
    from the status store once the listener bus has caught up."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    per_batch: dict[int, int] = {}
    for job_id in sc.statusTracker().getJobIdsForGroup(str(query.runId)):
        desc = jsc.statusStore().job(job_id).description()
        m = re.search(r"batch = (\d+)", desc.get() if desc.isDefined() else "")
        if m:
            per_batch[int(m.group(1))] = per_batch.get(int(m.group(1)), 0) + 1
    return [per_batch[b] for b in sorted(per_batch)]


def _land(df, n_files: int, src: str) -> None:
    """Write `df` as `n_files` landing files, one micro-batch each under
    maxFilesPerTrigger=1. The file source drains oldest mtime first and
    parallel write tasks finish in any order (often in the same
    millisecond), so the mtimes are stamped in part-file order: without
    it the batch order, and with it the near-dup per-batch counts,
    change from run to run."""
    df.repartition(n_files).write.mode("overwrite").parquet(src)
    parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    t0 = time.time() - len(parts)
    for i, part in enumerate(parts):
        os.utime(part, (t0 + i, t0 + i))


def probe_event_ingestion(spark, sf_dir: str, root: str) -> dict:
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    src = os.path.join(root, "landing_events")
    _land(ev, N_EVENT_BATCHES, src)
    paths = IngestPaths(
        source_dir=src,
        target_dir=os.path.join(root, "ev_target"),
        provenance_dir=os.path.join(root, "ev_prov"),
        audit_dir=os.path.join(root, "ev_audit"),
        checkpoint_dir=os.path.join(root, "ev_ckpt"),
    )
    t0 = time.perf_counter()
    query = run_file_ingestion(spark, paths, ev.schema, key_col="event_id")
    wall = time.perf_counter() - t0
    audit = [
        r.asDict()
        for r in spark.read.parquet(paths.audit_dir).orderBy("batch_id").collect()
    ]
    return {
        "surface": "run_file_ingestion(events, exact dedup)",
        "rows": n,
        "batches": len(audit),
        "wall_sec": round(wall, 1),
        "rows_per_sec": round(n / wall),
        "per_batch_sec": [round(a["duration_seconds"], 2) for a in audit],
        "per_batch_inserted": [a["inserted"] for a in audit],
        "jobs_per_batch": _jobs_per_batch(spark, query),
        "target_bytes_final": _dir_bytes(paths.target_dir),
    }


def probe_neardup_ingestion(spark, sf_dir: str, root: str) -> dict:
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    src = os.path.join(root, "landing_docs")
    _land(docs, N_DOC_BATCHES, src)
    paths = NearDupPaths(
        source_dir=src,
        target_dir=os.path.join(root, "nd_target"),
        bands_dir=os.path.join(root, "nd_bands"),
        tokens_dir=os.path.join(root, "nd_tokens"),
        audit_dir=os.path.join(root, "nd_audit"),
        checkpoint_dir=os.path.join(root, "nd_ckpt"),
    )
    t0 = time.perf_counter()
    query = run_neardup_ingestion(spark, paths, docs.schema)
    wall = time.perf_counter() - t0
    audit = [
        r.asDict()
        for r in spark.read.parquet(paths.audit_dir).orderBy("batch_id").collect()
    ]
    inserted = sum(a["inserted"] for a in audit)
    return {
        "surface": "run_neardup_ingestion(documents, MinHash-LSH)",
        "rows": n,
        "batches": len(audit),
        "wall_sec": round(wall, 1),
        "docs_per_sec": round(n / wall),
        "per_batch": [
            {k: a[k] for k in ("batch_id", "fetched", "dup_vs_store", "dup_within_batch", "inserted")}
            for a in audit
        ],
        "per_batch_sec": [round(a["duration_seconds"], 2) for a in audit],
        "jobs_per_batch": _jobs_per_batch(spark, query),
        "inserted_total": inserted,
        "index_state_bytes": _dir_bytes(paths.bands_dir) + _dir_bytes(paths.tokens_dir),
    }


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="streaming-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="stream_probe_")
    try:
        out = {
            "sf_dir": sf_dir,
            "events": probe_event_ingestion(spark, sf_dir, root),
            "neardup": probe_neardup_ingestion(spark, sf_dir, root),
        }
        print(json.dumps(out, indent=1))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1.0")
