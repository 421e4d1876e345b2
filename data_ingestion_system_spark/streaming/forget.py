"""Right-to-be-forgotten: key erasure that wins over time travel.

Deletion requests (GDPR Art. 17 and friends) are the one mutation an
append-only ingest store must support, and they must beat BOTH replay
paths: historical reads (`streaming/timetravel.py` snapshots must not
resurrect an erased key) and re-ingestion (the source re-delivering
the key later must not silently re-insert it). The standard lakehouse
recipe, implemented here:

  1. REWRITE — target and provenance are rewritten without the keys
     (physical erasure, not a filter view: the bytes must go away).
     Each rewrite uses the write-aside + two-rename swap
     (`sources/compact.py`'s invariant) so readers never observe a
     half-erased store.
  2. TOMBSTONE — the keys land in a suppression list. The list is the
     only place the key survives, which regulators permit precisely so
     the deletion can be ENFORCED going forward.
  3. SUPPRESS — `suppressed(batch)` anti-joins the list in front of
     any insert path, so re-delivered keys are dropped at the door.

Time travel needs no special case: snapshots derive from provenance
and target, and both were rewritten — `store_as_of` any batch simply
no longer contains the key.

Scale shape: erasure is one anti-join rewrite per store (at 100 TB,
run per partition / as a scheduled compaction variant rather than one
monolithic rewrite); suppression is a broadcast anti-join of a
tombstone list that stays small relative to the corpus.
"""

from __future__ import annotations

import os
import shutil
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.streaming.ingest import IngestPaths
from data_ingestion_system_spark.tables import has_parquet, local_rows_df

TOMBSTONES = "tombstones"


def _rewrite_without(
    spark: SparkSession, path: str, key_col: str, keys: DataFrame, partition_by: str | None
) -> int:
    """Anti-join rewrite of a parquet dir with the 2-rename swap.
    Returns rows removed."""
    if not has_parquet(path):
        return 0
    df = spark.read.parquet(path)
    kept = df.join(keys, key_col, "left_anti").localCheckpoint(eager=True)
    removed = df.count() - kept.count()
    tmp, bak = path.rstrip("/") + ".forget-tmp", path.rstrip("/") + ".forget-bak"
    shutil.rmtree(tmp, ignore_errors=True)
    writer = kept.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return removed


def tombstones_dir(paths: IngestPaths) -> str:
    return os.path.join(os.path.dirname(paths.target_dir.rstrip("/")), TOMBSTONES)


def forget_keys(
    spark: SparkSession, paths: IngestPaths, key_col: str, key_values: list
) -> dict:
    """Erase the keys from target + provenance and append them to the
    suppression list. Returns per-store removed-row counts."""
    keys = local_rows_df(spark, [(v,) for v in key_values], f"{key_col} long")
    removed_target = _rewrite_without(spark, paths.target_dir, key_col, keys, None)
    removed_prov = _rewrite_without(
        spark, paths.provenance_dir, key_col, keys, "batch_id"
    )
    keys.withColumn("forgotten_at", F.lit(_time.time())).write.mode("append").parquet(
        tombstones_dir(paths)
    )
    return {"target_rows_removed": removed_target, "provenance_rows_removed": removed_prov}


def suppressed(spark: SparkSession, paths: IngestPaths, batch: DataFrame, key_col: str) -> DataFrame:
    """The batch minus tombstoned keys — put in front of any insert path
    so a re-delivered forgotten key is dropped at the door."""
    tdir = tombstones_dir(paths)
    if not os.path.isdir(tdir):
        return batch
    stones = spark.read.parquet(tdir).select(key_col)
    return batch.join(F.broadcast(stones), key_col, "left_anti")
