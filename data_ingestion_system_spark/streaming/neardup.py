"""Incremental near-duplicate dedup ingestion — MinHash-LSH across batches.

The reference's pipeline dedups each batch against the stored corpus by
exact key (reference: src/ingestion/pipeline.py:201-216). A training-data
pipeline at 100 TB needs the *near*-dup version of the same loop: a new
document is rejected when it is a near-duplicate (Jaccard >= threshold)
of anything already accepted, not just byte-identical. This module runs
the dedup/minhash.py pipeline incrementally inside foreachBatch:

- state = two append-only parquet stores for ACCEPTED docs only:
  (doc_id, band_key) — the LSH index — and (doc_id, token) — shingle
  sets for exact Jaccard verification. Both are what a batch job would
  recompute from the corpus; keeping them incremental makes each batch
  cost O(batch x matched buckets), never O(corpus).
- per batch: drop near-dups of the stored corpus (band-key join against
  the index, exact Jaccard on candidates only), then near-dups within
  the batch (keep the smallest doc_id of each verified pair), then
  append survivors + their index rows + an audit row.
- replay-safe like ingest.dedup_insert_batch: the audit row is the
  commit marker — a replayed batch_id is skipped outright. Crash
  MID-batch (r9): state writes land in per-batch `batch_id=<n>`
  partition dirs with mode=overwrite, so a replay of a batch that died
  between its state writes and its audit marker OVERWRITES the partial
  attempt instead of appending a second copy, and the store reads
  exclude the in-flight batch's own leftover partition — no
  double-accept, no self-rejection. `accepted_docs` is the committed
  read view (target partitions whose audit marker exists).

At scale the band-key join shuffles only (doc_id, band_key) pairs and
the token join only candidate docs' shingles; accepted-state appends are
partitioned by batch via file layout. Nothing about the corpus ever
sits in driver memory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_ingestion_system_spark.dedup.minhash import (
    JACCARD_THRESHOLD,
    band_keys,
    candidate_pairs,
    minhash_signatures,
    token_sets,
    verified_pairs,
)
from data_ingestion_system_spark.streaming.ingest import batch_committed, drain_files
from data_ingestion_system_spark.tables import has_parquet


@dataclass
class NearDupPaths:
    source_dir: str      # landing files (document batches)
    target_dir: str      # accepted documents
    bands_dir: str       # LSH index of accepted docs: (doc_id, band_key)
    tokens_dir: str      # shingle sets of accepted docs: (doc_id, token)
    audit_dir: str       # one row per batch
    checkpoint_dir: str


def neardup_insert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    paths: NearDupPaths,
    threshold: float = JACCARD_THRESHOLD,
) -> None:
    """foreachBatch body: reject near-dups vs the accepted corpus, then
    within the batch (smallest doc_id of a verified pair wins), append
    survivors and their index state, record the audit row (with the
    batch's wall seconds, so scale probes read per-batch cost from the
    operator's own audit instead of inferring it from totals)."""
    import time as _time

    t0 = _time.perf_counter()
    if batch_committed(spark, paths.audit_dir, batch_id):
        return

    batch = batch_df.dropDuplicates(["doc_id"]).localCheckpoint(eager=True)
    fetched = batch.count()
    toks = token_sets(batch).localCheckpoint(eager=True)
    bands = band_keys(minhash_signatures(toks)).localCheckpoint(eager=True)

    if has_parquet(paths.bands_dir):
        # exclude this batch's own partition: a replay of a mid-batch
        # crash would otherwise find the partial attempt's index rows in
        # the store and reject every doc as a near-dup of itself (then
        # overwrite the partition with nothing — silent data loss). The
        # filter is a pruned partition scan, not a data read.
        store_bands = (
            spark.read.parquet(paths.bands_dir)
            .filter(F.col("batch_id") != int(batch_id))
            .select("doc_id", "band_key")
        )
        cross = (
            bands.alias("n")
            .join(store_bands.alias("s"), F.col("n.band_key") == F.col("s.band_key"))
            .select(
                F.col("s.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b")
            )
            .distinct()
        )
        # exact Jaccard needs both sides' shingles: batch tokens plus the
        # stored shingles of ONLY the candidate store docs (semi-join —
        # the index, not the corpus, bounds what gets read)
        store_toks = (
            spark.read.parquet(paths.tokens_dir)
            .filter(F.col("batch_id") != int(batch_id))
            .select("doc_id", "token")
            .join(
                cross.select(F.col("doc_a").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
        )
        # distinct: a re-delivered doc_id appears in BOTH sides of the
        # union with identical shingles; duplicates would double n_common
        dup_vs_store_ids = (
            verified_pairs(toks.unionByName(store_toks).distinct(), cross, threshold, n_docs=0)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        remaining = batch.join(dup_vs_store_ids, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
    else:
        remaining = batch
    after_store = remaining.count()

    rtoks = toks.join(remaining.select("doc_id"), "doc_id", "left_semi")
    rbands = bands.join(remaining.select("doc_id"), "doc_id", "left_semi")
    within = verified_pairs(rtoks, candidate_pairs(rbands, n_docs=0), threshold, n_docs=0)
    drop_ids = within.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = remaining.join(drop_ids, "doc_id", "left_anti").localCheckpoint(eager=True)
    inserted = survivors.count()

    # state writes go to per-batch partition dirs with OVERWRITE: a
    # replayed mid-batch crash replaces its own partial attempt instead
    # of appending a second copy (the audit marker below stays the
    # commit point — it is written LAST, plain append, one row)
    sub = f"batch_id={int(batch_id)}"
    survivors.write.mode("overwrite").parquet(os.path.join(paths.target_dir, sub))
    keep = survivors.select("doc_id")
    bands.join(keep, "doc_id", "left_semi").write.mode("overwrite").parquet(
        os.path.join(paths.bands_dir, sub)
    )
    toks.join(keep, "doc_id", "left_semi").write.mode("overwrite").parquet(
        os.path.join(paths.tokens_dir, sub)
    )
    audit = spark.createDataFrame(
        [
            (
                int(batch_id),
                fetched,
                fetched - after_store,
                after_store - inserted,
                inserted,
                round(_time.perf_counter() - t0, 3),
            )
        ],
        "batch_id long, fetched long, dup_vs_store long, dup_within_batch long,"
        " inserted long, duration_seconds double",
    )
    _append_audit(audit, paths.audit_dir)


def _append_audit(audit: DataFrame, audit_dir: str) -> None:
    """The commit point of a batch — kept as a seam so the chaos test
    can inject a crash BETWEEN the state writes and the marker."""
    audit.write.mode("append").parquet(audit_dir)


def accepted_docs(
    spark: SparkSession,
    paths: NearDupPaths,
    schema: StructType | None = None,
) -> DataFrame:
    """Committed read view of the accepted corpus: target partitions
    whose audit commit marker exists. After a mid-batch crash the target
    dir can hold one uncommitted `batch_id=<n>` partition (the audit row
    is written last); resuming the stream overwrites it, but a reader
    that runs BEFORE the resume must not see it. The audit is one row
    per batch — the semi-join broadcasts.

    A fresh deployment (or a crash before batch 0's first target write)
    has no target files at all: with ``schema`` given this returns the
    empty committed view; without it there is nothing to infer a schema
    from, so it raises a clear ValueError instead of Spark's
    PATH_NOT_FOUND."""
    if not has_parquet(paths.target_dir):
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise ValueError(
            f"near-dup target {paths.target_dir} has no committed state yet; "
            "pass schema= for an empty committed view"
        )
    target = spark.read.parquet(paths.target_dir)
    if not has_parquet(paths.audit_dir):
        return target.limit(0).drop("batch_id")
    committed = spark.read.parquet(paths.audit_dir).select("batch_id")
    return (
        target.withColumn("batch_id", F.col("batch_id").cast("long"))
        .join(F.broadcast(committed), "batch_id", "left_semi")
        .drop("batch_id")
    )


def run_neardup_ingestion(
    spark: SparkSession,
    paths: NearDupPaths,
    schema: StructType,
    threshold: float = JACCARD_THRESHOLD,
    max_files_per_trigger: int | None = 1,
):
    """Drain pending document files through the incremental near-dup
    filter (Trigger.AvailableNow, one landing file per micro-batch by
    default — the reference's --once drain loop shape)."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        neardup_insert_batch(spark, batch_df, batch_id, paths, threshold)

    return drain_files(
        spark,
        paths.source_dir,
        schema,
        paths.checkpoint_dir,
        _batch,
        max_files_per_trigger,
    )
