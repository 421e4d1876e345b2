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

At scale the band-key join broadcasts the batch's (doc_id, band_key)
rows and streams the index past them, and the token read keeps only
candidate docs' shingles; accepted-state appends are partitioned by
batch via file layout. Nothing about the corpus ever sits in driver
memory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_ingestion_system_spark.dedup.minhash import (
    CLASSIC_ROWS,
    JACCARD_THRESHOLD,
    band_keys,
    candidate_pairs,
    shingle_set,
    signatures_from_sets,
    verified_pairs_from_sets,
)
from data_ingestion_system_spark.streaming.ingest import batch_committed, drain_files
from data_ingestion_system_spark.tables import has_parquet, local_rows_df


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
    operator's own audit instead of inferring it from totals).

    Row-local: each doc's shingle set and MinHash signature are computed
    on its own row (`shingle_set`, `signatures_from_sets`) on the output
    of `dropDuplicates("doc_id")`, whose exchange already hashes by
    doc_id, and the batch is checkpointed once. The counts come from one
    Observation on the survivors' checkpoint (no count jobs), and the
    index rows are the survivors' own arrays exploded (no semi-joins
    back onto the batch's index relations)."""
    import time as _time

    t0 = _time.perf_counter()
    if batch_committed(spark, paths.audit_dir, batch_id):
        return

    batch = signatures_from_sets(
        batch_df.dropDuplicates(["doc_id"])
        .withColumn("tset", shingle_set(F.split(F.col("text"), " ")))
        .withColumn("n", F.size("tset").cast("long"))
    ).localCheckpoint(eager=True)

    if has_parquet(paths.bands_dir):
        # exclude this batch's own partition: a replay of a mid-batch
        # crash would otherwise find the partial attempt's index rows in
        # the store and reject every doc as a near-dup of itself (then
        # overwrite the partition with nothing — silent data loss). The
        # filter is a pruned partition scan, not a data read.
        doc_id = batch.schema["doc_id"].dataType.simpleString()
        store_bands = (
            spark.read.schema(f"doc_id {doc_id}, band_key string, batch_id long")
            .parquet(paths.bands_dir)
            .filter(F.col("batch_id") != int(batch_id))
        )
        # every broadcast here is batch-sized (the batch's band keys,
        # its candidate store ids, the ids to drop): the store side
        # streams through without a shuffle, and joins onto the
        # checkpointed batch need no exchange on it
        cross = (
            F.broadcast(band_keys(batch, CLASSIC_ROWS)).alias("n")
            .join(store_bands.alias("s"), F.col("n.band_key") == F.col("s.band_key"))
            .select(
                F.col("s.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b")
            )
        )
        # exact Jaccard needs both sides' shingles: the batch's are on
        # its rows; of the store only the candidate docs' (semi-join —
        # the index, not the corpus, bounds what gets read) are
        # collapsed back into arrays
        store_sets = (
            spark.read.schema(f"doc_id {doc_id}, token string, batch_id long")
            .parquet(paths.tokens_dir)
            .filter(F.col("batch_id") != int(batch_id))
            .join(
                F.broadcast(cross.select(F.col("doc_a").alias("doc_id"))),
                "doc_id",
                "left_semi",
            )
            .groupBy("doc_id")
            .agg(
                F.array_sort(F.collect_list("token")).alias("tset"),
                F.count("*").alias("n"),
            )
        )
        flagged = batch.join(
            F.broadcast(
                _flag(
                    verified_pairs_from_sets(
                        store_sets, cross, threshold, n_docs=0, tsets_b=batch
                    ),
                    "dup_vs_store",
                )
            ),
            "doc_id",
            "left",
        )
    else:
        flagged = batch.withColumn("dup_vs_store", F.lit(None).cast("boolean"))

    remaining = flagged.filter(F.col("dup_vs_store").isNull())
    within = verified_pairs_from_sets(
        remaining,
        candidate_pairs(band_keys(remaining, CLASSIC_ROWS), n_docs=0),
        threshold,
        n_docs=0,
    )
    flagged = flagged.join(F.broadcast(_flag(within, "dup_within_batch")), "doc_id", "left")
    # the Observation sits in the checkpoint's result stage: a retried
    # map stage cannot count twice
    counts = Observation()
    survivors = (
        flagged.observe(
            counts,
            F.count(F.lit(1)).alias("fetched"),
            F.count("dup_vs_store").alias("dup_vs_store"),
            F.count("dup_within_batch").alias("dup_within_batch"),
        )
        .filter(F.col("dup_vs_store").isNull() & F.col("dup_within_batch").isNull())
        .localCheckpoint(eager=True)
    )
    c = counts.get

    # state writes go to per-batch partition dirs with OVERWRITE: a
    # replayed mid-batch crash replaces its own partial attempt instead
    # of appending a second copy (the audit marker below stays the
    # commit point — it is written LAST, plain append, one row)
    sub = f"batch_id={int(batch_id)}"
    survivors.select(*batch_df.columns).write.mode("overwrite").parquet(
        os.path.join(paths.target_dir, sub)
    )
    band_keys(survivors, CLASSIC_ROWS).write.mode("overwrite").parquet(
        os.path.join(paths.bands_dir, sub)
    )
    survivors.select("doc_id", F.explode("tset").alias("token")).write.mode(
        "overwrite"
    ).parquet(os.path.join(paths.tokens_dir, sub))
    audit = local_rows_df(
        spark,
        [
            (
                int(batch_id),
                c["fetched"],
                c["dup_vs_store"],
                c["dup_within_batch"],
                c["fetched"] - c["dup_vs_store"] - c["dup_within_batch"],
                round(_time.perf_counter() - t0, 3),
            )
        ],
        "batch_id long, fetched long, dup_vs_store long, dup_within_batch long,"
        " inserted long, duration_seconds double",
    )
    _append_audit(audit, paths.audit_dir)


def _flag(pairs: DataFrame, name: str) -> DataFrame:
    """The distinct doc_b ids of verified `pairs` — the docs to drop —
    with a true `name` column to left-join onto the batch."""
    return pairs.select(F.col("doc_b").alias("doc_id")).distinct().withColumn(
        name, F.lit(True)
    )


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
