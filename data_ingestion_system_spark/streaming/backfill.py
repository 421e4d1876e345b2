"""Audit backfill — SURVEY.md §2.8 T7.

The reference reconstructs RunResult rows for historical runs that are
missing metrics (reference: src/ingestion/monitor.py:510-611): find runs
without a metrics row (anti-join, :520-532), then rebuild counts from the
provenance junction (:558-565). Same shape here: the provenance log is
the source of truth; a key was *inserted* by the earliest batch that
fetched it CLEAN (quarantined fetches never reach the target — the
MIN(batch_id) must run over quarantined=false rows only, the same
invariant timetravel.py enforces), so every batch's
fetched/inserted/skipped/quarantined is derivable after the fact — one
groupBy over provenance, no replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.streaming.ingest import IngestPaths
from data_ingestion_system_spark.tables import has_parquet


def reconstruct_audit(spark: SparkSession, paths: IngestPaths, key_col: str) -> DataFrame:
    """Recompute per-batch audit rows purely from provenance.

    Emits the FULL live audit schema (ingest.py's 8 columns, including
    `quarantined`) so backfilled files never create a mixed-schema
    parquet dir — a later read with mergeSchema off takes the footer of
    an arbitrary file, and a 7-column backfilled footer would silently
    drop `quarantined` from every audit read."""
    prov = spark.read.parquet(paths.provenance_dir)
    clean = prov.filter(~F.col("quarantined"))
    first_batch = clean.groupBy(key_col).agg(F.min("batch_id").alias("first_batch"))
    per_batch = prov.groupBy("batch_id").agg(
        F.count("*").alias("fetched"),
        F.sum(F.col("quarantined").cast("long")).alias("quarantined"),
    )
    inserted = first_batch.groupBy(F.col("first_batch").alias("batch_id")).agg(
        F.count("*").alias("inserted")
    )
    return (
        per_batch.join(inserted, "batch_id", "left")
        .select(
            F.col("batch_id").cast("long").alias("batch_id"),
            "fetched",
            F.coalesce("inserted", F.lit(0)).alias("inserted"),
            # live accounting: fetched = inserted + skipped + quarantined
            (
                F.col("fetched")
                - F.col("quarantined")
                - F.coalesce("inserted", F.lit(0))
            ).alias("skipped"),
            "quarantined",
            F.when(
                F.col("fetched") > 0,
                (
                    F.col("fetched")
                    - F.col("quarantined")
                    - F.coalesce("inserted", F.lit(0))
                )
                / F.col("fetched").cast("double"),
            )
            .otherwise(0.0)
            .alias("dedup_rate"),
            F.lit("backfilled").alias("status"),
            # duration is unrecoverable from provenance, but the column must
            # exist so backfilled files match the live audit schema exactly —
            # a mixed-schema parquet dir would let a later read silently drop
            # duration_seconds (footer-of-first-file wins with mergeSchema off)
            F.lit(None).cast("double").alias("duration_seconds"),
        )
    )


def backfill_missing_audit(spark: SparkSession, paths: IngestPaths, key_col: str) -> int:
    """Append reconstructed audit rows for batches present in provenance
    but absent from the audit table (the J5 anti-join). Returns the
    number of backfilled batches. An absent/empty audit dir — the
    total-loss scenario this tool exists to repair — means every
    provenance batch is missing."""
    reconstructed = reconstruct_audit(spark, paths, key_col)
    if has_parquet(paths.audit_dir):
        audit = spark.read.parquet(paths.audit_dir)
        missing = reconstructed.join(audit.select("batch_id"), "batch_id", "left_anti")
    else:
        missing = reconstructed
    n = missing.count()
    if n:
        missing.write.mode("append").parquet(paths.audit_dir)
    return n
