"""Structured-Streaming ingestion — SURVEY.md §2.8 (T1–T5, T8) + §2.1 S8–S10.

The reference hand-rolls micro-batch streaming: a sleep-loop scheduler
(reference: src/ingestion/scheduler.py:53-100), per-batch dedup against
the whole stored PK set (src/ingestion/pipeline.py:201-216), INSERT OR
IGNORE sinks (src/database/db_manager.py:141-230), a run-audit row per
batch (db_manager.py:266-314), and provenance rows
(db_manager.py:488-506). Spark-first equivalents:

- scheduler      → `drain_files`: `trigger(processingTime=...)` /
                   `Trigger.AvailableNow` (the one drain loop every
                   file-source foreachBatch runner shares)
- checkpoints    → `checkpointLocation` (exactly-once source progress,
                   replacing file_storage.py:209-229 manual checkpoints)
- dedup sink     → per-batch anti-join against the target on the key
                   (INSERT OR IGNORE ≡ WHEN NOT MATCHED INSERT)
- audit + provenance → writes inside the same foreachBatch
- graceful stop  → `query.stop()` (scheduler.py:121-133 SIGINT path)

Scale: the anti-join reads only the key column of the target (column
pruning); with a Delta/Iceberg target this becomes MERGE with file-level
pruning. State never lives in driver memory, unlike the reference's
Python id-set.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_ingestion_system_spark.tables import has_parquet, local_rows_df


@dataclass
class IngestPaths:
    source_dir: str      # landing files (the "scraper output")
    target_dir: str      # deduplicated store (reviews table equivalent)
    audit_dir: str       # scrape_runs equivalent, one row per batch
    provenance_dir: str  # review_scrape_log equivalent (key, batch_id)
    checkpoint_dir: str
    alerts_dir: str | None = None  # ingestion_metrics alerts (T5/T6)
    quarantine_dir: str | None = None  # CHECK-rule violators (+ reasons)


# the audit row both the writer and the pinned-schema readers use
AUDIT_SCHEMA = (
    "batch_id long, fetched long, inserted long, skipped long,"
    " quarantined long, dedup_rate double, status string,"
    " duration_seconds double"
)

# thresholds mirroring monitor.py:72-78
DEDUP_RATE_ALERT = 0.995
INSERT_DROP_FACTOR = 0.5
DURATION_SPIKE_FACTOR = 2.0


def evaluate_batch_health(
    spark: SparkSession,
    paths: IngestPaths,
    batch_id: int,
    inserted: int,
    dedup_rate: float,
    duration_seconds: float,
) -> None:
    """Pre-commit health evaluation (T5, monitor.evaluate_run
    monitor.py:96-121): compare THIS batch's metrics (passed in — the
    audit row is not written yet) against the previous ≤5 batches'
    audit rows; the same three rules as
    operators.monitoring.anomaly_flags, evaluated incrementally at
    ingest time.

    Runs BEFORE the audit commit marker and writes alerts into a
    per-batch partition with dynamic overwrite, so the alert is part of
    the batch's replay-idempotent pre-marker writes: a crash between
    alerts and the audit append replays the batch and overwrites the
    same partition (previously alerts were appended AFTER the marker —
    a crash in between lost them forever, since replay short-circuits
    on the existing audit row). The baseline read is a 5-row
    TakeOrdered over the one-row-per-batch audit — one job, metadata
    scale — not a full-history single-partition window sort; a healthy
    batch writes NOTHING (no empty-file accretion in alerts_dir).

    The baseline is the newest 5 audit rows, with no `batch_id < N`
    filter: this runs before batch N's marker is written, and
    `batch_committed` has just found no marker at or after N, so every
    audit row is an earlier batch's. Without the filter the plan holds
    no batch number, and every batch reuses the classes the first one
    compiled."""
    avg_inserted5 = avg_duration5 = None
    if has_parquet(paths.audit_dir):
        prev = (
            spark.read.schema(AUDIT_SCHEMA)
            .parquet(paths.audit_dir)
            .orderBy(F.col("batch_id").desc())
            .limit(5)
            .select("inserted", "duration_seconds")
            .collect()  # ≤ 5 rows — metadata scale
        )
        avg_inserted5 = _mean([r.inserted for r in prev])
        avg_duration5 = _mean([r.duration_seconds for r in prev])
    alerts = []
    if dedup_rate > DEDUP_RATE_ALERT:
        alerts.append("dedup_rate_ceiling")
    if avg_inserted5 is not None and inserted < INSERT_DROP_FACTOR * avg_inserted5:
        alerts.append("insert_drop")
    if avg_duration5 is not None and duration_seconds > DURATION_SPIKE_FACTOR * avg_duration5:
        alerts.append("duration_spike")
    if alerts:
        local_rows_df(
            spark, [(int(batch_id), a) for a in alerts], "batch_id long, alert string"
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(paths.alerts_dir)
    else:
        # replay must fully SUPERSEDE a crashed attempt: dynamic
        # partition overwrite only replaces partitions PRESENT in the
        # written data, so when the replay computes no alerts (e.g. a
        # nondeterministic duration_spike fired pre-crash) the stale
        # partition would survive and be committed by the audit marker
        # as if real (ADVICE r9). Healthy evaluation = no partition.
        stale = os.path.join(paths.alerts_dir, f"batch_id={int(batch_id)}")
        if os.path.isdir(stale):
            shutil.rmtree(stale)


def _mean(values: list) -> float | None:
    """SQL AVG over a driver-held column: nulls ignored, None when empty."""
    vals = [float(v) for v in values if v is not None]
    return sum(vals) / len(vals) if vals else None


def file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """The parquet files landing in `source_dir` as a stream, at most
    `max_files_per_trigger` files per micro-batch (None = all pending)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def drain_files(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | str,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None],
    max_files_per_trigger: int | None = 1,
    processing_time: str | None = None,
    await_seconds: float | None = None,
):
    """The one drain behind every file-source foreachBatch runner: hand
    each micro-batch of `file_stream` to `on_batch(batch_df, batch_id)`,
    with source progress checkpointed in `checkpoint_dir`.

    `processing_time=None` → Trigger.AvailableNow: drain everything
    pending and stop — the reference's `--once` mode (scheduler.py:65-86).
    A processing-time trigger reproduces the 4-hour cadence
    (settings.py:125) without a sleep loop. With `await_seconds` the
    query runs that long and is then stopped (graceful shutdown, T8);
    without it the call returns when the query ends.
    """
    trigger = (
        {"availableNow": True}
        if processing_time is None
        else {"processingTime": processing_time}
    )
    query = (
        file_stream(spark, source_dir, schema, max_files_per_trigger)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
    if await_seconds is not None:
        query.awaitTermination(await_seconds)
        query.stop()
    else:
        query.awaitTermination()
    return query


def batch_committed(spark: SparkSession, audit_dir: str, batch_id: int) -> bool:
    """Whether `batch_id`'s audit row — the commit marker both write
    paths append LAST — exists, i.e. the batch is a replay to skip.

    Asked as "is the newest marker at or after `batch_id`", which has
    the same answer: a stream runs its batches in id order, batch N only
    after batch N-1 has returned, and every batch that returns has
    written its marker, so the markers are the ids 0..M of the batches
    done and one at or after N exists exactly when N's does. The plan
    holds no batch number (a `batch_id == N` filter compiled two new
    classes every batch). One job: the `batch_id` column read with its
    type pinned (no footer inference) and its top row taken by
    TakeOrdered (no plain limit, whose partition scale-up can take
    several jobs)."""
    if not has_parquet(audit_dir):
        return False
    newest = (
        spark.read.schema("batch_id long")
        .parquet(audit_dir)
        .orderBy(F.col("batch_id").desc())
        .limit(1)
        .collect()
    )
    return bool(newest) and newest[0].batch_id >= int(batch_id)


def dedup_insert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    key_col: str,
    paths: IngestPaths,
    rules: list | None = None,
) -> None:
    """The foreachBatch body: INSERT-OR-IGNORE semantics + audit trail.

    Mirrors pipeline.run (pipeline.py:82-159): dedup within batch, dedup
    against store, append survivors, record run + provenance. Counts are
    observed (`Observation`) on the target and provenance writes, not
    computed by count jobs or driver loops.

    With ``rules`` (operators/integrity.Rule list — the CHECK-constraint
    gate the reference's schema enforces per-row, schema.sql:58,89-90,
    293-299), violators are diverted to ``paths.quarantine_dir`` with a
    `_violations` reasons column before dedup, written partitioned by
    batch_id with dynamic overwrite (replay-idempotent, like
    provenance), and counted in the audit record:
    fetched = inserted + skipped + quarantined.

    The `batch_id` partition value of those two writes is a string
    literal: Spark passes a string literal to its generated code by
    reference, but inlines a long one, which made every batch compile
    its own copy of the writes' classes. The partition directory is
    `batch_id=<n>` either way, and readers infer the same type from it.

    Replay-safe: the audit row is the commit marker — a replayed batch
    whose audit row already exists is skipped outright, and provenance is
    written as a dynamic overwrite of this batch's partition, so a crash
    between the provenance and audit writes cannot double-log keys. (A
    crash between the target append and the audit write replays with
    inserted=0/skipped=fetched — honest INSERT-OR-IGNORE accounting; the
    target itself stays exact via the anti-join.)
    """
    import time as _time

    t0 = _time.perf_counter()
    if rules and paths.quarantine_dir is None:
        # without a quarantine dir the violators would be dropped on the
        # floor while the audit claims they were diverted — fail fast
        raise ValueError(
            "dedup_insert_batch: rules= requires paths.quarantine_dir "
            "(CHECK violators are diverted, never destroyed)"
        )
    if batch_committed(spark, paths.audit_dir, batch_id):
        return

    # the checkpoint feeds the quarantine, target and provenance writes
    batch_df = batch_df.dropDuplicates([key_col]).localCheckpoint(eager=True)
    # provenance logs EVERY fetched key — including ones the CHECK gate
    # quarantines below — so the fetched/inserted/skipped/quarantined
    # audit counts reconcile against the provenance log exactly. The
    # `quarantined` flag keeps first-INSERT semantics recoverable:
    # timetravel's MIN(batch_id)-per-key must run over flag=false rows
    # only, or a key quarantined in batch Q and inserted in batch I > Q
    # would backdate snapshots to Q.
    prov_df = batch_df.select(F.col(key_col), F.lit(False).alias("quarantined"))

    if rules:
        from data_ingestion_system_spark.operators.integrity import validate

        valid_df, quar_df = validate(batch_df, rules)
        quar_df.withColumn("batch_id", F.lit(str(int(batch_id)))).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy("batch_id").parquet(
            paths.quarantine_dir
        )
        batch_df = valid_df
        prov_df = valid_df.select(
            F.col(key_col), F.lit(False).alias("quarantined")
        ).unionByName(
            quar_df.select(F.col(key_col), F.lit(True).alias("quarantined"))
        )

    if has_parquet(paths.target_dir):
        key_type = batch_df.schema[key_col].dataType.simpleString()
        existing_keys = spark.read.schema(f"{key_col} {key_type}").parquet(paths.target_dir)
        # eager localCheckpoint pins the anti-join result: the lineage must
        # not recompute by re-reading target_dir mid-append (self-read-write)
        new_rows = batch_df.join(existing_keys, key_col, "left_anti").localCheckpoint(
            eager=True
        )
    else:
        new_rows = batch_df

    # counts are observed on the writes, in their result stages: no
    # count jobs, and a retried map stage cannot count twice
    inserted_obs, fetched_obs = Observation(), Observation()
    new_rows.observe(inserted_obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).parquet(paths.target_dir)
    # provenance: every fetched key is logged for this run, including skips
    # (review_scrape_log records re-fetches too, db_manager.py:488-506);
    # partitioned by batch_id + dynamic overwrite → idempotent under replay
    prov_df.observe(
        fetched_obs,
        F.count(F.lit(1)).alias("fetched"),
        F.count_if(F.col("quarantined")).alias("quarantined"),
    ).withColumn("batch_id", F.lit(str(int(batch_id)))).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(paths.provenance_dir)
    inserted = inserted_obs.get["n"]
    fetched, quarantined = fetched_obs.get["fetched"], fetched_obs.get["quarantined"]
    skipped = fetched - quarantined - inserted
    status = "completed" if fetched else "empty"
    dedup_rate = float(skipped) / fetched if fetched else 0.0
    duration = _time.perf_counter() - t0
    # health alerts are pre-marker writes (dynamic overwrite of this
    # batch's partition): crash-before-marker replays recompute them,
    # and the marker below commits batch state AND alerts together
    if paths.alerts_dir is not None:
        evaluate_batch_health(
            spark, paths, int(batch_id), inserted, dedup_rate, duration
        )
    local_rows_df(
        spark,
        [(int(batch_id), fetched, inserted, skipped, quarantined,
          dedup_rate, status, duration)],
        AUDIT_SCHEMA,
    ).write.mode("append").parquet(paths.audit_dir)


def run_file_ingestion(
    spark: SparkSession,
    paths: IngestPaths,
    schema: StructType,
    key_col: str,
    max_files_per_trigger: int | None = 1,
    processing_time: str | None = None,
    await_seconds: float | None = None,
    rules: list | None = None,
):
    """Continuous (or one-shot) file-source ingestion: `drain_files` with
    the replay-safe `dedup_insert_batch` as the batch body."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_insert_batch(spark, batch_df, batch_id, key_col, paths, rules=rules)

    return drain_files(
        spark,
        paths.source_dir,
        schema,
        paths.checkpoint_dir,
        _batch,
        max_files_per_trigger,
        processing_time,
        await_seconds,
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Event-time windowed aggregation with a watermark — the streaming
    twin of A2 daily stats. Late rows beyond `watermark_delay` are
    dropped and their state reclaimed (the reference has no late-data
    story at all; dedup-by-key was its only defense, SURVEY §2.8)."""
    return (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_dedup_within_watermark(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str,
    ts_col: str = "ts",
    watermark_delay: str = "1 day",
):
    """Pure-streaming dedup alternative to the foreachBatch anti-join:
    `dropDuplicatesWithinWatermark` keys state on `key_col` and reclaims
    it once the watermark passes — bounded state for unbounded streams
    (SURVEY §7.4.5). Semantic difference vs INSERT-OR-IGNORE: duplicates
    arriving later than `watermark_delay` after the first sighting are
    NOT suppressed; the MERGE path has no such horizon. Use this when the
    re-delivery window is bounded (the reference's 4-hourly re-fetch is)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    deduped = stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        [key_col]
    )
    query = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_windowed_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    window_duration: str = "1 hour",
):
    """Drain a file-source stream through the watermarked window agg into
    a parquet sink (append mode → only finalized windows emit)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    agg = windowed_event_counts(stream, window_duration)
    query = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def sessionized_event_counts(
    events_stream: DataFrame,
    gap_duration: str = "30 minutes",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming session windows — the native `F.session_window` twin of
    operators/temporal.sessionization (batch gap-based sessions). State
    per (user, open session) merges rows while gaps stay under
    `gap_duration`; the watermark closes sessions and reclaims state, so
    memory is bounded by *open* sessions, not history — the property
    that matters on an unbounded 100-TB stream."""
    return (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy(
            F.session_window("ts", gap_duration).alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def run_session_window_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    gap_duration: str = "30 minutes",
):
    """Drain a file-source stream through the session-window agg into a
    parquet sink (append mode -> only watermark-closed sessions emit)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    agg = sessionized_event_counts(stream, gap_duration)
    query = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_api_ingestion(
    spark: SparkSession,
    paths: IngestPaths,
    key_col: str = "review_id",
    apps: int = 4,
    page_size: int = 50,
    max_pages_per_batch: int = 2,
    await_seconds: float = 120.0,
):
    """One scrape cycle: the paginated-API Python Data Source feeding the
    same idempotent-insert foreachBatch as file ingestion.

    This is the reference's main loop end-to-end (main.py: fetch pages →
    INSERT OR IGNORE → run audit) with Spark owning every moving part:
    the continuation token is the stream reader's checkpointed offset
    (sources/paginated.py), the page fetch fans out across executors,
    and the dedup/audit/provenance protocol is dedup_insert_batch
    unchanged — the sink cannot tell an API batch from a file batch.
    Trigger-once = one cycle of the reference's 4-hour scheduler; rerun
    with the same checkpoint_dir to continue at the committed cursor.
    """
    from data_ingestion_system_spark.sources import paginated

    paginated.register(spark)
    stream = (
        spark.readStream.format("paginated_reviews")
        .option("apps", apps)
        .option("page_size", page_size)
        .option("max_pages_per_batch", max_pages_per_batch)
        .load()
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_insert_batch(spark, batch_df, batch_id, key_col, paths)

    query = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", paths.checkpoint_dir)
        .trigger(once=True)
        .start()
    )
    if not query.awaitTermination(await_seconds):
        # timeout: stop before returning, else the caller reads
        # target/audit dirs while foreachBatch is still appending
        query.stop()
    return query
