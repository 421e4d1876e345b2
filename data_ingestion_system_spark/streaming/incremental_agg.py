"""Incremental materialized aggregate — per-batch partials + rollup read.

The reference recomputes `v_daily_stats` from the full store on every
read (reference: src/database/schema.sql:251-261, a plain view); at
100 TB a dashboard cannot re-scan the corpus per refresh. The standard
incremental-view recipe, replay-safe without a transaction log:

* MAINTAIN — each micro-batch writes its own PARTIAL aggregate
  (day, n, sum, min, max) to a partition keyed by batch_id, with
  dynamic partition overwrite. A replayed batch overwrites its own
  partition with identical content instead of double-counting —
  idempotence comes from the partition layout, not a dedup pass.
* READ — the view is a rollup over the partials: SUM of counts/sums,
  MIN of mins, MAX of maxes. Partials are days×batches rows, so the
  read costs metadata-scale I/O regardless of corpus size.

COUNT/SUM/MIN/MAX (and anything algebraic: mean = sum/n) merge this
way; non-algebraic measures (exact distinct, exact percentiles) need
the sketch twins (`approx_distinct_users`, sketch-refine) — the same
split every incremental-view engine makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.streaming.ingest import drain_files


def write_partial(batch: DataFrame, batch_id: int, ts_col: str, val_col: str, partials_dir: str) -> None:
    """Append this batch's per-day partial aggregate, overwriting only
    its own batch partition (replay-safe)."""
    (
        batch.groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(val_col).alias("sum_v"),
            F.min(val_col).alias("min_v"),
            F.max(val_col).alias("max_v"),
        )
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(partials_dir)
    )


def read_view(spark: SparkSession, partials_dir: str) -> DataFrame:
    """The materialized daily view: merge the partials (algebraic
    rollup — never touches raw rows)."""
    p = spark.read.parquet(partials_dir)
    return (
        p.groupBy("day")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            (F.sum("sum_v") / F.sum("n")).alias("avg_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .orderBy("day")
    )


def run_incremental_daily_stats(
    spark: SparkSession,
    source_dir: str,
    schema,
    partials_dir: str,
    ts_col: str = "ts",
    val_col: str = "value",
    max_files_per_trigger: int | None = 1,
):
    """Maintain the view over a file stream (availableNow drain)."""

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_partial(batch_df, batch_id, ts_col, val_col, partials_dir)

    return drain_files(
        spark,
        source_dir,
        schema,
        partials_dir + "_ckpt",
        _on_batch,
        max_files_per_trigger,
    )
