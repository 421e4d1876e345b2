"""Streaming reservoir sample: a uniform-without-replacement sample of
an unbounded stream, maintained incrementally.

The classic reservoir algorithm (Vitter 1985) kept per-item random
draws in driver memory; the distributed, replay-safe form used here is
priority sampling with a DETERMINISTIC key: every row's priority is
md5(seed‖key) (the repo's seeded-uniform convention, `det_rank_key`),
and the reservoir is simply the k smallest-priority rows seen so far.
Per batch: union the stored reservoir with the new rows, keep the
top-k by priority, overwrite. Because the priority is a pure function
of the row key, the reservoir after any prefix of the stream equals
the batch-mode top-k over that prefix — replays and retries converge
to the same sample instead of resampling (the property driver-side
`random()` reservoirs lose under at-least-once delivery).

Scale shape: per batch one union + TakeOrdered(k) — cost
O(batch + k·log k), state exactly k rows on disk, nothing on the
driver. The sample is uniform over all rows seen because md5
priorities are i.i.d. uniform across keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import det_rank_key
from data_ingestion_system_spark.streaming.ingest import drain_files
from data_ingestion_system_spark.tables import has_parquet

RESERVOIR_SEED = 17


def update_reservoir(
    spark: SparkSession,
    batch: DataFrame,
    reservoir_dir: str,
    key_col: str,
    k: int,
    seed: int = RESERVOIR_SEED,
) -> None:
    """Fold one batch into the k-row reservoir at `reservoir_dir`."""
    keyed = batch.withColumn("_prio", det_rank_key(F.col(key_col), seed=seed))
    if has_parquet(reservoir_dir):
        # eager checkpoint pins the union result before the overwrite of
        # the directory it was read from (self-read-write hazard)
        keyed = keyed.unionByName(spark.read.parquet(reservoir_dir))
    merged = (
        # key-dedup before the cut: a replayed batch re-delivers rows the
        # reservoir already holds, and duplicate copies would crowd out
        # legitimate members of the top-k (at-least-once delivery safety)
        keyed.dropDuplicates([key_col])
        .orderBy(F.asc("_prio"), F.asc(key_col))
        .limit(k)
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").parquet(reservoir_dir)


def run_stream_reservoir(
    spark: SparkSession,
    source_dir: str,
    schema,
    reservoir_dir: str,
    key_col: str,
    k: int,
    seed: int = RESERVOIR_SEED,
    max_files_per_trigger: int | None = 1,
):
    """Maintain the reservoir over a file stream (availableNow drain)."""

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_reservoir(spark, batch_df, reservoir_dir, key_col, k, seed)

    return drain_files(
        spark,
        source_dir,
        schema,
        reservoir_dir + "_ckpt",
        _on_batch,
        max_files_per_trigger,
    )
