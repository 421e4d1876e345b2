"""Custom stateful streaming operator — applyInPandasWithState.

The reference's only cross-batch state is its PK-dedup set (SURVEY §2.8
T2); the engine's extension point for *arbitrary* state is
`applyInPandasWithState`: per-key state that survives micro-batches with
timeout-based eviction. Implemented here: a per-user running profile
(event count, value sum, first/last seen) updated incrementally — the
kind of online feature a training-data pipeline maintains next to the
corpus.

The update function is a self-contained closure (pickled by value, same
reasoning as multimodal.columns: executors may not have this package on
PYTHONPATH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from data_ingestion_system_spark.streaming.ingest import file_stream

PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("first_seen", TimestampType()),
        StructField("last_seen", TimestampType()),
    ]
)

STATE_SCHEMA = "n_events long, total_value double, first_seen timestamp, last_seen timestamp"


def make_profile_updater():
    """Closure: (key, batches, state) -> per-key profile rows after each
    micro-batch, folding the batch into persistent state."""

    def update(key, pdf_iter, state):
        import pandas as _pd

        n, total, first, last = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            lo, hi = pdf["ts"].min(), pdf["ts"].max()
            first = lo if first is None or lo < first else first
            last = hi if last is None or hi > last else last
        state.update((n, total, first, last))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "first_seen": [first],
                "last_seen": [last],
            }
        )

    return update


def user_profiles_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming per-user profile via applyInPandasWithState: every
    touched key re-emits its current profile each micro-batch (append
    operator mode — required by file sinks; the latest row per key is the
    live profile)."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        make_profile_updater(),
        outputStructType=PROFILE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_profile_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = 1,
):
    """Drain a file-source stream through the stateful profile operator;
    the parquet sink accumulates one profile row per (key, micro-batch)
    touch — the latest row per key is the live profile."""
    stream = file_stream(spark, source_dir, schema, max_files_per_trigger)
    profiles = user_profiles_stream(stream)
    query = (
        profiles.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
