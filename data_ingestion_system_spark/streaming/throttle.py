"""Throttled + retrying ingestion — SURVEY.md §2.8 T9.

The reference paces its API scraper with a min-interval rate limiter
(reference: src/scraper/rate_limiter.py:15-75 `RateLimiter.wait`) and
retries transient failures with capped exponential backoff
(rate_limiter.py:78-137 `ExponentialBackoff`). In the file-source world
the volume ceiling is `max_files_per_trigger` (files per batch); this
module adds the two reference behaviors Spark does not provide:

- a minimum wall-clock interval between batch *starts* (the
  `RateLimiter.wait` analog: sleep only for the remainder if work
  already consumed part of the interval), and
- a bounded retry loop around the batch body with base·2^attempt capped
  backoff (the `ExponentialBackoff.wait` analog, deterministic — no
  jitter, so tests and replays are reproducible), re-raising once
  `max_retries` is exhausted.

Both run in the driver's foreachBatch callback — they pace job
*submission*, never executors, so the throttle adds zero distributed
overhead at any scale.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from data_ingestion_system_spark.streaming.ingest import (
    IngestPaths,
    dedup_insert_batch,
    drain_files,
)


@dataclass
class ThrottleConfig:
    """Pacing + retry policy (defaults mirror rate_limiter.py constants)."""

    min_batch_interval_s: float = 0.0  # min time between batch starts
    base_delay_s: float = 2.0          # first retry delay
    max_delay_s: float = 30.0          # backoff cap
    max_retries: int = 3               # attempts after the first failure


NON_RETRYABLE = (ValueError, TypeError, KeyError, AttributeError)


def with_backoff(fn: Callable[[], None], cfg: ThrottleConfig) -> int:
    """Run `fn`, retrying transient failures with capped exponential
    backoff. Returns the number of retries used; re-raises the last
    error when the budget is exhausted (ExponentialBackoff.wait
    returning False).

    Deterministic logic/config errors (NON_RETRYABLE — e.g. the
    ingest fail-fast ValueError for rules without a quarantine dir)
    re-raise immediately: burning the backoff schedule on a failure
    that cannot heal masks the fail-fast intent and delays the stream's
    real error by the whole retry budget."""
    attempt = 0
    while True:
        try:
            fn()
            return attempt
        except NON_RETRYABLE:
            raise
        except Exception:
            if attempt >= cfg.max_retries:
                raise
            delay = min(cfg.base_delay_s * (2**attempt), cfg.max_delay_s)
            time.sleep(delay)
            attempt += 1


def run_throttled_ingestion(
    spark: SparkSession,
    paths: IngestPaths,
    schema: StructType,
    key_col: str,
    throttle: ThrottleConfig | None = None,
    max_files_per_trigger: int | None = 1,
    on_batch: Callable[[DataFrame, int], None] | None = None,
):
    """`run_file_ingestion` with T9 pacing: per-trigger file ceiling,
    min inter-batch interval, and backoff-retried batch bodies.

    `on_batch` overrides the batch body (used for fault injection in
    tests); the default is the replay-safe `dedup_insert_batch`.
    """
    cfg = throttle or ThrottleConfig()
    last_start = [0.0]

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        elapsed = time.monotonic() - last_start[0]
        if last_start[0] and elapsed < cfg.min_batch_interval_s:
            time.sleep(cfg.min_batch_interval_s - elapsed)
        last_start[0] = time.monotonic()
        body = on_batch or (
            lambda df, bid: dedup_insert_batch(spark, df, bid, key_col, paths)
        )
        with_backoff(lambda: body(batch_df, batch_id), cfg)

    return drain_files(
        spark,
        paths.source_dir,
        schema,
        paths.checkpoint_dir,
        _batch,
        max_files_per_trigger,
    )
