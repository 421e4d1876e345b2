"""Interactive labeling-session driver — the reference's one entry point
with no engine counterpart until now (src/labeling/session.py:61-185).

The reference runs an OLTP loop: fetch a queue batch, display each
review, collect sentiment/confidence/notes (or skip / quit), mutate
`label_queue` rows in place, insert labels, and close with a session
summary. The engine replays the same protocol over the append-only
event-log state machine (operators/statemachine.py): every transition is
a parquet append to `queue_events`; labels and session summaries are
appends too. Per-item appends mirror the reference's per-item commits
(crash = at most one un-audited label); on a lakehouse table the same
appends become ACID commits.

Commands are read from an iterator (stdin lines in the CLI), so a piped
session is byte-reproducible — the golden test drives the reference
walkthrough end-to-end through `python -m data_ingestion_system_spark.cli
label-session`.

Command grammar, one per review:
    <sentiment> [confidence] [notes...]   label it (confidence default high)
    skip                                  mark skipped
    quit                                  release the rest, end session
"""

from __future__ import annotations

import os
import time
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.operators.statemachine import current_state, next_batch
from data_ingestion_system_spark.tables import has_parquet, local_rows_df

SENTIMENTS = {"very_negative", "negative", "neutral", "positive", "very_positive"}
CONFIDENCES = {"high", "medium", "low"}

_EVENT_SCHEMA = (
    "queue_id long, review_id string, priority_tier int, status string,"
    " actor_id string, event_ts timestamp, seq long"
)
_LABEL_SCHEMA = (
    "review_id string, annotator string, sentiment string, confidence string,"
    " notes string, created_seq long"
)
_SESSION_SCHEMA = (
    "session_id long, annotator string, labels_created long, labels_skipped long,"
    " avg_label_seconds double, status string"
)


class LabelingStore:
    """Parquet-dir layout for queue events, labels, and session rows."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.events_dir = os.path.join(workdir, "queue_events")
        self.labels_dir = os.path.join(workdir, "labels")
        self.sessions_dir = os.path.join(workdir, "sessions")

    def events(self) -> DataFrame:
        return self.spark.read.parquet(self.events_dir)

    def labels(self) -> DataFrame | None:
        return self.spark.read.parquet(self.labels_dir) if has_parquet(self.labels_dir) else None

    def append_events(self, rows: list[tuple]) -> None:
        local_rows_df(self.spark, rows, _EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.events_dir)

    def append_label(self, row: tuple) -> None:
        local_rows_df(self.spark, [row], _LABEL_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.labels_dir)

    def append_session(self, row: tuple) -> None:
        local_rows_df(self.spark, [row], _SESSION_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.sessions_dir)

    def next_seq(self) -> int:
        if not has_parquet(self.events_dir):
            return 1
        return (self.events().agg(F.max("seq")).first()[0] or 0) + 1

    def next_session_id(self) -> int:
        if not has_parquet(self.sessions_dir):
            return 1
        return (
            self.spark.read.parquet(self.sessions_dir).agg(F.max("session_id")).first()[0]
            or 0
        ) + 1


def populate_queue(
    spark: SparkSession,
    reviews: DataFrame,
    workdir: str,
    quotas: dict[int, int],
) -> int:
    """Seed pending queue events with the reference's tier strategy
    (sampler.py:109-143): T1 long negative, T2 long positive, T3 neutral,
    T4 short non-empty; per-tier quota, longest-first within tier."""
    store = LabelingStore(spark, workdir)
    length = F.length("content")
    tier = (
        F.when((F.col("rating") <= 2) & (length >= 200), 1)
        .when((F.col("rating") >= 4) & (length >= 200), 2)
        .when(F.col("rating") == 3, 3)
        .when((length >= 1) & (length < 200), 4)  # short NON-EMPTY: 1 char counts
    )
    from pyspark.sql import Window

    candidates = reviews
    if has_parquet(store.events_dir):
        # the reference builds an exclusion set (queued ∪ labeled ids,
        # sampler.py:204-222) before inserting — re-running populate
        # must not enqueue a second queue_id for the same review
        candidates = reviews.join(
            store.events().select("review_id").distinct(), "review_id", "left_anti"
        )
    ranked = (
        candidates.select("review_id", tier.alias("priority_tier"), length.alias("len"))
        .filter(F.col("priority_tier").isNotNull())
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("priority_tier").orderBy(F.desc("len"), "review_id")
            ),
        )
    )
    quota = F.create_map(*[F.lit(x) for kv in quotas.items() for x in kv])
    picked = ranked.filter(F.col("rn") <= quota[F.col("priority_tier")]).orderBy(
        "priority_tier", "rn"
    )
    rows = picked.collect()  # queue sizes are human-scale (reference: ~100)
    base_seq = store.next_seq()
    events = [
        (base_seq + i, r.review_id, int(r.priority_tier), "pending", None, None, base_seq + i)
        for i, r in enumerate(rows)
    ]
    store.append_events(_stamp(events))
    return len(events)


def _stamp(rows: list[tuple]) -> list[tuple]:
    """Fill event_ts (position 5) with now()."""
    import datetime

    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    return [(q, r, t, s, a, now, seq) for (q, r, t, s, a, _, seq) in rows]


def run_session(
    spark: SparkSession,
    workdir: str,
    reviews: DataFrame,
    annotator: str,
    batch_size: int,
    commands: Iterable[str],
    out=print,
) -> dict:
    """One labeling session over the event-log queue — the engine twin of
    LabelingSession.start (session.py:61-185): reset abandoned
    assignments, assign the priority-head batch, iterate display →
    command → transition, close with a summary row."""
    store = LabelingStore(spark, workdir)
    cmds: Iterator[str] = iter(commands)
    session_id = store.next_session_id()
    seq = store.next_seq()

    state = current_state(store.events())
    abandoned = state.filter(
        (F.col("status") == "assigned") & (F.col("actor_id") == annotator)
    ).collect()
    if abandoned:
        store.append_events(
            _stamp(
                [
                    (r.queue_id, r.review_id, r.priority_tier, "pending", None, None, seq + i)
                    for i, r in enumerate(abandoned)
                ]
            )
        )
        seq += len(abandoned)
        out(f"Reset {len(abandoned)} abandoned assignments for {annotator}")
        state = current_state(store.events())

    batch = next_batch(state, batch_size).collect()
    if not batch:
        out("No reviews available in the queue.")
        store.append_session((session_id, annotator, 0, 0, None, "abandoned"))
        # same keys as the normal return — consumers index
        # summary["avg_time_per_label"] unconditionally
        return {
            "session_id": session_id,
            "labels_created": 0,
            "labels_skipped": 0,
            "avg_time_per_label": None,
        }

    store.append_events(
        _stamp(
            [
                (r.queue_id, r.review_id, r.priority_tier, "assigned", annotator, None, seq + i)
                for i, r in enumerate(batch)
            ]
        )
    )
    seq += len(batch)

    detail = {
        r["review_id"]: r
        for r in reviews.filter(
            F.col("review_id").isin([b.review_id for b in batch])
        ).collect()
    }
    out("=" * 70)
    out(f"LABELING SESSION #{session_id} | Annotator: {annotator} | Batch: {len(batch)}")
    out("=" * 70)

    created = skipped = 0
    times: list[float] = []
    for idx, item in enumerate(batch):
        rv = detail.get(item.review_id)
        out(f"[{idx + 1}/{len(batch)}] tier={item.priority_tier} review={item.review_id}")
        if rv is not None:
            out(f"  app={rv.app_id} rating={rv.rating}")
            out(f"  {rv.content[:200]}")
        t0 = time.perf_counter()
        cmd = next(cmds, "quit").strip()
        if cmd == "quit":
            remaining = batch[idx:]
            store.append_events(
                _stamp(
                    [
                        (r.queue_id, r.review_id, r.priority_tier, "pending", None, None, seq + i)
                        for i, r in enumerate(remaining)
                    ]
                )
            )
            seq += len(remaining)
            out(f"Quit — released {len(remaining)} assignments back to pending.")
            break
        if cmd == "skip":
            store.append_events(
                _stamp(
                    [
                        (
                            item.queue_id,
                            item.review_id,
                            item.priority_tier,
                            "skipped",
                            annotator,
                            None,
                            seq,
                        )
                    ]
                )
            )
            seq += 1
            skipped += 1
            out("  Skipped.")
            continue
        parts = cmd.split(maxsplit=2)
        if not parts:  # blank line: same error class as any bad command
            raise ValueError("unknown command/sentiment '' (blank line)")
        sentiment = parts[0]
        if sentiment not in SENTIMENTS:
            raise ValueError(f"unknown command/sentiment {sentiment!r}")
        confidence = parts[1] if len(parts) > 1 and parts[1] in CONFIDENCES else "high"
        notes = parts[2] if len(parts) > 2 else None
        store.append_label((item.review_id, annotator, sentiment, confidence, notes, seq))
        store.append_events(
            _stamp(
                [
                    (
                        item.queue_id,
                        item.review_id,
                        item.priority_tier,
                        "completed",
                        annotator,
                        None,
                        seq,
                    )
                ]
            )
        )
        seq += 1
        created += 1
        times.append(time.perf_counter() - t0)
        out(f"  Labeled: {sentiment} ({confidence})  Progress: {created} labeled, {skipped} skipped")

    avg = sum(times) / len(times) if times else None
    store.append_session((session_id, annotator, created, skipped, avg, "completed"))
    out("-" * 70)
    out(f"SESSION #{session_id} SUMMARY: {created} labeled, {skipped} skipped")
    return {
        "session_id": session_id,
        "labels_created": created,
        "labels_skipped": skipped,
        "avg_time_per_label": avg,
    }
