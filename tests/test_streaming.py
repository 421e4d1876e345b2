"""Streaming ingestion tests — the Stage-3 correctness contract
(SURVEY.md §7): replay overlapping batches, assert PK uniqueness,
inserted+skipped == fetched per batch, and monotone dedup rates
(FIXTURES.md §5 invariants).
"""

from __future__ import annotations

import os

import pytest
from conftest import drain_jobs
from pyspark.sql import functions as F

from data_ingestion_system_spark.schemas import TESTDATA_SCHEMAS
from data_ingestion_system_spark.streaming.ingest import (
    IngestPaths,
    run_file_ingestion,
    run_windowed_stream,
    streaming_dedup_within_watermark,
)
from data_ingestion_system_spark.tables import has_parquet, load_table

EVENTS_SCHEMA_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def _land_ranges(spark, sf_dir, tmp_path, ranges) -> str:
    """One landing file per [lo, hi) event_id range, in range order."""
    events = load_table(spark, sf_dir, "events").limit(1000).cache()
    src = str(tmp_path / "landing")
    os.makedirs(src)
    for i, (lo, hi) in enumerate(ranges):
        (
            events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / f"staging{i}"))
        )
        # move the single part file into the landing dir with ordered names
        staging = tmp_path / f"staging{i}"
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        os.rename(staging / part, tmp_path / "landing" / f"batch_{i}.parquet")
    return src


@pytest.fixture()
def overlap_batches(spark, sf_dir, tmp_path):
    """Three landing files with ~40% id overlap between consecutive
    batches (the re-fetch pattern, docs/summery_deck.md:194-203)."""
    return _land_ranges(spark, sf_dir, tmp_path, [(0, 400), (300, 700), (600, 1000)])


def test_overlapping_batches_dedup(spark, overlap_batches, tmp_path):
    paths = IngestPaths(
        source_dir=overlap_batches,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    schema = TESTDATA_SCHEMAS["events"]
    # events.ts is read as long in raw files? no — we wrote micro-converted
    # timestamps, so use the logical schema
    run_file_ingestion(spark, paths, schema, key_col="event_id", max_files_per_trigger=1)

    target = spark.read.parquet(paths.target_dir)
    # PK uniqueness invariant
    assert target.count() == target.select("event_id").distinct().count() == 1000

    audit = spark.read.parquet(paths.audit_dir).orderBy("batch_id").collect()
    assert len(audit) == 3
    for row in audit:
        assert row.fetched == row.inserted + row.skipped
    # batch 0 all-new; later batches carry the overlap as skips
    assert audit[0].skipped == 0
    assert audit[1].skipped == 100 and audit[1].inserted == 300
    assert audit[2].skipped == 100 and audit[2].inserted == 300
    assert audit[1].dedup_rate == pytest.approx(0.25)

    prov = spark.read.parquet(paths.provenance_dir)
    # provenance logs every fetch incl. re-fetches: 400+400+400
    assert prov.count() == 1200
    assert prov.select("batch_id").distinct().count() == 3


def test_restart_is_idempotent(spark, overlap_batches, tmp_path):
    """Re-running with the same checkpoint must not duplicate rows
    (exactly-once file-source progress)."""
    paths = IngestPaths(
        source_dir=overlap_batches,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    schema = TESTDATA_SCHEMAS["events"]
    run_file_ingestion(spark, paths, schema, key_col="event_id")
    run_file_ingestion(spark, paths, schema, key_col="event_id")  # no new files
    assert spark.read.parquet(paths.target_dir).count() == 1000
    assert spark.read.parquet(paths.audit_dir).count() == 3


def test_processing_time_trigger_stops_then_available_now_finishes(
    spark, sf_dir, tmp_path
):
    """T1/T8: the continuous (processing-time) trigger runs for
    `await_seconds` and is stopped; whatever it committed reconciles.
    An availableNow drain on the same checkpoint then finishes the
    backlog, leaving the target with exactly the landed key set."""
    src = _land_ranges(spark, sf_dir, tmp_path, [(0, 400), (300, 600)])
    paths = IngestPaths(
        source_dir=src,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    schema = TESTDATA_SCHEMAS["events"]
    q = run_file_ingestion(
        spark, paths, schema, "event_id", processing_time="1 second", await_seconds=8
    )
    assert not q.isActive

    def committed():
        if not has_parquet(paths.audit_dir):
            return []
        return spark.read.parquet(paths.audit_dir).orderBy("batch_id").collect()

    def assert_reconciles(audit):
        for row in audit:
            assert row.fetched == row.inserted + row.skipped + row.quarantined
            prov = spark.read.parquet(paths.provenance_dir)
            assert prov.filter(F.col("batch_id") == row.batch_id).count() == row.fetched

    assert_reconciles(committed())

    run_file_ingestion(spark, paths, schema, "event_id")
    audit = committed()
    assert [r.batch_id for r in audit] == [0, 1]
    assert_reconciles(audit)
    keys = [r.event_id for r in spark.read.parquet(paths.target_dir).select("event_id").collect()]
    assert sorted(keys) == list(range(600))


def test_batch_replay_does_not_duplicate_side_writes(spark, overlap_batches, tmp_path):
    """Replaying a foreachBatch body (checkpoint recovery re-delivers the
    same batch_id) must not duplicate audit or provenance rows: the audit
    row is the commit marker, and provenance overwrites its batch
    partition."""
    from data_ingestion_system_spark.streaming.ingest import dedup_insert_batch

    paths = IngestPaths(
        source_dir=overlap_batches,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = spark.read.parquet(f"{overlap_batches}/batch_0.parquet")
    dedup_insert_batch(spark, batch, 0, "event_id", paths)
    # full replay of a committed batch: a pure no-op
    dedup_insert_batch(spark, batch, 0, "event_id", paths)
    assert spark.read.parquet(paths.target_dir).count() == 400
    assert spark.read.parquet(paths.audit_dir).count() == 1
    assert spark.read.parquet(paths.provenance_dir).count() == 400

    # partial replay: provenance written but the audit commit marker was
    # lost (crash between the two writes) — simulate by deleting audit
    import shutil

    shutil.rmtree(paths.audit_dir)
    dedup_insert_batch(spark, batch, 0, "event_id", paths)
    assert spark.read.parquet(paths.target_dir).count() == 400  # anti-join holds
    assert spark.read.parquet(paths.provenance_dir).count() == 400  # overwritten, not doubled
    audit = spark.read.parquet(paths.audit_dir).collect()
    assert len(audit) == 1 and audit[0].inserted == 0 and audit[0].skipped == 400


def test_per_batch_health_alerts(spark, sf_dir, tmp_path):
    """T5: a nearly-all-duplicate batch must raise the dedup-rate-ceiling
    alert; a tiny batch after big ones must raise insert_drop."""
    events = load_table(spark, sf_dir, "events").limit(1000).cache()
    src = str(tmp_path / "landing")
    os.makedirs(src)
    # batches 0-2: fresh 300 each; batch 3: 299/300 re-fetches (dedup
    # ceiling + insert drop)
    ranges = [(0, 300), (300, 600), (600, 900), (599, 901)]
    for i, (lo, hi) in enumerate(ranges):
        staging = tmp_path / f"s{i}"
        (
            events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staging))
        )
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        os.rename(staging / part, tmp_path / "landing" / f"batch_{i}.parquet")
    paths = IngestPaths(
        source_dir=src,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        alerts_dir=str(tmp_path / "alerts"),
    )
    run_file_ingestion(spark, paths, TESTDATA_SCHEMAS["events"], key_col="event_id")
    alerts = {
        (r.batch_id, r.alert) for r in spark.read.parquet(paths.alerts_dir).collect()
    }
    assert (3, "dedup_rate_ceiling") in alerts
    assert (3, "insert_drop") in alerts
    # only the COUNT-derived alerts are deterministic; duration_spike
    # keys off wall clock and may legitimately fire on any batch when
    # the test box is under load — exclude it from the no-early-alerts
    # contract instead of flaking
    deterministic = {"dedup_rate_ceiling", "insert_drop"}
    assert not any(b < 3 for b, a in alerts if a in deterministic)


def test_throttled_ingestion_paces_and_retries(spark, overlap_batches, tmp_path):
    """T9: per-trigger intake stays capped, batch starts respect the min
    interval, and an injected transient failure is absorbed by backoff."""
    import time as _time

    from data_ingestion_system_spark.streaming.ingest import dedup_insert_batch
    from data_ingestion_system_spark.streaming.throttle import (
        ThrottleConfig,
        run_throttled_ingestion,
    )

    paths = IngestPaths(
        source_dir=overlap_batches,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    fails = {"left": 2}  # first two attempts of batch 0 die transiently

    def flaky_body(df, bid):
        if bid == 0 and fails["left"]:
            fails["left"] -= 1
            raise IOError("injected transient read failure")
        dedup_insert_batch(spark, df, bid, "event_id", paths)

    cfg = ThrottleConfig(
        min_batch_interval_s=0.5, base_delay_s=0.05, max_delay_s=0.2, max_retries=3
    )
    t0 = _time.monotonic()
    run_throttled_ingestion(
        spark, paths, TESTDATA_SCHEMAS["events"], "event_id",
        throttle=cfg, on_batch=flaky_body,
    )
    elapsed = _time.monotonic() - t0
    assert fails["left"] == 0  # both injected failures were retried through
    # 3 files, maxFilesPerTrigger=1 → 3 batches, each capped at 400 rows
    audit = spark.read.parquet(paths.audit_dir)
    assert audit.count() == 3
    assert audit.agg(F.max("fetched")).first()[0] == 400
    assert spark.read.parquet(paths.target_dir).count() == 1000
    # 3 batch starts with a 0.5 s floor → >= 1.0 s between first and last
    assert elapsed >= 1.0


def test_backoff_exhausts_and_reraises():
    from data_ingestion_system_spark.streaming.throttle import ThrottleConfig, with_backoff

    calls = {"n": 0}

    def always_fails():
        calls["n"] += 1
        raise IOError("permanent")

    with pytest.raises(IOError):
        with_backoff(
            always_fails,
            ThrottleConfig(base_delay_s=0.01, max_delay_s=0.02, max_retries=2),
        )
    assert calls["n"] == 3  # initial try + 2 retries


def test_dedup_within_watermark(spark, overlap_batches, tmp_path):
    """The pure-streaming dedup path: overlapping batches inside the
    watermark horizon must come out key-unique."""
    out = str(tmp_path / "dedup_out")
    streaming_dedup_within_watermark(
        spark,
        overlap_batches,
        out,
        str(tmp_path / "ckpt2"),
        TESTDATA_SCHEMAS["events"],
        key_col="event_id",
        watermark_delay="365 days",  # all test rows inside the horizon
    )
    got = spark.read.parquet(out)
    assert got.count() == got.select("event_id").distinct().count() == 1000


def test_stateful_user_profiles(spark, overlap_batches, tmp_path):
    """applyInPandasWithState: per-user profiles must fold state across
    micro-batches — final per-key row equals the batch ground truth."""
    from data_ingestion_system_spark.streaming.stateful import run_profile_stream

    out = str(tmp_path / "profiles")
    run_profile_stream(
        spark, overlap_batches, out, str(tmp_path / "ckpt3"), TESTDATA_SCHEMAS["events"]
    )
    prof = spark.read.parquet(out)
    # one row per (key, touching batch); latest per key = live profile.
    # NOTE the landing batches overlap on event_id (re-fetch simulation),
    # so the stream sees ~1200 rows incl. 200 duplicates — state counts
    # *observed* events (profile semantics), unlike the dedup ingest path.
    from pyspark.sql import Window

    latest = (
        prof.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events"))),
        )
        .filter("rn = 1")
        .drop("rn")
    )
    src = spark.read.parquet(overlap_batches)
    truth = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )
    t = {r.user_id: r for r in truth.collect()}
    got = {r.user_id: r for r in latest.collect()}
    assert set(got) == set(t)
    for uid, row in got.items():
        assert row.n_events == t[uid].n_events
        assert abs(row.total_value - t[uid].total_value) < 1e-6
        assert row.first_seen == t[uid].first_seen
        assert row.last_seen == t[uid].last_seen


def test_windowed_stream_with_watermark(spark, sf_dir, tmp_path):
    """Watermarked hourly windows over the events stream drain correctly
    under availableNow and match the batch computation."""
    events = load_table(spark, sf_dir, "events").limit(1000).cache()
    src = str(tmp_path / "src")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    run_windowed_stream(
        spark, src, out, str(tmp_path / "ckpt"), TESTDATA_SCHEMAS["events"], "1 hour"
    )
    got = spark.read.parquet(out)
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    # append mode emits only windows closed by the final watermark; every
    # emitted row must match its batch twin, and most windows must emit
    joined = got.select("window_start", "event_type", "n").alias("g").join(
        batch.alias("b"), ["window_start", "event_type"]
    )
    mismatches = joined.filter(F.col("g.n") != F.col("b.n")).count()
    assert mismatches == 0
    assert got.count() >= batch.count() * 0.5


def test_session_window_stream_matches_batch(spark, sf_dir, tmp_path):
    """Native session windows (30-min gap) drained under availableNow must
    match the batch F.session_window computation for every emitted
    (watermark-closed) session."""
    from data_ingestion_system_spark.streaming.ingest import run_session_window_stream

    events = load_table(spark, sf_dir, "events").limit(1000).cache()
    src = str(tmp_path / "src")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    run_session_window_stream(
        spark, src, out, str(tmp_path / "ckpt"), TESTDATA_SCHEMAS["events"]
    )
    got = spark.read.parquet(out)
    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            F.col("total_value"),
        )
    )
    joined = got.select("session_start", "user_id", "n_events").alias("g").join(
        batch.select("session_start", "user_id", F.col("n_events").alias("bn")),
        ["session_start", "user_id"],
    )
    assert joined.filter(F.col("n_events") != F.col("bn")).count() == 0
    # availableNow + watermark: all but the stream-tail sessions emit
    assert got.count() >= batch.count() * 0.5


def test_session_window_stream_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Feed half the events, drain, then add the second half and drain
    again with the SAME checkpoint: the union of emitted sessions must
    still match the batch computation (no duplicates, no lost state for
    sessions still open at the first drain's watermark)."""
    from data_ingestion_system_spark.streaming.ingest import run_session_window_stream

    events = load_table(spark, sf_dir, "events").limit(1000).cache()
    # split by TIME, not by id: append-mode watermarking assumes arrival
    # roughly follows event time — an out-of-order half would (correctly)
    # be dropped as late data, which is not the property under test here
    split_ts = "2024-01-15 00:00:00"
    first = events.filter(F.col("ts") < split_ts)
    second = events.filter(F.col("ts") >= split_ts)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("append").parquet(src)
    run_session_window_stream(spark, src, out, ckpt, TESTDATA_SCHEMAS["events"])
    second.coalesce(1).write.mode("append").parquet(src)
    run_session_window_stream(spark, src, out, ckpt, TESTDATA_SCHEMAS["events"])

    got = spark.read.parquet(out)
    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("bn"))
        .select(F.col("w.start").alias("session_start"), "user_id", "bn")
    )
    # every emitted session matches its batch twin exactly...
    joined = got.select("session_start", "user_id", "n_events").join(
        batch, ["session_start", "user_id"]
    )
    assert joined.filter(F.col("n_events") != F.col("bn")).count() == 0
    # ...no session is emitted twice...
    assert (
        got.groupBy("session_start", "user_id").count().filter(F.col("count") > 1).count()
        == 0
    )
    # ...and restart did not lose coverage
    assert got.count() >= batch.count() * 0.5


def test_rules_without_quarantine_dir_fail_fast(spark, overlap_batches, tmp_path):
    """CHECK rules with no quarantine_dir would silently destroy the
    violators while the audit claims they were diverted — refuse."""
    from data_ingestion_system_spark.operators.integrity import event_rules
    from data_ingestion_system_spark.streaming.ingest import dedup_insert_batch

    paths = IngestPaths(
        source_dir=overlap_batches,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = load_table(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"), "events").limit(5)
    with pytest.raises(ValueError, match="quarantine_dir"):
        dedup_insert_batch(spark, batch, 0, "event_id", paths, rules=event_rules())


def test_alerts_are_pre_marker_writes(spark, sf_dir, tmp_path, monkeypatch):
    """A crash DURING health evaluation must leave the batch
    uncommitted (no audit marker), so the replay redoes state AND
    alerts — previously alerts were appended after the marker and a
    crash in between lost them forever."""
    from data_ingestion_system_spark.streaming import ingest as ing

    events = load_table(spark, sf_dir, "events").limit(200).cache()
    paths = IngestPaths(
        source_dir=str(tmp_path / "landing"),
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        alerts_dir=str(tmp_path / "alerts"),
    )
    ing.dedup_insert_batch(spark, events, 0, "event_id", paths)
    # batch 1 = all re-fetches → dedup_rate 1.0 → dedup_rate_ceiling
    real_health = ing.evaluate_batch_health

    def crash(*a, **kw):
        real_health(*a, **kw)
        raise RuntimeError("injected crash after alerts, before marker")

    monkeypatch.setattr(ing, "evaluate_batch_health", crash)
    with pytest.raises(RuntimeError, match="injected"):
        ing.dedup_insert_batch(spark, events, 1, "event_id", paths)
    audit = spark.read.parquet(paths.audit_dir)
    assert audit.filter(F.col("batch_id") == 1).count() == 0  # marker NOT committed
    monkeypatch.setattr(ing, "evaluate_batch_health", real_health)
    ing.dedup_insert_batch(spark, events, 1, "event_id", paths)  # replay
    alerts = spark.read.parquet(paths.alerts_dir)
    # the alert exists exactly once (dynamic overwrite of the partition)
    assert (
        alerts.filter(
            (F.col("batch_id") == 1) & (F.col("alert") == "dedup_rate_ceiling")
        ).count()
        == 1
    )
    assert spark.read.parquet(paths.audit_dir).filter(F.col("batch_id") == 1).count() == 1


def test_alert_replay_supersedes_stale_partition(spark, tmp_path):
    """ADVICE r9: a replay that computes NO alerts for a batch must
    remove the crashed attempt's stale alerts partition — dynamic
    overwrite alone only replaces partitions present in the written
    data, which an empty alert set never is."""
    from data_ingestion_system_spark.streaming.ingest import (
        IngestPaths, evaluate_batch_health)

    paths = IngestPaths(
        source_dir=str(tmp_path / "src"),
        target_dir=str(tmp_path / "t"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        alerts_dir=str(tmp_path / "alerts"),
    )
    # crashed attempt: dedup ceiling fired for batch 5
    evaluate_batch_health(spark, paths, 5, inserted=1, dedup_rate=1.0,
                          duration_seconds=0.1)
    stale = os.path.join(paths.alerts_dir, "batch_id=5")
    assert os.path.isdir(stale)
    # replay computes a healthy batch 5: the stale partition must go
    evaluate_batch_health(spark, paths, 5, inserted=100, dedup_rate=0.0,
                          duration_seconds=0.1)
    assert not os.path.isdir(stale)


def test_event_micro_batch_job_budget(spark, sf_dir, tmp_path):
    """One event micro-batch with CHECK rules, quarantine and alerts,
    into an existing store, runs at most 12 Spark jobs: the marker read,
    the batch checkpoint (map + result), the quarantine write, the
    anti-join checkpoint, the target and provenance writes, the health
    read and the audit append. Counts are observed on the writes, so no
    job exists only to count."""
    from data_ingestion_system_spark.operators.integrity import event_rules

    src = _land_ranges(spark, sf_dir, tmp_path, [(0, 400)])
    paths = IngestPaths(
        source_dir=src,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        alerts_dir=str(tmp_path / "alerts"),
        quarantine_dir=str(tmp_path / "quar"),
    )
    schema = TESTDATA_SCHEMAS["events"]
    run_file_ingestion(spark, paths, schema, "event_id", rules=event_rules())
    _land_ranges(spark, sf_dir, tmp_path / "second", [(300, 700)])
    os.rename(
        tmp_path / "second" / "landing" / "batch_0.parquet",
        os.path.join(src, "batch_1.parquet"),
    )
    q = run_file_ingestion(spark, paths, schema, "event_id", rules=event_rules())
    assert drain_jobs(spark, q) <= 12
    audit = {r.batch_id: r for r in spark.read.parquet(paths.audit_dir).collect()}
    assert sorted(audit) == [0, 1]
    for r in audit.values():
        assert r.fetched == r.inserted + r.skipped + r.quarantined
    assert audit[1].skipped > 0  # the 100 re-fetched keys


def test_third_event_micro_batch_compiles_no_class(spark, sf_dir, tmp_path):
    """Generated code is compiled once per session: once the first
    micro-batches of an event drain (CHECK rules, quarantine and alerts
    on) have compiled their plans, a later batch of the same shape finds
    every class in the cache. A batch number inlined into a plan as a
    long literal (a marker filter, a health filter, a partition column)
    would compile new classes every batch."""
    from data_ingestion_system_spark.operators.integrity import event_rules
    from data_ingestion_system_spark.session import codegen_counters
    from data_ingestion_system_spark.streaming.ingest import dedup_insert_batch, drain_files

    src = _land_ranges(spark, sf_dir, tmp_path, [(0, 250), (200, 450), (400, 650)])
    paths = IngestPaths(
        source_dir=src,
        target_dir=str(tmp_path / "target"),
        audit_dir=str(tmp_path / "audit"),
        provenance_dir=str(tmp_path / "prov"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        alerts_dir=str(tmp_path / "alerts"),
        quarantine_dir=str(tmp_path / "quar"),
    )
    compiles = []

    def body(df, batch_id):
        n0 = codegen_counters(spark)[0]
        dedup_insert_batch(spark, df, batch_id, "event_id", paths, rules=event_rules())
        compiles.append(codegen_counters(spark)[0] - n0)

    drain_files(spark, src, TESTDATA_SCHEMAS["events"], paths.checkpoint_dir, body)
    assert len(compiles) == 3
    assert compiles[2] == 0, compiles
    audit = {r.batch_id: r for r in spark.read.parquet(paths.audit_dir).collect()}
    assert sorted(audit) == [0, 1, 2]
    for r in audit.values():
        assert r.fetched == r.inserted + r.skipped + r.quarantined
    assert audit[1].skipped > 0 and audit[2].skipped > 0
    # the partition layout is unchanged: one batch_id=<n> directory per
    # batch, read back with the type partition inference gives it
    prov = spark.read.parquet(paths.provenance_dir)
    assert prov.schema["batch_id"].dataType.simpleString() == "int"
    assert sorted(
        r.batch_id for r in prov.select("batch_id").distinct().collect()
    ) == [0, 1, 2]
