"""Golden-output tests for the run-report formatter (reporting.py)."""

from __future__ import annotations

from data_ingestion_system_spark.reporting import format_run_report, format_store_snapshot

AUDIT_DDL = (
    "batch_id long, fetched long, inserted long, skipped long, quarantined long,"
    " dedup_rate double, status string, duration_seconds double"
)


def test_run_report_golden(spark):
    audit = spark.createDataFrame(
        [
            (0, 400, 400, 0, 0, 0.0, "completed", 1.25),
            (1, 400, 290, 100, 10, 0.25, "completed", 0.75),
        ],
        AUDIT_DDL,
    )
    alerts = spark.createDataFrame([(1, "insert_drop")], "batch_id long, alert string")
    report = format_run_report(audit, alerts)
    expected = "\n".join(
        [
            "=" * 64,
            "  INGESTION RUN — 2 batch(es)",
            "=" * 64,
            "   batch  fetched    new  skipped   quar  dedup%    secs  status",
            "  " + "-" * 64,
            "       0      400    400        0      0    0.0%   1.25s  completed",
            "       1      400    290      100     10   25.0%   0.75s  completed",
            "",
            "  total fetched   : 800",
            "  total inserted  : 690",
            "  total skipped   : 100",
            "  total quarantined: 10",
            "  dedup rate      : 12.5%",
            "  alerts          : 1",
            "    batch 1: insert_drop",
            "=" * 64,
        ]
    )
    assert report == expected


def test_run_report_legacy_seven_column_audit(spark):
    """A backfilled audit row (streaming/backfill.reconstruct_audit) has
    the live 8-column schema with a null duration: the report prints a
    dash for it and the totals still reconcile."""
    audit = spark.createDataFrame(
        [(0, 10, 8, 0, 2, 0.0, "backfilled", None)], AUDIT_DDL
    )
    report = format_run_report(audit)
    assert "      0       10      8        0      2    0.0%      —  backfilled" in report
    assert "total quarantined: 2" in report


def test_store_snapshot_absent_dir_prints_zeros(spark, tmp_path):
    snap = format_store_snapshot(spark, str(tmp_path / "nope"), "event_id")
    assert "rows          : 0" in snap and "distinct keys : 0" in snap


def test_store_snapshot(spark, tmp_path, sf_dir):
    from data_ingestion_system_spark.tables import load_table

    target = str(tmp_path / "store")
    load_table(spark, sf_dir, "events").limit(100).write.parquet(target)
    snap = format_store_snapshot(spark, target, "event_id")
    assert "rows          : 100" in snap
    assert "distinct keys : 100" in snap
    assert "time range    : " in snap
