"""Run-report formatting — console summaries over the audit store.

Parity surface for the reference's reporters (reference:
src/ingestion/reporter.py:21-70 report_run / report_db_growth and
src/labeling/reporter.py): the reference formats its RunResult
dataclass; here the same numbers live in the audit/alerts parquet that
streaming.ingest writes per batch, so the report is a tiny collect()
over aggregates — display-only, never in a hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.tables import has_parquet

_BAR = "=" * 64


def format_run_report(audit: DataFrame, alerts: DataFrame | None = None) -> str:
    """Per-batch breakdown + totals for one ingestion run, from the audit
    rows (batch_id, fetched, inserted, skipped, quarantined, dedup_rate,
    status, duration_seconds); the lines reconcile as fetched = inserted
    + skipped + quarantined. A null duration (a backfilled row) prints a
    dash."""
    rows = audit.orderBy("batch_id").collect()
    lines = [
        _BAR,
        f"  INGESTION RUN — {len(rows)} batch(es)",
        _BAR,
        f"  {'batch':>6} {'fetched':>8} {'new':>6} {'skipped':>8} {'quar':>6} {'dedup%':>7} {'secs':>7}  status",
        "  " + "-" * 64,
    ]
    for r in rows:
        secs = f"{r.duration_seconds:>6.2f}s" if r.duration_seconds is not None else "     —"
        lines.append(
            f"  {r.batch_id:>6} {r.fetched:>8} {r.inserted:>6} {r.skipped:>8} {r.quarantined:>6}"
            f" {100.0 * r.dedup_rate:>6.1f}% {secs}  {r.status}"
        )
    fetched = sum(r.fetched for r in rows)
    inserted = sum(r.inserted for r in rows)
    skipped = sum(r.skipped for r in rows)
    quarantined = sum(r.quarantined for r in rows)
    rate = 100.0 * skipped / fetched if fetched else 0.0
    lines += [
        "",
        f"  total fetched   : {fetched:,}",
        f"  total inserted  : {inserted:,}",
        f"  total skipped   : {skipped:,}",
        f"  total quarantined: {quarantined:,}",
        f"  dedup rate      : {rate:.1f}%",
    ]
    if alerts is not None:
        alert_rows = alerts.orderBy("batch_id").collect()
        lines.append(f"  alerts          : {len(alert_rows)}")
        for a in alert_rows:
            lines.append(f"    batch {a.batch_id}: {a.alert}")
    lines.append(_BAR)
    return "\n".join(lines)


def format_store_snapshot(spark: SparkSession, target_dir: str, key_col: str) -> str:
    """Cumulative store statistics (the reference's report_db_growth,
    reporter.py:72-96): row count, distinct keys, and — when present —
    the stored time range. One aggregate job, one collected row. An
    absent/empty store prints zeros (the reference's report_db_growth
    does the same on an empty DB) instead of PATH_NOT_FOUND."""
    if not has_parquet(target_dir):
        return "\n".join(
            ["  Store snapshot:", "    rows          : 0", "    distinct keys : 0"]
        )
    df = spark.read.parquet(target_dir)
    aggs = [
        F.count("*").alias("n_rows"),
        F.countDistinct(key_col).alias("n_keys"),
    ]
    ts_col = next((c for c, t in df.dtypes if t.startswith("timestamp")), None)
    if ts_col:
        aggs += [F.min(ts_col).alias("t_min"), F.max(ts_col).alias("t_max")]
    row = df.agg(*aggs).first()
    lines = [
        "  Store snapshot:",
        f"    rows          : {row.n_rows:,}",
        f"    distinct keys : {row.n_keys:,}",
    ]
    if ts_col:
        lines.append(f"    time range    : {row.t_min} .. {row.t_max}")
    return "\n".join(lines)
