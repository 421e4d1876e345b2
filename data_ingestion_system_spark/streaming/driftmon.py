"""Streaming drift monitor: per-batch PSI against a frozen reference.

The online counterpart of `operators/drift.psi_drift` (T6's
distributional upgrade): a reference slice's exact deciles are frozen
once via the bounded-memory percentile path, then every arriving
micro-batch is binned against those SAME cut points and its Population
Stability Index vs the reference distribution is appended to a psi
audit table. This is how ingestion catches a source going
off-distribution *as it lands*, not at the next offline audit — the
monitor reads `SELECT * FROM psi_audit WHERE psi > 0.2`.

Scale shape: freezing the reference is two bounded passes (sketch +
refine); per batch, binning is one codegen pass over the batch with
the 9 cut points broadcast as a single array literal row, plus a
10-row aggregate. The monitor holds NO per-key state — the only state
is the frozen (cuts, reference bin shares) table, read once at stream
start.
"""

from __future__ import annotations

import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.streaming.ingest import drain_files
from data_ingestion_system_spark.tables import local_rows_df

_PSI_DECILES = [i / 10.0 for i in range(1, 10)]


def freeze_reference(ref: DataFrame, value_col: str = "value") -> tuple[list, list]:
    """(cut_points, reference_bin_shares) — the frozen model of the
    reference distribution. Exact deciles via sketch_refine (bounded
    memory); a 10-bin share vector. The ONLY collect is 10+9 scalars."""
    from data_ingestion_system_spark.operators.statistics import (
        sketch_refine_percentiles,
    )

    cuts_row = (
        sketch_refine_percentiles(
            ref.select(F.col(value_col).alias("value")), "value", _PSI_DECILES
        )
        .select("vals")
        .first()
    )
    cuts = list(cuts_row.vals)
    binned = _bin(ref.select(F.col(value_col).alias("value")), cuts)
    total = ref.count()
    shares = [0.0] * (len(cuts) + 1)
    for r in binned.collect():
        shares[r.bin - 1] = r.n / total
    return cuts, shares


def _bin(df: DataFrame, cuts: list) -> DataFrame:
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    return (
        df.select(
            (F.size(F.filter(arr, lambda c: F.col("value") >= c)) + F.lit(1)).alias(
                "bin"
            )
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )


def batch_psi(batch: DataFrame, cuts: list, ref_shares: list) -> float:
    """PSI of one batch vs the frozen reference. Empty intersection bins
    use the standard 1e-6 floor so a hard shift yields a large finite
    PSI instead of infinity."""
    import math

    rows = {r.bin: r.n for r in _bin(batch, cuts).collect()}
    total = sum(rows.values())
    if total == 0:
        return 0.0
    psi = 0.0
    for b, p_ref in enumerate(ref_shares, start=1):
        p_cur = rows.get(b, 0) / total
        p_r = max(p_ref, 1e-6)
        p_c = max(p_cur, 1e-6)
        psi += (p_r - p_c) * math.log(p_r / p_c)
    return psi


def run_drift_monitor(
    spark: SparkSession,
    source_dir: str,
    schema,
    ref: DataFrame,
    psi_audit_dir: str,
    value_col: str = "value",
    max_files_per_trigger: int | None = 1,
    await_seconds: float | None = None,
):
    """Watch a landing directory; per micro-batch, append
    (batch_id, n_rows, psi, alert) to the psi audit table. Alert fires
    at the standard PSI > 0.2 action threshold."""
    cuts, shares = freeze_reference(ref, value_col)

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        psi = batch_psi(
            batch_df.select(F.col(value_col).alias("value")), cuts, shares
        )
        local_rows_df(
            spark,
            [(int(batch_id), n, float(psi), bool(psi > 0.2), _time.time())],
            "batch_id long, n_rows long, psi double, alert boolean, ts double",
        ).write.mode("append").parquet(psi_audit_dir)

    # watch mode (`await_seconds`) runs back-to-back micro-batches —
    # Spark's default trigger — for that long, then stops
    return drain_files(
        spark,
        source_dir,
        schema,
        psi_audit_dir + "_ckpt",
        _on_batch,
        max_files_per_trigger,
        processing_time=None if await_seconds is None else "0 seconds",
        await_seconds=await_seconds,
    )
