"""Time-travel & change-feed reads over the ingest audit trail.

The reference keeps `review_scrape_log` (reference:
src/database/schema.sql:110-118) precisely so runs can be reconstructed
after the fact; its README reads it only for provenance joins. Here the
same junction table (the provenance parquet dedup_insert_batch writes,
partitioned by batch_id) becomes a full snapshot mechanism:

* `store_as_of(spark, paths, batch_id)` — the deduplicated store as it
  looked after batch N committed: target rows whose key FIRST appeared
  in a batch ≤ N. No copies, no tombstones — the provenance log IS the
  snapshot index, so historical reads cost one semi-join.
* `change_feed(spark, paths, from_batch, to_batch)` — the rows INSERTED
  per batch in (from, to]: the CDC stream a downstream consumer tails
  to stay incremental instead of re-reading the store.

Correctness rests on two invariants dedup_insert_batch already
maintains: the store is append-only with key-level INSERT-OR-IGNORE
(a key's row never changes after first insert), and provenance logs
every fetched key per batch with a `quarantined` flag — so
MIN(batch_id) per key over the flag=false rows is its insert batch
(later re-fetches appear at higher batch_ids and don't move the
minimum, and a key quarantined in batch Q then inserted in batch I > Q
is correctly dated I, not Q).

Scale shape: provenance carries (key, batch_id, flag) only — at 100 TB
the semi-join shuffles narrow keys, and the `batch_id <= N` filter is
applied BEFORE the min-aggregate (a key's min is <= N iff it appears
in any partition <= N), so batch_id partition pruning cuts the
provenance scan to the requested range. `F.broadcast` is NOT forced:
the key set is store-sized, exactly what AQE should decide on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.streaming.ingest import IngestPaths


def _first_insert_batches(
    spark: SparkSession, paths: IngestPaths, up_to: int | None = None
) -> DataFrame:
    """(key, insert_batch): the batch each key was first INSERTED in
    (quarantined fetches excluded), optionally restricted to batches
    <= up_to — the pre-aggregate filter is what lets the parquet scan
    prune provenance partitions."""
    prov = spark.read.parquet(paths.provenance_dir).filter(~F.col("quarantined"))
    if up_to is not None:
        prov = prov.filter(F.col("batch_id") <= int(up_to))
    key_col = [c for c in prov.columns if c not in ("batch_id", "quarantined")][0]
    return prov.groupBy(key_col).agg(F.min("batch_id").alias("insert_batch"))


def store_as_of(spark: SparkSession, paths: IngestPaths, batch_id: int) -> DataFrame:
    """The deduplicated store as of the given batch (inclusive)."""
    first = _first_insert_batches(spark, paths, up_to=batch_id)
    target = spark.read.parquet(paths.target_dir)
    key_col = [c for c in first.columns if c != "insert_batch"][0]
    return target.join(first.select(key_col), key_col, "left_semi")


def change_feed(
    spark: SparkSession, paths: IngestPaths, from_batch: int, to_batch: int
) -> DataFrame:
    """Rows first inserted in batches (from_batch, to_batch], with their
    insert_batch — the incremental slice between two snapshots."""
    first = _first_insert_batches(spark, paths, up_to=to_batch).filter(
        F.col("insert_batch") > int(from_batch)
    )
    target = spark.read.parquet(paths.target_dir)
    key_col = [c for c in first.columns if c != "insert_batch"][0]
    return target.join(first, key_col)


def _snapshot_fixture_paths(spark: SparkSession, sf_dir: str) -> IngestPaths:
    """Ingest the events table as a 3-batch store (batch = event_id % 3,
    CHECK gate from operators/integrity.event_rules) once per testdata
    generation. dedup_insert_batch's audit commit marker makes a crashed
    half-build safe to replay into the same directory."""
    import os

    from data_ingestion_system_spark.operators.integrity import event_rules
    from data_ingestion_system_spark.streaming.ingest import dedup_insert_batch
    from data_ingestion_system_spark.tables import fingerprint_fixture_dir, load_table

    base = fingerprint_fixture_dir("dis_timetravel", sf_dir, "events")
    paths = IngestPaths(
        source_dir=os.path.join(base, "src"),
        target_dir=os.path.join(base, "target"),
        audit_dir=os.path.join(base, "audit"),
        provenance_dir=os.path.join(base, "prov"),
        checkpoint_dir=os.path.join(base, "ckpt"),
        quarantine_dir=os.path.join(base, "quar"),
    )
    marker = os.path.join(base, "_DIS_INGESTED")
    if not os.path.exists(marker):
        ev = load_table(spark, sf_dir, "events")
        for b in range(3):
            dedup_insert_batch(
                spark,
                ev.filter(F.pmod("event_id", F.lit(3)) == b),
                b,
                "event_id",
                paths,
                rules=event_rules(),
            )
        with open(marker, "w") as fh:
            fh.write("ok")
    return paths


_SNAPSHOT_ORACLE = """
WITH valid AS (
  SELECT event_id, value FROM events
  WHERE (event_type IN ('click', 'view', 'purchase', 'signup') OR event_type IS NULL)
    AND (value BETWEEN 0.0 AND 400.0 OR value IS NULL)
    AND user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT t.b AS as_of_batch,
       COUNT(*) AS n_rows,
       ROUND(SUM(value) * 1000000.0) / 1000000.0 AS total_value
FROM valid v JOIN (VALUES (0), (1), (2)) t(b) ON v.event_id % 3 <= t.b
GROUP BY t.b ORDER BY t.b
"""


@query("time_travel_snapshot", oracle=_SNAPSHOT_ORACLE, survey="EXT-integrity")
def time_travel_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked snapshot reads: events ingested as 3 batches through
    the full dedup+CHECK-gate protocol, then store_as_of(0..2) row/value
    totals — so the provenance-log snapshot index, the quarantine flag
    filter, and the partition-pruned min-aggregate are all value-verified
    against an oracle that recomputes each snapshot from the base table
    (valid rows with event_id % 3 <= N)."""
    from functools import reduce

    paths = _snapshot_fixture_paths(spark, sf_dir)
    parts = []
    for b in range(3):
        snap = store_as_of(spark, paths, b)
        parts.append(
            snap.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("round(sum(value) * 1000000.0) / 1000000.0").alias("total_value"),
            ).select(
                F.lit(b).cast("int").alias("as_of_batch"), "n_rows", "total_value"
            )
        )
    return reduce(lambda a, c: a.unionByName(c), parts).orderBy("as_of_batch")
