"""Incremental MinHash-LSH near-dup ingestion (streaming/neardup.py).

Crafted corpus: documents are 12-token sentences, so two docs sharing
all but one token have 3-word-shingle Jaccard well above 0.5, while
distinct sentences share nothing. Batches arrive in order and each is
deduped against everything ACCEPTED so far plus itself.
"""

from __future__ import annotations

import os

import pytest
from conftest import drain_jobs
from pyspark.sql import functions as F

from data_ingestion_system_spark.streaming.neardup import (
    NearDupPaths,
    neardup_insert_batch,
    run_neardup_ingestion,
)

DOC_SCHEMA = "doc_id long, text string"

BASE = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
VARIANT = BASE.replace("echo", "zulu")  # near-dup of BASE (1 of 12 words)
OTHER = "one two three four five six seven eight nine ten eleven twelve"
THIRD = "red orange yellow green blue indigo violet cyan magenta teal maroon navy"


def _paths(tmp_path) -> NearDupPaths:
    return NearDupPaths(
        source_dir=str(tmp_path / "landing"),
        target_dir=str(tmp_path / "target"),
        bands_dir=str(tmp_path / "bands"),
        tokens_dir=str(tmp_path / "tokens"),
        audit_dir=str(tmp_path / "audit"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_batch_rejects_near_dups_of_store_and_within_batch(spark, tmp_path):
    paths = _paths(tmp_path)
    # batch 0: two distinct docs, plus an intra-batch near-dup of doc 1
    neardup_insert_batch(
        spark, _df(spark, [(1, BASE), (2, OTHER), (3, VARIANT)]), 0, paths
    )
    target = spark.read.parquet(paths.target_dir)
    assert sorted(r.doc_id for r in target.collect()) == [1, 2]

    # batch 1: near-dup of stored doc 1 (different id), an exact
    # re-delivery of doc 2, and one genuinely new doc
    neardup_insert_batch(
        spark, _df(spark, [(10, VARIANT), (2, OTHER), (20, THIRD)]), 1, paths
    )
    target = spark.read.parquet(paths.target_dir)
    assert sorted(r.doc_id for r in target.collect()) == [1, 2, 20]

    audit = {r.batch_id: r for r in spark.read.parquet(paths.audit_dir).collect()}
    assert audit[0].fetched == 3
    assert audit[0].dup_within_batch == 1 and audit[0].inserted == 2
    assert audit[1].fetched == 3
    assert audit[1].dup_vs_store == 2  # VARIANT~stored BASE, re-delivered doc 2
    assert audit[1].inserted == 1
    for r in audit.values():
        assert r.fetched == r.dup_vs_store + r.dup_within_batch + r.inserted


def test_replayed_batch_is_skipped(spark, tmp_path):
    paths = _paths(tmp_path)
    neardup_insert_batch(spark, _df(spark, [(1, BASE), (2, OTHER)]), 0, paths)
    before = spark.read.parquet(paths.target_dir).count()
    # same batch_id replayed (crash-after-commit scenario): no-op
    neardup_insert_batch(spark, _df(spark, [(1, BASE), (2, OTHER)]), 0, paths)
    assert spark.read.parquet(paths.target_dir).count() == before
    assert spark.read.parquet(paths.audit_dir).count() == 1


def test_streaming_drain_end_to_end(spark, tmp_path):
    paths = _paths(tmp_path)
    os.makedirs(paths.source_dir)
    batches = [
        [(1, BASE), (2, OTHER)],
        [(10, VARIANT), (20, THIRD)],
        [(30, THIRD + " extra"), (40, BASE)],
    ]
    for i, rows in enumerate(batches):
        staging = tmp_path / f"staging{i}"
        _df(spark, rows).coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        os.rename(staging / part, os.path.join(paths.source_dir, f"batch_{i}.parquet"))

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    run_neardup_ingestion(spark, paths, schema)

    target = spark.read.parquet(paths.target_dir)
    got = sorted(r.doc_id for r in target.collect())
    # 10 ~ 1 (VARIANT of BASE), 40 == 1's text exactly, 30 ~ 20
    # (12 of 13 tokens shared -> 10 of 11 shingles); the rest survive
    assert got == [1, 2, 20]

    # accepted-state index covers exactly the accepted docs
    bands = spark.read.parquet(paths.bands_dir)
    toks = spark.read.parquet(paths.tokens_dir)
    assert sorted(r.doc_id for r in bands.select("doc_id").distinct().collect()) == got
    assert sorted(r.doc_id for r in toks.select("doc_id").distinct().collect()) == got

    # audit invariant holds per batch
    for r in spark.read.parquet(paths.audit_dir).collect():
        assert r.fetched == r.dup_vs_store + r.dup_within_batch + r.inserted


def _land_batches(spark, tmp_path, paths, batches):
    os.makedirs(paths.source_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        staging = tmp_path / f"staging{i}"
        _df(spark, rows).coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        os.rename(staging / part, os.path.join(paths.source_dir, f"batch_{i}.parquet"))


_SCHEMA_STRUCT = None


def _schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )


def test_kill_and_resume_recovers_without_double_accepting(spark, tmp_path, monkeypatch):
    """Mid-batch crash + restart (VERDICT r8 ask #4): the stream dies
    BETWEEN batch 2's state writes and its audit commit marker — the
    worst case, since the partial target/bands/tokens partitions are
    already on disk. On resume, the checkpointed offsets replay batch 2;
    the replay must overwrite the partial attempt (not double-accept),
    must not reject batch-2 docs against their own leftover index rows
    (not silently drop), and the final accepted set must equal an
    uninterrupted run's over the same landing files."""
    from data_ingestion_system_spark.streaming import neardup as nd
    from data_ingestion_system_spark.streaming.neardup import accepted_docs

    batches = [
        [(1, BASE), (2, OTHER)],
        [(10, VARIANT), (20, THIRD)],
        [(30, "cat dog fox hen owl pig ram bat cow elk fly ant")],
        [(40, THIRD), (50, "sun moon star comet nova dust ring core flare belt tail arc")],
    ]

    # uninterrupted twin in parallel dirs
    clean = NearDupPaths(
        source_dir=str(tmp_path / "c_landing"),
        target_dir=str(tmp_path / "c_target"),
        bands_dir=str(tmp_path / "c_bands"),
        tokens_dir=str(tmp_path / "c_tokens"),
        audit_dir=str(tmp_path / "c_audit"),
        checkpoint_dir=str(tmp_path / "c_ckpt"),
    )
    _land_batches(spark, tmp_path / "c_staging", clean, batches)
    run_neardup_ingestion(spark, clean, _schema())
    expected = sorted(r.doc_id for r in accepted_docs(spark, clean).collect())
    assert len(expected) >= 4  # sanity: the corpus isn't degenerate

    paths = _paths(tmp_path)
    _land_batches(spark, tmp_path, paths, batches)

    real_append = nd._append_audit
    crashed = {}

    def crash_on_batch_2(audit_df, audit_dir):
        rows = audit_df.collect()
        if rows[0].batch_id == 2 and not crashed:
            crashed["yes"] = True
            raise RuntimeError("injected crash before the commit marker")
        # replay the collected rows so the count() inside collect isn't double-run
        real_append(audit_df, audit_dir)

    monkeypatch.setattr(nd, "_append_audit", crash_on_batch_2)
    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException):
        run_neardup_ingestion(spark, paths, _schema())
    assert crashed  # the injected crash actually fired mid-batch 2
    # batch 2's state partitions exist but its audit marker does not —
    # the exact torn state the recovery must handle
    committed = {r.batch_id for r in spark.read.parquet(paths.audit_dir).collect()}
    assert committed == {0, 1}
    assert os.path.isdir(os.path.join(paths.target_dir, "batch_id=2"))
    # the committed read view already excludes the torn partition
    pre_resume = sorted(r.doc_id for r in accepted_docs(spark, paths).collect())
    assert 30 not in pre_resume

    # resume: same checkpoint dir, patch removed
    monkeypatch.setattr(nd, "_append_audit", real_append)
    run_neardup_ingestion(spark, paths, _schema())

    got = sorted(r.doc_id for r in accepted_docs(spark, paths).collect())
    assert got == expected
    # no double-accepted docs hiding in the raw (uncommitted-inclusive) target
    raw = spark.read.parquet(paths.target_dir)
    assert raw.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    # every batch committed exactly once
    audit = spark.read.parquet(paths.audit_dir).collect()
    ids = sorted(r.batch_id for r in audit)
    assert ids == [0, 1, 2, 3]
    for r in audit:
        assert r.fetched == r.dup_vs_store + r.dup_within_batch + r.inserted
    # index state covers exactly the accepted docs (no orphan rows from
    # the torn attempt)
    for store in (paths.bands_dir, paths.tokens_dir):
        idx_ids = sorted(
            r.doc_id
            for r in spark.read.parquet(store).select("doc_id").distinct().collect()
        )
        assert idx_ids == got


def test_accepted_docs_before_any_committed_state(spark, tmp_path):
    """Fresh deployment (or crash before batch 0's target write): the
    committed view is empty-with-schema when a schema is supplied and a
    clear ValueError — not Spark's PATH_NOT_FOUND — without one."""
    from pyspark.sql.types import StructType

    from data_ingestion_system_spark.streaming.neardup import accepted_docs

    paths = _paths(tmp_path)
    schema = StructType.fromDDL(DOC_SCHEMA)
    empty = accepted_docs(spark, paths, schema=schema)
    assert empty.count() == 0
    assert empty.schema == schema
    with pytest.raises(ValueError, match="no committed state"):
        accepted_docs(spark, paths)


def test_micro_batch_job_budget(spark, tmp_path):
    """One near-dup micro-batch against an existing store runs at most 24
    Spark jobs: one batch checkpoint, a row-local probe, one survivors
    checkpoint carrying the Observation of every count, three state
    writes and the audit append — and no count job."""
    paths = _paths(tmp_path)
    batches = [[(1, BASE), (2, OTHER)], [(10, VARIANT), (20, THIRD), (21, THIRD + " x")]]
    _land_batches(spark, tmp_path, paths, batches[:1])
    run_neardup_ingestion(spark, paths, _schema())
    staging = tmp_path / "second"
    _land_batches(spark, staging, _paths(staging), batches[1:])
    os.rename(
        os.path.join(_paths(staging).source_dir, "batch_0.parquet"),
        os.path.join(paths.source_dir, "batch_1.parquet"),
    )
    q = run_neardup_ingestion(spark, paths, _schema())
    assert drain_jobs(spark, q) <= 24
    audit = {r.batch_id: r for r in spark.read.parquet(paths.audit_dir).collect()}
    assert (audit[1].fetched, audit[1].dup_vs_store, audit[1].dup_within_batch) == (3, 1, 1)
    assert audit[1].inserted == 1


def test_third_micro_batch_compiles_no_class(spark, tmp_path):
    """Generated code is compiled once per session: from the third
    micro-batch of a near-dup drain on, a batch of the same shape (a
    near-dup of the store, a near-dup pair within the batch, a fresh
    doc) compiles no class. The commit-marker read holds no batch
    number; a `batch_id == N` filter compiled two classes every batch."""
    from data_ingestion_system_spark.session import codegen_counters
    from data_ingestion_system_spark.streaming.ingest import drain_files

    words = [f"w{i}" for i in range(200)]

    def doc(k, variant=False):
        # a variant swaps the last token: 3-word-shingle Jaccard 9/11
        toks = words[12 * k : 12 * k + 12]
        return " ".join(toks[:11] + [f"x{k}"] if variant else toks)

    # batch b: a near-dup of batch b-1's fresh doc, a within-batch pair
    # and a fresh doc
    batches = [[(1, doc(0)), (2, doc(1)), (3, doc(1, variant=True))]]
    for b in (1, 2):
        batches.append([
            (10 * b, doc(3 * b - 1 if b > 1 else 0, variant=True)),
            (10 * b + 1, doc(3 * b)),
            (10 * b + 2, doc(3 * b, variant=True)),
            (10 * b + 3, doc(3 * b + 2)),
        ])
    paths = _paths(tmp_path)
    _land_batches(spark, tmp_path, paths, batches)
    compiles = []

    def body(df, batch_id):
        n0 = codegen_counters(spark)[0]
        neardup_insert_batch(spark, df, batch_id, paths)
        compiles.append(codegen_counters(spark)[0] - n0)

    drain_files(spark, paths.source_dir, _schema(), paths.checkpoint_dir, body)
    assert len(compiles) == 3
    assert compiles[2] == 0, compiles
    audit = {r.batch_id: r for r in spark.read.parquet(paths.audit_dir).collect()}
    for b in (1, 2):
        assert (audit[b].dup_vs_store, audit[b].dup_within_batch, audit[b].inserted) == (
            1, 1, 2
        )
