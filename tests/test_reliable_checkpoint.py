"""Reliable-checkpoint mode and bulk-checkpoint storage-level dispatch.

Two cluster-scale behaviors of `tables` (VERDICT r7 asks #1/#2):

1. `SPARK_GRAFT_RELIABLE_CHECKPOINT=dir` switches `bulk_checkpoint` /
   `corpus_checkpoint` from executor-pinned `localCheckpoint` to reliable
   `df.checkpoint()` against `setCheckpointDir`, so the truncated lineage
   of a 100 TB job survives executor loss. Both modes must produce
   identical answers; reliable mode must actually write RDD files.
2. In local mode the bulk storage level is size-dispatched (§4d): small
   corpora keep MEMORY_AND_DISK (the r7 blanket DISK_ONLY cost
   near_dup_minhash_lsh ×1.84 at sf0.1); above `BULK_DISK_ONLY_MIN_ROWS`
   (or the bytes-probe floor) DISK_ONLY avoids starving the unified
   pool's execution half (scale-failure class #5).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_system_spark import tables
from data_ingestion_system_spark.tables import (
    _BULK_DISK_ONLY_MIN_BYTES,
    BULK_DISK_ONLY_MIN_ROWS,
    _past_floor,
    bulk_checkpoint,
    corpus_checkpoint,
    load_table,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def reliable_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "ckpt")
    monkeypatch.setenv(tables.RELIABLE_CHECKPOINT_ENV, d)
    yield d


def _bulk_wants_disk_only(df, n_rows):
    return _past_floor(df, n_rows, BULK_DISK_ONLY_MIN_ROWS, _BULK_DISK_ONLY_MIN_BYTES)


def test_storage_dispatch_by_n_rows(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert _bulk_wants_disk_only(docs, BULK_DISK_ONLY_MIN_ROWS) is True
    assert _bulk_wants_disk_only(docs, BULK_DISK_ONLY_MIN_ROWS - 1) is False


def test_storage_dispatch_by_bytes_probe(spark, sf_dir):
    # sf0.001 documents.parquet is a few KB — far under the bytes floor
    docs = load_table(spark, sf_dir, "documents")
    assert _bulk_wants_disk_only(docs, None) is False
    # untraceable lineage (checkpoint-fed) → DISK_ONLY, the scale-safe arm
    ck = docs.localCheckpoint(eager=True)
    assert _bulk_wants_disk_only(ck, None) is True


def test_bulk_checkpoint_both_levels_same_answer(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    small = bulk_checkpoint(docs, n_rows=1)  # MEMORY_AND_DISK arm
    large = bulk_checkpoint(docs, n_rows=BULK_DISK_ONLY_MIN_ROWS)  # DISK_ONLY arm
    assert _rows(small) == _rows(large)


def test_reliable_mode_writes_rdd_files_and_matches(spark, sf_dir, reliable_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    expected = _rows(docs)
    ck_bulk = bulk_checkpoint(docs, eager=True, n_rows=10**9)
    ck_corpus = corpus_checkpoint(docs.filter(F.col("doc_id") >= 0), eager=True)
    assert _rows(ck_bulk) == expected
    assert _rows(ck_corpus) == expected
    parts = [
        os.path.join(r, f)
        for r, _, fs in os.walk(reliable_dir)
        for f in fs
        if f.startswith("part-")
    ]
    assert len(parts) >= 2, "reliable mode must write RDD part files"


def test_reliable_mode_query_parity(spark, sf_dir, reliable_dir, monkeypatch):
    """The flagship iterative dedup query (tokens bulk checkpoint +
    per-round label truncation in connected components) returns the
    identical answer under reliable checkpointing."""
    from data_ingestion_system_spark.dedup.clusters import dedup_clusters

    got = _rows(dedup_clusters(spark, sf_dir))
    # compare against local mode inside the same test
    monkeypatch.delenv(tables.RELIABLE_CHECKPOINT_ENV, raising=False)
    want = _rows(dedup_clusters(spark, sf_dir))
    assert got == want
    assert len(got) > 0
    # don't leak this test's checkpoint blocks into later modules
    # (class-#6 hygiene — the session fixture is shared)
    tables.release_session_checkpoints(spark)


def test_release_sweeps_reliable_checkpoint_files(spark, sf_dir, reliable_dir):
    """release_session_checkpoints must also empty the reliable
    checkpoint dir (df.checkpoint files are not reference-tracked any
    more reliably than localCheckpoint blocks)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bulk_checkpoint(docs, eager=True, n_rows=10**9).count()
    rdd_dirs = [
        os.path.join(r, s)
        for r, subs, _ in os.walk(reliable_dir)
        for s in subs
        if s.startswith("rdd-")
    ]
    assert rdd_dirs, "expected checkpoint rdd dirs before release"
    tables.release_session_checkpoints(spark)
    for d in rdd_dirs:
        assert not os.path.exists(d), d


def test_keepers_reliable_mode_parity(spark, sf_dir, reliable_dir, monkeypatch):
    """The round's flagship new query composes with the round's new
    mode: keeper output is identical under reliable checkpointing
    (its hashes AND distinct-value relations both truncate through the
    reliable path)."""
    from data_ingestion_system_spark.dedup.simhash import (
        near_dup_simhash_multiblock_keepers,
    )

    got = _rows(near_dup_simhash_multiblock_keepers(spark, sf_dir))
    monkeypatch.delenv(tables.RELIABLE_CHECKPOINT_ENV, raising=False)
    want = _rows(near_dup_simhash_multiblock_keepers(spark, sf_dir))
    assert got == want
    assert len(got) > 0
    tables.release_session_checkpoints(spark)


def test_release_does_not_sweep_app_owned_checkpoint_dir(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r9 advisor fix: release_session_checkpoints sweeps only a dir this
    library configured via reliable mode. An embedding app that called
    setCheckpointDir for its own df.checkpoint() use owns that dir's
    lifecycle — its live checkpoint files must survive our release."""
    monkeypatch.delenv(tables.RELIABLE_CHECKPOINT_ENV, raising=False)
    app_dir = str(tmp_path / "app_ckpt")
    spark.sparkContext.setCheckpointDir(app_dir)
    # drop the library's memo of any dir a previous test configured —
    # a fresh app would not have set one
    tables._RELIABLE_DIR_SET_FOR.pop(spark.sparkContext.applicationId, None)
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        ck = docs.checkpoint(eager=True)  # the APP's own reliable checkpoint
        assert ck.count() > 0
        rdd_dirs = [
            os.path.join(r, s)
            for r, subs, _ in os.walk(app_dir)
            for s in subs
            if s.startswith("rdd-")
        ]
        assert rdd_dirs, "expected the app's checkpoint rdd dirs"
        tables.release_session_checkpoints(spark)
        for d in rdd_dirs:
            assert os.path.exists(d), f"app-owned checkpoint swept: {d}"
        # the app's checkpointed frame still reads back after release
        assert ck.count() == docs.count()
    finally:
        import shutil

        shutil.rmtree(app_dir, ignore_errors=True)


def test_uri_form_reliable_dir_still_sweeps(spark, sf_dir, tmp_path, monkeypatch):
    """file:///x is a valid setCheckpointDir argument: the ownership
    containment match must strip the scheme on BOTH sides, else the
    sweep silently never fires and rdd-* dirs accumulate for the
    session's lifetime (r9 review finding)."""
    plain = str(tmp_path / "uri_ckpt")
    monkeypatch.setenv(tables.RELIABLE_CHECKPOINT_ENV, "file://" + plain)
    tables._RELIABLE_DIR_SET_FOR.pop(spark.sparkContext.applicationId, None)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bulk_checkpoint(docs, eager=True, n_rows=10**9).count()
    rdd_dirs = [
        os.path.join(r, s)
        for r, subs, _ in os.walk(plain)
        for s in subs
        if s.startswith("rdd-")
    ]
    assert rdd_dirs, "expected checkpoint rdd dirs under the URI-form dir"
    tables.release_session_checkpoints(spark)
    for d in rdd_dirs:
        assert not os.path.exists(d), d


def test_reliable_checkpoint_repins_after_host_app_redirect(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A host application's own setCheckpointDir call between our
    queries must not redirect OUR next reliable checkpoint into the
    app's directory (the per-app memo alone would trust the stale
    pin — r9 review finding)."""
    ours = str(tmp_path / "ours")
    monkeypatch.setenv(tables.RELIABLE_CHECKPOINT_ENV, ours)
    tables._RELIABLE_DIR_SET_FOR.pop(spark.sparkContext.applicationId, None)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bulk_checkpoint(docs, eager=True, n_rows=10**9).count()
    # host app rotates the context's checkpoint dir for its own use
    app_dir = str(tmp_path / "theirs")
    spark.sparkContext.setCheckpointDir(app_dir)
    bulk_checkpoint(docs.limit(10), eager=True, n_rows=10**9).count()
    under_theirs = [
        s for r, subs, _ in os.walk(app_dir) for s in subs if s.startswith("rdd-")
    ]
    assert not under_theirs, "our reliable checkpoint leaked into the app's dir"
    tables.release_session_checkpoints(spark)
