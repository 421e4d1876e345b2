"""SemDeDup keep-rule semantics + quality-classifier scoring contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_system_spark.dedup.semdedup import (
    _normed,
    assign_cells,
    semdedup_pairs_dropped,
)
from data_ingestion_system_spark.similarity.ann import DIM
from data_ingestion_system_spark.text.classifier import (
    hashed_weight_table,
    score_documents,
)


def _pad(v):
    # keep test vectors at the embeddings-table width (ann.DIM) — the
    # module contract every production caller feeds (the fold dot itself
    # is length-agnostic). Zero-pad the 2-dim test geometry; cosines are
    # unchanged.
    return v + [0.0] * (DIM - len(v))


def _vec_df(spark, rows):
    return spark.createDataFrame(
        [(i, _pad(v)) for i, v in rows], "vec_id long, ev array<double>"
    )


def _cent_df(spark, rows):
    return spark.createDataFrame(
        [(i, _pad(v)) for i, v in rows], "cell_id int, cv array<double>"
    )


@pytest.mark.parametrize(
    "keys,rank_col",
    [(("cell_id",), "ccos"), (("cell_id", "fine_id"), "fcos")],
    ids=["flat", "hier"],
)
def test_semdedup_drops_the_more_cluster_typical_member(spark, keys, rank_col):
    # two clusters on orthogonal axes; in cell 0, vec 10 IS the centroid
    # direction (ccos=1.0) and vec 11 is tilted but still within the
    # duplicate threshold of vec 10 — SemDeDup keeps the less typical
    # member (11), dropping 10. vec 20 sits alone in cell 1. The
    # hierarchical keying puts every member in fine cell 0 and ranks on
    # the same cosine renamed fcos: one pair join, both bucket shapes.
    cents = _cent_df(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    v = _vec_df(
        spark,
        [
            (10, [1.0, 0.0]),
            (11, [0.9, 0.2]),
            (20, [0.0, 1.0]),
        ],
    )
    assigned = assign_cells(_normed(v), cents)
    got = {(r.vec_id, r.cell_id) for r in assigned.select("vec_id", "cell_id").collect()}
    assert got == {(10, 0), (11, 0), (20, 1)}

    if rank_col == "fcos":
        assigned = assigned.withColumn("fine_id", F.lit(0)).withColumnRenamed(
            "ccos", "fcos"
        )
    pairs, dropped = semdedup_pairs_dropped(assigned, keys, rank_col, threshold=0.9)
    assert [(r.va, r.vb) for r in pairs.select("va", "vb").collect()] == [(10, 11)]
    assert dropped.columns == [*keys, "vec_id"]
    assert [r.vec_id for r in dropped.collect()] == [10]  # the on-centroid one


def test_semdedup_tie_drops_higher_id_and_respects_threshold(spark):
    # identical vectors -> identical centroid cosine -> tie: drop the
    # HIGHER vec_id; a sub-threshold neighbor produces no pair at all
    cents = _cent_df(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    v = _vec_df(
        spark,
        [
            (10, [0.8, 0.1]),
            (11, [0.8, 0.1]),
            (12, [0.5, -0.5]),  # cell 0 but cosine to 10/11 ~0.55 < 0.9
        ],
    )
    assigned = assign_cells(_normed(v), cents)
    pairs, dropped = semdedup_pairs_dropped(assigned, ("cell_id",), "ccos", threshold=0.9)
    assert [(r.va, r.vb) for r in pairs.select("va", "vb").collect()] == [(10, 11)]
    assert [r.vec_id for r in dropped.collect()] == [11]


def test_classifier_keep_matches_score_and_weights_broadcast(spark):
    docs = spark.createDataFrame(
        [(i, "s", f"alpha beta gamma_{i} delta_{i % 7}") for i in range(40)],
        "doc_id long, source string, text string",
    )
    scored = score_documents(docs, hashed_weight_table(spark))
    rows = scored.collect()
    assert len(rows) == 40
    for r in rows:
        assert r.n_tokens == 4
        assert 0.0 < r.score < 1.0
        # keep flag is exactly the score>0.5 decision (sigmoid is monotone)
        assert r.keep == (1 if r.score > 0.5 else 0)
    # the model lookup must be a broadcast join — the corpus never
    # shuffles for the weight table
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_classifier_score_is_deterministic_across_runs(spark):
    docs = spark.createDataFrame(
        [(1, "s", "the quick brown fox")], "doc_id long, source string, text string"
    )
    w = hashed_weight_table(spark)
    s1 = score_documents(docs, w).select(F.round("score", 12).alias("s")).first().s
    s2 = score_documents(docs, w).select(F.round("score", 12).alias("s")).first().s
    assert s1 == s2


def test_flat_semdedup_dispatch_sides_agree(spark, sf_dir, monkeypatch):
    """The flat op's size-dispatched pair term (semdedup_group_stats on
    cell_id) must return identical rows from both physical plans —
    relational in-cell self-join and per-cell dgemm with the keep rule
    ranking on the coarse centroid cosine. Each arm is forced by moving
    the SEMDEDUP_BLAS_MIN_ROWS floor."""
    from data_ingestion_system_spark.dedup import semdedup
    from data_ingestion_system_spark.dedup.semdedup import (
        _normed,
        adaptive_cells,
        assign_cells,
        semdedup_group_stats,
    )
    from data_ingestion_system_spark.similarity.ann import load_vectors
    from data_ingestion_system_spark.similarity.ivf import (
        dataset_cache_key,
        train_centroids,
    )
    from data_ingestion_system_spark.tables import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    v = load_vectors(spark, sf_dir)
    cents = train_centroids(
        v, cache_key=dataset_cache_key(sf_dir), n_cells=adaptive_cells(n)
    )
    assigned = assign_cells(_normed(v), cents)

    def stats(rows):
        return semdedup_group_stats(assigned, rows, ("cell_id",), "ccos")

    # both dispatch sides plan-asserted on the same builder
    small = stats(n)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in small
    big = stats(16_384)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in big

    monkeypatch.setattr(semdedup, "SEMDEDUP_BLAS_MIN_ROWS", 10**12)
    rel = sorted(map(tuple, stats(n).collect()))
    monkeypatch.setattr(semdedup, "SEMDEDUP_BLAS_MIN_ROWS", 0)
    blas = sorted(map(tuple, stats(n).collect()))
    assert blas == rel


def test_fine_centroid_memo_replays_identically(spark, sf_dir):
    """The r10 fine-quantizer memo (train-once/serve-many, the
    train_centroids pattern) must replay EXACTLY the rows, types, and
    fnrm the cold Lloyd training produced — warm and cold serving paths
    may never diverge in schema or values."""
    from data_ingestion_system_spark.dedup.semdedup import (
        _normed,
        assign_cells,
        train_fine_centroids,
    )
    from data_ingestion_system_spark.similarity.ann import load_vectors
    from data_ingestion_system_spark.similarity.ivf import (
        _index_cache,
        dataset_cache_key,
        hier_cells,
        train_centroids,
    )
    from data_ingestion_system_spark.similarity.ivf import adaptive_train_mod
    from data_ingestion_system_spark.tables import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    v = load_vectors(spark, sf_dir)
    kc, kf = hier_cells(n)
    key = dataset_cache_key(sf_dir)
    cents = train_centroids(v, cache_key=key, n_cells=kc)
    cassigned = assign_cells(_normed(v), cents).drop("ccos")
    memo = ("fine_centroids", key, kf, adaptive_train_mod(n))
    _index_cache(spark).pop(memo, None)  # force the cold path
    cold = train_fine_centroids(
        cassigned, kf, train_mod=adaptive_train_mod(n), cache_key=key
    )
    assert memo in _index_cache(spark)
    warm = train_fine_centroids(
        cassigned, kf, train_mod=adaptive_train_mod(n), cache_key=key
    )
    # both sides replay the memoized rows through the same LocalRelation,
    # so the schemas match exactly, nullability included
    assert warm.schema == cold.schema
    assert sorted(map(tuple, warm.collect())) == sorted(map(tuple, cold.collect()))
    from data_ingestion_system_spark.dedup.semdedup import semantic_dedup_hier

    q_warm = semantic_dedup_hier(spark, sf_dir)
    _index_cache(spark).pop(memo, None)
    q_cold = semantic_dedup_hier(spark, sf_dir)
    assert q_warm.schema == q_cold.schema
    assert q_warm.collect() == q_cold.collect()
    # the replay is a LocalTableScan — no Lloyd jobs in its plan
    assert "LocalTableScan" in warm._jdf.queryExecution().executedPlan().toString()
