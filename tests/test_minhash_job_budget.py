"""Pinned Spark job counts of the queries that read the MinHash pair
relation (and of the ngram near-dup query next to it), and of the
vector queries built on the shared scoring core of `similarity/` (the
ANN searches, the k-means profile, SemDeDup, the nearest-centroid
classifier, the embedding near-dup pairs and the hybrid retriever).

A plan change that adds or removes a materialization, a probe or an
exchange run as its own job moves these counts, so they pin each
query's plan, not just its answer. Counted at the test SF (sf0.001,
local[4], 4 shuffle partitions) by job group in the status store, over
the whole query: its build-time jobs (corpus count, eager checkpoints,
dispatch probes) and the collect.
"""

from __future__ import annotations

import pytest

from data_ingestion_system_spark import tables
from data_ingestion_system_spark.registry import load_all

JOB_BUDGETS = {
    "near_dup_minhash_lsh": 9,
    "cross_source_dup_matrix": 11,
    "dedup_threshold_sweep": 10,
    "minhash_estimation_error": 9,
    "dedup_clusters": 15,
    "cluster_aware_split_stats": 23,
    "fold_leakage_audit": 9,
    "near_dup_ngram_jaccard": 24,
    "ann_topk_bruteforce": 5,
    "ann_lsh_topk": 5,
    "ann_ivf_topk": 9,
    "ann_filtered_topk": 9,
    "kmeans_cluster_profile": 6,
    "ann_pq_topk": 8,
    "ann_pq_rerank_topk": 10,
    "ann_ivfpq_topk": 13,
    "label_centroid_confusion": 8,
    "near_dup_embedding_cosine": 6,
    "semantic_dedup": 16,
    "semantic_dedup_hier": 19,
    "contrastive_pairs": 7,
    "hybrid_rrf_search": 7,
}


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _query_jobs(spark, spec, sf_dir, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        spec.spark(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        tables.release_session_checkpoints(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("qname", sorted(JOB_BUDGETS))
def test_minhash_consumer_job_budget(spark, sf_dir, registry, qname):
    """Each query runs exactly its pinned number of jobs. AQE can start
    one extra broadcast job on a query's first run in a session (seen on
    near_dup_ngram_jaccard: 25 instead of 24 in three sessions of eight),
    and the first vector query that needs an index artifact trains it
    (the session memo serves every later run), so a first count off the
    budget is re-read from a second run, and the lower of the two must
    equal it: a plan that adds a job misses on both runs, and one that
    drops a job reads low."""
    spec = registry[qname]
    jobs = _query_jobs(spark, spec, sf_dir, f"budget-{qname}-1")
    if jobs != JOB_BUDGETS[qname]:
        jobs = min(jobs, _query_jobs(spark, spec, sf_dir, f"budget-{qname}-2"))
    assert jobs == JOB_BUDGETS[qname]
