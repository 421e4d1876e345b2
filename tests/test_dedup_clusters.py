"""Connected-components closure: pairwise dedup alone cannot merge
A≈B, B≈C into one group when A and C share nothing — the closure must.
"""

from __future__ import annotations

import pytest

from data_ingestion_system_spark.dedup import clusters
from data_ingestion_system_spark.dedup.clusters import connected_components


def test_chain_merges_into_one_cluster(spark):
    # 1-2, 2-3, 3-4 is a diameter-3 chain; 10-11 is a separate pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_closure_exceeds_pairwise_groups(spark):
    # two cliques bridged by one edge collapse into one component
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 7), (7, 8), (7, 9), (8, 9)],
        "doc_a long, doc_b long",
    )
    comp = connected_components(pairs)
    cluster_ids = {r.cluster_id for r in comp.collect()}
    assert cluster_ids == {1}


@pytest.mark.parametrize("arm", ["driver", "contract"])
def test_cc_arm_adversarial_graph(spark, monkeypatch, arm):
    # Both component arms on a graph shaped to stress them: a 200-node
    # chain (diameter 199 — trivial for union-find; the contraction loop
    # closes it in a few rounds because the ids along it are in random
    # order), two cliques bridged into the chain, isolated pairs, ids far
    # from dense/sorted insertion order. Expected labels from an
    # independent in-test union-find.
    import random

    if arm == "contract":
        monkeypatch.setattr(clusters, "CC_DRIVER_MAX_EDGES", -1)

    rng = random.Random(7)
    ids = rng.sample(range(10**6, 10**9), 600)
    edge_list = []
    # chain of 200 (diameter 199)
    edge_list += [(ids[i], ids[i + 1]) for i in range(199)]
    # two cliques of 20, one bridged to the chain's middle, one to its head
    for base in (200, 230):
        grp = ids[base : base + 20]
        edge_list += [(a, b) for i, a in enumerate(grp) for b in grp[i + 1 :]]
    edge_list += [(ids[100], ids[200]), (ids[230], ids[0])]
    # isolated pairs
    edge_list += [(ids[i], ids[i + 1]) for i in range(300, 340, 2)]
    rng.shuffle(edge_list)

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {(n, find(n)) for n in parent}

    pairs = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    assert clusters.LAST_CC_STATS["arm"] == arm
    assert got == expect


def test_driver_arm_handles_string_ids(spark):
    # the driver arm's union-find is type-generic; string-keyed graphs
    # must close with the same min-root contract (min = lexical)
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
