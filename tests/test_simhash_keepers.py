"""Multiblock SimHash keeper surface (VERDICT r7 ask #3).

`near_dup_simhash_multiblock_keepers` must equal the composition a user
would otherwise run — the full doc-pair dump fed through doc-level
connected components — without ever materializing the pair relation.
This pins the value-clique theorem (doc graph = value graph expanded by
same-value cliques) on real data, not just the oracle plumbing.
"""

from __future__ import annotations

from data_ingestion_system_spark.dedup.clusters import connected_components
from data_ingestion_system_spark.dedup.simhash import near_dup_simhash_multiblock_keepers
from data_ingestion_system_spark.registry import load_all


def test_keepers_equal_pairdump_components(spark, sf_dir):
    import pyspark.sql.functions as F

    registry = load_all()
    pairs = registry["near_dup_simhash_multiblock"].spark(spark, sf_dir)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    csizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    via_pairs = {
        tuple(r)
        for r in comp.join(csizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
        )
        .collect()
    }
    via_values = {
        tuple(r) for r in near_dup_simhash_multiblock_keepers(spark, sf_dir).collect()
    }
    assert via_values == via_pairs
    assert len(via_values) > 0
    keepers = {r for r in via_values if r[3]}
    clusters = {r[1] for r in via_values}
    assert len(keepers) == len(clusters)  # exactly one keeper per cluster
