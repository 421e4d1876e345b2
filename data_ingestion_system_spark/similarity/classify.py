"""Nearest-class-centroid classification over the embedding column.

The embeddings table carries a `label` column no similarity query used;
the classic consumer is Rocchio / nearest-centroid classification
(Manning, Raghavan & Schütze, IIR §14.2): each class is summarized by
the element-wise mean of its member vectors, and a vector is assigned
to the class whose centroid it is most cosine-similar to. The emitted
confusion matrix (true label × predicted label × count) is the standard
quality readout, and is also the cheapest way to audit embedding-space
class separation before using embeddings for dedup or retrieval.

Scale shape: the per-label centroid build is one narrow posexplode +
(label, pos) aggregation over the corpus; classification is a
10-row broadcast against the corpus with an argmax — no shuffle beyond
the final (label, predicted) count. Centroid means are rounded to 6
decimals (the shared quantizer-training convention) so the DuckDB
oracle lands on bit-identical centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.similarity.ann import DIM, _with_norm, cosine_sql, load_vectors
from data_ingestion_system_spark.similarity.ivf import centroid_cosines, nearest_centroid


def label_centroids(v: DataFrame) -> DataFrame:
    """(label, cv): element-wise mean embedding per label, rounded to 6
    decimals per component."""
    return (
        v.select("label", F.posexplode("ev").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "label",
            F.expr("transform(pm, s -> round(s.m * 1000000.0) / 1000000.0)").alias("cv"),
        )
    )


def predict_labels(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, label, predicted): cosine-argmax class assignment through
    the shared argmax (`ivf.nearest_centroid`), ties to the lower label
    id."""
    cents = centroids.select(F.col("label").alias("predicted"), "cv")
    scored = centroid_cosines(_with_norm(v, "ev", "nrm"), cents, "predicted", keep=("label",))
    return nearest_centroid(scored, "predicted").drop("c")


_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), comp_means AS (
  SELECT label, i, ROUND(AVG(ev[i]) * 1000000.0) / 1000000.0 AS m
  FROM v, UNNEST(range(1, {DIM} + 1)) AS r(i)
  GROUP BY label, i
), cents AS (
  SELECT label, list(m ORDER BY i) AS cv FROM comp_means GROUP BY label
), assigned AS (
  SELECT vec_id, label, predicted FROM (
    SELECT v.vec_id, v.label, c.label AS predicted,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {cosine_sql("v.ev", "c.cv")} DESC, c.label ASC) AS rn
    FROM v, cents c
  ) t WHERE rn = 1
)
SELECT label, predicted, CAST(COUNT(*) AS BIGINT) AS n
FROM assigned GROUP BY label, predicted
ORDER BY label, predicted
"""


@query("label_centroid_confusion", oracle=_ORACLE, survey="EXT-similarity")
def label_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of nearest-centroid classification: how often
    vectors of each true label land on each class centroid."""
    v = load_vectors(spark, sf_dir, "label")
    cents = label_centroids(v)
    assigned = predict_labels(v, cents)
    return (
        assigned.groupBy("label", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("label", "predicted")
    )
