"""K-fold cross-validation assignment — deterministic, engine-portable.

The reference's train/val/test split shuffles once and slices
(reference: src/labeling/sampler.py:139-160); k-fold CV is the
generalization every model-selection loop needs. Folds are assigned by
content-independent key hashing (seeded md5 → 52-bit uniform → mod k),
which gives three properties a shuffle-slice split lacks at 100 TB:

* **stable** — a document keeps its fold when the corpus grows, so CV
  metrics are comparable across ingests (no re-shuffle of history);
* **shuffle-free** — assignment is a per-row codegen expression; the
  only shuffle is the per-fold profile aggregation;
* **portable** — the DuckDB oracle computes the identical fold ids
  (md5 digits → integer arithmetic both engines evaluate exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import (
    U52_SPARK_SQL,
    det_rank_key,
    oracle_round,
    round_port,
    u52_terms_sql,
)
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import load_table

K_FOLDS = 5
FOLD_SEED = 23


def with_fold(docs: DataFrame, key: F.Column, k: int = K_FOLDS, seed: int = FOLD_SEED) -> DataFrame:
    """Attach a deterministic fold id in [0, k) from the row key."""
    hashed = docs.withColumn("h", det_rank_key(key, seed=seed))
    return hashed.withColumn(
        "fold", F.expr(f"CAST(({U52_SPARK_SQL}) % {k} AS INT)")
    ).drop("h")


_KFOLD_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id, lang, n_chars,
         md5(concat('{FOLD_SEED}:', CAST(doc_id AS VARCHAR))) AS h
  FROM documents
), folded AS (
  SELECT doc_id, lang, n_chars,
         CAST(({u52_terms_sql("strpos")}) % {K_FOLDS} AS INTEGER) AS fold
  FROM hashed
)
SELECT fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       {oracle_round("AVG(CAST(n_chars AS DOUBLE))", 4)} AS avg_chars,
       {oracle_round("COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents)", 6)} AS share
FROM folded
GROUP BY fold
ORDER BY fold
"""


@query("kfold_balance", oracle=_KFOLD_ORACLE, survey="M3-ext,O7")
def kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold balance profile of the deterministic 5-fold assignment:
    row counts, language coverage, mean length, and corpus share per
    fold — the sanity readout before trusting CV metrics. Fold ids are
    pure per-row expressions; one aggregation shuffle total."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    folded = with_fold(docs.select("doc_id", "lang", "n_chars"), F.col("doc_id"))
    per_fold = folded.groupBy("fold").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        round_port(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )
    # share from a window over the k-row aggregate — no second corpus scan
    total = F.sum("n_docs").over(Window.partitionBy())
    return (
        per_fold.withColumn(
            "share", round_port(F.col("n_docs") * F.lit(1.0) / total, 6)
        )
        .orderBy("fold")
    )


def _leakage_oracle() -> str:
    from data_ingestion_system_spark.dedup.minhash import JACCARD_THRESHOLD, PAIR_CTES

    return f"""
WITH {PAIR_CTES},
dpairs AS (
  SELECT doc_a, doc_b FROM jacs WHERE jac >= {JACCARD_THRESHOLD}
), folded AS (
  SELECT doc_id,
         CAST(({u52_terms_sql("strpos")}) % {K_FOLDS} AS INTEGER) AS fold
  FROM (
    SELECT doc_id, md5(concat('{FOLD_SEED}:', CAST(doc_id AS VARCHAR))) AS h
    FROM documents
  ) hashed
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
       CAST(SUM(CASE WHEN fa.fold <> fb.fold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_fold,
       {oracle_round("AVG(CASE WHEN fa.fold <> fb.fold THEN 1.0 ELSE 0.0 END)", 6)}
         AS leakage_rate
FROM dpairs p
JOIN folded fa ON fa.doc_id = p.doc_a
JOIN folded fb ON fb.doc_id = p.doc_b
"""


@query("fold_leakage_audit", oracle=_leakage_oracle(), survey="M3-ext,EXT-dedup")
def fold_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much near-duplicate leakage the hash-based k-fold split
    admits: of the verified MinHash duplicate pairs, how many land in
    DIFFERENT folds (a train-fold document whose near-copy sits in the
    eval fold — the contamination mode Lee et al. 2022 show inflates
    eval scores). Content-blind hashing expects ~(1 - 1/k) leakage;
    the cluster-aware split (`cluster_aware_split_stats`) is the fix
    this audit motivates, and this query is the measurement a pipeline
    runs to decide it needs it.

    Scale shape: the pair relation comes from the bounded LSH machinery
    (never all-pairs); fold ids join on doc_id — two key-partitioned
    joins and one scalar aggregate."""
    from data_ingestion_system_spark.dedup.minhash import minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs, _ = minhash_pairs(docs)
    folded = with_fold(docs.select("doc_id"), F.col("doc_id")).select("doc_id", "fold")
    fa = folded.select(F.col("doc_id").alias("doc_a"), F.col("fold").alias("fold_a"))
    fb = folded.select(F.col("doc_id").alias("doc_b"), F.col("fold").alias("fold_b"))
    j = pairs.join(fa, "doc_a").join(fb, "doc_b")
    cross = (F.col("fold_a") != F.col("fold_b")).cast("int")
    return j.agg(
        F.count("*").alias("n_dup_pairs"),
        F.sum(cross).cast("bigint").alias("n_cross_fold"),
        round_port(F.avg(cross.cast("double")), 6).alias("leakage_rate"),
    )
