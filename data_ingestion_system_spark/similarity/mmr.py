"""MMR — Maximal Marginal Relevance diverse top-k retrieval.

Plain top-k returns near-duplicates of the same best match; retrieval
for RAG context packing and training-example selection wants relevance
AND coverage. MMR (Carbonell & Goldstein 1998) picks results greedily:

    score(d) = λ·cos(q, d) − (1−λ)·max_{s∈Selected} cos(d, s)

The greedy loop is inherently iterative, but k is a small constant, so
the engine UNROLLS it into the plan: each step is an anti-join (drop
already-selected), a join against the selected set for the diversity
term, and a per-query argmax window — five steps compose into ONE
DataFrame lineage with no driver-side collect at all. The DuckDB
oracle unrolls the same five steps as generated CTEs, so the greedy
trajectory itself — every pick, every tie-break — is hash-verified.

Scale shape: the candidate pool is first cut to POOL_K per query by
the existing brute-force/IVF top-k machinery (pool size Q × POOL_K);
every MMR step then works on pool-sized relations — joins keyed on
query_id, windows per query. Cost is O(k · Q · POOL_K) regardless of
corpus size; the corpus is touched exactly once, in the pool pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.similarity.ann import (
    N_QUERIES,
    _as_double,
    cosine,
    cosine_sql,
    cosine_topk,
    top_k_rows,
)
from data_ingestion_system_spark.tables import load_table

POOL_K = 12   # relevance pool per query feeding the greedy loop
MMR_K = 5     # diverse results returned per query
LAMBDA = 0.7  # relevance-diversity trade-off


def mmr_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = MMR_K,
    pool_k: int = POOL_K,
    lam: float = LAMBDA,
) -> DataFrame:
    """(query_id, rank, cand_id, rel, mmr_score): greedy MMR selection
    unrolled into a single lineage — no driver loop state, no collect."""
    # EAGER checkpoints: the greedy recurrence makes step t's plan contain
    # every earlier step's windows and joins — left un-truncated, Catalyst
    # re-optimizes an exponentially nested tree and the driver, not the
    # data, becomes the cost (measured 48 s for 15 output rows with lazy
    # checkpoints, ~3 s eager). Each step's materialization is pool-sized
    # (Q × pool_k rows) on executors; nothing is collected to the driver.
    pool = (
        cosine_topk(queries, candidates, pool_k)
        .select("query_id", "cand_id", F.col("cosine").alias("rel"))
        .join(
            candidates.select(F.col("vec_id").alias("cand_id"), _as_double("embedding").alias("cv")),
            "cand_id",
        )
        .localCheckpoint(eager=True)
    )
    first = (
        top_k_rows(
            pool.withColumn("score", F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.lit(0.0)),
            1,
            "score",
            rank="rn",
        ).select("query_id", "cand_id", "rel", "cv", "score", F.lit(1).alias("rank"))
    )
    selected = first.localCheckpoint(eager=True)
    for step in range(2, k + 1):
        remaining = pool.join(
            selected.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_anti"
        )
        sims = (
            remaining.alias("r")
            .join(
                selected.select("query_id", F.col("cv").alias("sv")).alias("s"),
                "query_id",
            )
            .select(
                "query_id",
                F.col("r.cand_id").alias("cand_id"),
                cosine("r.cv", "sv").alias("sim"),
            )
            .groupBy("query_id", "cand_id")
            .agg(F.max("sim").alias("maxsim"))
        )
        pick = top_k_rows(
            remaining.join(sims, ["query_id", "cand_id"]).withColumn(
                "score",
                F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("maxsim"),
            ),
            1,
            "score",
            rank="rn",
        ).select("query_id", "cand_id", "rel", "cv", "score", F.lit(step).alias("rank"))
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select("query_id", "rank", "cand_id", "rel", "score")


def _mmr_oracle() -> str:
    """The same greedy trajectory as unrolled DuckDB CTEs.

    Every CTE is MATERIALIZED: DuckDB inlines single-reference CTEs, and
    the rem/all recurrence references each level multiple times, so
    un-materialized the pool would be recomputed exponentially down the
    chain (measured ~50 s vs ~1 s at sf0.01)."""
    ctes = [
        f"""q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
)""",
        f"""c AS (
  SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id >= {N_QUERIES}
)""",
        f"""pool AS MATERIALIZED (
  SELECT query_id, cand_id, rel, cv FROM (
    SELECT query_id, cand_id, {cosine_sql("qv", "cv")} AS rel, cv,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY {cosine_sql("qv", "cv")} DESC, cand_id ASC
           ) AS rn
    FROM q, c
  ) t WHERE rn <= {POOL_K}
)""",
        f"""sel1 AS MATERIALIZED (
  SELECT query_id, cand_id, rel, cv, {LAMBDA} * rel - {1.0 - LAMBDA} * 0.0 AS score,
         1 AS rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY {LAMBDA} * rel - {1.0 - LAMBDA} * 0.0 DESC, cand_id ASC
    ) AS rn FROM pool
  ) t WHERE rn = 1
)""",
        """all1 AS MATERIALIZED (SELECT * FROM sel1)""",
        """rem1 AS MATERIALIZED (
  SELECT p.* FROM pool p
  WHERE NOT EXISTS (SELECT 1 FROM all1 s
                    WHERE s.query_id = p.query_id AND s.cand_id = p.cand_id)
)""",
    ]
    for step in range(2, MMR_K + 1):
        prev = step - 1
        ctes.append(
            f"""sims{step} AS MATERIALIZED (
  SELECT r.query_id, r.cand_id, MAX({cosine_sql("r.cv", "s.cv")}) AS maxsim
  FROM rem{prev} r JOIN all{prev} s ON s.query_id = r.query_id
  GROUP BY r.query_id, r.cand_id
)"""
        )
        ctes.append(
            f"""sel{step} AS MATERIALIZED (
  SELECT query_id, cand_id, rel, cv, score, {step} AS rank FROM (
    SELECT r.query_id, r.cand_id, r.rel, r.cv,
           {LAMBDA} * r.rel - {1.0 - LAMBDA} * m.maxsim AS score,
           ROW_NUMBER() OVER (
             PARTITION BY r.query_id
             ORDER BY {LAMBDA} * r.rel - {1.0 - LAMBDA} * m.maxsim DESC,
                      r.cand_id ASC
           ) AS rn
    FROM rem{prev} r JOIN sims{step} m
      ON m.query_id = r.query_id AND m.cand_id = r.cand_id
  ) t WHERE rn = 1
)"""
        )
        ctes.append(
            f"""all{step} AS MATERIALIZED (SELECT * FROM all{prev} UNION ALL SELECT * FROM sel{step})"""
        )
        if step < MMR_K:
            ctes.append(
                f"""rem{step} AS MATERIALIZED (
  SELECT p.* FROM rem{prev} p
  WHERE NOT EXISTS (SELECT 1 FROM sel{step} s
                    WHERE s.query_id = p.query_id AND s.cand_id = p.cand_id)
)"""
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id,
       ROUND(rel * 1000000.0) / 1000000.0 AS rel,
       ROUND(score * 1000000.0) / 1000000.0 AS mmr_score
FROM all{MMR_K}
ORDER BY query_id, rank
"""
    )


@query("mmr_diverse_topk", oracle=_mmr_oracle(), survey="EXT-similarity")
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse top-5 per query via greedy MMR over a 12-candidate
    relevance pool (λ=0.7) — relevance/diversity selection for RAG
    context packing and training-example dedup-at-retrieval. The greedy
    loop is plan-unrolled; the oracle replays the identical trajectory,
    so every pick and tie-break is hash-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    candidates = emb.filter(F.col("vec_id") >= N_QUERIES)
    out = mmr_topk(queries, candidates)
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "cand_id",
        round_port(F.col("rel"), 6).alias("rel"),
        round_port(F.col("score"), 6).alias("mmr_score"),
    ).orderBy("query_id", "rank")
