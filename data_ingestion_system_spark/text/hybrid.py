"""Hybrid retrieval: reciprocal-rank fusion of BM25 and embedding ANN.

The standard two-retriever RAG serving stack: a lexical ranking (Okapi
BM25 over posting lists, text/ranking.py) and a semantic ranking
(embedding cosine, similarity/ann.py) each produce a top-FUSE_K list,
fused by Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009,
"Reciprocal rank fusion outperforms Condorcet and individual rank
learning methods"):

    rrf(d) = Σ_lists 1 / (RRF_K + rank_list(d))     (absent ⇒ no term)

Fusion joins the two lists on their shared id space — `vec_id` keys the
embedded slice of the corpus, so a doc can rank lexically, semantically,
or both; RRF's absent-means-no-term rule handles one-sided hits.

Scale shape: each retriever reduces to its top-FUSE_K *before* fusion —
the lexical side ranks only docs matching ≥1 query term (posting-list
bounded), the semantic side is one broadcast-query cosine pass with a
TakeOrdered top-K (no global sort) — so the fusion join touches
2·FUSE_K rows regardless of corpus size. RRF terms are rational
functions of integer ranks: bit-identical across engines, no float
rounding hazards until the final readout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.similarity.ann import (
    N_QUERIES,
    cosine,
    cosine_sql,
    load_vectors,
)
from data_ingestion_system_spark.tables import load_table
from data_ingestion_system_spark.text.ranking import B, BM25_TERMS, K1, bm25_scores

FUSE_K = 100  # depth of each retriever's candidate list
RRF_K = 60  # the RRF dampening constant from the paper
QUERY_VEC = 0  # the semantic query: embeddings.vec_id == 0
TOP_N = 20

def _hybrid_oracle() -> str:
    terms_list = ", ".join(f"'{t}'" for t in BM25_TERMS)
    per_term = " + ".join(
        f"COALESCE(MAX(CASE WHEN token = '{t}' THEN s END), 0.0)" for t in BM25_TERMS
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM dl) AS avgdl
), dfs AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
  WHERE token IN ({terms_list}) GROUP BY token
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks
  WHERE token IN ({terms_list}) GROUP BY doc_id, token
), scored AS (
  SELECT t.doc_id, t.token,
         ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
         * (t.tf * ({K1} + 1)) / (t.tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) AS s
  FROM tf t JOIN dfs f USING (token) JOIN dl d USING (doc_id), stats s
), lex AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM (SELECT doc_id, {per_term} AS score FROM scored GROUP BY doc_id) t0
  ) r WHERE rank <= {FUSE_K}
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), sem AS (
  SELECT doc_id, rank FROM (
    SELECT c.vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY {cosine_sql("q.qv", "c.cv")} DESC, c.vec_id ASC) AS rank
    FROM (SELECT ev AS cv, vec_id FROM v WHERE vec_id >= {N_QUERIES}) c,
         (SELECT ev AS qv FROM v WHERE vec_id = {QUERY_VEC}) q
  ) r WHERE rank <= {FUSE_K}
), fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         COALESCE(l.rank, 0) AS lex_rank,
         COALESCE(s.rank, 0) AS sem_rank,
         COALESCE(1.0 / ({RRF_K} + l.rank), 0.0)
           + COALESCE(1.0 / ({RRF_K} + s.rank), 0.0) AS rrf
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
       CAST(sem_rank AS INTEGER) AS sem_rank,
       ROUND(rrf * 1000000.0) / 1000000.0 AS rrf,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rank
FROM fused
QUALIFY rank <= {TOP_N}
ORDER BY rank
"""


def _ranked_topk(scored: DataFrame, score_col: str, id_col: str, k: int) -> DataFrame:
    """(doc_id, rank) for the top-k by (score DESC, id ASC). The limit
    keeps the plan a TakeOrdered (no global sort); ranking the k
    surviving rows is then a trivial single-partition window."""
    top = scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col(id_col).alias("doc_id"), "rank"
    )


@query("hybrid_rrf_search", oracle=_hybrid_oracle(), survey="EXT-text,EXT-similarity")
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hybrid retrieval: BM25 top-100 ∪ cosine top-100, fused by
    reciprocal-rank fusion. `lex_rank`/`sem_rank` report each
    retriever's position (0 = not in that retriever's list)."""
    docs = load_table(spark, sf_dir, "documents")
    lex = _ranked_topk(bm25_scores(docs), "score", "doc_id", FUSE_K)

    v = load_vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") == QUERY_VEC).select(F.col("ev").alias("qv"))
    cands = v.filter(F.col("vec_id") >= N_QUERIES)
    cos = cands.crossJoin(F.broadcast(q)).select("vec_id", cosine("qv", "ev").alias("cosine"))
    sem = _ranked_topk(cos, "cosine", "vec_id", FUSE_K)

    fused = (
        lex.withColumnRenamed("rank", "lex_rank")
        .join(sem.withColumnRenamed("rank", "sem_rank"), "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("int").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("int").alias("sem_rank"),
            (
                F.coalesce(F.lit(1.0) / (RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (RRF_K + F.col("sem_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_N)
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            round_port(F.col("rrf"), 6).alias("rrf"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )
