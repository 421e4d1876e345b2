"""Model-based quality classification over hashed bag-of-words features.

The linear-classifier quality filter every web-scale corpus pipeline
runs (fastText architecture — Joulin et al. 2016, "Bag of Tricks for
Efficient Text Classification": hashed unigram features, a weight per
hash bucket, mean-pool, logistic output; used as the quality gate in
CCNet, GPT-3's WebText-similarity filter, and RefinedWeb): every
document's tokens hash into B buckets, each bucket carries a learned
weight, the document's score is the logistic of the mean bucket
weight, and keep/drop is a threshold on the score.

Spark shape — the part that matters at 100 TB: the model is a B-row
(bucket, weight) table, BROADCAST onto the exploded token stream
(feature lookup = map-side hash join, no shuffle); per-doc mean-pool
is one groupBy(doc_id); the report is one groupBy(source). Training
happens offline; serving is this one pass. The weight table here is a
deterministic md5-derived fixture standing in for an exported trained
model (the container has no fastText and the synthetic corpus has no
quality labels) — swap `hashed_weight_table` for `spark.read.parquet`
of real exported weights and nothing else changes.

Extends the reference's rule-based quality heuristics
(src/analysis/data_quality_analyzer.py:86-138 — length/rating rules)
with the model-based scoring tier those heuristics feed into.

Float parity: bucket ids and weights are bit-identical in both engines
(integer arithmetic over md5 hex digits, scalar.u52_terms_sql); the
only cross-engine float surface is exp() in the final sigmoid, rounded
to 6 decimals after the per-doc mean — the repo's standard contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import (
    U52_DENOM,
    U52_SPARK_SQL,
    oracle_round,
    round_port,
    u52_terms_sql,
)
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import fan_out, load_table

N_BUCKETS = 4096  # hashing-trick feature space (2^12)
GAIN = 8.0  # logistic gain: spreads near-zero mean weights across (0,1)

# token -> bucket: 52-bit integer from md5('qc:'||token), mod B — the
# u52 term is non-negative, so plain % agrees between engines (DuckDB
# has no pmod)
_BUCKET = f"""(({u52_terms_sql("{instr}")}) % {N_BUCKETS})"""
# bucket -> weight: uniform in (-0.5, 0.5) from md5('qw:'||bucket)
_WEIGHT = f"""(({u52_terms_sql("{instr}")} + 0.5) / {U52_DENOM} - 0.5)"""


def _bucket_sql(instr_fn: str) -> str:
    """The bucket expression: Spark renders the u52 term as one conv()
    radix parse (scalar.U52_SPARK_SQL — bit-identical, ~3x cheaper than
    the 13-term digit sum, and this expression runs once per corpus
    TOKEN); DuckDB has no conv() and keeps the digit-position sum."""
    if instr_fn == "instr":
        return f"(({U52_SPARK_SQL}) % {N_BUCKETS})"
    return _BUCKET.replace("{instr}", instr_fn)


def _weight_sql(instr_fn: str) -> str:
    if instr_fn == "instr":
        return f"(({U52_SPARK_SQL} + 0.5) / {U52_DENOM} - 0.5)"
    return _WEIGHT.replace("{instr}", instr_fn)


# Shared CTE block (names clf-prefixed so composed oracles — the corpus
# pipeline — can include them without collisions)
CLASSIFIER_CTES = f"""clfbuckets AS (
  SELECT CAST(unnest(range({N_BUCKETS})) AS BIGINT) AS bucket
), clfweights AS (
  SELECT bucket, {_weight_sql("strpos")} AS w FROM (
    SELECT bucket, md5(concat('qw:', CAST(bucket AS VARCHAR))) AS h FROM clfbuckets
  ) b
), clftoks AS (
  SELECT doc_id, source, md5(concat('qc:', tok)) AS h
  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents) t
), clffeats AS (
  SELECT doc_id, source, {_bucket_sql("strpos")} AS bucket FROM clftoks
), clfscored AS (
  SELECT f.doc_id, f.source,
         COUNT(*) AS n_tokens,
         1.0 / (1.0 + exp(-{GAIN} * AVG(w.w))) AS score,
         CASE WHEN {oracle_round("AVG(w.w)", 6)} > 0 THEN 1 ELSE 0 END AS keep
  FROM clffeats f JOIN clfweights w USING (bucket)
  GROUP BY f.doc_id, f.source
)"""

_ORACLE = f"""
WITH {CLASSIFIER_CTES}
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_keep,
       ROUND(AVG(score) * 1000000.0) / 1000000.0 AS avg_score,
       ROUND(MIN(score) * 1000000.0) / 1000000.0 AS min_score,
       ROUND(MAX(score) * 1000000.0) / 1000000.0 AS max_score
FROM clfscored
GROUP BY source
ORDER BY source
"""


def hashed_weight_table(spark: SparkSession, n_buckets: int = N_BUCKETS) -> DataFrame:
    """The (bucket, w) model table — deterministic md5-derived fixture
    weights; production swaps this for reading an exported trained
    model. B rows: always broadcastable."""
    return (
        spark.range(n_buckets)
        .select(
            F.col("id").alias("bucket"),
            F.md5(F.concat(F.lit("qw:"), F.col("id").cast("string"))).alias("h"),
        )
        .select("bucket", F.expr(_weight_sql("instr")).alias("w"))
    )


def score_documents(
    docs: DataFrame,
    weights: DataFrame,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, source, n_tokens, score, keep): hashed-unigram logistic
    score per document. The weight lookup is a broadcast hash join onto
    the exploded token stream — the model never shuffles the corpus.

    `toks` optionally supplies a pre-tokenized (doc_id, source, ts)
    relation shared with other pipeline stages.

    `keep` is the sign test on the mean ROUNDED at 6 decimals
    (round_port, the repo's cross-engine contract; mirrored in
    CLASSIFIER_CTES): an unrounded `> 0` could flip between engines for
    a doc whose mean sits within scale noise of 0."""
    tokenized = (
        fan_out(docs, "doc_id").select(
            "doc_id", "source", F.split("text", " ").alias("ts")
        )
        if toks is None
        else toks.select("doc_id", "source", "ts")
    )
    feats = (
        tokenized.select("doc_id", "source", F.explode("ts").alias("tok"))
        .select(
            "doc_id",
            "source",
            F.md5(F.concat(F.lit("qc:"), F.col("tok"))).alias("h"),
        )
        .select("doc_id", "source", F.expr(_bucket_sql("instr")).alias("bucket"))
    )
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-GAIN) * F.avg("w")))).alias("score"),
            F.when(round_port(F.avg("w"), 6) > 0, 1).otherwise(0).alias("keep"),
        )
    )


@query("quality_classifier_scores", oracle=_ORACLE, survey="EXT-text")
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source readout of the model-based quality gate: document
    count, how many the classifier keeps, and the score distribution —
    what a corpus owner reviews before applying a learned filter."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = score_documents(docs, hashed_weight_table(spark))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            round_port(F.avg("score"), 6).alias("avg_score"),
            round_port(F.min("score"), 6).alias("min_score"),
            round_port(F.max("score"), 6).alias("max_score"),
        )
        .orderBy("source")
    )
