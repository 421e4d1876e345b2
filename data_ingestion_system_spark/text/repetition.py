"""Repetition-based document quality signals (Gopher-style filters).

Training-corpus pipelines drop documents dominated by repeated content;
the canonical rule set is Rae et al. 2021 (Gopher, §A1.1): fraction of
tokens in the most frequent word / 2-gram, and the fraction of
duplicated n-grams. The reference has no analog (its quality signals
are review-level, src/analysis/statistical_analysis.py); this is the
documents-table extension of its quality-flag family (P9).

All metrics are ROW-LOCAL array algebra over the token arrays — no
explode, no shuffle, no UDFs (r10, guide §2.4: every per-doc statistic
here is a function of that doc's tokens alone, so the r2 shape's two
gram explodes + four doc-keyed exchanges + two joins computed
integers a projection can). The most-frequent-gram count is the
longest run in the sorted gram array; totals are size(ts)-k+1; the
duplicated-trigram count is total minus distinct. All integers, so the
fractions are bit-identical to the grouped form (measured: 0 differing
rows at sf0.1/sf1.0; 2x wall both scales). The thresholds follow
Gopher's published cut-offs where the corpus makes them meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import load_table

TOP_WORD_MAX = 0.20     # Gopher: most frequent word ≤ 20% of tokens
TOP_BIGRAM_MAX = 0.18   # Gopher: most frequent 2-gram ≤ 18%
DUP_TRIGRAM_MAX = 0.60  # fraction of 3-gram occurrences that are repeats


# Longest run in the SORTED rendering of `arr` — the count of the most
# frequent element, as one aggregate() fold with a (prev, run, best)
# struct. Higher-order lambdas evaluate interpreted (outside whole-stage
# codegen), but the arrays are doc-sized (~100 elements) and the fold is
# linear after an array_sort — measured 2x FASTER than the grouped form
# it replaced at sf0.1 AND sf1.0 (the explode + two exchanges + final
# agg cost more than the per-row sort), unlike the pair-enumeration
# rewrites the r10 negative results record (those put QUADRATIC work
# behind interpreted lambdas against a codegen'd join).
def _top_count(arr: str) -> str:
    return (
        f"aggregate(array_sort({arr}), "
        f"struct(cast(null as string) as prev, 0L as run, 0L as best), "
        f"(a, x) -> struct(x as prev, "
        f"  if(a.prev <=> x, a.run + 1L, 1L) as run, "
        f"  greatest(a.best, if(a.prev <=> x, a.run + 1L, 1L)) as best), "
        f"a -> a.best)"
    )


_BIGRAMS = "transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i + 1]))"
_TRIGRAMS = (
    "transform(sequence(0, size(ts) - 3),"
    " i -> concat(ts[i], ' ', ts[i + 1], ' ', ts[i + 2]))"
)


def repetition_metrics(
    docs: DataFrame,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_words, top_word_frac, top_bigram_frac, dup_trigram_frac),
    fractions unrounded; n-gram fractions NULL when the doc is too short
    to form that gram.

    `toks` optionally supplies a pre-tokenized (doc_id, ts) relation so a
    composed pipeline can tokenize the corpus ONCE and share the relation
    across stages (text/pipeline.py checkpoints it); when None the corpus
    is tokenized here. The r10 `wcounts` parameter is REMOVED (r10 ADVICE:
    it was accepted but silently unconsumed once the row-local form
    computed the word statistics from the token array directly — max(c)
    over per-word counts == the longest run in the sorted array, sum(c)
    == size(ts)); a caller still passing it now fails loudly instead of
    silently changing nothing."""
    from data_ingestion_system_spark.tables import fan_out

    # fan_out so a single-file scan still parallelizes the projection
    if toks is None:
        toks = fan_out(docs, "doc_id").select("doc_id", F.split("text", " ").alias("ts"))
    else:
        toks = toks.select("doc_id", "ts")
    n = F.size("ts")
    return toks.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        (F.expr(_top_count("ts")).cast("double") / n).alias("top_word_frac"),
        F.when(
            n >= 2, F.expr(_top_count(_BIGRAMS)).cast("double") / (n - 1)
        ).alias("top_bigram_frac"),
        # dup fraction needs no run lengths: sum(c - 1) over gram counts
        # is total minus distinct
        F.when(
            n >= 3,
            ((n - 2) - F.size(F.array_distinct(F.expr(_TRIGRAMS)))).cast("double")
            / (n - 2),
        ).alias("dup_trigram_frac"),
    )


# CTE body (distinct `r`-prefixed names) so the corpus-prep pipeline
# oracle can compose it with the dedup-closure and contamination chains
# in one statement. `rmetrics` is the per-doc metric relation; the keep
# expression is REPETITION_KEEP_SQL over it.
REPETITION_CTES = f"""rtoks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), rwords AS (
  SELECT doc_id, unnest(ts) AS w FROM rtoks
), rword_stats AS (
  SELECT doc_id, MAX(c) AS top_w, SUM(c) AS n_words FROM (
    SELECT doc_id, w, COUNT(*) AS c FROM rwords GROUP BY doc_id, w
  ) t GROUP BY doc_id
), rbigram_stats AS (
  SELECT doc_id, MAX(c) AS top_b, SUM(c) AS n_bi FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS g
      FROM rtoks, UNNEST(range(1, len(ts))) AS r(i)
      WHERE len(ts) >= 2
    ) b GROUP BY doc_id, g
  ) t GROUP BY doc_id
), rtrigram_stats AS (
  SELECT doc_id, SUM(c - 1) AS dup_tri, SUM(c) AS n_tri FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
      FROM rtoks, UNNEST(range(1, len(ts) - 1)) AS r(i)
      WHERE len(ts) >= 3
    ) b GROUP BY doc_id, g
  ) t GROUP BY doc_id
), rmetrics AS (
  SELECT w.doc_id, w.n_words,
         CAST(w.top_w AS DOUBLE) / w.n_words AS top_word_frac,
         CAST(b.top_b AS DOUBLE) / b.n_bi AS top_bigram_frac,
         CAST(t.dup_tri AS DOUBLE) / t.n_tri AS dup_trigram_frac
  FROM rword_stats w
  LEFT JOIN rbigram_stats b ON b.doc_id = w.doc_id
  LEFT JOIN rtrigram_stats t ON t.doc_id = w.doc_id
)"""

REPETITION_KEEP_SQL = (
    f"(top_word_frac <= {TOP_WORD_MAX}"
    f" AND COALESCE(top_bigram_frac <= {TOP_BIGRAM_MAX}, TRUE)"
    f" AND COALESCE(dup_trigram_frac <= {DUP_TRIGRAM_MAX}, TRUE))"
)

_ORACLE = f"""
WITH {REPETITION_CTES}
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       ROUND(top_word_frac * 1000000.0) / 1000000.0 AS top_word_frac,
       ROUND(top_bigram_frac * 1000000.0) / 1000000.0 AS top_bigram_frac,
       ROUND(dup_trigram_frac * 1000000.0) / 1000000.0 AS dup_trigram_frac,
       {REPETITION_KEEP_SQL} AS keep
FROM rmetrics
ORDER BY doc_id
"""


@query("repetition_quality", oracle=_ORACLE, survey="EXT-text")
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics plus the Gopher-style keep
    verdict; too-short docs pass the n-gram rules vacuously (NULL
    metric → rule treated as satisfied)."""
    docs = load_table(spark, sf_dir, "documents")
    m = repetition_metrics(docs)
    keep = (
        (F.col("top_word_frac") <= TOP_WORD_MAX)
        & F.coalesce(F.col("top_bigram_frac") <= TOP_BIGRAM_MAX, F.lit(True))
        & F.coalesce(F.col("dup_trigram_frac") <= DUP_TRIGRAM_MAX, F.lit(True))
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        round_port(F.col("top_word_frac"), 6).alias("top_word_frac"),
        round_port(F.col("top_bigram_frac"), 6).alias("top_bigram_frac"),
        round_port(F.col("dup_trigram_frac"), 6).alias("dup_trigram_frac"),
        keep.alias("keep"),
    ).orderBy("doc_id")
