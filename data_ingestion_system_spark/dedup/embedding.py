"""Embedding-cosine near-duplicate detection (SURVEY.md §7 Stage 6).

The semantic-dedup modality: two items are near-dups if their embedding
cosine exceeds a threshold. Candidates come from the same deterministic
sign-projection LSH buckets as similarity.ann (vectors in the same
bucket agree on the hyperplane signs → high-cosine pairs land together
with high probability); the exact cosine check runs only inside buckets.

Bucket granularity is ADAPTIVE: every vector gets a MAX_PLANES(16)-bit
sign bucket, coarsened to the low P bits with `% 2^P`, where
2^P ≈ corpus / TARGET_PER_BUCKET (a CASE ladder over COUNT(*) — pure
integer thresholds, identical in both engines, so the static oracle
stays hash-exact at every scale factor). A fixed 8-plane bucket kept
only 256 buckets and went quadratic as the corpus grew (measured 48x
wall at 10x corpus); adaptive P holds expected bucket membership ~16,
making the candidate join ~linear until the 2^16 cap (raise MAX_PLANES
for corpora beyond ~1M vectors — at true 100 TB scale the IVF cell
route in dedup/semdedup.py is the production path).

At driver scales (n ≤ 4096) P = 8, so results are identical to the
fixed-plane form this replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import corpus_checkpoint, pin_join_width
from data_ingestion_system_spark.similarity.ann import (
    _dot,
    cosine,
    cosine_sql,
    load_vectors,
    lsh_bucket_expr,
)

COSINE_THRESHOLD = 0.9
MAX_PLANES = 16
TARGET_PER_BUCKET = 16

# divisor = 2^P with P = clamp(ceil(log2(n / TARGET_PER_BUCKET)), 8, 16),
# written as an integer CASE ladder so both engines derive the identical
# power of two from the identical COUNT(*) — no float log anywhere
_THRESHOLDS = [(TARGET_PER_BUCKET * (1 << p), 1 << p) for p in range(8, MAX_PLANES)]


def _divisor_for(n: int) -> int:
    for bound, div in _THRESHOLDS:
        if n <= bound:
            return div
    return 1 << MAX_PLANES


def _divisor_case_sql(n_sql: str) -> str:
    arms = "\n    ".join(
        f"WHEN {n_sql} <= {bound} THEN {div}" for bound, div in _THRESHOLDS
    )
    return f"(CASE {arms} ELSE {1 << MAX_PLANES} END)"


_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), p AS (
  SELECT {_divisor_case_sql("COUNT(*)")} AS divisor FROM v
), bucketed AS (
  SELECT vec_id, ev,
         ({lsh_bucket_expr("ev", "strpos", "//", MAX_PLANES)}) % (SELECT divisor FROM p) AS bucket
  FROM v
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cosine_sql("a.ev", "b.ev")} AS cosine
  FROM bucketed a
  JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, ROUND(cosine * 1000000.0) / 1000000.0 AS cosine
FROM pairs
WHERE cosine >= {COSINE_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@query("near_dup_embedding_cosine", oracle=_ORACLE, survey="EXT-dedup,EXT-similarity")
def near_dup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.9 within sign-projection LSH
    buckets. At 100 TB the bucket join is the only shuffle; bucket width
    scales with the corpus (low-P-bits coarsening of a 16-plane bucket,
    P from an integer CASE ladder on COUNT(*)) so per-bucket membership
    — and the quadratic in-bucket term — stays ~constant."""
    v = load_vectors(spark, sf_dir)
    # ONE corpus pass materializes the full-width bucket AND the vector
    # norm: the norm is sqrt of the same double dot both engines compute,
    # hoisted out of the pair join (3 dots/pair -> 1), and the divisor
    # comes from counting the already-checkpointed relation instead of a
    # second scan
    bucketed = v.select(
        "vec_id",
        "ev",
        F.expr(f"({lsh_bucket_expr('ev', 'instr', 'div', MAX_PLANES)})").alias("bfull"),
        F.sqrt(_dot("ev", "ev")).alias("nrm"),
    ).transform(corpus_checkpoint)
    n = bucketed.count()
    divisor = _divisor_for(n)
    bucketed = bucketed.withColumn("bucket", F.pmod("bfull", F.lit(divisor)))
    # pinned width: the in-bucket cosine expansion is quadratic in
    # bucket membership (tables.pin_join_width)
    bucketed = pin_join_width(bucketed, "bucket", n_rows=n)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cosine("a.ev", "b.ev", "a.nrm", "b.nrm").alias("cosine"),
    )
    return (
        pairs.filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", round_port(F.col("cosine"), 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )
