"""Similarity search over embedding columns (SURVEY.md §7 Stage 6).

Two tiers, per the incremental top-k similarity literature (PAPERS.md —
EDBT'20 incremental top-k; REPOSE ICDE'21 distributed top-k):

1. `ann_topk_bruteforce` — exact cosine top-k: broadcast the (small) query
   set against all candidates; one scan, no shuffle of the big side. The
   correctness baseline.
2. `ann_lsh_topk` — sign-random-projection LSH: 8 deterministic
   hyperplanes (±1 entries from md5 parity) → 8-bit bucket; top-k is
   computed only among same-bucket candidates. The 100 TB path: the
   bucket join prunes ~256× of the candidate set per query.

Dot products use the sequential-fold form (aggregate over zip_with),
built as one parsed SQL expression — A/B-measured fastest on the
pair-expansion join shapes (see `_dot`) and bit-identical to the DuckDB
oracle's list arithmetic (same left-to-right IEEE order), so scores
hash-match after rounding.

This module also holds the scoring core every vector query shares: the
Spark cosine (`cosine`, with `_with_norm` hoisting norms), its DuckDB
twin (`cosine_sql`) and the per-query rank rule (`top_k_rows`: score DESC,
id ASC). The nearest-centroid argmax is `ivf.nearest_centroid`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import (
    corpus_checkpoint_lazy,
    fan_out_if_narrow,
    load_table,
)

N_QUERIES = 3  # vec_id < 3 are the query vectors
TOP_K = 5
N_PLANES = 8
DIM = 64


_COL_REF = None  # compiled on first use (module import stays regex-free)


def _check_col_ref(ref) -> None:
    """`ref` must be a bare or alias-qualified column identifier — these
    strings are interpolated into F.expr SQL, so anything else (spaces,
    backticks, expression fragments) is rejected HERE with a clear error
    instead of a parse failure (or worse, a silently-evaluated
    expression) far from the call site."""
    global _COL_REF
    if _COL_REF is None:
        import re

        _COL_REF = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?$")
    if not isinstance(ref, str) or not _COL_REF.match(ref):
        raise ValueError(
            f"expected a column reference like 'ev' or 'a.ev', got {ref!r}"
        )


def _dot(a: str, b: str):
    """Sequential-fold dot product over two double arrays. `a`/`b` are
    SQL column references (e.g. "ev", "a.ev"); the whole expression is
    built as ONE parsed string.

    Why the fold and not an unrolled multiply-add chain: both were
    A/B-measured on the two hot shapes. On broadcast-scoring aggregates
    (n×K centroid assignment) they are equal (~5M dots/s). On
    PAIR-EXPANSION JOINS — the shape every near-dup operator runs — the
    unrolled chain evaluates in the post-join projection as an
    interpreted 127-node tree (the giant generated method blows the
    codegen/JIT limits) at ~110k rows/s, while the fold's
    HigherOrderFunction loop runs a tight specialized walk at 3-6×
    that; 19.5M-pair probe: fold 30-52 s, unrolled 177 s, 0-based
    indexing 115 s. The unrolled form also pays ~1.5 s of Janino
    compile per unique stage, which dominated small-corpus latency.
    The fold adds left-to-right — the exact IEEE order the DuckDB
    oracle's list arithmetic uses — so scores hash-match after
    rounding.

    Why strings + F.expr and not Column arithmetic: one py4j call
    instead of a round-trip per operator node."""
    _check_col_ref(a)
    _check_col_ref(b)
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _with_norm(df: DataFrame, vec: str, out: str) -> DataFrame:
    """`df` plus column `out` = sqrt of `vec`'s self-dot, hoisted once
    per vector so a pair's cosine costs one fold-dot instead of three."""
    return df.withColumn(out, F.sqrt(_dot(vec, vec)))


def cosine(a: str, b: str, na: str | None = None, nb: str | None = None):
    """The Spark cosine of two double-array column refs: dot / (|a|·|b|).
    `na` / `nb` name hoisted norm columns (`_with_norm`); without them
    each norm is sqrt of the vector's own fold-dot. Both forms compute
    the same doubles as `cosine_sql`."""
    norm_a = F.col(na) if na else F.sqrt(_dot(a, a))
    norm_b = F.col(nb) if nb else F.sqrt(_dot(b, b))
    return _dot(a, b) / (norm_a * norm_b)


def cosine_sql(a: str, b: str) -> str:
    """The DuckDB cosine every oracle uses: the three dots fold left to
    right over 1-based indices, the IEEE order of `_dot`."""

    def dot(x: str, y: str) -> str:
        return f"list_sum(list_transform(range(1, {DIM} + 1), i -> {x}[i] * {y}[i]))"

    return f"\n{dot(a, b)}\n  / (sqrt({dot(a, a)})\n     * sqrt({dot(b, b)}))\n"


def top_k_rows(
    scored: DataFrame,
    k: int,
    score: str = "cosine",
    id_col: str = "cand_id",
    by: str = "query_id",
    rank: str = "rank",
) -> DataFrame:
    """The per-query rank rule of every vector search: within each `by`
    group, row_number `rank` over (`score` DESC, `id_col` ASC), rows with
    rank ≤ k kept."""
    w = Window.partitionBy(by).orderBy(F.desc(score), F.asc(id_col))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


# fan-out floor for corpus vector relations: per-row work downstream is
# K×DIM fused multiply-adds (centroid assignment, PQ encode, bucket
# hashing), orders of magnitude above a plain scan — so spreading an
# under-parallel scan pays for itself well below the general 8 MB floor
_VEC_FAN_OUT_MIN_BYTES = 2 * 1024 * 1024


def load_vectors(spark: SparkSession, sf_dir: str, *extra_cols: str) -> DataFrame:
    """The corpus vector relation (vec_id[, extras], ev double[]) every
    ANN / semantic-dedup / embedding-dedup operator scores against.

    Fans out when (and only when) the scan arrives under-parallel
    (tables.fan_out_if_narrow §4d dispatch): local single-row-group
    parquet otherwise serializes the dense assignment/encode pass on one
    task — at 100 TB the scan arrives in thousands of splits and the
    plan carries no extra exchange. Tiny corpora (the 2 MB sf0.1 table)
    stay on their single task; 32 scheduled tasks would cost more than
    they parallelize."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", *extra_cols, _as_double("embedding").alias("ev"))
    return fan_out_if_narrow(v, min_bytes=_VEC_FAN_OUT_MIN_BYTES)


def cosine_topk(queries: DataFrame, candidates: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine: broadcast-crossjoin queries × candidates,
    window-rank per query. Assumes |queries| small (the ANN query-batch
    pattern); candidates stream through one stage."""
    # norms hoisted to one dot per vector: the per-pair cosine then costs
    # ONE fold-dot instead of three (sqrt of the same double — results
    # bit-identical), which is 3x on the |q|×n scored relation
    q = _with_norm(
        queries.select(F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")),
        "qv",
        "qnrm",
    )
    c = _with_norm(
        candidates.select(F.col("vec_id").alias("cand_id"), _as_double("embedding").alias("cv")),
        "cv",
        "cnrm",
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id", "cand_id", cosine("qv", "cv", "qnrm", "cnrm").alias("cosine")
    )
    return top_k_rows(scored, k)


_BRUTE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT query_id, cand_id, {cosine_sql("qv", "cv")} AS cosine
  FROM q, c
), ranked AS (
  SELECT query_id, cand_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, ROUND(cosine * 1000000.0) / 1000000.0 AS cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@query("ann_topk_bruteforce", oracle=_BRUTE_ORACLE, survey="EXT-similarity")
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 3 query vectors against the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    candidates = emb.filter(F.col("vec_id") >= N_QUERIES)
    out = cosine_topk(queries, candidates, TOP_K)
    return out.select(
        "query_id",
        "cand_id",
        round_port(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("query_id", "rank")


def _plane_sign_sql(p: int, j: int, instr_fn: str) -> str:
    """Deterministic ±1 hyperplane entry: parity of the first hex digit
    of md5('plane:p:j'), evaluated HERE at expression-build time and
    inlined as a ±1.0 literal. Both engines receive the same literal, so
    cross-engine parity is trivial — and neither engine computes
    planes×dims md5 calls per row (the in-SQL md5 form was measured at
    seconds per pass once the bucket widened to 16 planes: Spark does
    not constant-fold through the CASE, so every row re-hashed 1024
    constants)."""
    import hashlib

    del instr_fn  # literal is dialect-independent; kept for call symmetry
    digest = hashlib.md5(f"plane:{p}:{j}".encode()).hexdigest()
    return "1.0" if int(digest[0], 16) % 2 == 0 else "-1.0"


def lsh_bucket_expr(
    vec_col: str, instr_fn: str, intdiv: str, n_planes: int = N_PLANES
) -> str:
    """SQL expression: n_planes-bit sign-projection bucket of a double[]
    column (default 8 — the ANN serving shape).

    bit p = sign(Σ_j v[j] · s_pj), s_pj ∈ {±1} from md5 parity. Shared
    shape between Spark SQL and DuckDB (1-based element access in both:
    Spark `element_at`, DuckDB `v[i]`). Plane p lands on bit 2^p, so a
    caller can widen to MAX planes and coarsen with `% 2^P` — the
    adaptive-granularity trick dedup/embedding.py uses."""
    del intdiv  # same construction for both dialects; kept for symmetry
    elem = "element_at({v}, {j})" if instr_fn == "instr" else "{v}[{j}]"
    bits = []
    for p in range(n_planes):
        terms = " + ".join(
            f"{elem.format(v=vec_col, j=j + 1)} * {_plane_sign_sql(p, j, instr_fn)}"
            for j in range(DIM)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN {2 ** p} ELSE 0 END)")
    return " + ".join(bits)


_LSH_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), bucketed AS (
  SELECT vec_id, ev, {lsh_bucket_expr("ev", "strpos", "//")} AS bucket FROM v
), q AS (
  SELECT vec_id AS query_id, ev AS qv, bucket FROM bucketed WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS cand_id, ev AS cv, bucket FROM bucketed WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT query_id, cand_id, {cosine_sql("qv", "cv")} AS cosine
  FROM q JOIN c USING (bucket)
), ranked AS (
  SELECT query_id, cand_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, ROUND(cosine * 1000000.0) / 1000000.0 AS cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@query("ann_lsh_topk", oracle=_LSH_ORACLE, survey="EXT-similarity")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5: candidates restricted to the
    query's sign-projection bucket. Same scoring as brute force; the
    bucket equi-join replaces the cross join."""
    v = load_vectors(spark, sf_dir)  # fans out an under-parallel scan
    # materialize buckets once: the 512-term sign expression would
    # otherwise be re-evaluated (and re-codegen'd) on both sides of the
    # self-join (measured 10s → ~3s at sf0.1)
    bucketed = v.withColumn(
        "bucket", F.expr(lsh_bucket_expr("ev", "instr", "div"))
    ).transform(corpus_checkpoint_lazy)
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv"), "bucket"
    )
    c = bucketed.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("ev").alias("cv"), "bucket"
    )
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id", "cand_id", cosine("qv", "cv").alias("cosine")
    )
    return (
        top_k_rows(scored, TOP_K)
        .select(
            "query_id",
            "cand_id",
            round_port(F.col("cosine"), 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


N_NEGATIVES = 4  # random negatives drawn per anchor
NEG_SEED = 11

_CONTRASTIVE_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {cosine_sql("q.ev", "c.ev")} AS cosine
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
), pos AS (
  SELECT query_id, cand_id, cosine FROM (
    SELECT query_id, cand_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rn
    FROM scored
  ) t WHERE rn = 1
), neg AS (
  SELECT s.query_id, s.cand_id, s.cosine FROM (
    SELECT s.query_id, s.cand_id, s.cosine,
           ROW_NUMBER() OVER (
             PARTITION BY s.query_id
             ORDER BY md5(concat('{NEG_SEED}:', CAST(s.query_id AS VARCHAR), ':',
                                 CAST(s.cand_id AS VARCHAR))) ASC,
                      s.cand_id ASC
           ) AS rn
    FROM scored s LEFT JOIN pos p
      ON p.query_id = s.query_id AND p.cand_id = s.cand_id
    WHERE p.cand_id IS NULL
  ) s WHERE rn <= {N_NEGATIVES}
)
SELECT query_id, cand_id, role,
       ROUND(cosine * 1000000.0) / 1000000.0 AS cosine
FROM (
  SELECT query_id, cand_id, 'positive' AS role, cosine FROM pos
  UNION ALL
  SELECT query_id, cand_id, 'negative' AS role, cosine FROM neg
) u
ORDER BY query_id, role DESC, cand_id
"""


@query("contrastive_pairs", oracle=_CONTRASTIVE_ORACLE, survey="EXT-similarity,M1-ext")
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training pairs per anchor: the nearest candidate as
    the positive plus N seeded-random negatives (InfoNCE-style pair
    generation for embedding training). Negative draws use the md5
    rank-key convention so the sample is reproducible and
    oracle-checkable; the cosine column ships so a trainer can weigh or
    re-mine hard negatives downstream.

    Scale shape: the scoring join is the brute-force baseline here for
    oracle exactness; at 100 TB the positive comes from the IVF/PQ
    index and negatives from a per-partition seeded draw — both already
    in this package."""
    v = load_vectors(spark, sf_dir)  # fans out an under-parallel scan
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    )
    c = v.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("ev").alias("cv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "cand_id", cosine("qv", "cv").alias("cosine")
    ).transform(corpus_checkpoint_lazy)
    pos = top_k_rows(scored, 1, rank="rn").select("query_id", "cand_id", "cosine")
    w_neg = Window.partitionBy("query_id").orderBy(
        F.md5(
            F.concat(
                F.lit(f"{NEG_SEED}:"),
                F.col("query_id").cast("string"),
                F.lit(":"),
                F.col("cand_id").cast("string"),
            )
        ).asc(),
        F.asc("cand_id"),
    )
    neg = (
        scored.join(
            pos.select("query_id", F.col("cand_id").alias("pos_id")), "query_id"
        )
        .filter(F.col("cand_id") != F.col("pos_id"))
        .withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") <= N_NEGATIVES)
        .select("query_id", "cand_id", "cosine")
    )
    out = pos.select(
        "query_id", "cand_id", F.lit("positive").alias("role"), "cosine"
    ).unionByName(
        neg.select("query_id", "cand_id", F.lit("negative").alias("role"), "cosine")
    )
    return out.select(
        "query_id",
        "cand_id",
        "role",
        round_port(F.col("cosine"), 6).alias("cosine"),
    ).orderBy("query_id", F.desc("role"), "cand_id")
