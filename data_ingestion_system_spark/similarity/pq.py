"""Product-quantization ANN (PQ/ADC) — the compressed 100 TB search path.

IVF prunes *which* vectors a query touches (similarity/ivf.py); PQ
compresses *how much* of each vector is touched: the 64-dim embedding
splits into M=8 contiguous 8-dim subvectors, each quantized to one of
K=16 per-subspace codes (Jégou, Douze & Schmid, TPAMI 2011). A stored
vector becomes 8 code ids (4 bytes vs 512); a query scores the corpus
via a lookup table of query-subvector x code inner products summed
across subspaces (asymmetric distance computation) — the corpus-side
join touches only (vec_id, m, code) triples, never raw vectors.

Codebooks are trained with Lloyd iterations per subspace (L2
assignment, element-wise-mean update, rounded to 6 decimals) over the
IVF quantizer's training sample, seeded from a fixed corpus slice — the
exact training recipe of the IVF coarse quantizer (`ivf.lloyd` on the
driver), so the DuckDB oracle can unroll it as CTEs and the whole
pipeline (training included) is value-hash-checked.

At scale: training touches the bounded sample M x PQ_ITERS times on the
driver; encoding is one broadcast join over the corpus (128 codebook
rows); a query is a broadcast LUT join + an 8-term sum per candidate.
ADC scores are inner products, not cosines — rank-equivalent for
normalized embeddings and the standard PQ scoring choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import corpus_checkpoint, local_rows_df
from data_ingestion_system_spark.similarity.ivf import (
    _memo,
    adaptive_train_mod_case_sql,
    dataset_cache_key,
    lloyd,
    train_sample,
)
from data_ingestion_system_spark.similarity.ann import (
    DIM,
    N_QUERIES,
    TOP_K,
    _check_col_ref,
    _dot,
    cosine,
    cosine_sql,
    load_vectors,
    top_k_rows,
)

M_SUB = 8                  # subspaces
SD = DIM // M_SUB          # dims per subspace
K_CODES = 16               # codes per subspace
PQ_ITERS = 2               # Lloyd iterations per subspace
PQ_TRAIN_MOD = 4           # train on vec_id % PQ_TRAIN_MOD == 0
PQ_CODE_BASE = 200         # vec_ids seeding the codebooks


def _l2(a: str, b: str):
    """Sequential-fold squared L2 over SD-dim subvectors from SQL column
    refs (one parsed expression; same fold-vs-unrolled trade as
    ann._dot — the fold wins the join shapes and adds left-to-right, the
    IEEE order the oracle's list arithmetic uses)."""
    _check_col_ref(a)
    _check_col_ref(b)
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def subvectors(v: DataFrame) -> DataFrame:
    """(vec_id, ev) → (vec_id, m, sv): M contiguous SD-dim slices."""
    entries = [
        F.struct(F.lit(m).alias("m"), F.slice("ev", m * SD + 1, SD).alias("sv"))
        for m in range(M_SUB)
    ]
    return v.select("vec_id", F.explode(F.array(*entries)).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )


def _assign(sv: DataFrame, codes: DataFrame) -> DataFrame:
    """Nearest code per (vec_id, m): L2 argmin, ties to the lower code."""
    scored = sv.join(F.broadcast(codes), "m").select(
        "vec_id", "m", "sv", "code", _l2("sv", "cv").alias("d")
    )
    return scored.groupBy("vec_id", "m").agg(
        F.any_value("sv").alias("sv"),
        F.min_by("code", F.struct(F.col("d"), F.col("code"))).alias("code"),
    )


CODES_SCHEMA = "m int, code int, cv array<double>"


def train_codebooks(v: DataFrame, cache_key: str | None = None) -> DataFrame:
    """PQ_ITERS driver-side `lloyd` rounds (L2) per subspace over the
    shared training sample (`ivf.train_sample`), seeded from vec_ids
    PQ_CODE_BASE..+K_CODES. Returns the (m, code, cv) codebook; empty
    codes keep their previous centroid. With ``cache_key``, the trained
    rows are memoized per session and reused by later index builds."""
    def build():
        mod, ids, x = train_sample(v, cache_key)
        seed = (ids >= PQ_CODE_BASE) & (ids < PQ_CODE_BASE + K_CODES)
        if not seed.any():
            # the seed slice [PQ_CODE_BASE, PQ_CODE_BASE + K_CODES) assumes
            # contiguous vec_ids covering it; a smaller/re-based corpus would
            # otherwise train an EMPTY codebook and every PQ query would
            # silently return zero rows (and the oracle, mirroring the same
            # predicate, would pass vacuously on empty-vs-empty)
            raise ValueError(
                f"PQ codebook seed slice [{PQ_CODE_BASE}, {PQ_CODE_BASE + K_CODES}) "
                "matched no vectors — corpus too small or vec_ids not contiguous"
            )
        train = x[ids % mod == 0]
        rows = []
        for m in range(M_SUB):
            sub = slice(m * SD, (m + 1) * SD)
            codes = lloyd(train[:, sub], x[seed, sub], PQ_ITERS, "l2")
            rows += [
                (m, int(i) - PQ_CODE_BASE, cv) for i, cv in zip(ids[seed], codes.tolist())
            ]
        return rows

    rows = _memo(v.sparkSession, ("codebooks", cache_key), build)
    return local_rows_df(v.sparkSession, rows, CODES_SCHEMA)


def _adc_scores(
    sv: DataFrame, codes: DataFrame, n_queries: int, cands: DataFrame | None = None
) -> DataFrame:
    """(query_id, cand_id, adot): asymmetric-distance scores. The corpus
    subvectors `sv` encode to (cand_id, m, code), the query subvectors
    build the query x code inner-product LUT, and each candidate sums
    its 8 LUT hits. Every candidate is scored against every query, or,
    with `cands`, only the (query_id, cand_id) pairs it lists."""
    encoded = _assign(sv.filter(F.col("vec_id") >= n_queries), codes).select(
        F.col("vec_id").alias("cand_id"), "m", "code"
    )
    lut = (
        sv.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(codes), "m")
        .select(
            F.col("vec_id").alias("query_id"), "m", "code", _dot("sv", "cv").alias("pd")
        )
    )
    if cands is None:
        hits = encoded.join(F.broadcast(lut), ["m", "code"])
    else:
        # cands is NOT query-batch-sized: it holds the probed-cell members
        # (~nprobe/K of the corpus per query), so broadcasting would collect
        # a corpus-proportional relation to the driver; a shuffle-HASH join
        # on cand_id keeps it distributed without the sort-merge the planner
        # picks when the checkpointed lineage hides size stats.
        hits = (
            cands.hint("shuffle_hash")
            .join(encoded, "cand_id")
            .join(F.broadcast(lut), ["query_id", "m", "code"])
        )
    return hits.groupBy("query_id", "cand_id").agg(F.sum("pd").alias("adot"))


def pq_topk(
    v: DataFrame,
    codes: DataFrame,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """ADC search over the whole corpus (`_adc_scores`)."""
    sv = corpus_checkpoint(subvectors(v), eager=False)
    return top_k_rows(_adc_scores(sv, codes, n_queries), top_k, "adot")


def _sv_sql(m: int) -> str:
    return f"list_transform(range(1, {SD} + 1), i -> ev[{m * SD} + i])"


def _l2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {SD} + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, {SD} + 1), i -> {a}[i] * {b}[i]))"


SHORTLIST = 50  # ADC candidates re-ranked exactly


def pq_rerank_topk(
    v: DataFrame,
    codes: DataFrame,
    shortlist: int = SHORTLIST,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """ADC shortlist + exact re-rank: PQ cannot separate candidates that
    share all 8 codes (within-cluster neighbors), so the standard recipe
    re-scores the top-`shortlist` ADC hits with exact cosine against the
    raw vectors — brute-force quality at PQ cost (the exact join touches
    `shortlist` vectors per query, not the corpus)."""
    short = pq_topk(v, codes, top_k=shortlist, n_queries=n_queries).select(
        "query_id", "cand_id"
    )
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    )
    c = v.select(F.col("vec_id").alias("cand_id"), F.col("ev").alias("cv"))
    scored = (
        short.join(F.broadcast(q), "query_id")
        .join(c, "cand_id")
        .select("query_id", "cand_id", cosine("qv", "cv").alias("cosine"))
    )
    return top_k_rows(scored, top_k)


def _codebook_ctes() -> list[str]:
    """The PQ training CTEs (sub → ptrain → pcb{N}), reusable by the
    IVF-PQ composite oracle. Iteration CTEs carry a `p` prefix so they
    can coexist with the IVF k-means CTEs in one statement."""
    sub = "\n  UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, {_sv_sql(m)} AS sv FROM v" for m in range(M_SUB)
    )
    avgs = ", ".join(f"ROUND(AVG(sv[{j + 1}]) * 1000000.0) / 1000000.0" for j in range(SD))
    ctes = [
        f"sub AS (\n  {sub}\n)",
        f"ptrain AS (SELECT * FROM sub WHERE vec_id % {adaptive_train_mod_case_sql()} = 0)",
        f"""pcb0 AS (
  SELECT m, vec_id - {PQ_CODE_BASE} AS code, sv AS cv FROM sub
  WHERE vec_id >= {PQ_CODE_BASE} AND vec_id < {PQ_CODE_BASE + K_CODES}
)""",
    ]
    for it in range(1, PQ_ITERS + 1):
        prev = f"pcb{it - 1}"
        ctes.append(
            f"""pa{it} AS (
  SELECT vec_id, m, sv, code FROM (
    SELECT t.vec_id, t.m, t.sv, c.code,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.m
                              ORDER BY {_l2_sql("t.sv", "c.cv")} ASC, c.code ASC) AS rn
    FROM ptrain t JOIN {prev} c ON c.m = t.m
  ) s WHERE rn = 1
)"""
        )
        ctes.append(
            f"pg{it} AS (SELECT m, code, [{avgs}] AS mv FROM pa{it} GROUP BY m, code)"
        )
        ctes.append(
            f"""pcb{it} AS (
  SELECT p.m, p.code, COALESCE(g.mv, p.cv) AS cv
  FROM {prev} p LEFT JOIN pg{it} g ON g.m = p.m AND g.code = p.code
)"""
        )
    return ctes


def _pq_oracle() -> str:
    cb = f"pcb{PQ_ITERS}"
    joined_ctes = ",\n".join(_codebook_ctes())
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
{joined_ctes},
encoded AS (
  SELECT vec_id AS cand_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_l2_sql("s.sv", "c.cv")} ASC, c.code ASC) AS rn
    FROM sub s JOIN {cb} c ON c.m = s.m
    WHERE s.vec_id >= {N_QUERIES}
  ) t WHERE rn = 1
), lut AS (
  SELECT q.vec_id AS query_id, c.m, c.code, {_dot_sql("q.sv", "c.cv")} AS pd
  FROM sub q JOIN {cb} c ON c.m = q.m
  WHERE q.vec_id < {N_QUERIES}
), approx AS (
  SELECT l.query_id, e.cand_id, SUM(l.pd) AS adot
  FROM encoded e JOIN lut l ON l.m = e.m AND l.code = e.code
  GROUP BY l.query_id, e.cand_id
), ranked AS (
  SELECT query_id, cand_id, adot,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, cand_id ASC) AS rank
  FROM approx
)
SELECT query_id, cand_id, ROUND(adot * 1000000.0) / 1000000.0 AS adot,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _pq_rerank_oracle() -> str:
    base = _pq_oracle()
    # reuse everything up to `ranked`, widen the rank cut to the
    # shortlist, then exact-cosine re-rank against the raw vectors
    head = base.split("\nSELECT query_id, cand_id, ROUND(adot")[0]
    return f"""{head},
short AS (
  SELECT query_id, cand_id FROM ranked WHERE rank <= {SHORTLIST}
), rescored AS (
  SELECT s.query_id, s.cand_id, {cosine_sql("q.ev", "c.ev")} AS cosine
  FROM short s
  JOIN v q ON q.vec_id = s.query_id
  JOIN v c ON c.vec_id = s.cand_id
), reranked AS (
  SELECT query_id, cand_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rr
  FROM rescored
)
SELECT query_id, cand_id, ROUND(cosine * 1000000.0) / 1000000.0 AS cosine,
       CAST(rr AS INTEGER) AS rank
FROM reranked WHERE rr <= {TOP_K}
ORDER BY query_id, rank
"""


@query("ann_pq_rerank_topk", oracle=_pq_rerank_oracle(), survey="EXT-similarity")
def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC shortlist (top-50) re-ranked with exact cosine — the
    production PQ recipe: compressed scan picks candidates, exact math
    only on the shortlist. Clustered-data recall gate in
    tests/test_similarity.py."""
    v = load_vectors(spark, sf_dir)
    out = pq_rerank_topk(v, train_codebooks(v, cache_key=dataset_cache_key(sf_dir)))
    return out.select(
        "query_id",
        "cand_id",
        round_port(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("query_id", "rank")


@query("ann_pq_topk", oracle=_pq_oracle(), survey="EXT-similarity")
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-5: train 8x16 codebooks (2 Lloyd rounds over the
    1-in-4 sample), encode the corpus to 8 code ids per vector, score
    queries through the inner-product lookup table.

    Like the IVF query, recall on the isotropic testdata corpus is
    capped by the data having no structure to exploit; the clustered-
    data recall gate lives in tests/test_similarity.py."""
    v = load_vectors(spark, sf_dir)
    out = pq_topk(v, train_codebooks(v, cache_key=dataset_cache_key(sf_dir)))
    return out.select(
        "query_id",
        "cand_id",
        round_port(F.col("adot"), 6).alias("adot"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("query_id", "rank")


def _ivfpq_oracle() -> str:
    from data_ingestion_system_spark.similarity.ivf import NPROBE, N_ITERS, _kmeans_ctes

    cb = f"pcb{PQ_ITERS}"
    ivf_ctes = _kmeans_ctes()
    pq_ctes = ",\n".join(_codebook_ctes())
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
{ivf_ctes},
centroids AS (
  SELECT cell_id, cv FROM c{N_ITERS}
), assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {cosine_sql("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
  ) t WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {cosine_sql("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
    WHERE v.vec_id < {N_QUERIES}
  ) t WHERE rn <= {NPROBE}
),
{pq_ctes},
encoded AS (
  SELECT vec_id AS cand_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_l2_sql("s.sv", "c.cv")} ASC, c.code ASC) AS rn
    FROM sub s JOIN {cb} c ON c.m = s.m
    WHERE s.vec_id >= {N_QUERIES}
  ) t WHERE rn = 1
), lut AS (
  SELECT q.vec_id AS query_id, c.m, c.code, {_dot_sql("q.sv", "c.cv")} AS pd
  FROM sub q JOIN {cb} c ON c.m = q.m
  WHERE q.vec_id < {N_QUERIES}
), cands AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM probes p JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id >= {N_QUERIES}
), approx AS (
  SELECT cd.query_id, cd.cand_id, SUM(l.pd) AS adot
  FROM cands cd
  JOIN encoded e ON e.cand_id = cd.cand_id
  JOIN lut l ON l.query_id = cd.query_id AND l.m = e.m AND l.code = e.code
  GROUP BY cd.query_id, cd.cand_id
), ranked AS (
  SELECT query_id, cand_id, adot,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, cand_id ASC) AS rank
  FROM approx
)
SELECT query_id, cand_id, ROUND(adot * 1000000.0) / 1000000.0 AS adot,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ivfpq_topk(
    v: DataFrame,
    centroids: DataFrame,
    codes: DataFrame,
    nprobe: int | None = None,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """IVF-PQ search against given quantizers: coarse cells prune the
    corpus to `nprobe` cells per query, PQ LUT scoring ranks candidates
    inside the probed cells. Returns (query_id, cand_id, adot, rank),
    adot unrounded. The exploded subvector relation is checkpointed
    eagerly (a lazy checkpoint here measured slower)."""
    from data_ingestion_system_spark.similarity.ivf import NPROBE, assign_and_probes

    sv = corpus_checkpoint(subvectors(v))
    assigned, probes = assign_and_probes(
        v, centroids, NPROBE if nprobe is None else nprobe, n_queries
    )
    # probes (|queries| x nprobe rows) is query-batch-sized — broadcast it
    cands = F.broadcast(probes).join(
        assigned.filter(F.col("vec_id") >= n_queries).select("vec_id", "cell_id"),
        "cell_id",
    ).select("query_id", F.col("vec_id").alias("cand_id"))
    return top_k_rows(_adc_scores(sv, codes, n_queries, cands), top_k, "adot")


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle(), survey="EXT-similarity")
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite: the k-means coarse quantizer prunes the corpus
    to NPROBE cells per query (similarity/ivf.py), and candidates inside
    the probed cells are scored through the PQ lookup table instead of
    raw vectors — the FAISS IVFADC architecture (Jégou et al. 2011 §IV)
    minus residual encoding, which is documented as the extension (the
    codebooks here quantize raw vectors, shared with `ann_pq_topk`; both
    trainings run on the driver over one collected sample).

    Plan shape: two memoized quantizers replayed as broadcasts, one broadcast
    centroid join to assign cells, a (cell_id) equi-join to generate
    candidates (NPROBE/K of the corpus), and an 8-row LUT sum per
    candidate. No raw-vector math on the corpus side at query time."""
    from data_ingestion_system_spark.similarity.ivf import train_centroids

    v = load_vectors(spark, sf_dir)
    key = dataset_cache_key(sf_dir)
    out = ivfpq_topk(v, train_centroids(v, cache_key=key), train_codebooks(v, cache_key=key))
    return out.select(
        "query_id",
        "cand_id",
        round_port(F.col("adot"), 6).alias("adot"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("query_id", "rank")
