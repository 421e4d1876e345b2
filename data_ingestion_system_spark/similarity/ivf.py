"""IVF-style ANN: k-means-trained coarse quantizer + multi-probe search.

The inverted-file (IVF) index structure: vectors are assigned to their
nearest centroid's cell; a query probes only the `NPROBE` nearest cells.
Centroids are trained with `N_ITERS` Lloyd iterations of spherical
k-means (cosine assignment, element-wise-mean update) over a
deterministic 1-in-`adaptive_train_mod(n)` sample, seeded from a fixed
corpus slice (vec_ids CENTROID_BASE..+K). Sampling the quantizer's
training set is the standard at-scale practice (FAISS trains IVF on
~30-256 points per centroid, not the corpus), and the sample is capped
by count, so it fits the driver at any corpus size: Spark filters and
collects it once, and `lloyd` runs the iterations in numpy. Centroid
means are rounded to 6 decimals after each update so the DuckDB oracle
(which unrolls the same iterations as CTEs) lands on bit-identical
centroids despite engine-specific float summation order.

Vector norms are hoisted into a column once (cosine = dot/(nrm*cnrm)),
which cuts the per-pair aggregate work 3× in search.

At scale: training touches only the bounded sample; the final cell
assignment is one broadcast join + argmax pass over the corpus
(written partitioned by cell), and a query touches NPROBE/K of the data
— the classic IVF pruning ratio.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.similarity.ann import DIM, N_QUERIES, TOP_K, _dot, load_vectors
from data_ingestion_system_spark.tables import corpus_checkpoint_lazy, load_table

N_CELLS = 16
CENTROID_BASE = 100  # vec_ids seeding the coarse quantizer
NPROBE = 2
N_ITERS = 3  # Lloyd iterations
TRAIN_MOD = 4  # train the quantizer on vec_id % TRAIN_MOD == 0

# Corpus-adaptive cell count (FAISS practice: K ≈ sqrt(N)) as an integer
# CASE ladder — smallest power of two ≥ sqrt(n), clamped [16, 256] — so
# the static DuckDB oracle derives the identical K from the identical
# COUNT(*) with no float log/sqrt anywhere. SemDeDup uses this (its
# in-cell pairwise term is n²/K, which a FIXED K lets grow quadratically:
# measured 80x wall at 10x corpus); the ANN serving index keeps fixed
# N_CELLS. Raise the cap for corpora beyond ~65k vectors.
ADAPTIVE_CELL_LADDER = tuple((4**p, 2**p) for p in range(4, 8))  # (n≤4^p, K=2^p)
ADAPTIVE_CELL_CAP = 256


def adaptive_cells(n: int) -> int:
    for bound, k in ADAPTIVE_CELL_LADDER:
        if n <= bound:
            return k
    return ADAPTIVE_CELL_CAP


def adaptive_cells_case_sql(n_sql: str) -> str:
    arms = " ".join(
        f"WHEN {n_sql} <= {bound} THEN {k}" for bound, k in ADAPTIVE_CELL_LADDER
    )
    return f"(CASE {arms} ELSE {ADAPTIVE_CELL_CAP} END)"


# Two-level (hierarchical) split of the adaptive cell count, for the
# SemDeDup scale twin: K_total = Kc·Kf = smallest power of two ≥ sqrt(n)
# with the same 4^p bounds as ADAPTIVE_CELL_LADDER but a higher cap —
# the flat quantizer's n×K assignment pass is what capped K at 256
# (n^1.5 overall); two-level assignment costs n×(Kc+Kf) ≈ 2n·n^(1/4),
# so the total cell count can keep growing with the corpus and the
# in-cell pair term n²/K_total stays ≈ n^1.5/sqrt-free. Kc ≥ Kf so the
# coarse k-means (trained on the corpus sample) carries the larger half.
HIER_CELL_LADDER = tuple(
    (4**p, 2 ** ((p + 1) // 2), 2 ** (p // 2)) for p in range(4, 12)
)
HIER_CELL_CAP = (64, 64)  # K_total 4096 beyond ~4M vectors


def hier_cells(n: int) -> tuple[int, int]:
    for bound, kc, kf in HIER_CELL_LADDER:
        if n <= bound:
            return kc, kf
    return HIER_CELL_CAP


# Corpus-adaptive TRAINING SAMPLE (VERDICT r4 ask #5): k-means cost is
# sample×K per Lloyd round, so a fixed 1-in-4 sample makes index
# training grow linearly with the corpus (measured 8.5 → 28.7 s warm-up
# at 10x data). The mod ladder bounds the training set at ~1-4k vectors
# regardless of corpus size — FAISS's sampled-training practice (it
# trains IVF on a bounded per-centroid sample, not the corpus). Same
# integer CASE ladder in the oracle CTEs, keyed on COUNT(*) of the
# vector relation, so both engines derive the identical sample at any
# corpus size; at the shipped test scales (n ≤ 16384) the mod stays 4
# and every existing oracle result is bit-unchanged. Past the ladder the
# sample is capped by COUNT: at most TRAIN_SAMPLE_CAP vectors (256 points
# per cell × the 256-cell adaptive cap, FAISS practice), so the collected
# sample stays ≤ 32 MB on the driver however large the corpus (a fixed
# mod of 256 would grow it as n/256: 4M vectors at 1B).
TRAIN_MOD_LADDER = ((16_384, TRAIN_MOD), (65_536, 16), (262_144, 64))
TRAIN_MOD_CAP = 256
TRAIN_SAMPLE_CAP = 65_536


def adaptive_train_mod(n: int) -> int:
    for bound, mod in TRAIN_MOD_LADDER:
        if n <= bound:
            return mod
    return max(TRAIN_MOD_CAP, -(-n // TRAIN_SAMPLE_CAP))


def adaptive_train_mod_case_sql(n_sql: str = "(SELECT COUNT(*) FROM v)") -> str:
    arms = " ".join(
        f"WHEN {n_sql} <= {bound} THEN {mod}" for bound, mod in TRAIN_MOD_LADDER
    )
    cap = TRAIN_SAMPLE_CAP
    return (
        f"(CASE {arms} ELSE GREATEST({TRAIN_MOD_CAP}, ({n_sql} + {cap - 1}) // {cap}) END)"
    )


def hier_cells_case_sql(n_sql: str) -> tuple[str, str]:
    kc_arms = " ".join(
        f"WHEN {n_sql} <= {bound} THEN {kc}" for bound, kc, _ in HIER_CELL_LADDER
    )
    kf_arms = " ".join(
        f"WHEN {n_sql} <= {bound} THEN {kf}" for bound, _, kf in HIER_CELL_LADDER
    )
    return (
        f"(CASE {kc_arms} ELSE {HIER_CELL_CAP[0]} END)",
        f"(CASE {kf_arms} ELSE {HIER_CELL_CAP[1]} END)",
    )

_COSINE = """
list_sum(list_transform(range(1, {dim} + 1), i -> {a}[i] * {b}[i]))
  / (sqrt(list_sum(list_transform(range(1, {dim} + 1), i -> {a}[i] * {a}[i])))
     * sqrt(list_sum(list_transform(range(1, {dim} + 1), i -> {b}[i] * {b}[i]))))
"""


def _cos(a: str, b: str) -> str:
    return _COSINE.format(dim=DIM, a=a, b=b)


def _with_norm(df: DataFrame, vec: str, out: str) -> DataFrame:
    return df.withColumn(out, F.sqrt(_dot(vec, vec)))


CENT_SCHEMA = "cell_id int, cv array<double>"


def _index_cache(spark: SparkSession) -> dict:
    """Per-SparkContext memo for trained index artifacts (IVF centroids,
    PQ codebooks) — an index is built once and served many times. Stored
    as an attribute ON the context wrapper so the cache dies with the
    context (an id()-keyed module dict could alias a recycled address and
    serve centroids trained on a regenerated corpus)."""
    sc = spark.sparkContext
    cache = getattr(sc, "_dis_index_cache", None)
    if cache is None:
        cache = {}
        sc._dis_index_cache = cache
    return cache


def dataset_cache_key(sf_dir: str) -> str:
    """Index-cache key carrying a dataset fingerprint: embeddings.parquet
    mtime_ns + size folded in, so a regenerated corpus at the SAME path
    can never be served stale centroids/codebooks for the rest of the
    session — the staleness tables._EVENTS_TS_IS_LONG guards against with
    the same (path, mtime, size) triple."""
    p = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(p)
        return f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        return sf_dir


def warm_index_cache(spark: SparkSession, sf_dir: str) -> None:
    """Train every index artifact for ``sf_dir`` into the session index
    cache, so subsequent ANN and SemDeDup queries measure SERVING, not
    training — an index is built once and queried many times, and bench
    numbers should reflect that steady state.

    The artifacts are the PQ codebooks, the fixed-K IVF quantizer,
    SemDeDup's adaptive-K quantizer, and the hierarchical op's coarse and
    fine quantizers. They train in sequence: each is a `lloyd` run on the
    driver over the one memoized sample collect, and a cell count shared
    by two of them (small corpora) hits the memo the second time."""
    # local imports: pq and semdedup import this module at top level
    from data_ingestion_system_spark.dedup.semdedup import warm_fine_quantizer
    from data_ingestion_system_spark.similarity.pq import train_codebooks

    v = load_vectors(spark, sf_dir)
    key = dataset_cache_key(sf_dir)
    n = load_table(spark, sf_dir, "embeddings").count()
    train_codebooks(v, cache_key=key)
    for k in (N_CELLS, adaptive_cells(n)):
        train_centroids(v, cache_key=key, n_cells=k)
    warm_fine_quantizer(spark, sf_dir)  # the kc coarse quantizer, then the fine one


def _memo(spark: SparkSession, memo: tuple, build):
    """The rows of index artifact ``memo`` = (kind, cache_key, *params):
    built once per session by ``build()`` and kept in `_index_cache`. A
    None cache_key (an ad-hoc relation, not a fingerprinted corpus)
    builds without caching."""
    if memo[1] is None:
        return build()
    cache = _index_cache(spark)
    if memo not in cache:
        cache[memo] = build()
    return cache[memo]


# The shared training collect also carries every vec_id in
# [CENTROID_BASE, SEED_END): the seed slices of every quantizer with at
# most ADAPTIVE_CELL_CAP cells, and of the PQ codebooks (pq.PQ_CODE_BASE
# + K_CODES = 216).
SEED_END = CENTROID_BASE + ADAPTIVE_CELL_CAP


def train_sample(v: DataFrame, cache_key: str | None = None):
    """(mod, vec_ids, vectors) for driver-side training, from ONE Spark
    collect: the 1-in-`adaptive_train_mod(n)` sample (vec_id % mod == 0)
    plus the seed slice [CENTROID_BASE, SEED_END), sorted by vec_id. The
    count cap bounds it at TRAIN_SAMPLE_CAP + 256 rows of DIM doubles.
    Memoized per corpus, so every quantizer of a warm-up shares it."""

    def build():
        mod = adaptive_train_mod(v.count())
        rows = (
            v.filter(
                (F.pmod("vec_id", F.lit(mod)) == 0)
                | F.col("vec_id").between(CENTROID_BASE, SEED_END - 1)
            )
            .select("vec_id", "ev")
            .collect()
        )
        rows.sort(key=lambda r: r[0])
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        x = np.array([r[1] for r in rows] or np.zeros((0, DIM)), dtype=np.float64)
        return mod, ids, x

    return _memo(v.sparkSession, ("train_sample", cache_key), build)


# Rows scored per block: a block × K score array stays ≤ 8 MB at the
# 256-cell cap, whatever the sample size.
_SCORE_BLOCK = 4096


def _fold(x, c, term):
    """x (n×d) against c (K×d): the n×K matrix of left-to-right folds
    acc = ((0 + t_0) + t_1) + ... over the d dims, each term t_j computed
    by ``term`` with a separate multiply and add — the IEEE order of
    ann._dot / pq._l2 (Spark's aggregate over zip_with)."""
    acc = np.zeros((len(x), len(c)))
    for j in range(x.shape[1]):
        acc += term(x[:, j, None], c[None, :, j])
    return acc


def _dot_term(a, b):
    return a * b


def _l2_term(a, b):
    d = a - b
    return d * d


def _norms(x):
    """sqrt of each row's `_fold` self-dot (ivf._with_norm's value)."""
    acc = np.zeros(len(x))
    for j in range(x.shape[1]):
        acc += x[:, j] * x[:, j]
    return np.sqrt(acc)


def round6(m):
    """Spark SQL's ``round(m * 1000000.0) / 1000000.0`` in numpy: the
    scaled double rounds half away from zero (HALF_UP on its exact value;
    `np.round` is half-even and disagrees on every .5)."""
    x = np.asarray(m, dtype=np.float64) * 1000000.0
    t = np.trunc(x)
    # x - t is exact (Sterbenz), so the half test sees the true fraction
    return (t + np.where(np.abs(x - t) >= 0.5, np.sign(x), 0.0)) / 1000000.0


def lloyd(x, c, iters: int, metric: str = "cosine"):
    """``iters`` Lloyd rounds over the sample rows ``x`` (n×d) from the
    seed centroids ``c`` (K×d); returns the trained K×d centroids. The
    numeric contract of the oracle CTEs (`_kmeans_ctes`,
    pq._codebook_ctes, the hierarchical fine CTEs), so the result is
    bit-identical to them:

    - ``metric="cosine"`` assigns by max dot / (nrm · cnrm), ``"l2"`` by
      min squared L2; both fold left to right over the dims (`_fold`);
    - ties go to the first centroid (the lowest cell_id / code / fine_id);
    - a centroid becomes the mean of its members rounded by `round6`;
    - an empty cell keeps its previous centroid.

    Scores are computed in blocks of `_SCORE_BLOCK` rows."""
    c = np.array(c, dtype=np.float64, copy=True)
    if not len(c):  # no seed rows in the corpus: nothing to train
        return c
    term = _dot_term if metric == "cosine" else _l2_term
    nrm = _norms(x)
    for _ in range(iters):
        cnrm = _norms(c)
        labels = np.empty(len(x), dtype=np.int64)
        for s in range(0, len(x), _SCORE_BLOCK):
            blk = slice(s, s + _SCORE_BLOCK)
            score = _fold(x[blk], c, term)
            if metric == "cosine":
                labels[blk] = np.argmax(score / (nrm[blk, None] * cnrm), axis=1)
            else:
                labels[blk] = np.argmin(score, axis=1)
        sums = np.zeros_like(c)
        np.add.at(sums, labels, x)
        counts = np.bincount(labels, minlength=len(c))
        hit = counts > 0
        c[hit] = round6(sums[hit] / counts[hit, None])
    return c


def train_centroids(
    v: DataFrame, cache_key: str | None = None, n_cells: int = N_CELLS
) -> DataFrame:
    """Spherical k-means over the training sample (`train_sample`):
    N_ITERS driver-side `lloyd` rounds from the seeds vec_id
    CENTROID_BASE..+K. Returns the K-row (cell_id, cv) DataFrame. K =
    ``n_cells`` (default the ANN index's fixed N_CELLS; SemDeDup passes
    the corpus-adaptive `adaptive_cells` / `hier_cells` counts). With
    ``cache_key`` the trained rows are memoized per session, so later
    index builds (e.g. IVF-PQ reusing IVF's coarse quantizer) replay them
    without any job."""
    from data_ingestion_system_spark.tables import local_rows_df

    if n_cells > ADAPTIVE_CELL_CAP:
        raise ValueError(
            f"n_cells={n_cells} > ADAPTIVE_CELL_CAP: its seeds lie past SEED_END"
        )

    def build():
        mod, ids, x = train_sample(v, cache_key)
        seed = (ids >= CENTROID_BASE) & (ids < CENTROID_BASE + n_cells)
        cents = lloyd(x[ids % mod == 0], x[seed], N_ITERS, "cosine")
        return [(int(i) - CENTROID_BASE, cv) for i, cv in zip(ids[seed], cents.tolist())]

    rows = _memo(v.sparkSession, ("centroids", cache_key, n_cells), build)
    return local_rows_df(v.sparkSession, rows, CENT_SCHEMA)


def _kmeans_ctes(n_cells_sql: str | int = N_CELLS) -> str:
    """Unrolled k-means iterations as DuckDB CTEs — the SQL twin of
    `train_centroids` (same sample, init, argmax ties, rounding, and
    empty-cell carryover). ``n_cells_sql`` is the cell count as an int
    literal or an SQL snippet (e.g. a scalar subquery over a CASE ladder
    for corpus-adaptive K)."""
    avgs = ", ".join(
        f"ROUND(AVG(ev[{j + 1}]) * 1000000.0) / 1000000.0" for j in range(DIM)
    )
    ctes = [
        f"""vt AS (
  SELECT vec_id, ev FROM v WHERE vec_id % {adaptive_train_mod_case_sql()} = 0
), c0 AS (
  SELECT vec_id - {CENTROID_BASE} AS cell_id, ev AS cv FROM v
  WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE} + {n_cells_sql}
)"""
    ]
    for it in range(1, N_ITERS + 1):
        prev = f"c{it - 1}"
        ctes.append(
            f"""a{it} AS (
  SELECT vec_id, ev, cell_id FROM (
    SELECT t.vec_id, t.ev, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY {_cos("t.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM vt t, {prev} c
  ) s WHERE rn = 1
)"""
        )
        ctes.append(f"g{it} AS (SELECT cell_id, [{avgs}] AS mv FROM a{it} GROUP BY cell_id)")
        ctes.append(
            f"""c{it} AS (
  SELECT p.cell_id, COALESCE(g.mv, p.cv) AS cv FROM {prev} p LEFT JOIN g{it} g USING (cell_id)
)"""
        )
    return ",\n".join(ctes)


_IVF_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
{_kmeans_ctes()},
centroids AS (
  SELECT cell_id, cv FROM c{N_ITERS}
), assigned AS (
  SELECT vec_id, ev, cell_id FROM (
    SELECT v.vec_id, v.ev, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_cos("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
  ) t WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_cos("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
    WHERE v.vec_id < {N_QUERIES}
  ) t WHERE rn <= {NPROBE}
), scored AS (
  SELECT p.query_id, a.vec_id AS cand_id, {_cos("q.ev", "a.ev")} AS cosine
  FROM probes p
  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id >= {N_QUERIES}
  JOIN v q ON q.vec_id = p.query_id
), ranked AS (
  SELECT query_id, cand_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, ROUND(cosine * 1000000.0) / 1000000.0 AS cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# Above this source size the n×K scored relation must be SKINNY —
# (vec_id, cell_id, c) only: carrying ev+nrm through the checkpoint and
# a full-corpus sort window pins K copies of every embedding in session
# storage and shuffles them (the fat relation measured 3x slower in
# the former Spark k-means at large K; at sf10 ~1.6 GB for K=16). Below it the fat single-pass shape wins — the extra
# vectors-join and second checkpoint of the skinny arm cost more than
# 16 copies of a tiny table (measured at sf0.1: 1.4 -> 1.7-2.1 s).
# §4d threshold dispatch: two physical plans, one answer; both arms
# oracle-forced in tests/test_dispatch_arms.py. Planning-time bytes
# probe, no job; unknown lineage (checkpoints, remote FS) takes the
# scale-safe skinny arm.
ASSIGN_SKINNY_MIN_BYTES = 32 * 1024 * 1024


def assign_and_probes(
    v: DataFrame,
    centroids: DataFrame,
    nprobe: int = NPROBE,
    n_queries: int = N_QUERIES,
) -> tuple[DataFrame, DataFrame]:
    """Cell assignment for the corpus plus the `nprobe` nearest cells per
    query, derived from ONE materialized corpus×centroid scoring
    (16 broadcast rows — the scan is the cost, not the join). Size-
    dispatched (see ASSIGN_SKINNY_MIN_BYTES). Extra columns on `v`
    (e.g. a metadata label) ride through into `assigned`, which is how
    ann_filtered_topk shares this implementation."""
    from data_ingestion_system_spark.tables import _local_input_bytes

    extra = [c for c in v.columns if c not in ("vec_id", "ev")]
    cn = _with_norm(centroids, "cv", "cnrm")
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("c"), F.asc("cell_id"))
    src_bytes = _local_input_bytes(v)
    if src_bytes is not None and 0 < src_bytes < ASSIGN_SKINNY_MIN_BYTES:
        # fat arm: one materialized scoring carries the vectors through
        vn = _with_norm(v, "ev", "nrm")
        scored_cells = vn.crossJoin(F.broadcast(cn)).select(
            "vec_id",
            *extra,
            "ev",
            "nrm",
            "cell_id",
            (_dot("ev", "cv") / (F.col("nrm") * F.col("cnrm"))).alias("c"),
        ).transform(corpus_checkpoint_lazy)
        assigned = (
            scored_cells.withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") == 1)
            .select("vec_id", *extra, "ev", "nrm", "cell_id")
        )
    else:
        # skinny arm: score (vec_id, cell_id, c) only; hash-agg argmax
        # (tie order (c DESC, cell_id ASC) ≡ lexicographic struct max)
        # and the vectors join back AFTER the
        # collapse; only the n_queries×K probe slice pays a sort window
        vn = _with_norm(v, "ev", "nrm").transform(corpus_checkpoint_lazy)
        scored_cells = vn.crossJoin(F.broadcast(cn)).select(
            "vec_id",
            "cell_id",
            (_dot("ev", "cv") / (F.col("nrm") * F.col("cnrm"))).alias("c"),
        ).transform(corpus_checkpoint_lazy)
        assigned = (
            scored_cells.groupBy("vec_id")
            .agg(
                F.max_by(
                    "cell_id", F.struct(F.col("c"), (-F.col("cell_id")).alias("neg"))
                ).alias("cell_id")
            )
            .join(vn, "vec_id")
        )
    probes = (
        scored_cells.filter(F.col("vec_id") < n_queries)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cell_id")
    )
    return assigned, probes


def ivf_topk(
    v: DataFrame,
    centroids: DataFrame,
    nprobe: int = NPROBE,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """IVF search against a given quantizer: assign corpus to cells via a
    broadcast centroid join + argmax window, probe the `nprobe` nearest
    cells per query, exact cosine within the probed cells only. Returns
    (query_id, cand_id, cosine, rank), cosine unrounded."""
    assigned, probes = assign_and_probes(v, centroids, nprobe, n_queries)
    vn = _with_norm(v, "ev", "nrm")
    q = vn.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = (
        # probes is |queries| x nprobe rows — broadcast it so the cell
        # pruning join never sort-merges the corpus side (checkpointed
        # lineage hides size stats from the planner, which defaulted to SMJ)
        F.broadcast(probes)
        .join(assigned.filter(F.col("vec_id") >= n_queries), "cell_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            (_dot("qv", "ev") / (F.col("qnrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w_rank)).filter(
        F.col("rank") <= top_k
    )


@query("ann_ivf_topk", oracle=_IVF_ORACLE, survey="EXT-similarity")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with k-means-trained cells: train 16 centroids (3 Lloyd
    iterations over the 1-in-4 sample), then multi-probe search
    (NPROBE=2).

    Recall note: the synthetic embeddings corpus is isotropic (no cluster
    structure — within-label cosine == cross-label, measured), so ANY
    16-cell quantizer caps out well below 1.0 at partial probing; trained
    cells measure 2× untrained recall@5 at every NPROBE on this corpus
    (0.4 vs 0.2 at NPROBE=2), and reach >=0.9 on clustered data
    (tests/test_similarity.py)."""
    v = load_vectors(spark, sf_dir)
    out = ivf_topk(v, train_centroids(v, cache_key=dataset_cache_key(sf_dir)))
    return out.select(
        "query_id",
        "cand_id",
        round_port(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("query_id", "rank")


_CLUSTER_PROFILE_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
{_kmeans_ctes()},
centroids AS (
  SELECT cell_id, cv FROM c{N_ITERS}
), assigned AS (
  SELECT vec_id, cell_id, c FROM (
    SELECT v.vec_id, c.cell_id, {_cos("v.ev", "c.cv")} AS c,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_cos("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
  ) t WHERE rn = 1
)
SELECT CAST(cell_id AS INTEGER) AS cell_id,
       COUNT(*) AS n_members,
       ROUND(AVG(c) * 1000000.0) / 1000000.0 AS avg_cosine,
       ROUND(MIN(c) * 1000000.0) / 1000000.0 AS min_cosine
FROM assigned GROUP BY cell_id
ORDER BY cell_id
"""


@query("kmeans_cluster_profile", oracle=_CLUSTER_PROFILE_ORACLE, survey="EXT-similarity")
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering as a first-class corpus-analysis op (not just
    IVF plumbing): per-cluster membership count and cosine cohesion
    (mean/min member→centroid similarity) over the trained quantizer.
    Balance and cohesion are exactly what you read before trusting an
    IVF index or a cluster-stratified training split.

    Scale shape: training is the shared memoized quantizer; profiling is
    one broadcast-centroid scoring pass + a 16-group aggregate."""
    v = load_vectors(spark, sf_dir)
    cents = train_centroids(v, cache_key=dataset_cache_key(sf_dir))
    vn = _with_norm(v, "ev", "nrm")
    cn = _with_norm(cents, "cv", "cnrm")
    w = Window.partitionBy("vec_id").orderBy(F.desc("c"), F.asc("cell_id"))
    assigned = (
        vn.crossJoin(F.broadcast(cn))
        .select(
            "vec_id",
            "cell_id",
            (_dot("ev", "cv") / (F.col("nrm") * F.col("cnrm"))).alias("c"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        assigned.groupBy(F.col("cell_id").cast("int").alias("cell_id"))
        .agg(
            F.count("*").alias("n_members"),
            round_port(F.avg("c"), 6).alias("avg_cosine"),
            round_port(F.min("c"), 6).alias("min_cosine"),
        )
        .orderBy("cell_id")
    )


FILTER_LABEL = 1  # the metadata predicate of the filtered-search query

_FILTERED_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
{_kmeans_ctes()},
centroids AS (
  SELECT cell_id, cv FROM c{N_ITERS}
), assigned AS (
  SELECT vec_id, label, ev, cell_id FROM (
    SELECT v.vec_id, v.label, v.ev, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_cos("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
  ) t WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_cos("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
    WHERE v.vec_id < {N_QUERIES}
  ) t WHERE rn <= {NPROBE}
), scored AS (
  SELECT p.query_id, a.vec_id AS cand_id, {_cos("q.ev", "a.ev")} AS cosine
  FROM probes p
  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id >= {N_QUERIES}
                 AND a.label = {FILTER_LABEL}
  JOIN v q ON q.vec_id = p.query_id
), ranked AS (
  SELECT query_id, cand_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, ROUND(cosine * 1000000.0) / 1000000.0 AS cosine,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@query("ann_filtered_topk", oracle=_FILTERED_ORACLE, survey="EXT-similarity")
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: IVF top-5 restricted to candidates whose
    metadata matches a predicate (label = 1) — the combined
    metadata+vector query every production vector store serves (and the
    one a plain ANN index gets wrong by filtering AFTER the top-k cut).
    The filter applies INSIDE the probed cells, before ranking, so
    recall among the label's vectors matches unfiltered recall; at scale
    the predicate also prunes the candidate scan (pushed to the
    cell-partitioned store's row groups when the label is a layout
    column — `sources/layout.py`)."""
    v = load_vectors(spark, sf_dir, "label")
    cents = train_centroids(
        v.select("vec_id", "ev"), cache_key=dataset_cache_key(sf_dir)
    )
    # the shared skinny assignment: `label` rides through assigned (see
    # assign_and_probes) — no re-implemented copy to drift from
    assigned, probes = assign_and_probes(v, cents)
    vn = _with_norm(v, "ev", "nrm")
    q = vn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cands = assigned.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("label") == FILTER_LABEL)
    )
    scored = (
        F.broadcast(probes)
        .join(cands, "cell_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            (_dot("qv", "ev") / (F.col("qnrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "cand_id",
            round_port(F.col("cosine"), 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )
