"""SemDeDup: semantic deduplication inside k-means clusters.

The cluster-then-compare semantic dedup recipe (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", arXiv:2303.09540): embed the corpus, k-means-cluster
the embeddings, and compare pairs ONLY within a cluster — pairwise
cosine work is confined to cells instead of the whole corpus. From
each duplicate pair the member with the LOWER centroid cosine is
kept (the paper's diversity-preserving keep rule: the example least
typical of its cluster survives); the other is dropped.

This composes the engine's existing pieces rather than re-deriving
them: the coarse quantizer is `similarity.ivf.train_centroids` (the
same memoized k-means the IVF index uses — one trained artifact
serves ANN search, cluster profiling, AND dedup), and the in-cell
pairwise join is the same bounded shape as `dedup.embedding`'s
LSH-bucket join, with cells instead of sign buckets.

Extends the reference's exact duplicate detection
(src/analysis/data_quality_analyzer.py:172 — COUNT(*)>1 content
groups) to the semantic modality the reference's corpus-quality goal
(docs/summery_deck.md) implies but its SQLite engine cannot express.

Scale shape: one broadcast-centroid assignment pass, then a self-join
shuffled on cell_id — at 100 TB the cell count grows with the corpus
(FAISS practice: K ≈ sqrt(N)), keeping per-cell membership (and so the
quadratic in-cell term) bounded; no global pairwise anything. The
threshold comparison runs on raw doubles whose dot products evaluate
in identical index order in both engines (same contract every cosine
oracle in this repo relies on).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window

from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import (
    corpus_checkpoint_lazy,
    load_table,
    local_rows_df,
    pin_join_width,
)
from data_ingestion_system_spark.similarity.ann import (
    DIM,
    _with_norm,
    cosine,
    cosine_sql,
    load_vectors,
)
from data_ingestion_system_spark.similarity.ivf import (
    N_ITERS,
    TRAIN_MOD,
    adaptive_train_mod,
    adaptive_train_mod_case_sql,
    _kmeans_ctes,
    _memo,
    adaptive_cells,
    adaptive_cells_case_sql,
    centroid_cosines,
    dataset_cache_key,
    hier_cells,
    hier_cells_case_sql,
    lloyd,
    nearest_centroid,
    train_centroids,
)

# The synthetic embeddings corpus is isotropic (DIM=64: pairwise cosine
# tops out ~0.41, 99.9th pct ~0.39) — 0.30 flags the genuinely-closest
# ~0.5% of in-cell pairs, exercising the drop rule without degenerating
# to an empty or an everything result. Real corpora use ~1 - eps ≈ 0.95+.
SEM_THRESHOLD = 0.30

_SEMDEDUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), kp AS (
  SELECT {adaptive_cells_case_sql("COUNT(*)")} AS k FROM v
),
{_kmeans_ctes("(SELECT k FROM kp)")},
centroids AS (
  SELECT cell_id, cv FROM c{N_ITERS}
), assigned AS MATERIALIZED (
  SELECT vec_id, ev, cell_id, ccos FROM (
    SELECT v.vec_id, v.ev, c.cell_id, {cosine_sql("v.ev", "c.cv")} AS ccos,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {cosine_sql("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
  ) t WHERE rn = 1
), pairs AS MATERIALIZED (
  SELECT cell_id, va, vb, ca, cb FROM (
    SELECT a.cell_id, a.vec_id AS va, b.vec_id AS vb, a.ccos AS ca, b.ccos AS cb,
           {cosine_sql("a.ev", "b.ev")} AS cos
    FROM assigned a JOIN assigned b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  ) p WHERE cos >= {SEM_THRESHOLD}
), dropped AS (
  SELECT DISTINCT cell_id,
         CASE WHEN ca > cb THEN va
              WHEN cb > ca THEN vb
              ELSE GREATEST(va, vb) END AS vec_id
  FROM pairs
)
SELECT CAST(m.cell_id AS INTEGER) AS cell_id,
       m.n_members,
       CAST(COALESCE(p.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped
FROM (SELECT cell_id, COUNT(*) AS n_members FROM assigned GROUP BY cell_id) m
LEFT JOIN (SELECT cell_id, COUNT(*) AS n_dup_pairs FROM pairs GROUP BY cell_id) p USING (cell_id)
LEFT JOIN (SELECT cell_id, COUNT(*) AS n_dropped FROM dropped GROUP BY cell_id) d USING (cell_id)
ORDER BY cell_id
"""


def assign_cells(
    vn: DataFrame,
    cents: DataFrame,
    id_col: str = "cell_id",
    by: tuple[str, ...] = (),
    rank_col: str = "ccos",
) -> DataFrame:
    """(vec_id, ev, nrm, *by, id_col, rank_col): nearest-centroid
    assignment of the normed relation `vn` through the shared argmax
    (`ivf.nearest_centroid`), KEEPING the winning cosine as `rank_col` —
    SemDeDup's keep rule ranks on it. Coarse cells cross the whole
    centroid table (ccos); fine cells score only their own coarse cell's
    table (`by` = ("cell_id",), `id_col` = "fine_id", fcos). The
    optimizer prunes the cosine's aggregate when a caller drops it.

    The n×K scoring relation is SKINNY (vec_id, *by, id_col, c) — the
    64-double ev array joins back after the argmax collapses n×K rows
    to n: shuffling arrays through the scored relation was the dominant
    cost at K=256."""
    scored = centroid_cosines(vn.select("vec_id", *by, "ev", "nrm"), cents, id_col, by)
    return (
        nearest_centroid(scored, id_col)
        .join(vn.select("vec_id", "ev", "nrm"), "vec_id")
        .select("vec_id", "ev", "nrm", *by, id_col, F.col("c").alias(rank_col))
    )


def _bucket_pairs(
    assigned: DataFrame,
    keys: tuple[str, ...],
    rank_col: str,
    threshold: float = SEM_THRESHOLD,
    n_rows: int | None = None,
) -> DataFrame:
    """The width-pinned in-bucket pair join, UN-checkpointed — split out
    so the pinned shape stays plan-inspectable (the caller's
    localCheckpoint replaces the lineage with a Scan ExistingRDD; see
    tests/test_plan_quality.py::test_pair_expansion_joins_pin_their_width).
    A bucket is one value of `keys`: (cell_id,) for the flat op,
    (cell_id, fine_id) for the hierarchical one; `rank_col` is the
    centroid cosine the keep rule ranks on (ccos / fcos)."""
    spread = pin_join_width(assigned, *keys, n_rows=n_rows)
    a = spread.alias("a")
    b = spread.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    return (
        a.join(b, reduce(and_, on + [F.col("a.vec_id") < F.col("b.vec_id")]))
        .select(
            *[F.col(f"a.{k}").alias(k) for k in keys],
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.col(f"a.{rank_col}").alias("ca"),
            F.col(f"b.{rank_col}").alias("cb"),
            cosine("a.ev", "b.ev", "a.nrm", "b.nrm").alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semdedup_pairs_dropped(
    assigned: DataFrame,
    keys: tuple[str, ...],
    rank_col: str,
    threshold: float = SEM_THRESHOLD,
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped): within-bucket pairs with cosine ≥ threshold, and
    the (*keys, vec_id) rows SemDeDup removes — the higher-`rank_col`
    member of each pair (the more cluster-typical one; ties by higher
    vec_id), de-duplicated across pairs. The self-join shuffles on
    `keys` only.

    The join width is pinned against AQE's byte-based coalesce
    (tables.pin_join_width): the in-bucket pair expansion does n²/K work
    per bucket from a byte-tiny shuffled input — partition count must
    target the EXPANDED work, not the map bytes."""
    # two consumers (pair counts + the drop rule) — materialize the
    # in-bucket join once instead of running it per branch
    pairs = _bucket_pairs(assigned, keys, rank_col, threshold, n_rows).transform(
        corpus_checkpoint_lazy
    )
    dropped = pairs.select(
        *keys,
        F.when(F.col("ca") > F.col("cb"), F.col("va"))
        .when(F.col("cb") > F.col("ca"), F.col("vb"))
        .otherwise(F.greatest("va", "vb"))
        .alias("vec_id"),
    ).distinct()
    return pairs, dropped


def make_blas_group_stats(keys: tuple[str, ...], rank_col: str):
    """Per-`keys` SemDeDup statistics via one dense matmul — runs inside
    `applyInPandas` (Arrow batch in, one aggregate row out). `keys` /
    `rank_col` are the bucket identity and the keep-rule rank column,
    as in `_bucket_pairs`.

    Mirrors the relational pair term EXACTLY: pairs are (va < vb)
    members with cosine ≥ threshold; each pair drops its
    higher-rank-cosine member (ties → greater vec_id); n_dropped counts
    distinct dropped members. Sorting the group by vec_id maps
    (va < vb) onto the upper triangle. The relational join ships BOTH
    64-double arrays per candidate pair; this plan ships each vector
    ONCE into its group (O(m·DIM) traffic for O(m²·DIM) flops).

    Float caveat: numpy sums the dot in SIMD/pairwise order, not the
    sequential fold both engines use — a cosine within ~1e-15 of
    SEM_THRESHOLD could in principle flip a pair against the relational
    plan. On the shipped corpora no pair sits that close (both arms
    match one oracle: tests/test_dispatch_arms.py semdedup-*-pair-term),
    and a corpus where the boundary bites would surface as an oracle hash
    mismatch, not a silent wrong answer.

    Returned as a self-contained closure so cloudpickle serializes it BY
    VALUE (same reason as multimodal.make_feature_extractor: python
    workers don't have this package on their PYTHONPATH).

    Memory guard: the √n bucket ladder bounds groups to hundreds of rows
    on well-spread corpora, but a degenerate corpus (many near-identical
    vectors collapsing into one fine cell) can hand this a group of ANY
    size — so the matmul runs in row blocks of ≤ ~4M doubles
    (B = block_elems // m rows at a time): peak extra memory is O(B·m)
    ≈ 32 MB however large the group, instead of the full m×m matrix plus
    two O(m²) triu index arrays. Groups that fit one block (every
    non-degenerate corpus) still run the single full dgemm."""

    out_cols = list(keys) + ["n_members", "n_dup_pairs", "n_dropped"]
    threshold = SEM_THRESHOLD

    def stats(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = len(pdf)
        key_vals = [int(pdf[k].iloc[0]) for k in keys]
        if m < 2:
            return pd.DataFrame([key_vals + [m, 0, 0]], columns=out_cols)
        e = np.stack(pdf["ev"].to_numpy())          # m × DIM
        nrm = pdf["nrm"].to_numpy()
        rank = pdf[rank_col].to_numpy()
        block_rows = max(1, min(m, 4_194_304 // m))  # B·m ≤ 4M doubles
        n_pairs = 0
        drop_chunks = []
        for s in range(0, m - 1, block_rows):
            blk = slice(s, min(s + block_rows, m))
            # BLAS dgemm per row block — the whole point
            cos = (e[blk] @ e.T) / np.outer(nrm[blk], nrm)
            bi, bj = np.nonzero(cos >= threshold)
            gi = bi + s
            keep = bj > gi                           # upper triangle (va < vb)
            qi, qj = gi[keep], bj[keep]
            n_pairs += int(qi.size)
            if qi.size:
                # higher rank-cosine member drops; tie → greater vec_id == j
                drop_chunks.append(np.where(rank[qi] > rank[qj], qi, qj))
        n_dropped = (
            int(np.unique(np.concatenate(drop_chunks)).size) if drop_chunks else 0
        )
        return pd.DataFrame([key_vals + [m, n_pairs, n_dropped]], columns=out_cols)

    return stats


# Corpus floor for dispatching the pair term to the dgemm plan (same
# two-physical-plans idiom as tables._past_floor). Measured same-session
# on the hierarchical op: sf10 (200k vectors) relational 200 s vs dgemm
# 32 s; sf1.0 (20k) see bench_results/SCALING.md r6 A/B; sf0.1 (2k) the
# two are equal within noise. Below the floor the relational join keeps
# the whole-stage-codegen plan (no Python workers to spin up); above it
# the per-pair array traffic (O(pairs·DIM) through the self-join) loses
# to shipping each vector once into its group (O(n·DIM)) and one dgemm.
SEMDEDUP_BLAS_MIN_ROWS = 16_384


def semdedup_group_stats(
    assigned: DataFrame, n: int, keys: tuple[str, ...], rank_col: str
) -> DataFrame:
    """Per-bucket SemDeDup statistics (*keys, n_members, n_dup_pairs,
    n_dropped), physical plan picked by corpus size: the relational
    in-bucket self-join below SEMDEDUP_BLAS_MIN_ROWS, the per-group
    dgemm (`make_blas_group_stats`) at or above it. One answer from both
    plans (forced-arm oracle tests in tests/test_dispatch_arms.py)."""
    if n >= SEMDEDUP_BLAS_MIN_ROWS:
        return assigned.groupBy(*keys).applyInPandas(
            make_blas_group_stats(keys, rank_col),
            ", ".join(f"{k} int" for k in keys)
            + ", n_members long, n_dup_pairs long, n_dropped long",
        )
    # relational pair term: assignment feeds three consumers (members /
    # both pair sides) — materialize once, width pinned BEFORE the
    # checkpoint (tables.pin_join_width): the skinny argmax shuffle
    # AQE-coalesces to 1-2 partitions, and a checkpoint would freeze
    # that width for every downstream dense pass. Keyless (round-robin):
    # every consumer either re-shuffles on its own keys or
    # broadcast-joins, so balance beats co-location here.
    keys = list(keys)
    assigned = pin_join_width(assigned, n_rows=n).transform(corpus_checkpoint_lazy)
    pairs, dropped = semdedup_pairs_dropped(assigned, keys, rank_col, n_rows=n)
    members = assigned.groupBy(*keys).agg(F.count("*").alias("n_members"))
    pair_counts = pairs.groupBy(*keys).agg(F.count("*").alias("n_dup_pairs"))
    drop_counts = dropped.groupBy(*keys).agg(F.count("*").alias("n_dropped"))
    return (
        members.join(pair_counts, keys, "left")
        .join(drop_counts, keys, "left")
        .select(
            *[F.col(k).cast("int").alias(k) for k in keys],
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


@query("semantic_dedup", oracle=_SEMDEDUP_ORACLE, survey="EXT-dedup,EXT-similarity")
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup report: membership, duplicate-pair count, and
    how many members the keep rule removes, over the shared trained
    quantizer. The readout a corpus owner checks before committing to a
    semantic-dedup pass — which clusters concentrate the redundancy.

    This op keeps the paper's FLAT quantization (the exact-semantics
    reference; `semantic_dedup_hier` is the two-level variant for
    scale). Its pair term is the shared size-dispatched one
    (`semdedup_group_stats` keyed on cell_id, ranking on ccos):
    relational in-cell self-join below SEMDEDUP_BLAS_MIN_ROWS, per-cell
    blocked dgemm above — the flat op was the slowest sf10 probe query
    (225-248 s) purely on pair-term array traffic its own K≈√n cells
    bound anyway."""
    # count from the raw table (footer-statistics read), not the
    # fanned-out vector relation — no shuffle just to size the ladder
    n = load_table(spark, sf_dir, "embeddings").count()
    v = load_vectors(spark, sf_dir)
    # corpus-adaptive K (smallest power of two >= sqrt(n), the FAISS
    # rule): the in-cell pairwise term is n²/K, so K must grow with the
    # corpus or the quadratic wins — a fixed K=16 measured 80x wall at
    # 10x corpus. Same ladder evaluates inside the oracle's kp CTE.
    cents = train_centroids(
        v, cache_key=dataset_cache_key(sf_dir), n_cells=adaptive_cells(n)
    )
    assigned = assign_cells(_normed(v), cents)
    return semdedup_group_stats(assigned, n, ("cell_id",), "ccos").orderBy("cell_id")


# ---------------------------------------------------------------------------
# Hierarchical (two-level) SemDeDup — the scale variant (VERDICT r4 ask #2)
# ---------------------------------------------------------------------------

_FINE_ITERS = 2  # Lloyd iterations for the per-cell fine quantizer


def _hier_fine_avgs(src: str) -> str:
    return ", ".join(
        f"ROUND(AVG({src}[{j + 1}]) * 1000000.0) / 1000000.0" for j in range(DIM)
    )


def _hier_oracle() -> str:
    kc_sql, kf_sql = hier_cells_case_sql("n")
    fine_iters = []
    for it in range(1, _FINE_ITERS + 1):
        prev = f"f{it - 1}"
        fine_iters.append(
            f"""fa{it} AS MATERIALIZED (
  SELECT vec_id, cell_id, fine_id, ev FROM (
    SELECT t.vec_id, t.cell_id, f.fine_id, t.ev,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY {cosine_sql("t.ev", "f.fv")} DESC, f.fine_id ASC) AS rn
    FROM ft t JOIN {prev} f ON t.cell_id = f.cell_id
  ) s WHERE rn = 1
), fg{it} AS MATERIALIZED (
  SELECT cell_id, fine_id, [{_hier_fine_avgs("ev")}] AS mv
  FROM fa{it} GROUP BY cell_id, fine_id
), f{it} AS MATERIALIZED (
  SELECT p.cell_id, p.fine_id, COALESCE(g.mv, p.fv) AS fv
  FROM {prev} p LEFT JOIN fg{it} g USING (cell_id, fine_id)
)"""
        )
    fine_block = ",\n".join(fine_iters)
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), kp AS (
  SELECT {kc_sql} AS kc, {kf_sql} AS kf FROM (SELECT COUNT(*) AS n FROM v) c
),
{_kmeans_ctes("(SELECT kc FROM kp)")},
centroids AS (
  SELECT cell_id, cv FROM c{N_ITERS}
), cassigned AS MATERIALIZED (
  SELECT vec_id, ev, cell_id FROM (
    SELECT v.vec_id, v.ev, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {cosine_sql("v.ev", "c.cv")} DESC, c.cell_id ASC) AS rn
    FROM v, centroids c
  ) t WHERE rn = 1
), f0 AS MATERIALIZED (
  SELECT cell_id, CAST(rn - 1 AS INTEGER) AS fine_id, ev AS fv FROM (
    SELECT cell_id, ev, ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY vec_id) AS rn
    FROM cassigned
  ) s WHERE rn <= (SELECT kf FROM kp)
), ft AS MATERIALIZED (
  SELECT vec_id, cell_id, ev FROM cassigned WHERE vec_id % {adaptive_train_mod_case_sql()} = 0
),
{fine_block},
fassigned AS MATERIALIZED (
  SELECT vec_id, ev, cell_id, fine_id, fcos FROM (
    SELECT a.vec_id, a.ev, a.cell_id, f.fine_id, {cosine_sql("a.ev", "f.fv")} AS fcos,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {cosine_sql("a.ev", "f.fv")} DESC, f.fine_id ASC) AS rn
    FROM cassigned a JOIN f{_FINE_ITERS} f ON a.cell_id = f.cell_id
  ) t WHERE rn = 1
), fpairs AS MATERIALIZED (
  SELECT cell_id, fine_id, va, vb, ca, cb FROM (
    SELECT a.cell_id, a.fine_id, a.vec_id AS va, b.vec_id AS vb,
           a.fcos AS ca, b.fcos AS cb, {cosine_sql("a.ev", "b.ev")} AS cos
    FROM fassigned a JOIN fassigned b
      ON a.cell_id = b.cell_id AND a.fine_id = b.fine_id AND a.vec_id < b.vec_id
  ) p WHERE cos >= {SEM_THRESHOLD}
), fdropped AS MATERIALIZED (
  SELECT DISTINCT cell_id, fine_id,
         CASE WHEN ca > cb THEN va
              WHEN cb > ca THEN vb
              ELSE GREATEST(va, vb) END AS vec_id
  FROM fpairs
)
SELECT CAST(m.cell_id AS INTEGER) AS cell_id,
       CAST(m.fine_id AS INTEGER) AS fine_id,
       m.n_members,
       CAST(COALESCE(p.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped
FROM (SELECT cell_id, fine_id, COUNT(*) AS n_members FROM fassigned GROUP BY cell_id, fine_id) m
LEFT JOIN (SELECT cell_id, fine_id, COUNT(*) AS n_dup_pairs FROM fpairs GROUP BY cell_id, fine_id) p USING (cell_id, fine_id)
LEFT JOIN (SELECT cell_id, fine_id, COUNT(*) AS n_dropped FROM fdropped GROUP BY cell_id, fine_id) d USING (cell_id, fine_id)
ORDER BY cell_id, fine_id
"""


def train_fine_centroids(
    cassigned: DataFrame,
    kf: int,
    train_mod: int = TRAIN_MOD,
    cache_key: str | None = None,
) -> DataFrame:
    """Per-coarse-cell fine quantizer: seeds are the ``kf`` lowest-vec_id
    members of each coarse cell (from the FULL assignment, so every
    nonempty cell has seeds), then ``_FINE_ITERS`` driver-side `lloyd`
    rounds per cell over the cell's members in the 1-in-``train_mod``
    sample (n_sample x kf scores, never n x K_total). One Spark job
    ranks members per cell and collects the seeds and the sample
    together. Returns (cell_id, fine_id, cv).

    With ``cache_key`` set, the trained (cell_id, fine_id, cv) rows are
    memoized in the SAME per-SparkContext index cache that holds the IVF
    centroids and PQ codebooks (similarity.ivf._index_cache) — the fine
    quantizer is a pure function of the corpus fingerprint and the
    (kc, kf, train_mod) ladder, so serving queries replay it."""
    def build():
        import numpy as np

        w_seed = Window.partitionBy("cell_id").orderBy("vec_id")
        rows = (
            cassigned.select("cell_id", "vec_id", "ev")
            .withColumn("rn", F.row_number().over(w_seed))
            .filter((F.col("rn") <= kf) | (F.pmod("vec_id", F.lit(train_mod)) == 0))
            .collect()
        )
        cells: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["cell_id"], r["rn"])):
            cells.setdefault(r["cell_id"], []).append(r)
        out = []
        for cell, members in sorted(cells.items()):
            seeds = np.array([r["ev"] for r in members if r["rn"] <= kf], dtype=np.float64)
            sample = [r["ev"] for r in members if r["vec_id"] % train_mod == 0]
            fcents = lloyd(
                np.array(sample or np.zeros((0, DIM)), dtype=np.float64),
                seeds,
                _FINE_ITERS,
                "cosine",
            )
            out += [(int(cell), f, fv) for f, fv in enumerate(fcents.tolist())]
        return out

    rows = _memo(cassigned.sparkSession, ("fine_centroids", cache_key, kf, train_mod), build)
    return local_rows_df(cassigned.sparkSession, rows, "cell_id int, fine_id int, cv array<double>")


def _normed(v: DataFrame) -> DataFrame:
    """`v` with its norm hoisted, checkpointed lazily: the argmax scoring
    and the vectors join-back both read it."""
    return _with_norm(v, "ev", "nrm").transform(corpus_checkpoint_lazy)


def _hier_chain(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> tuple[int, DataFrame, DataFrame]:
    """(n, cassigned, fcents): the corpus count, the coarse assignment
    (the flat op's, ccos dropped: the hierarchical keep rule ranks on
    fcos) and the per-cell fine quantizer trained from it. The coarse
    quantizer and the fine one are memoized index artifacts."""
    n = load_table(spark, sf_dir, "embeddings").count()
    v = load_vectors(spark, sf_dir)
    kc, kf = hier_cells(n)
    cents = train_centroids(v, cache_key=dataset_cache_key(sf_dir), n_cells=kc)
    # the assignment checkpoint pins its width first (tables.pin_join_width):
    # the skinny argmax shuffles AQE-coalesce to 1-2 partitions, and the
    # checkpoint would freeze that width under every later dense pass
    # (fine seed ranking, fine assignment — measured 2-of-32-core
    # grind at sf10 unpinned). Keyless: all downstream scoring joins are
    # broadcast, so round-robin balance beats key co-location.
    cassigned = pin_join_width(assign_cells(_normed(v), cents).drop("ccos"), n_rows=n)
    if checkpoint:
        cassigned = cassigned.transform(corpus_checkpoint_lazy)
    fcents = train_fine_centroids(
        cassigned,
        kf,
        train_mod=adaptive_train_mod(n),
        # memo is safe to key on (corpus fingerprint, kf, train_mod):
        # kc — and so cassigned — is itself a pure function of the
        # fingerprinted corpus via hier_cells(n)
        cache_key=dataset_cache_key(sf_dir),
    )
    return n, cassigned, fcents


def _hier_fassigned(spark: SparkSession, sf_dir: str) -> tuple[int, DataFrame]:
    """The shared hierarchical chain: corpus count, coarse quantizer
    (memoized k-means), per-cell fine quantizer, fine assignment —
    everything upstream of the pair term, identical for both physical
    pair plans. Returns (n, fassigned) with fassigned UN-pinned and
    UN-checkpointed (each pair plan applies its own materialization)."""
    n, cassigned, fcents = _hier_chain(spark, sf_dir)
    return n, assign_cells(cassigned, fcents, "fine_id", ("cell_id",), "fcos")


def warm_fine_quantizer(spark: SparkSession, sf_dir: str) -> None:
    """Train the hierarchical fine quantizer into the session index cache
    (ivf.warm_index_cache's hook). The chain stops at
    `train_fine_centroids`, and its training collect reads the coarse
    assignment un-checkpointed: the serving path's checkpoint would be
    materialized only to be discarded, and it stores the same rows."""
    _hier_chain(spark, sf_dir, checkpoint=False)


@query("semantic_dedup_hier", oracle=_hier_oracle(), survey="EXT-dedup,EXT-similarity")
def semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical SemDeDup — the scale variant of `semantic_dedup`
    (which stays the exact-semantics flat reference). Two-level
    quantization: Kc coarse k-means cells (the shared trained
    quantizer), then Kf fine cells WITHIN each coarse cell, with
    pairwise cosine confined to (coarse, fine) buckets and the SemDeDup
    keep rule ranking on the fine-centroid cosine.

    Why this survives 100 TB where the flat op caps out: the flat
    quantizer must grow K ≈ sqrt(n) to bound the in-cell pair term, but
    its dense assignment pass is n×K — the op is inherently n^1.5
    (measured 29.3x at 10x data, exactly on-curve). Two-level
    assignment costs n×(Kc+Kf) ≈ 2n·n^(1/4) while the bucket count
    Kc·Kf keeps the same sqrt(n) growth, so BOTH the assignment and the
    n²/(Kc·Kf) pair term drop out of the superlinear regime — the
    hierarchical/IVF-HNSW-style escape hatch FAISS uses for the same
    problem (coarse quantizer + per-list refinement).

    Cell counts come from an integer CASE ladder on COUNT(*)
    (`hier_cells`, mirrored in the oracle) — Kc·Kf = smallest power of
    two ≥ sqrt(n), split evenly. Fine seeds are the Kf lowest-vec_id
    members per coarse cell; 2 driver-side Lloyd rounds over the
    training sample, scoring members only against their own cell's fine
    table.

    Extends the reference's exact duplicate detection
    (src/analysis/data_quality_analyzer.py:172) like its flat sibling;
    same SEM_THRESHOLD contract. The pair term is the flat op's
    size-dispatched one (`semdedup_group_stats`, keyed on (cell_id,
    fine_id) and ranking on fcos): relational self-join below
    SEMDEDUP_BLAS_MIN_ROWS, per-group dgemm above it (sf10
    same-session: 200 s → 32 s) — one operator, two physical plans,
    one answer."""
    n, fassigned = _hier_fassigned(spark, sf_dir)
    keys = ("cell_id", "fine_id")
    return semdedup_group_stats(fassigned, n, keys, "fcos").orderBy(*keys)
