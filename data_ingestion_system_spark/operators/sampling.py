"""Sampling & ML-data-prep operators — SURVEY.md §2.9 (M1–M5, O7, A20).

The reference's sampler pulls candidate rows per tier with SQL, excludes
already-sampled ids in Python, and shuffles with ORDER BY RANDOM()
(reference: src/labeling/sampler.py:46-222); its exporter splits
train/val/test by class with random.shuffle (src/labeling/exporter.py:161-193).

Engine policy (SURVEY §4.2.1): all "random" draws use the deterministic
md5(seed||key) rank so results are reproducible and oracle-checkable;
a seed change re-randomizes. At 100 TB each sampler is one window over a
partitioned shuffle — no driver-side id sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import det_rank_key
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import corpus_checkpoint, load_table

# per-tier quotas, mirroring LABEL_QUEUE_TIER_ALLOCATION (settings.py:149-154)
TIER_QUOTAS = {1: 800, 2: 700, 3: 500, 4: 400}


def tier_column() -> F.Column:
    """Stratification tier over (returnflag × quantity bucket) — the
    sentiment×length tier matrix of sampler.py:109-143."""
    return (
        F.when((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 25), 1)
        .when((F.col("l_returnflag") == "R") & (F.col("l_quantity") <= 25), 2)
        .when(F.col("l_returnflag") == "A", 3)
        .otherwise(4)
    )


TIER_SQL = """CASE WHEN l_returnflag = 'R' AND l_quantity > 25 THEN 1
     WHEN l_returnflag = 'R' AND l_quantity <= 25 THEN 2
     WHEN l_returnflag = 'A' THEN 3
     ELSE 4 END"""


@query(
    "stratified_tiered_sample",
    oracle=f"""
WITH tiered AS (
  SELECT l_orderkey, l_linenumber,
         {TIER_SQL} AS tier
  FROM lineitem
), ranked AS (
  SELECT tier, l_orderkey, l_linenumber,
         ROW_NUMBER() OVER (
           PARTITION BY tier
           ORDER BY md5(concat('42:', CAST(l_orderkey * 10 + l_linenumber AS VARCHAR))) ASC,
                    l_orderkey ASC, l_linenumber ASC
         ) AS rn
  FROM tiered
)
SELECT tier, l_orderkey, l_linenumber
FROM ranked
WHERE (tier = 1 AND rn <= 800) OR (tier = 2 AND rn <= 700)
   OR (tier = 3 AND rn <= 500) OR (tier = 4 AND rn <= 400)
ORDER BY tier, l_orderkey, l_linenumber
""",
    survey="M1,W5",
)
def stratified_tiered_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified tiered sampling with per-tier quotas {800,700,500,400}
    (sampler.py:46-154; quotas settings.py:149-154): tier assignment is a
    CASE ladder, the per-tier 'random' pick is a seeded md5 rank window."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    tiered = li.select("l_orderkey", "l_linenumber", tier_column().alias("tier"))
    rank_key = det_rank_key(F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    w = Window.partitionBy("tier").orderBy(rank_key.asc(), F.asc("l_orderkey"), F.asc("l_linenumber"))
    ranked = tiered.withColumn("rn", F.row_number().over(w))
    quota = (
        F.when(F.col("tier") == 1, TIER_QUOTAS[1])
        .when(F.col("tier") == 2, TIER_QUOTAS[2])
        .when(F.col("tier") == 3, TIER_QUOTAS[3])
        .otherwise(TIER_QUOTAS[4])
    )
    return (
        ranked.filter(F.col("rn") <= quota)
        .select("tier", "l_orderkey", "l_linenumber")
        .orderBy("tier", "l_orderkey", "l_linenumber")
    )


@query(
    "stratified_split",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(concat('42:', CAST(doc_id AS VARCHAR))) ASC, doc_id ASC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_class
  FROM documents
), assigned AS (
  SELECT doc_id, lang,
         CASE WHEN rn <= CAST(FLOOR(n_class * 0.8) AS BIGINT) THEN 'train'
              WHEN rn <= CAST(FLOOR(n_class * 0.9) AS BIGINT) THEN 'val'
              ELSE 'test' END AS split
  FROM ranked
)
SELECT split, lang, COUNT(*) AS n
FROM assigned
GROUP BY split, lang
ORDER BY split, lang
""",
    survey="M3,O7,A20",
)
def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 80/10/10 train/val/test split (exporter.py:161-193) +
    split statistics (exporter.py:244-254). The reference shuffles each
    class list in Python; here a seeded md5 rank per class and quantile
    cut-offs give deterministic, engine-portable assignment."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(det_rank_key(F.col("doc_id")).asc(), F.asc("doc_id"))
    wc = Window.partitionBy("lang")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_class"),
    )
    assigned = ranked.select(
        "doc_id",
        "lang",
        F.when(F.col("rn") <= F.floor(F.col("n_class") * 0.8), "train")
        .when(F.col("rn") <= F.floor(F.col("n_class") * 0.9), "val")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("split", "lang").agg(F.count("*").alias("n")).orderBy("split", "lang")


def assign_split(df: DataFrame, class_col: str, key_col: str, ratios=(0.8, 0.1, 0.1), seed: int = 42) -> DataFrame:
    """Library form of the stratified split: adds a `split` column.

    Deterministic given (ratios, seed); per-class proportions match
    exporter.py:161-193 slice semantics (floor cuts, remainder → test).
    """
    assert abs(sum(ratios) - 1.0) < 1e-9, "ratios must sum to 1"
    w = Window.partitionBy(class_col).orderBy(det_rank_key(F.col(key_col), seed).asc(), F.asc(key_col))
    wc = Window.partitionBy(class_col)
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn("_n", F.count("*").over(wc))
    train_cut = F.floor(F.col("_n") * ratios[0])
    val_cut = F.floor(F.col("_n") * (ratios[0] + ratios[1]))
    return (
        ranked.withColumn(
            "split",
            F.when(F.col("_rn") <= train_cut, "train")
            .when(F.col("_rn") <= val_cut, "val")
            .otherwise("test"),
        )
        .drop("_rn", "_n")
    )


@query(
    "overlap_assignment",
    oracle="""
SELECT CAST(SUM(CASE WHEN md5(concat('7:', CAST(doc_id AS VARCHAR))) < '1a' THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       COUNT(*) AS n_total
FROM documents
""",
    survey="M5",
)
def overlap_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator overlap flag — ~10% of the queue double-labeled
    (settings.py:160). Hex-prefix threshold on the seeded md5 key gives a
    deterministic ≈10.2% ('1a'/256) Bernoulli draw."""
    docs = load_table(spark, sf_dir, "documents")
    flag = det_rank_key(F.col("doc_id"), seed=7) < "1a"
    return docs.agg(
        F.sum(flag.cast("int")).alias("n_overlap"),
        F.count("*").alias("n_total"),
    )


ES_SEED = 19
ES_K = 10


def _es_oracle() -> str:
    from data_ingestion_system_spark.functions.scalar import U52_DENOM, u52_terms_sql

    return f"""
WITH hashed AS (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
         md5(concat('{ES_SEED}:', CAST(l_orderkey * 10 + l_linenumber AS VARCHAR))) AS h
  FROM lineitem
  WHERE l_quantity > 0
), keyed AS (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
         ln(({u52_terms_sql("strpos")} + 0.5) / {U52_DENOM}) / l_quantity AS es_key
  FROM hashed
), ranked AS (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag
           ORDER BY es_key DESC, l_orderkey ASC, l_linenumber ASC
         ) AS rn
  FROM keyed
)
SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
FROM ranked WHERE rn <= {ES_K}
ORDER BY l_returnflag, l_orderkey, l_linenumber
"""


@query("weighted_sample", oracle=_es_oracle(), survey="M1-ext")
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement: k rows per stratum with
    inclusion probability proportional to weight (l_quantity), via the
    Efraimidis-Spirakis exponential-key trick — priority
    ln(u) / w with u uniform in (0,1), top-k by priority per group
    (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    reservoir"). Extends the reference's unweighted ORDER BY RANDOM()
    draw (reference: src/labeling/sampler.py:142) to quality-weighted
    training-data selection.

    Determinism & oracle parity: u is the first 13 hex digits of the
    seeded md5 rank key as a 52-bit integer (scalar.u52_terms_sql) —
    bit-identical in both engines — so the only cross-engine surface is
    ln(), whose last-ulp differences cannot realistically reorder
    md5-separated keys. One shuffle (the per-stratum window); at scale
    this is the same plan as any grouped top-k."""
    from data_ingestion_system_spark.functions.scalar import U52_DENOM, U52_SPARK_SQL

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
    )
    hashed = li.withColumn(
        "h", det_rank_key(F.col("l_orderkey") * 10 + F.col("l_linenumber"), seed=ES_SEED)
    )
    keyed = hashed.withColumn(
        "es_key",
        F.expr(f"ln(({U52_SPARK_SQL} + 0.5) / {U52_DENOM})") / F.col("l_quantity"),
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("es_key"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ES_K)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    )


SPLIT_SEED = 13
TRAIN_FRAC, VAL_FRAC = 0.8, 0.1  # remainder -> test


def _cluster_split_oracle() -> str:
    from data_ingestion_system_spark.dedup.minhash import (
        JACCARD_THRESHOLD,
        PAIR_CTES,
    )
    from data_ingestion_system_spark.functions.scalar import U52_DENOM, u52_terms_sql

    u = f"(({u52_terms_sql('strpos')}) + 0.5) / {U52_DENOM}"
    return f"""
WITH RECURSIVE {PAIR_CTES},
spairs AS (
  SELECT doc_a, doc_b FROM jacs WHERE jac >= {JACCARD_THRESHOLD}
), sedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM spairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM spairs
), swalk(doc_id, label) AS (
  SELECT DISTINCT src, src FROM sedges
  UNION
  SELECT e.dst, w.label FROM swalk w JOIN sedges e ON e.src = w.doc_id
), scomp AS (
  SELECT doc_id, MIN(label) AS cluster_id FROM swalk GROUP BY doc_id
), units AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS unit_id
  FROM documents d LEFT JOIN scomp c USING (doc_id)
), unit_split AS (
  SELECT unit_id,
         CASE WHEN u < {TRAIN_FRAC} THEN 'train'
              WHEN u < {TRAIN_FRAC + VAL_FRAC} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT unit_id, {u} AS u FROM (
      SELECT DISTINCT unit_id,
             md5(concat('{SPLIT_SEED}:', CAST(unit_id AS VARCHAR))) AS h
      FROM units
    ) t
  ) s
), assigned AS (
  SELECT u.doc_id, u.unit_id, s.split FROM units u JOIN unit_split s USING (unit_id)
), straddle AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_straddling
  FROM (
    SELECT unit_id, COUNT(DISTINCT split) AS n_splits FROM assigned GROUP BY unit_id
  ) g
)
SELECT a.split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT a.unit_id) AS n_units,
       MAX(st.n_straddling) AS n_straddling_units
FROM assigned a, straddle st
GROUP BY a.split
ORDER BY a.split
"""


@query("cluster_aware_split_stats", oracle=_cluster_split_oracle(), survey="M3-ext,EXT-dedup")
def cluster_aware_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the assignment unit is the
    near-duplicate CLUSTER, not the document, so near-copies can never
    straddle train and test (the classic eval-contamination leak a
    doc-level split ignores — Lee et al. 2022's dedup-then-split
    argument). The split itself is a stateless hash threshold on the
    unit id (no window, no shuffle beyond the cluster closure); the
    report verifies zero straddling units alongside per-split yield.

    Scale shape: cluster closure is the existing bounded
    MinHash-LSH + connected-components path; everything after is a
    hash-threshold projection and two aggregates."""
    from data_ingestion_system_spark.dedup.clusters import connected_components
    from data_ingestion_system_spark.dedup.minhash import minhash_pairs
    from data_ingestion_system_spark.functions.scalar import U52_DENOM, U52_SPARK_SQL
    from data_ingestion_system_spark.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    pairs, _ = minhash_pairs(docs)
    comp = connected_components(pairs)
    units = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("unit_id")
    )
    u_expr = f"(({U52_SPARK_SQL}) + 0.5) / {U52_DENOM}"
    unit_split = (
        units.select("unit_id")
        .distinct()
        .withColumn("h", det_rank_key(F.col("unit_id"), seed=SPLIT_SEED))
        .withColumn("u", F.expr(u_expr))
        .select(
            "unit_id",
            F.when(F.col("u") < TRAIN_FRAC, "train")
            .when(F.col("u") < TRAIN_FRAC + VAL_FRAC, "val")
            .otherwise("test")
            .alias("split"),
        )
    )
    assigned = corpus_checkpoint(units.join(unit_split, "unit_id"), eager=False)
    straddle = (
        assigned.groupBy("unit_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_straddling")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("unit_id").alias("n_units"),
        )
        .crossJoin(F.broadcast(straddle))
        .select(
            "split", "n_docs", "n_units", F.col("n_straddling").alias("n_straddling_units")
        )
        .orderBy("split")
    )


NEYMAN_BUDGET = 1000

_NEYMAN_ORACLE = f"""
WITH s AS (
  SELECT l_returnflag AS stratum,
         COUNT(*) AS nh,
         SUM(l_quantity) AS s1,
         SUM(l_quantity * l_quantity) AS s2
  FROM lineitem GROUP BY l_returnflag
), w AS (
  -- N_h * sigma_h with sigma_h = sqrt(nh*s2 - s1^2)/nh: the nh cancels
  SELECT stratum, nh,
         SQRT(CAST(nh * s2 - s1 * s1 AS DOUBLE)) AS weight
  FROM s
), t AS (
  SELECT SUM(weight) AS total_w FROM w
)
SELECT w.stratum,
       CAST(w.nh AS BIGINT) AS stratum_size,
       ROUND(w.weight / t.total_w * 1000000.0) / 1000000.0 AS alloc_share,
       CAST(FLOOR({NEYMAN_BUDGET} * w.weight / t.total_w) AS BIGINT)
         AS alloc_samples
FROM w, t
ORDER BY w.stratum
"""


@query("neyman_allocation", oracle=_NEYMAN_ORACLE, survey="M1,A20")
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: stratum shares
    proportional to N_h * sigma_h (size x spread), minimizing the
    variance of the stratified mean at a fixed budget — the
    statistically-optimal upgrade over `stratified_tiered_sample`'s
    fixed tiers. sigma_h comes from exact BIGINT quantity moments per
    stratum (N_h * sqrt(N_h*s2 - s1^2) / N_h keeps the population-sd
    algebra identical in both engines); floor() of the budget share
    gives the integer per-stratum sample count.

    Scale shape: one grouped-moments pass plus constant-size
    arithmetic — allocation for any corpus costs one aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy(F.col("l_returnflag").alias("stratum")).agg(
        F.count("*").alias("nh"),
        F.sum("l_quantity").alias("s1"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("s2"),
    )
    # N_h * sigma_h with sigma_h = sqrt(nh*s2 - s1^2)/nh: the nh cancels
    weight = F.sqrt(
        (F.col("nh") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    )
    w = s.select("stratum", "nh", weight.alias("weight"))
    t = w.agg(F.sum("weight").alias("total_w"))
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "stratum",
            F.col("nh").cast("bigint").alias("stratum_size"),
            (F.round(F.col("weight") / F.col("total_w") * 1000000.0) / 1000000.0)
            .alias("alloc_share"),
            F.floor(NEYMAN_BUDGET * F.col("weight") / F.col("total_w"))
            .cast("bigint")
            .alias("alloc_samples"),
        )
        .orderBy("stratum")
    )
