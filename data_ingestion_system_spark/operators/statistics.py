"""Statistics operators — SURVEY.md §2.4 (A8–A15).

The reference computes all of these by collecting full column lists into
Python and looping (reference: src/analysis/deep_analysis.py:84-176,
src/analysis/data_quality_analyzer.py:83-135) — O(corpus) driver memory.
Here each is one distributed aggregate. Estimator conventions follow the
reference: *exact* interpolated percentiles (deep_analysis.py:24-34) and
population (divide-by-n) skewness/kurtosis (deep_analysis.py:89-97) —
written as explicit moment expressions because Spark's and DuckDB's
built-in skewness/kurtosis use different estimators (SURVEY §7.4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import fan_out_if_narrow, load_table


@query(
    "descriptive_stats",
    oracle="""
SELECT
  COUNT(*) AS n,
  ROUND(AVG(l_quantity) * 1000000.0) / 1000000.0 AS mean_qty,
  ROUND(quantile_cont(l_quantity, 0.5) * 1000000.0) / 1000000.0 AS median_qty,
  ROUND(STDDEV_SAMP(l_quantity) * 1000000.0) / 1000000.0 AS stdev_qty,
  ROUND(VAR_SAMP(l_quantity) * 1000000.0) / 1000000.0 AS var_qty,
  ROUND(MIN(l_quantity) * 100.0) / 100.0 AS min_qty,
  ROUND(MAX(l_quantity) * 100.0) / 100.0 AS max_qty
FROM lineitem
""",
    survey="A8",
)
def descriptive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Descriptive statistics (deep_analysis.py:84-88: statistics.mean/
    median/stdev/variance over a collected list) as one aggregate; median
    is the exact interpolated percentile, matching statistics.median."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.agg(
        F.count("*").alias("n"),
        round_port(F.avg(q), 6).alias("mean_qty"),
        round_port(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        round_port(F.stddev_samp(q), 6).alias("stdev_qty"),
        round_port(F.var_samp(q), 6).alias("var_qty"),
        round_port(F.min(q), 2).alias("min_qty"),
        round_port(F.max(q), 2).alias("max_qty"),
    )


@query(
    "mode_value",
    oracle="""
SELECT l_quantity AS mode_qty, COUNT(*) AS n_occurrences
FROM lineitem
GROUP BY l_quantity
ORDER BY n_occurrences DESC, mode_qty ASC
LIMIT 1
""",
    survey="A8",
)
def mode_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode with deterministic tie-break (smallest value) — the reference
    uses statistics.mode / Counter.most_common(1) (deep_analysis.py:303-306);
    built-in `mode()` tie-breaks arbitrarily in both engines, so the engine
    computes it as a ranked frequency."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_quantity").alias("mode_qty"))
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("mode_qty"))
        .limit(1)
    )


@query(
    "higher_moments",
    oracle="""
WITH m AS (
  SELECT AVG(l_quantity) AS mu,
         AVG(l_quantity * l_quantity) AS m2r,
         AVG(l_quantity * l_quantity * l_quantity) AS m3r,
         AVG(l_quantity * l_quantity * l_quantity * l_quantity) AS m4r,
         COUNT(*) AS n
  FROM lineitem
)
SELECT n,
  ROUND(((m3r - 3 * mu * m2r + 2 * mu * mu * mu)
         / POW(m2r - mu * mu, 1.5)) * 1000000.0) / 1000000.0 AS skewness_pop,
  ROUND(((m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * mu * mu * mu * mu)
         / POW(m2r - mu * mu, 2.0) - 3.0) * 1000000.0) / 1000000.0 AS kurtosis_excess_pop
FROM m
""",
    survey="A9",
)
def higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher–Pearson skewness + excess kurtosis with population (n)
    normalization — the reference's hand-rolled formulas
    (deep_analysis.py:89-97). Explicit raw-moment algebra on both engines
    because Spark/DuckDB built-ins use different estimator conventions."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = li.agg(
        F.avg(q).alias("mu"),
        F.avg(q * q).alias("m2r"),
        F.avg(q * q * q).alias("m3r"),
        F.avg(q * q * q * q).alias("m4r"),
        F.count("*").alias("n"),
    )
    mu, m2r, m3r, m4r = F.col("mu"), F.col("m2r"), F.col("m3r"), F.col("m4r")
    m2 = m2r - mu * mu
    skew = (m3r - 3 * mu * m2r + 2 * mu * mu * mu) / F.pow(m2, 1.5)
    kurt = (m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * mu * mu * mu * mu) / F.pow(m2, 2.0) - 3.0
    return m.select(
        "n",
        round_port(skew, 6).alias("skewness_pop"),
        round_port(kurt, 6).alias("kurtosis_excess_pop"),
    )


@query(
    "exact_percentiles",
    oracle="""
SELECT
  ROUND(quantile_cont(l_extendedprice, 0.05) * 1000000.0) / 1000000.0 AS p05,
  ROUND(quantile_cont(l_extendedprice, 0.25) * 1000000.0) / 1000000.0 AS p25,
  ROUND(quantile_cont(l_extendedprice, 0.50) * 1000000.0) / 1000000.0 AS p50,
  ROUND(quantile_cont(l_extendedprice, 0.75) * 1000000.0) / 1000000.0 AS p75,
  ROUND(quantile_cont(l_extendedprice, 0.95) * 1000000.0) / 1000000.0 AS p95,
  ROUND(quantile_cont(l_extendedprice, 0.99) * 1000000.0) / 1000000.0 AS p99
FROM lineitem
""",
    survey="A10",
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles P5..P99
    (deep_analysis.py:24-34) — `percentile`, NOT `percentile_approx`,
    because the oracle hash-matches values (SURVEY §2.4 A10). The
    single-buffer ObjectHashAggregate costs ~2.6 s at sf0.1 (accepted —
    it is the simplest exact form); `exact_percentiles_sketch_refine` is
    the bounded-memory twin producing identical values in ~1.8 s and is
    the plan that survives 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE percentile(col, array(...)) call: six scalar percentile() aggs
    # would each buffer the full column (6× memory + sort, measured 10.6s
    # vs 2s at sf0.1); the array form shares one buffer
    pcts = li.agg(
        F.expr(
            "percentile(l_extendedprice, array(0.05, 0.25, 0.50, 0.75, 0.95, 0.99))"
        ).alias("ps")
    )
    names = ["p05", "p25", "p50", "p75", "p95", "p99"]
    return pcts.select(
        *[
            round_port(F.element_at(F.col("ps"), i + 1), 6).alias(n)
            for i, n in enumerate(names)
        ]
    )


_PCTS = [0.05, 0.25, 0.50, 0.75, 0.95, 0.99]
_PCT_NAMES = ["p05", "p25", "p50", "p75", "p95", "p99"]
_SKETCH_ACC = 2000  # GK sketch accuracy: rank error <= n / _SKETCH_ACC
# (2000 beats 10000 by ~3x on the sketch pass; the refine windows grow to
# ~0.3% of the corpus per percentile — still trivially collectible)


def sketch_refine_percentiles(
    li: DataFrame,
    colname: str,
    pcts: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT interpolated percentiles via the scale path: sketch + refine.

    A single `percentile()` agg buffers the full column in one
    ObjectHashAggregate — impossible at 100 TB. This produces the SAME
    values with bounded memory: pass 1 brackets each target rank with
    percentile_approx (GK sketch, rank error <= n/acc) at p ± 3/acc;
    pass 2 is one codegen scan computing, per percentile, the exact count
    below the bracket and the (tiny) sorted value window inside it; the
    order statistics at floor/ceil(1 + p*(n-1)) are then picked out of the
    window with element_at and interpolated — all expressions, no driver
    math, no full-column buffer. Window size is ~6/acc of the corpus per
    percentile (plus the multiplicity of bracket-boundary values; a
    degenerate near-constant column would need a groupBy-by-value refine
    instead).

    Returns ``vals`` — an array of the exact percentile values in
    ``pcts`` order, rounded to 6 decimals (the cross-engine float
    contract used by every oracle here) — plus ``n``, as ONE row
    ungrouped or one row per ``group_cols`` value. The grouped form is
    the scale-safe twin of a per-group ``percentile()`` agg, whose
    per-group full-column buffer breaks on any skewed group; here a
    group costs one sketch + a ~6/acc refine window regardless of its
    size."""
    gcols = list(group_cols or [])
    # both passes read only (gcols, colname): slim the relation, then
    # spread it across the cores when the scan arrives under-parallel
    # (single-row-group local files — at scale this is a no-op and both
    # passes read the plain parallel scan). Round-robin, NOT by gcols:
    # partial aggregation combines per partition, so a 3-group corpus
    # must not collapse onto 3 tasks. The bounds agg and the refine scan
    # share the exchange (ReuseExchange), so the shuffle runs once.
    li = fan_out_if_narrow(li.select(*gcols, colname))
    col = F.col(colname)
    eps3 = 3.0 / _SKETCH_ACC
    plos = [max(0.0, p - eps3) for p in pcts]
    phis = [min(1.0, p + eps3) for p in pcts]
    # ONE percentile_approx over the concatenated lo+hi targets: two
    # separate calls each build their own GK sketch of the full column
    # (2x the insert cost, measured ~40% of the whole query); one call
    # builds one sketch and queries it 2k times, then slice() splits
    # the bounds back out.
    k = len(pcts)
    bound_aggs = [
        F.expr(
            f"percentile_approx({colname}, array({', '.join(map(str, plos + phis))}),"
            f" {_SKETCH_ACC})"
        ).alias("bnds"),
        F.count(colname).alias("n"),
    ]
    bounds = li.groupBy(*gcols).agg(*bound_aggs) if gcols else li.agg(*bound_aggs)
    # hoist the per-percentile bracket bounds into plain columns ONCE —
    # every aggregate expression below would otherwise re-evaluate
    # element_at(los/his, i) per row per aggregate (4 aggs × k pcts
    # array probes per row, measured ~40% of the refine pass).
    # Bracket tables are group-count-sized — broadcast either way.
    joined = (
        li.join(F.broadcast(bounds), gcols) if gcols else li.crossJoin(F.broadcast(bounds))
    )
    j = joined.select(
        *gcols,
        col.alias("_x"),
        "n",
        *[F.element_at(F.col("bnds"), i + 1).alias(f"lo{i}") for i in range(k)],
        *[F.element_at(F.col("bnds"), k + i + 1).alias(f"hi{i}") for i in range(k)],
    )
    x = F.col("_x")
    aggs = []
    for i in range(len(pcts)):
        lo_i = F.col(f"lo{i}")
        hi_i = F.col(f"hi{i}")
        aggs.append(F.sum(F.when(x < lo_i, 1).otherwise(0)).alias(f"below{i}"))
        aggs.append(
            F.sort_array(
                F.collect_list(F.when(x.between(lo_i, hi_i), x))
            ).alias(f"win{i}")
        )
        # boundary guards: percentile_approx is NEAREST-RANK, the target
        # is an INTERPOLATION rank — when n is small relative to the
        # sketch margin (margin_ranks = 3n/acc < 2) the bracket value can
        # sit one order statistic past the needed one on either side
        # (provably at most one: ceil(p*n) <= floor(1+p(n-1)) + 1 and
        # symmetrically for the hi side). The largest value below lo /
        # smallest above hi cover exactly those two cases.
        aggs.append(F.max(F.when(x < lo_i, x)).alias(f"prev{i}"))
        aggs.append(F.min(F.when(x > hi_i, x)).alias(f"next{i}"))
    row = j.groupBy(*gcols, "n").agg(*aggs)

    def _pick(i: int, idx):
        return (
            F.when(idx < 1, F.col(f"prev{i}"))
            .when(idx > F.size(F.col(f"win{i}")), F.col(f"next{i}"))
            .otherwise(F.element_at(F.col(f"win{i}"), idx.cast("int")))
        )

    vals = []
    for i, p in enumerate(pcts):
        pos = F.lit(1.0) + F.lit(p) * (F.col("n") - 1).cast("double")
        k1 = F.floor(pos)
        k2 = F.ceil(pos)
        v1 = _pick(i, (k1 - F.col(f"below{i}")).cast("int"))
        v2 = _pick(i, (k2 - F.col(f"below{i}")).cast("int"))
        vals.append(round_port(v1 + (pos - k1) * (v2 - v1), 6))
    return row.select(*gcols, "n", F.array(*vals).alias("vals"))


@query(
    "exact_percentiles_sketch_refine",
    oracle="""
SELECT
  ROUND(quantile_cont(l_extendedprice, 0.05) * 1000000.0) / 1000000.0 AS p05,
  ROUND(quantile_cont(l_extendedprice, 0.25) * 1000000.0) / 1000000.0 AS p25,
  ROUND(quantile_cont(l_extendedprice, 0.50) * 1000000.0) / 1000000.0 AS p50,
  ROUND(quantile_cont(l_extendedprice, 0.75) * 1000000.0) / 1000000.0 AS p75,
  ROUND(quantile_cont(l_extendedprice, 0.95) * 1000000.0) / 1000000.0 AS p95,
  ROUND(quantile_cont(l_extendedprice, 0.99) * 1000000.0) / 1000000.0 AS p99
FROM lineitem
""",
    survey="A10",
)
def exact_percentiles_sketch_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`exact_percentiles`' bounded-memory twin — same values, same
    oracle, via `sketch_refine_percentiles` (sketch-bracket + one codegen
    refine scan instead of a full-column percentile buffer)."""
    li = load_table(spark, sf_dir, "lineitem")
    row = sketch_refine_percentiles(li, "l_extendedprice", _PCTS)
    return row.select(
        *[
            F.element_at(F.col("vals"), i + 1).alias(name)
            for i, name in enumerate(_PCT_NAMES)
        ]
    )


@query(
    "histogram_fixed_buckets",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN '0-50k'
            WHEN o_totalprice < 150000 THEN '50-150k'
            WHEN o_totalprice < 300000 THEN '150-300k'
            WHEN o_totalprice < 450000 THEN '300-450k'
            ELSE '450k+' END AS bucket,
       COUNT(*) AS n
FROM orders
GROUP BY 1
ORDER BY bucket
""",
    survey="A11",
)
def histogram_fixed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram over fixed bucket edges (deep_analysis.py:163-176)."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    bucket = (
        F.when(p < 50000, "0-50k")
        .when(p < 150000, "50-150k")
        .when(p < 300000, "150-300k")
        .when(p < 450000, "300-450k")
        .otherwise("450k+")
    )
    return orders.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n")).orderBy("bucket")


@query(
    "grouped_distribution",
    oracle="""
SELECT l_returnflag,
  COUNT(*) AS n,
  ROUND(AVG(l_quantity) * 1000000.0) / 1000000.0 AS mean_qty,
  ROUND(quantile_cont(l_quantity, 0.5) * 1000000.0) / 1000000.0 AS median_qty,
  ROUND(quantile_cont(l_quantity, 0.95) * 1000000.0) / 1000000.0 AS p95_qty,
  ROUND((CAST(SUM(CASE WHEN l_quantity <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) * 1000000.0) / 1000000.0 AS pct_small
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    survey="A12",
)
def grouped_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group distribution stats — per-rating length stats
    (deep_analysis.py:180-187, :374-387)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            round_port(F.avg(q), 6).alias("mean_qty"),
            round_port(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
            round_port(F.expr("percentile(l_quantity, 0.95)"), 6).alias("p95_qty"),
            round_port(
                F.sum(F.when(q <= 10, 1).otherwise(0)).cast("double") / F.count("*"), 6
            ).alias("pct_small"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "two_level_agg",
    oracle="""
WITH per_nation AS (
  SELECT c_nationkey, AVG(c_acctbal) AS mean_bal, COUNT(*) AS n_customers
  FROM customer
  GROUP BY c_nationkey
)
SELECT COUNT(*) AS n_nations,
  ROUND(AVG(mean_bal) * 1000000.0) / 1000000.0 AS avg_of_means,
  ROUND(VAR_SAMP(mean_bal) * 1000000.0) / 1000000.0 AS var_of_means,
  CAST(MIN(n_customers) AS BIGINT) AS min_group,
  CAST(MAX(n_customers) AS BIGINT) AS max_group
FROM per_nation
""",
    survey="A13",
)
def two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation — per-app means, then cross-app variance of
    those means (deep_analysis.py:271-306)."""
    customer = load_table(spark, sf_dir, "customer")
    per_nation = customer.groupBy("c_nationkey").agg(
        F.avg("c_acctbal").alias("mean_bal"), F.count("*").alias("n_customers")
    )
    return per_nation.agg(
        F.count("*").alias("n_nations"),
        round_port(F.avg("mean_bal"), 6).alias("avg_of_means"),
        round_port(F.var_samp("mean_bal"), 6).alias("var_of_means"),
        F.min("n_customers").alias("min_group"),
        F.max("n_customers").alias("max_group"),
    )


@query(
    "null_profile",
    oracle="""
SELECT
  COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN text   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
  CAST(SUM(CASE WHEN text   = ''    THEN 1 ELSE 0 END) AS BIGINT) AS text_empties,
  CAST(SUM(CASE WHEN lang   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
  ROUND((1.0 - CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) * 1000000.0) / 1000000.0 AS text_fill_rate
FROM documents
""",
    survey="A14",
)
def null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field null/empty profiling (data_quality_analyzer.py:83-115):
    the reference loops fields × rows in Python; here one pass builds all
    counters via SUM(CASE) columns generated from the schema."""
    docs = load_table(spark, sf_dir, "documents")
    t, lang, src = F.col("text"), F.col("lang"), F.col("source")
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.sum(t.isNull().cast("int")).alias("text_nulls"),
        F.sum((t == "").cast("int")).alias("text_empties"),
        F.sum(lang.isNull().cast("int")).alias("lang_nulls"),
        F.sum(src.isNull().cast("int")).alias("source_nulls"),
        round_port(
            1.0 - F.sum((t.isNull() | (t == "")).cast("int")).cast("double") / F.count("*"), 6
        ).alias("text_fill_rate"),
    )


@query(
    "duplicate_detection",
    oracle="""
WITH groups AS (
  SELECT text, COUNT(*) AS n, CAST(MIN(doc_id) AS BIGINT) AS keeper_id
  FROM documents
  GROUP BY text
  HAVING COUNT(*) > 1
)
SELECT COUNT(*) AS n_dup_groups,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_dup_rows,
       CAST(COALESCE(MAX(n), 0) AS BIGINT) AS max_group_size
FROM groups
""",
    survey="A15",
)
def duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-content detection (data_quality_analyzer.py:345-386,
    deep_analysis.py:317-344): same text under different ids. The grouped
    form is also the first stage of dedup.exact."""
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.groupBy("text")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n") > 1)
    )
    return groups.agg(
        F.count("*").alias("n_dup_groups"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_dup_rows"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_group_size"),
    )


N_DEPTH_BUCKETS = 10


@query(
    "equi_depth_buckets",
    oracle=f"""
WITH tiled AS (
  SELECT l_extendedprice,
         NTILE({N_DEPTH_BUCKETS}) OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) AS bucket
  FROM lineitem
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       COUNT(*) AS n_rows,
       ROUND(MIN(l_extendedprice) * 1000000.0) / 1000000.0 AS lo,
       ROUND(MAX(l_extendedprice) * 1000000.0) / 1000000.0 AS hi,
       ROUND(AVG(l_extendedprice) * 1000000.0) / 1000000.0 AS mean_price
FROM tiled GROUP BY bucket ORDER BY bucket
""",
    survey="A11",
)
def equi_depth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (feature binning): NTILE buckets holding equal
    row counts, with per-bucket range and mean — the quantile-binning
    twin of the fixed-width `histogram_fixed_buckets`. The NTILE order
    carries (orderkey, linenumber) tiebreakers so both engines tile the
    same total order (SURVEY §4.2.4 determinism rule).

    Computed by `_equi_depth_exact_distributed`: the exact NTILE answer
    with no global sort — range-repartition, per-partition counts, the 9
    bucket-boundary tuples located by rank, then a codegen 9-comparison
    bucket assignment. Its plan is pinned by
    tests/test_plan_quality.py (test_equi_depth_exact_dispatch_plans)
    and its exactness under heavy ties by
    test_equi_depth_distributed_exact_under_heavy_ties."""
    return _equi_depth_exact_distributed(load_table(spark, sf_dir, "lineitem"))


_EQUI_DEPTH_KEYS = ("l_extendedprice", "l_orderkey", "l_linenumber")


def _equi_depth_exact_distributed(li: DataFrame) -> DataFrame:
    """EXACT global NTILE without a global sort.

    1. Range-repartition on the NTILE total order and eagerly
       bulk_checkpoint (DISK_ONLY — the relation is corpus-sized and
       its consumers are sequential scans; MEMORY_AND_DISK storage
       starved the downstream aggregates at 180M rows):
       partition p then holds a contiguous key range,
       and RangePartitioning assigns ascending ranges to ascending
       partition ids (load-bearing — per-partition counts in pid order
       ARE the global rank offsets). The checkpoint freezes the sampled
       range boundaries so every downstream pass sees one layout.
    2. Per-partition counts (a width-sized aggregate) -> driver-side
       offsets; NTILE bucket sizes are floor/ceil(n/k), so the 9 bucket
       boundaries are known global RANKS, each mapping to (pid, local
       rank).
    3. The boundary TUPLES are read with one row_number window over only
       the <= 9 partitions containing a boundary (the tiebreakered key
       tuple is unique — lineitem's PK is in the order), collected (9
       rows).
    4. Every row's bucket = 1 + #boundary-tuples strictly below its own
       tuple — nine 3-way comparisons in one whole-stage-codegen
       projection, then the 10-group aggregate.

    Driver-held state: one count per partition + 9 tuples — metadata
    scale at any corpus size. The expensive operations are one range
    shuffle and two scans of the checkpointed relation."""
    from data_ingestion_system_spark.tables import _declared_reduce_width, bulk_checkpoint

    spark = li.sparkSession
    keys = list(_EQUI_DEPTH_KEYS)
    width = _declared_reduce_width(spark)
    # bulk_checkpoint (DISK_ONLY), not plain localCheckpoint: this is the
    # largest checkpointed relation in the codebase (every fact row), and
    # at 180M rows its MEMORY_AND_DISK blocks starved the very next hash
    # aggregate of execution memory (tables.bulk_checkpoint docstring)
    rp = bulk_checkpoint(
        li.select(*keys).repartitionByRange(width, *[F.col(k) for k in keys])
    )
    pc = {
        r.pid: r.cnt
        for r in rp.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    total = sum(pc.values())
    q, rem = divmod(total, N_DEPTH_BUCKETS)
    sizes = [q + 1 if b < rem else q for b in range(N_DEPTH_BUCKETS)]
    bound_ranks = []
    c = 0
    for s in sizes[:-1]:
        c += s
        bound_ranks.append(c)  # global rank of bucket b's LAST row
    offsets = {}
    off = 0
    for pid in sorted(pc):
        offsets[pid] = off
        off += pc[pid]
    locate: dict[int, list[int]] = {}
    for g in bound_ranks:
        for pid in sorted(pc):
            if offsets[pid] < g <= offsets[pid] + pc[pid]:
                locate.setdefault(pid, []).append(g - offsets[pid])
                break
    wloc = Window.partitionBy("pid").orderBy(*keys)
    pick = F.lit(False)
    for pid, lrs in locate.items():
        pick = pick | ((F.col("pid") == pid) & F.col("rn").isin(lrs))
    btups = (
        rp.select(*keys, F.spark_partition_id().alias("pid"))
        .filter(F.col("pid").isin(list(locate)))
        .select(*keys, "pid", F.row_number().over(wloc).alias("rn"))
        .filter(pick)
        .collect()
    )
    btups.sort(key=lambda r: (r.l_extendedprice, r.l_orderkey, r.l_linenumber))
    bucket = F.lit(1)
    for t in btups:
        above = (
            (F.col("l_extendedprice") > t.l_extendedprice)
            | (
                (F.col("l_extendedprice") == t.l_extendedprice)
                & (F.col("l_orderkey") > t.l_orderkey)
            )
            | (
                (F.col("l_extendedprice") == t.l_extendedprice)
                & (F.col("l_orderkey") == t.l_orderkey)
                & (F.col("l_linenumber") > t.l_linenumber)
            )
        )
        bucket = bucket + above.cast("int")
    return (
        rp.select("l_extendedprice", bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            round_port(F.min("l_extendedprice"), 6).alias("lo"),
            round_port(F.max("l_extendedprice"), 6).alias("hi"),
            round_port(F.avg("l_extendedprice"), 6).alias("mean_price"),
        )
        .orderBy("bucket")
    )


_DEPTH_CUT_PCTS = [i / N_DEPTH_BUCKETS for i in range(1, N_DEPTH_BUCKETS)]


@query(
    "equi_depth_buckets_approx",
    oracle=f"""
WITH cuts AS (
  SELECT list_transform(
           quantile_cont(l_extendedprice,
                         [{', '.join(str(p) for p in _DEPTH_CUT_PCTS)}]),
           c -> ROUND(c * 1000000.0) / 1000000.0
         ) AS cs
  FROM lineitem
), assigned AS (
  SELECT l_extendedprice,
         1 + len(list_filter(cuts.cs, c -> l_extendedprice > c)) AS bucket
  FROM lineitem, cuts
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       COUNT(*) AS n_rows,
       ROUND(MIN(l_extendedprice) * 1000000.0) / 1000000.0 AS lo,
       ROUND(MAX(l_extendedprice) * 1000000.0) / 1000000.0 AS hi,
       ROUND(AVG(l_extendedprice) * 1000000.0) / 1000000.0 AS mean_price
FROM assigned GROUP BY bucket ORDER BY bucket
""",
    survey="A11",
)
def equi_depth_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram, SCALE path: the global-NTILE twin without the
    single-partition sort.

    Bucket boundaries are the EXACT interpolated deciles from
    `sketch_refine_percentiles` (bounded memory, two codegen passes);
    rows are then assigned bucket = 1 + #cuts below the value through a
    broadcast of the 9 cut points — one more codegen scan, no sort, no
    window, shuffle only for the 10-group aggregate. Ties share a bucket,
    so counts are equal-depth up to value multiplicity (the standard
    cut-point semantics; exact-NTILE tie splitting is what costs the
    global total order in `equi_depth_buckets`). Cut points are rounded
    to 6 decimals in both engines, making bucket assignment — and the
    oracle hash — deterministic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    cuts = sketch_refine_percentiles(li, "l_extendedprice", _DEPTH_CUT_PCTS).select("vals")
    price = F.col("l_extendedprice")
    assigned = li.crossJoin(F.broadcast(cuts)).select(
        price.alias("l_extendedprice"),
        (
            F.lit(1)
            + F.size(F.filter(F.col("vals"), lambda c: price > c))
        ).alias("bucket"),
    )
    return (
        assigned.groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            round_port(F.min("l_extendedprice"), 6).alias("lo"),
            round_port(F.max("l_extendedprice"), 6).alias("hi"),
            round_port(F.avg("l_extendedprice"), 6).alias("mean_price"),
        )
        .orderBy("bucket")
    )


_WINSOR_ORACLE = """
WITH cuts AS (
  SELECT ROUND(quantile_cont(l_extendedprice, 0.01) * 1000000.0) / 1000000.0 AS lo,
         ROUND(quantile_cont(l_extendedprice, 0.99) * 1000000.0) / 1000000.0 AS hi
  FROM lineitem
)
SELECT COUNT(*) AS n,
       c.lo AS lo_cut,
       c.hi AS hi_cut,
       CAST(SUM(CASE WHEN l_extendedprice < c.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
       CAST(SUM(CASE WHEN l_extendedprice > c.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
       ROUND(AVG(l_extendedprice) * 1000000.0) / 1000000.0 AS mean_raw,
       ROUND(AVG(LEAST(GREATEST(l_extendedprice, c.lo), c.hi)) * 1000000.0) / 1000000.0
         AS mean_winsorized
FROM lineitem, cuts c
GROUP BY c.lo, c.hi
"""


@query("winsorized_stats", oracle=_WINSOR_ORACLE, survey="A10-ext,EXT-mlprep")
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized feature statistics: clip a numeric column at its exact
    p01/p99 (Tukey's outlier treatment — the standard feature-clipping
    step before model training) and report how many rows each tail
    clipped plus the mean shift.

    The cut points come from `sketch_refine_percentiles` — the
    bounded-memory EXACT percentile path — so the whole op is three
    codegen passes (sketch, refine, clip+aggregate) with no full-column
    buffer anywhere; the 1-row cut table broadcasts onto the clip scan.
    The oracle's quantile_cont interpolates identically to the refine
    formula (same contract `exact_percentiles_sketch_refine` proves);
    both engines clip against the 6-decimal-rounded cuts so the
    comparison surface is bit-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    cuts = sketch_refine_percentiles(li, "l_extendedprice", [0.01, 0.99]).select(
        F.element_at("vals", 1).alias("lo"),
        F.element_at("vals", 2).alias("hi"),
    )
    x = F.col("l_extendedprice")
    clipped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(cuts))
        .groupBy("lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(x < F.col("lo"), 1).otherwise(0)).cast("bigint").alias("n_clipped_low"),
            F.sum(F.when(x > F.col("hi"), 1).otherwise(0)).cast("bigint").alias("n_clipped_high"),
            round_port(F.avg(x), 6).alias("mean_raw"),
            round_port(F.avg(clipped), 6).alias("mean_winsorized"),
        )
        .select(
            "n",
            F.col("lo").alias("lo_cut"),
            F.col("hi").alias("hi_cut"),
            "n_clipped_low",
            "n_clipped_high",
            "mean_raw",
            "mean_winsorized",
        )
    )


_GROUPED_SR_PCTS = [0.25, 0.50, 0.75, 0.95]
_GROUPED_SR_NAMES = ["p25", "p50", "p75", "p95"]


@query(
    "grouped_percentiles_sketch_refine",
    oracle="""
SELECT l_returnflag,
       COUNT(l_extendedprice) AS n,
       ROUND(quantile_cont(l_extendedprice, 0.25) * 1000000.0) / 1000000.0 AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50) * 1000000.0) / 1000000.0 AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75) * 1000000.0) / 1000000.0 AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.95) * 1000000.0) / 1000000.0 AS p95
FROM lineitem GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    survey="A12-ext,A10-ext",
)
def grouped_percentiles_sketch_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact interpolated percentiles on the scale path:
    `sketch_refine_percentiles` with group columns. The naive grouped
    form — `percentile(col, ...)` inside groupBy — buffers each group's
    full column in its ObjectHashAggregate state, so one skewed group
    OOMs an executor at 100 TB; here every group costs one GK sketch
    plus a ~6/acc refine window REGARDLESS of its size, and the bracket
    table (one row per group) broadcasts onto the refine scan."""
    li = load_table(spark, sf_dir, "lineitem")
    row = sketch_refine_percentiles(
        li, "l_extendedprice", _GROUPED_SR_PCTS, group_cols=["l_returnflag"]
    )
    return row.select(
        "l_returnflag",
        "n",
        *[
            F.element_at(F.col("vals"), i + 1).alias(name)
            for i, name in enumerate(_GROUPED_SR_NAMES)
        ],
    ).orderBy("l_returnflag")


_WMEDIAN_ORACLE = """
WITH vw AS (
  SELECT l_returnflag AS grp, l_extendedprice AS v, SUM(l_quantity) AS w
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
), cum AS (
  SELECT grp, v, w,
         SUM(w) OVER (PARTITION BY grp ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(w) OVER (PARTITION BY grp) AS tw
  FROM vw
)
SELECT grp AS l_returnflag,
       ROUND(MIN(v) * 1000000.0) / 1000000.0 AS weighted_median,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cw >= tw
GROUP BY grp
ORDER BY grp
"""


@query("weighted_median_by_flag", oracle=_WMEDIAN_ORACLE, survey="A10,A12")
def weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the first value
    whose cumulative weight reaches half the group total (lower weighted
    median — the convention that needs no interpolation and keeps every
    comparison in exact integer weights).

    Scale shape: values collapse to (group, value, weight) first —
    map-side combinable — and the cumulative window is PARTITIONed BY
    group, so the sort is per-group over the collapsed support, never a
    global order over raw rows. The unweighted exact-percentile path
    (`exact_percentiles`) buffers a column per group; this one never
    holds more than the distinct-value support."""
    li = load_table(spark, sf_dir, "lineitem")
    vw = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
    ).agg(F.sum("l_quantity").alias("w"))
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("grp")
    cum = vw.select(
        "grp",
        "v",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy(F.col("grp").alias("l_returnflag"))
        .agg(
            round_port(F.min("v"), 6).alias("weighted_median"),
            F.max("tw").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


_HIST2D_BINS = 8
_HIST2D_ORACLE = f"""
WITH b AS (
  SELECT MIN(l_extendedprice) AS plo, MAX(l_extendedprice) AS phi,
         MIN(l_quantity) AS qlo, MAX(l_quantity) AS qhi
  FROM lineitem
), g AS (
  SELECT LEAST(CAST(FLOOR((l_extendedprice - b.plo) / ((b.phi - b.plo) / {_HIST2D_BINS}))
                    AS INTEGER), {_HIST2D_BINS - 1}) AS price_bin,
         LEAST(CAST(FLOOR((l_quantity - b.qlo) / ((b.qhi - b.qlo) / {_HIST2D_BINS}))
                    AS INTEGER), {_HIST2D_BINS - 1}) AS qty_bin
  FROM lineitem, b
)
SELECT price_bin, qty_bin, COUNT(*) AS n
FROM g GROUP BY price_bin, qty_bin
ORDER BY price_bin, qty_bin
"""


@query("histogram_2d", oracle=_HIST2D_ORACLE, survey="A11")
def histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid 2-D density of (price, quantity): the joint-
    distribution heat grid the two 1-D histograms can't show (a
    correlation hides in the diagonal). 8x8 equal-width bins from the
    global min/max (broadcast, one extra scan-free aggregate); the top
    edge folds into the last bin. Bin math is the same IEEE expression
    in both engines, so assignment is hash-stable.

    Scale shape: min/max aggregate + one binned groupBy — two corpus
    passes, 64-row output."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.agg(
        F.min("l_extendedprice").alias("plo"),
        F.max("l_extendedprice").alias("phi"),
        F.min("l_quantity").alias("qlo"),
        F.max("l_quantity").alias("qhi"),
    )
    nb = F.lit(_HIST2D_BINS)
    pbin = F.least(
        F.floor((F.col("l_extendedprice") - F.col("plo"))
                / ((F.col("phi") - F.col("plo")) / nb)).cast("int"),
        F.lit(_HIST2D_BINS - 1),
    )
    qbin = F.least(
        F.floor((F.col("l_quantity") - F.col("qlo"))
                / ((F.col("qhi") - F.col("qlo")) / nb)).cast("int"),
        F.lit(_HIST2D_BINS - 1),
    )
    return (
        li.crossJoin(F.broadcast(b))
        .select(pbin.alias("price_bin"), qbin.alias("qty_bin"))
        .groupBy("price_bin", "qty_bin")
        .agg(F.count("*").alias("n"))
        .orderBy("price_bin", "qty_bin")
    )


_ENTROPY_ORACLE = """
WITH ut AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events
  GROUP BY user_id, event_type
), u AS (
  SELECT user_id, SUM(n) AS tot,
         COUNT(*) AS n_types,
         SUM(n * ln(CAST(n AS DOUBLE))) AS s_nlogn
  FROM ut GROUP BY user_id
), h AS (
  SELECT user_id, n_types,
         ln(CAST(tot AS DOUBLE)) - s_nlogn / tot AS entropy
  FROM u
)
SELECT CAST(n_types AS BIGINT) AS n_types,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(entropy) * 1000000.0) / 1000000.0 AS mean_entropy,
       ROUND(MAX(entropy) * 1000000.0) / 1000000.0 AS max_entropy
FROM h GROUP BY n_types ORDER BY n_types
"""


@query("user_entropy_profile", oracle=_ENTROPY_ORACLE, survey="A6,EXT-temporal")
def user_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-diversity profile: Shannon entropy of each user's
    event-type distribution (H = ln(tot) − Σ n·ln(n)/tot — one log per
    distinct type, never per event), rolled up by how many types the
    user touches. Monoculture users (H=0) vs explorers (H→ln k): the
    segmentation axis raw counts can't see.

    Scale shape: (user, type) counts → per-user 3-sum aggregate →
    |types|-row rollup; the entropy identity keeps everything
    map-side-combinable (no per-user probability vectors)."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    u = ut.groupBy("user_id").agg(
        F.sum("n").alias("tot"),
        F.count("*").alias("n_types"),
        F.sum(F.col("n") * F.log(F.col("n").cast("double"))).alias("s_nlogn"),
    )
    entropy = F.log(F.col("tot").cast("double")) - F.col("s_nlogn") / F.col("tot")
    return (
        u.groupBy(F.col("n_types").cast("bigint").alias("n_types"))
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            (F.round(F.avg(entropy) * 1000000.0) / 1000000.0).alias("mean_entropy"),
            (F.round(F.max(entropy) * 1000000.0) / 1000000.0).alias("max_entropy"),
        )
        .orderBy("n_types")
    )


_GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey AS custkey, SUM(o_totalprice) AS x FROM orders
  GROUP BY o_custkey
), ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC, custkey ASC) AS i,
         COUNT(*) OVER () AS n, SUM(x) OVER () AS t
  FROM spend
)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       ROUND(MAX(t) * 100.0) / 100.0 AS total_spend,
       ROUND((2.0 * SUM(i * x) / (MAX(n) * MAX(t)) - (MAX(n) + 1.0) / MAX(n))
             * 1000000.0) / 1000000.0 AS gini
FROM ranked
"""


@query("customer_spend_gini", oracle=_GINI_ORACLE, survey="A16,W8")
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the whale-concentration
    number (0 = everyone spends equally, →1 = a few customers carry the
    business), from the exact rank formula G = 2·Σi·x_i/(n·Σx) − (n+1)/n
    over the ascending-spend order (custkey tiebreak → deterministic
    ranks). The revenue-side complement to `supplier_concentration_hhi`.

    Scale note: the rank runs over the per-customer aggregate
    (dimension-sized); at 100 TB the same number comes from the
    sketch-refine Lorenz-bucket approximation, the standard swap."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum("o_totalprice").alias("x")
    )
    w_rank = Window.orderBy(F.asc("x"), F.asc("custkey"))
    ranked = spend.select(
        "x", F.row_number().over(w_rank).alias("i")
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        (F.round(F.sum("x") * 100.0) / 100.0).alias("total_spend"),
        (
            F.round(
                (
                    2.0 * F.sum(F.col("i") * F.col("x")) / (F.count("*") * F.sum("x"))
                    - (F.count("*") + 1.0) / F.count("*")
                )
                * 1000000.0
            )
            / 1000000.0
        ).alias("gini"),
    )


_LORENZ_ORACLE = """
WITH spend AS (
  SELECT o_custkey AS custkey, SUM(o_totalprice) AS x FROM orders
  GROUP BY o_custkey
), ranked AS (
  SELECT x, NTILE(10) OVER (ORDER BY x ASC, custkey ASC) AS decile,
         SUM(x) OVER () AS t
  FROM spend
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(x) * 100.0) / 100.0 AS spend,
       ROUND(SUM(x) / MAX(t) * 1000000.0) / 1000000.0 AS spend_share
FROM ranked GROUP BY decile ORDER BY decile
"""


@query("lorenz_spend_deciles", oracle=_LORENZ_ORACLE, survey="A16,A11")
def lorenz_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz table: spend share per ascending-spend customer decile —
    the curve behind `customer_spend_gini`'s scalar (the top decile's
    share IS the 90/10 concentration headline). NTILE over the
    customer aggregate with the same custkey tiebreak as the Gini
    rank, so both queries describe the identical ordering."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum("o_totalprice").alias("x")
    )
    w_rank = Window.orderBy(F.asc("x"), F.asc("custkey"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = spend.select(
        "x",
        F.ntile(10).over(w_rank).alias("decile"),
        F.sum("x").over(w_all).alias("t"),
    )
    return (
        ranked.groupBy(F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            (F.round(F.sum("x") * 100.0) / 100.0).alias("spend"),
            (F.round(F.sum("x") / F.max("t") * 1000000.0) / 1000000.0)
            .alias("spend_share"),
        )
        .orderBy("decile")
    )


_ABC_ORACLE = """
WITH prev AS (
  SELECT p.p_brand AS brand,
         SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand
), ranked AS (
  SELECT brand, revenue,
         SUM(revenue) OVER (ORDER BY revenue DESC, brand ASC
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
         SUM(revenue) OVER () AS t
  FROM prev
), classed AS (
  SELECT brand, revenue,
         CASE WHEN cum_rev / t <= 0.8 THEN 'A'
              WHEN cum_rev / t <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_brands,
       ROUND(SUM(revenue) * 100.0) / 100.0 AS revenue
FROM classed GROUP BY abc_class ORDER BY abc_class
"""


@query("abc_brand_classification", oracle=_ABC_ORACLE, survey="A16,W8")
def abc_brand_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC classification of brands by cumulative revenue share (A:
    first 80%, B: to 95%, C: tail) — the inventory-management standard
    for where attention goes; the cumulative-threshold bucketing runs
    over the brand aggregate (brand-count rows) in a deterministic
    (revenue desc, brand) order."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w_cum = Window.orderBy(F.desc("revenue"), F.asc("brand")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    share = F.sum("revenue").over(w_cum) / F.sum("revenue").over(w_all)
    classed = rev.select(
        "revenue",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").cast("bigint").alias("n_brands"),
            (F.round(F.sum("revenue") * 100.0) / 100.0).alias("revenue"),
        )
        .orderBy("abc_class")
    )
