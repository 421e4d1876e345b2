"""MinHash + LSH near-duplicate detection (SURVEY.md §7 Stage 6).

The reference observes 35.3% shared-content duplicates but only detects
*exact* matches (reference: src/analysis/deep_analysis.py:317-344). The
scale path for near-dups is MinHash signatures + banded LSH:

  tokens → H=8 deterministic min-hashes → 4 bands of 2 → bucket-join
  candidates → exact Jaccard verification on candidates only.

Everything is DataFrame algebra (explode / groupBy / self-join); hash
functions are md5(i || token) so the DuckDB oracle reproduces the exact
pipeline. At 100 TB the band join shuffles only (doc_id, band_key) pairs —
candidate generation never compares documents pairwise; the quadratic
step is confined to same-bucket members.

`minhash_pairs` is the one builder of the batch chain (corpus count →
shingle-set checkpoint → ladder-dispatched LSH candidates → exact-Jaccard
verify). Its consumers are `near_dup_minhash_lsh`,
`cross_source_dup_matrix`, `dedup_threshold_sweep` and
`minhash_estimation_error` here, `dedup_clusters`
(dedup/clusters.py), `corpus_prep_pipeline` and the pipeline runner
through `stage_dup_drop` (text/pipeline.py),
`cluster_aware_split_stats` (operators/sampling.py) and
`fold_leakage_audit` (operators/crossval.py); `PAIR_CTES` is the oracle
form every one of them embeds. The near-dup document ingest
(streaming/neardup.py) keeps its own row-local chain over the same
`shingle_set` / `band_keys` / `verified_pairs_from_sets` pieces.

Design follows the standard MinHash-LSH construction (Broder 1997;
Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3) and mirrors
pyspark.ml.feature.MinHashLSH's banding strategy with deterministic
hashes instead of seeded random affine maps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark import tables
from data_ingestion_system_spark.functions.scalar import round_port
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import (
    bulk_checkpoint,
    fan_out,
    load_table,
    pin_join_width,
)

N_HASHES = 8
CLASSIC_ROWS = 2  # rows per band: 4 bands of 2
JACCARD_THRESHOLD = 0.5

# ---- band/row ladder (r9 VERDICT ask #5; CONVENTIONS §4b + §4d) ----
# On a SATURATED shingle space the 2-row band buckets fill up and the
# in-bucket pair expansion goes quadratic in the corpus (measured on the
# uniform-vocab 31-word stress family, Σ C(occ,2) over 4x2 band buckets
# per doc: sf1 0.95, sf3 2.68, sf10 ~9 — candidates grew 8.9x on 3x docs
# sf1→sf3; the natural-Zipf twin measures 0.39 at sf3 and stays linear).
# Above BOTH floors the chain switches to the wide rung of the ladder —
# 2 bands of 4 rows over the SAME 8-hash signatures — whose bucket
# collision probability is j^4 per band: the uniform corpus' moderate-j
# collision flood collapses ~100x (sf3: 392,233 → 3,780 candidates)
# while high-j true dups keep colliding. The dispatch is part of the
# query DEFINITION and is mirrored in PAIR_CTES (a scalar CASE over the
# same two exact integers, §4b), so Spark and DuckDB pick the same arm
# at every scale; the size floor sits above every shipped SF (sf1.0 =
# 50k docs), so small corpora never pay the occupancy probe and the
# driver-checked results are byte-identical to the unladdered chain.
# Saturation is a CONTENT property — n_docs alone can't see it — hence
# the two-stage gate: size floor first (free), occupancy probe second
# (one aggregate over the n_docs x 4 band relation, linear).
#
# Recall curve of the wide rung (r10 ADVICE — make the trade-off
# explicit): per-pair collision probability is 1-(1-j^4)^2 vs classic
# 1-(1-j^2)^4 — at the JACCARD_THRESHOLD j=0.5 that is ~12% vs ~68%,
# at j=0.7 ~38% vs ~99%, converging only near j→1 (j=0.9: ~93% vs
# ~100%). On a saturated corpus the wide arm therefore trades away
# most moderate-j candidates above the threshold for the ~100x
# collision-flood collapse; it is an explicit recall/cost rung of the
# query DEFINITION (mirrored in the oracle's satd CASE), not a pure
# plan change — r9 VERDICT ask #5 sanctioned exactly this trade. A
# deployment wanting higher wide-rung recall at the same flood
# control raises N_HASHES (e.g. 4 bands of 4 over 16 hashes gives
# 1-(1-j^4)^4 ≈ 23% at j=0.5) at double the signature cost.
BAND_LADDER_MIN_DOCS = 100_000
BAND_SATURATION_JV_PER_DOC = 2  # wide when Σ C(occ,2) >= 2 * n_docs
WIDE_ROWS = 4  # rows per band on the wide rung: 2 bands of 4


def shingle_set(ts: Column) -> Column:
    """A doc's sorted DISTINCT 3-word shingle array, from its token array
    `ts` — row-local expression algebra (transform / array_distinct /
    array_sort), no explode and no shuffle.

    Shingling (not unigrams) is what makes MinHash discriminative: the
    testdata vocabulary is ~31 words, so unigram sets of long documents
    are all nearly identical (Jaccard≈1 for most pairs → LSH degenerates
    to all-pairs, measured 126 s at sf0.1); 3-gram shingle space is
    ~27k, restoring locality. Documents shorter than 3 tokens use the
    whole text as their single shingle."""
    shingles = F.when(
        F.size(ts) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(ts) - 3),
            lambda i: F.concat(ts[i], F.lit(" "), ts[i + 1], F.lit(" "), ts[i + 2]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", ts)))
    return F.array_sort(F.array_distinct(shingles))


def signatures_from_sets(tsets: DataFrame) -> DataFrame:
    """`tsets` plus the m0..m{H-1} MinHash columns of its `tset` — a
    narrow projection (array_min over transform of md5('i:'||t)), no
    aggregation. Every input column passes through, so a caller can
    carry a batch's own columns alongside the signature."""
    cols = [
        F.expr(
            f"array_min(transform(tset, t -> md5(concat('{i}:', t))))"
        ).alias(f"m{i}")
        for i in range(N_HASHES)
    ]
    return tsets.select("*", *cols)


def band_keys(sigs: DataFrame, rows: int) -> DataFrame:
    """Explode signatures into (doc_id, band_key) rows, `rows` hashes per
    band over the same 8-hash signatures: CLASSIC_ROWS (4 bands of 2)
    below the ladder floors, WIDE_ROWS (2 bands of 4, collision
    probability j^4 per band) on a saturated shingle space."""
    bands = [
        F.concat(F.lit(f"b{b}:"), *[F.col(f"m{rows * b + r}") for r in range(rows)])
        for b in range(N_HASHES // rows)
    ]
    return sigs.select("doc_id", F.explode(F.array(*bands)).alias("band_key"))


def band_join_volume(bands: DataFrame) -> int:
    """Exact in-bucket pair-expansion volume Σ C(occ, 2) of a band
    relation — the candidate join's match-row count, the quantity that
    goes quadratic on a saturated shingle space. One linear aggregate
    (same probe idiom as `_ngram_scheme_probe`)."""
    row = (
        bands.groupBy("band_key")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) DIV 2")).alias("jv"))
        .first()
    )
    return int(row.jv or 0)


def lsh_candidate_pairs(tsets: DataFrame, n_docs: int) -> DataFrame:
    """Ladder-dispatched LSH candidate pairs from the (doc_id, tset, n)
    relation of `n_docs` documents: classic 4x2 banding below the
    floors, 2x4 wide banding on a measured-saturated space (see the
    BAND_LADDER_* constants — the dispatch is mirrored in PAIR_CTES so
    every embedding oracle agrees). Wide candidates are a strict SUBSET
    of classic ones (a 4-row band match implies both 2-row halves
    match)."""
    sigs = signatures_from_sets(tsets)
    wide = (
        n_docs >= BAND_LADDER_MIN_DOCS
        and band_join_volume(band_keys(sigs, CLASSIC_ROWS))
        >= BAND_SATURATION_JV_PER_DOC * n_docs
    )
    bands = band_keys(sigs, WIDE_ROWS if wide else CLASSIC_ROWS)
    return candidate_pairs(bands, n_docs)


def candidate_pairs(bands: DataFrame, n_docs: int) -> DataFrame:
    """Distinct doc pairs sharing ≥1 band bucket (doc_a < doc_b).
    Join width pinned above the dispatch floor: the in-bucket pair
    expansion is quadratic in bucket membership and AQE's byte-based
    coalesce must not fold it onto a handful of tasks
    (tables.pin_join_width; `n_docs` — a footer-statistics count — picks
    the dispatch, since the checkpoint-fed lineage is untraceable)."""
    bands = pin_join_width(bands, "band_key", n_rows=n_docs)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verified_pairs_from_sets(
    tsets: DataFrame,
    cand: DataFrame,
    threshold: float,
    n_docs: int,
    tsets_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard on candidates only; keep pairs ≥ threshold, over the
    (doc_id, tset, n) set relation (`minhash_pairs`).

    Verification is array-based (r6): each doc's shingle set is ONE
    sorted array row, candidates join the array relation twice, and
    `array_intersect` computes the overlap per pair — two
    candidate-sized joins instead of the exploded token⋈token join,
    whose intermediate is Σ_cand |A| rows (~167M at sf10). Same-session
    A/B, identical answers: sf1.0 7.5/6.1 s → 3.8/2.6 s, sf10 (4.38M
    candidates) 64.6/58.8 s → 29.1/24.9 s. `tsets_b`, when given, holds
    the doc_b side's sets (the streaming store probe: stored docs on
    the doc_a side, the batch on the doc_b side).

    Join strategy is threshold-dispatched on the width pins' floor
    (tables.PIN_MIN_ROWS): from `n_docs` = PIN_MIN_ROWS up the set and
    candidate joins are hinted MERGE.
    Catalyst's static estimate of the candidate relation is taken
    before the LSH bands materialize and can undercount by orders of
    magnitude; at sf10 it planned a broadcast whose runtime build blew
    the driver heap ('Not enough memory to build and broadcast').
    Sort-merge spills instead of dying — the only acceptable failure
    mode at 100 TB. Small corpora keep AQE's broadcast plan. Streaming
    callers pass n_docs=0: a micro-batch is bounded by the trigger
    interval, so the broadcast verify is the right plan there."""
    if tsets_b is None:
        tsets_b = tsets
    if n_docs >= tables.PIN_MIN_ROWS:
        tsets = tsets.hint("merge")
        tsets_b = tsets_b.hint("merge")
        cand = cand.hint("merge")
    ta = tsets.alias("ta")
    tb = tsets_b.alias("tb")
    jac = (
        cand.join(ta, F.col("doc_a") == F.col("ta.doc_id"))
        .join(tb, F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta.tset", "tb.tset")).alias("n_common"),
            F.col("ta.n").alias("na"),
            F.col("tb.n").alias("nb"),
        )
        # n_common > 0 mirrors the oracle's `common` CTE (an inner join,
        # so zero-overlap candidates emit NO row): at threshold 0.0 the
        # sweep/estimation callers must not count pairs whose LSH bucket
        # collision shares no actual shingle. For threshold > 0 the jac
        # filter already implies it.
        .filter(F.col("n_common") > 0)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jac"),
        )
    )
    return jac.filter(F.col("jac") >= threshold)


def minhash_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    toks: DataFrame | None = None,
    n_docs: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The batch MinHash near-dup chain, defined once: (verified pairs
    (doc_a, doc_b, jac) with jac ≥ `threshold`, the (doc_id, tset, n)
    shingle-set relation they were verified on). Every batch consumer
    of the pair relation calls this; `minhash_estimation_error` also
    reads the sets to join signatures back.

    Steps: count the corpus (`n_docs`, parquet footer statistics,
    unless the caller already holds it) → each doc's `shingle_set` and
    its size, built ROW-LOCALLY (the r9 chain exploded to (doc_id,
    token) and paid a groupBy exchange per consumer to collapse it
    back) → one lazy `bulk_checkpoint` of that relation, which the
    first job materializes for all three consumers (signatures, verify
    join ×2); DISK_ONLY above `BULK_DISK_ONLY_MIN_ROWS` because it is
    corpus-sized (scale-failure class #5) and its consumers are
    sequential scans → ladder-dispatched LSH candidates → exact-Jaccard
    verification, whose join strategy `n_docs` also picks.

    `toks` optionally supplies a pre-tokenized (doc_id, ts) relation
    shared with other pipeline stages (text/pipeline.py)."""
    if n_docs is None:
        n_docs = docs.count()
    if toks is None:
        toks = fan_out(docs, "doc_id").select(
            "doc_id", F.split(F.col("text"), " ").alias("ts")
        )
    else:
        toks = toks.select("doc_id", "ts")
    tsets = bulk_checkpoint(
        toks.select("doc_id", shingle_set(F.col("ts")).alias("tset")).withColumn(
            "n", F.size("tset").cast("long")
        ),
        eager=False,
        n_rows=n_docs,
    )
    cand = lsh_candidate_pairs(tsets, n_docs)
    return verified_pairs_from_sets(tsets, cand, threshold, n_docs), tsets


_HASH_COLS = ",\n    ".join(
    f"MIN(md5('{i}:' || token)) AS m{i}" for i in range(N_HASHES)
)


def _band_selects(rows: int) -> str:
    """SQL twin of `band_keys`: one SELECT per band of `rows` hashes."""
    return "\n  UNION ALL ".join(
        "SELECT doc_id, 'b{b}:' || {cols} AS band_key FROM sigs".format(
            b=b, cols=" || ".join(f"m{rows * b + r}" for r in range(rows))
        )
        for b in range(N_HASHES // rows)
    )


def pair_ctes() -> str:
    """The full shingle→signature→band→verify chain as a reusable CTE
    body: the pair query appends a SELECT over `jacs`, and the cluster
    query (dedup/clusters.py) builds its transitive closure on top of
    the same chain so both oracles verify one shared pipeline
    definition.

    The band/row ladder dispatch is part of the chain's DEFINITION:
    `satd` evaluates the EXACT two integers the Spark side reads
    (corpus row count and the 4x2 band-bucket pair-expansion volume
    Σ C(occ,2)) against the same BAND_LADDER_MIN_DOCS /
    BAND_SATURATION_JV_PER_DOC constants (§4b — integer arithmetic
    only, both engines derive the identical arm at every scale), and
    `cand` unions the two mutually-exclusive band joins gated on it.
    The constants are read at call time, so a test that moves them
    builds each arm's oracle with the same patch as its Spark side."""
    satd = f"""satd AS (
  SELECT CASE WHEN (SELECT COUNT(*) FROM documents) >= {BAND_LADDER_MIN_DOCS}
              AND COALESCE((SELECT SUM((c * (c - 1)) // 2) FROM (
                    SELECT COUNT(*) AS c FROM bands GROUP BY band_key) occ), 0)
                  >= {BAND_SATURATION_JV_PER_DOC} * (SELECT COUNT(*) FROM documents)
         THEN 1 ELSE 0 END AS wide
)"""
    return f"""toklists AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), tokens AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS token
  FROM toklists, UNNEST(range(1, len(ts) - 1)) AS r(i)
  WHERE len(ts) >= 3
  UNION
  SELECT DISTINCT doc_id, array_to_string(ts, ' ') AS token
  FROM toklists WHERE len(ts) < 3
), sigs AS (
  SELECT doc_id,
    {_HASH_COLS}
  FROM tokens GROUP BY doc_id
), bands AS MATERIALIZED (
  {_band_selects(CLASSIC_ROWS)}
), bandsw AS (
  {_band_selects(WIDE_ROWS)}
), {satd}, cand AS (
  -- r10 ADVICE note: each branch is gated by a scalar subquery over
  -- satd; if DuckDB did not fold (SELECT wide FROM satd) before
  -- planning, both band self-joins would still EXECUTE (correctness
  -- unaffected — the WHERE keeps the wrong arm's rows out). Oracles
  -- only run at the small driver SFs (0.001-0.1, far below the 100k
  -- floor), so the quadratic classic join the ladder avoids at stress
  -- scale is never an oracle-runtime concern; bandsw is deliberately
  -- not MATERIALIZED for the same reason.
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE (SELECT wide FROM satd) = 0
  UNION
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandsw a JOIN bandsw b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE (SELECT wide FROM satd) = 1
), sizes AS ({_PAIR_CTES_TAIL}"""


_PAIR_CTES_TAIL = """
  SELECT doc_id, COUNT(*) AS n FROM tokens GROUP BY doc_id
), common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN tokens ta ON ta.doc_id = c.doc_a
  JOIN tokens tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
  GROUP BY c.doc_a, c.doc_b
), jacs AS (
  SELECT c.doc_a, c.doc_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jac
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
)"""

# the production (dispatch) form — what every embedding oracle composes
PAIR_CTES = pair_ctes()

_MINHASH_ORACLE = f"""
WITH {PAIR_CTES}
SELECT doc_a, doc_b, ROUND(jac * 1000000.0) / 1000000.0 AS jaccard
FROM jacs
WHERE jac >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query("near_dup_minhash_lsh", oracle=_MINHASH_ORACLE, survey="EXT-dedup")
def near_dup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline over documents; emits
    verified pairs with exact Jaccard ≥ 0.5."""
    pairs, _ = minhash_pairs(load_table(spark, sf_dir, "documents"))
    return pairs.select(
        "doc_a", "doc_b", round_port(F.col("jac"), 6).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


_NGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS gram
  FROM toks, UNNEST(range(1, len(ts) - 1)) AS r(i)
  WHERE len(ts) >= 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), jacs AS (
  SELECT p.doc_a, p.doc_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jac
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, ROUND(jac * 1000000.0) / 1000000.0 AS jaccard
FROM jacs WHERE jac >= 0.3
ORDER BY doc_a, doc_b
"""


NGRAM_JACCARD_THRESHOLD = 0.3

# Candidate-scheme dispatch (§4d two-physical-plans): pick pair-key
# indexing when the single-gram match volume (Σ C(c_gid, 2) over prefix
# posting counts — the quantity that explodes on saturated gram spaces)
# exceeds this multiple of the pair-key posting volume (Σ C(L_pref, 2)
# per doc, linear in the corpus). Both volumes are measured EXACTLY
# from the prefix relation (r7 — the r6 Σ(ρ·df)² model was 257× over
# on Zipfian df, see _ngram_scheme_probe). The ratio folds in the
# measured per-row cost difference (pair-key rows are ~4-6x dearer:
# wider keys, C(L,2) posting build, bigger sort): same-session
# calibration on the uniform corpus — sf1.0 ratio 1.8, single wins
# 2.4x (17-22 s vs 43-62 s); sf3.0 ratio ~5, statistically tied
# (90-142 s vs 100 s box spread); sf10 ratio ~13, single's 2.7G match
# rows are prohibitive while pairkey completes (SCALING.md r6).
# Crossover set between sf3 and sf10. Natural corpora (mean df ~1,
# sf1.0-zipf measured ratio 0.002) sit far below and keep the classic
# AllPairs join.
NGRAM_PAIRKEY_COST_RATIO = 8.0


def _ngram_cand_single(prefix: DataFrame, p: int, q: int) -> DataFrame:
    """Single-gram candidate join (classic AllPairs shape over the ℓ=2
    extended prefix): one posting per (doc, prefix gram)."""
    a = prefix.alias("a")
    b = prefix.alias("b")
    # overlap threshold alpha = ceil(t/(1+t) * (na+nb)) = ceil(p*(na+nb)/(p+q))
    alpha = F.expr(f"({p} * (a.n + b.n) + {p + q} - 1) DIV {p + q}")
    matched = a.join(
        b,
        (F.col("a.gid") == F.col("b.gid"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # AllPairs length filter: jac >= t forces t <= |A|/|B| <= 1/t
        & (q * F.col("a.n") >= p * F.col("b.n"))
        & (q * F.col("b.n") >= p * F.col("a.n"))
        # per-row positional filter, RELAXED to the ℓ=2 scheme: the
        # ℓ-th retained match of a qualifying pair satisfies
        # ℓ + min(remaining) >= alpha (the classic 1 + min(...) bound
        # would drop the pair's SECOND match row and break the
        # two-match group filter below)
        & (2 + F.least(F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")) >= alpha),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        F.col("a.rn").alias("rna"),
        F.col("b.rn").alias("rnb"),
    )
    # Group filter over each pair's surviving prefix matches — both
    # conditions exact:
    #  (1) ℓ-prefix count: a qualifying pair shares >= min(2, alpha)
    #      grams within the extended prefixes (the lemma above). This is
    #      the filter with teeth on the saturated corpus: single-gram
    #      collisions (the 24.1M flood) die here, BEFORE the verify join
    #      ships their gram arrays.
    #  (2) positional bound over ALL matches, not just the first: with k
    #      shared prefix grams, the last at canonical positions (ia, jb),
    #      every other common gram sits AFTER both (a common gram before
    #      ia/jb in rank missing from the match set would have both
    #      occurrences inside the prefixes — contradiction), so
    #      overlap <= k + min(na - ia, nb - jb).
    # Replaces a plain .distinct() (same shuffle, an agg instead of a
    # dedup; count/max partial-aggregate map-side).
    alpha_g = F.expr(f"({p} * (na + nb) + {p + q} - 1) DIV {p + q}")
    return (
        matched.groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("k"),
            F.max("rna").alias("ia"),
            F.max("rnb").alias("jb"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .filter(
            (F.col("k") >= F.least(F.lit(2), alpha_g))
            & (
                F.col("k")
                + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
                >= alpha_g
            )
        )
        .select("doc_a", "doc_b")
    )


def _ngram_cand_pairkey(
    prefix: DataFrame, p: int, q: int, big: bool = True
) -> DataFrame:
    """Pair-key candidate join — the saturated-corpus scheme: index every
    doc's C(prefix, 2) gram PAIRS and join on the (g1, g2) gid pair.

    Why: a qualifying pair with alpha >= 2 shares >= 2 extended-prefix
    grams (ℓ-prefix lemma), hence shares the pair key of those two grams
    — both docs list shared grams in the same relative order (one global
    canonical rank), so (earlier, later) keys agree. Postings grow
    C(L,2)/L ≈ 14x per doc but stay LINEAR in the corpus, while the
    per-key join expansion Σ df_pk² collapses: a pair key's df is the
    count of docs containing BOTH grams in-prefix, quadratically rarer
    than single-gram df on a saturated space (measured sf1.0: 26.7M
    single-gram match rows vs ~20M postings whose join output is
    posting-sized; sf3.0 is where the schemes diverge — single-gram
    match rows grow Θ(sf²), postings Θ(sf)).

    Exactness bookkeeping, per candidate group (all C(k,2) pair keys of
    the k shared prefix grams match, so):
      k = (1 + sqrt(1 + 8·rows)) / 2   (exact integer recovery),
      ia/jb = max over rows of the LATER gram's positions = the last
      shared gram's positions — feeding the same two group filters as
      the single-gram scheme. No per-row positional filter (it would
      break the C(k,2) row-count identity).

    alpha = 1 pairs (possible only when na + nb <= 4, i.e. BOTH docs
    have <= 3 grams) can share just one gram and carry no pair key —
    they come from a separate single-gram join restricted to those tiny
    docs (their extended prefix is the whole gram set)."""
    # per-doc pair enumeration in ONE projection (no self-join): sorted
    # (rn, gid) structs -> flatten of per-element tail slices
    parr = prefix.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("rn", "gid"))).alias("ps"),
        F.max("n").alias("n"),
    )
    pk = parr.select(
        "doc_id",
        "n",
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)),"
                " y -> struct(x.gid AS g1, y.gid AS g2,"
                " x.rn AS rn1, y.rn AS rn2))))"
            )
        ).alias("e"),
    ).select(
        "doc_id",
        "n",
        # the join key is the RAW gid pair (g1, g2) — exact by
        # construction. r6 packed it to one xxhash64 long, which leaves
        # a ~2^-64 exactness hole (a collision row's rn2 can inflate
        # max(ia/jb) while the recovered k stays below the next
        # triangular number, tightening k + min(na-ia, nb-jb) enough to
        # prune a qualifying pair); r7 first tried pk + carried (g1,g2)
        # equality columns, whose +2 longs/row (~+50% posting width)
        # OOM'd the sf10 sort-merge join that the r6 width completed.
        # Two raw longs (+1 field vs r6) is the measured middle: exact,
        # and the sf10 run completes (SCALING.md r7).
        F.col("e.g1").alias("g1"),
        F.col("e.g2").alias("g2"),
        "e.rn2",
    )
    # MERGE above the corpus floor: Catalyst's static estimate of this
    # groupBy+explode lineage is tiny, so it plans a BROADCAST of the
    # posting relation whose runtime build is tens of millions of rows —
    # the same driver-heap fatality the MinHash verify join hit at sf10
    # (commit 6c8aa7f); measured here: sf1.0 pairkey 99-104 s broadcast
    # vs ~20 s merged, sf3.0 OOM-fatal vs completing. Sort-merge spills
    # instead of dying. Small forced-test corpora keep AQE's broadcast.
    if big:
        pk = pk.hint("merge")
    a = pk.alias("a")
    b = pk.alias("b")
    alpha = F.expr(f"({p} * (a.n + b.n) + {p + q} - 1) DIV {p + q}")
    pairm = a.join(
        b,
        (F.col("a.g1") == F.col("b.g1"))
        & (F.col("a.g2") == F.col("b.g2"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (q * F.col("a.n") >= p * F.col("b.n"))
        & (q * F.col("b.n") >= p * F.col("a.n"))
        & (alpha >= 2),  # alpha=1 pairs are the tiny-doc branch's job
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        F.col("a.rn2").alias("rna2"),
        F.col("b.rn2").alias("rnb2"),
    )
    alpha_g = F.expr(f"({p} * (na + nb) + {p + q} - 1) DIV {p + q}")
    bigcand = (
        pairm.groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("c"),
            F.max("rna2").alias("ia"),
            F.max("rnb2").alias("jb"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        # k from c = C(k,2); c <= C(~40,2) so the sqrt is exact after round
        .withColumn(
            "k", F.round((F.lit(1.0) + F.sqrt(1.0 + 8.0 * F.col("c"))) / 2.0).cast("int")
        )
        .filter(
            F.col("k")
            + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
            >= alpha_g
        )
        .select("doc_a", "doc_b")
    )
    # tiny-doc branch: both sides <= 3 grams (the only way alpha can be
    # 1); prefix == whole gram set there, so a plain single-gram join
    # among tiny docs is complete. Corpus-bounded by the tiny-doc
    # population — empty on the shipped corpora (min 15-word docs).
    # alpha = 1 ⟺ p·(na+nb) <= p+q ⟺ na+nb <= (p+q) div p — so a doc can
    # sit in an alpha-1 pair only with n <= (p+q) div p - 1 (= 3 at t=3/10)
    tiny = prefix.filter(F.col("n") <= (p + q) // p - 1)
    if big:
        tiny = tiny.hint("merge")
    ta = tiny.alias("a")
    tb = tiny.alias("b")
    small = (
        ta.join(
            tb,
            (F.col("a.gid") == F.col("b.gid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") + F.col("b.n") <= (p + q) // p),  # alpha == 1
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return bigcand.union(small).distinct()


def _ngram_scheme_probe(gram_ids: DataFrame, prefix: DataFrame) -> tuple[str, dict]:
    """Dispatch probe: EXACT join volumes of both candidate schemes,
    measured from the (already materialized) prefix relation. The gid
    collision audit rides this probe's gram_ids aggregate and hard-fails
    here: two distinct grams hashing to one xxhash64 gid would make
    array_intersect overcount shared grams and silently break the
    operator's EXACT contract.

      single_rows  = Σ_gid C(c_gid, 2)  — the single-gram join's exact
                     match-row count (c = prefix posting count per gid)
      pk_postings  = Σ_doc C(L_pref, 2) — the pair-key index's exact
                     posting count

    r6 MODELED single_rows as Σ(ρ·df)²/2 (uniform prefix survival).
    The r7 Zipfian validation measured that model 257× OVER on
    heavy-tailed df (sf1.0-zipf: est 13.4M vs 52,293 measured): the
    head grams that dominate Σdf² are ranked commonest-LAST and hence
    systematically excluded from the rarest-first prefixes, so uniform
    survival is exactly wrong where it matters, and on a large enough
    natural corpus the inflated estimate would have mispicked pairkey.
    The model is gone: both volumes are one linear aggregate each over
    the prefix relation every scheme consumes anyway (on the uniform
    corpus the exact ratio at sf1.0 is 1.82 vs the model's 1.76, so the
    NGRAM_PAIRKEY_COST_RATIO=8 calibration carries over unchanged)."""
    st = gram_ids.agg(
        F.sum("df").alias("postings"),
        F.count("*").alias("n_grams"),
        # the gid collision audit's countDistinct rides the SAME agg job
        # so the gram relation is aggregated once
        F.countDistinct("gid").alias("n_gids"),
    ).first()
    n_grams, n_gids = int(st.n_grams or 0), int(st.n_gids or 0)
    if n_gids != n_grams:
        raise ValueError(
            f"xxhash64 gram-id collision: {n_grams} distinct grams -> "
            f"{n_gids} distinct gids; rerun with a salted hash"
        )
    vol = prefix.groupBy("gid").agg(F.count("*").alias("c")).agg(
        F.sum(F.expr("c * (c - 1) DIV 2")).alias("single_rows")
    ).first()
    pkv = prefix.groupBy("doc_id").agg(F.count("*").alias("lp")).agg(
        F.sum(F.expr("lp * (lp - 1) DIV 2")).alias("pk_postings")
    ).first()
    single_rows = int(vol.single_rows or 0)
    pk_postings = int(pkv.pk_postings or 0)
    scheme = (
        "pairkey"
        if single_rows > NGRAM_PAIRKEY_COST_RATIO * max(1, pk_postings)
        else "single"
    )
    # `or 0` guards: F.sum/F.count over an EMPTY gram relation (no doc
    # has >= 3 tokens) yield NULLs — the query must return its defined
    # empty result, not TypeError on None arithmetic
    return scheme, {
        "n_grams": n_grams,
        "postings": int(st.postings or 0),
        "mean_df": int(st.postings or 0) / max(1, n_grams),
        "single_rows": single_rows,
        "pk_postings": pk_postings,
        "ratio": single_rows / max(1, pk_postings),
    }


def _ngram_prefix_relations(
    spark: SparkSession, sf_dir: str, p: int, q: int
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """(gram_ids, gram_sets, prefix, n_docs) — the shared relational
    front half of the ngram-Jaccard pipeline, extracted so the dispatch
    validation tool measures the exact production relations."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # parquet footer statistics — no scan
    toks = fan_out(docs, "doc_id").select("doc_id", F.split(F.col("text"), " ").alias("ts")).filter(
        F.size("ts") >= 3
    )
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 3),"
                    " i -> concat(ts[i], ' ', ts[i + 1], ' ', ts[i + 2]))"
                )
            ).alias("gram"),
        )
        .distinct()
        # 3 consumers: gram-id join, df counts, df probe. bulk_checkpoint
        # (DISK_ONLY): corpus-sized with 3-word strings — its
        # MEMORY_AND_DISK blocks were party to the sf30 heap OOM (class
        # #5, tables.bulk_checkpoint)
        .transform(lambda df: bulk_checkpoint(df, eager=False, n_rows=n_docs))
    )
    # integer gram ids: the prefix join and the verification intersects then
    # run on longs, not 3-word strings (ids are internal — never in output).
    # xxhash64(gram), NOT monotonically_increasing_id: the id column feeds
    # three consumers downstream of a LAZY checkpoint, and a
    # nondeterministic id recomputed after partial executor loss on a real
    # cluster could diverge between consumers (same gram, two gids —
    # array_intersect silently undercounts). A content hash is identical
    # under any recomputation; collisions are audited in the probe.
    gram_ids = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .select("gram", "df", F.xxhash64("gram").alias("gid"))
    )
    # corpus-sized like grams → DISK_ONLY
    g2 = bulk_checkpoint(
        grams.join(gram_ids, "gram").select("doc_id", "gid", "df", "gram"),
        eager=False,
        n_rows=n_docs,
    )
    # per-doc gram set as one sorted id array — verification is an
    # array_intersect projection over candidates, never an exploded re-join
    gram_sets = g2.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("gid")).alias("gset"),
        F.count("*").alias("n"),
    )
    ranked = g2.select(
        "doc_id",
        "gid",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "gram")).alias("rn"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n"),
    )
    # ℓ=2 extended prefix: length = n - ceil(t*n) + 2, ceil via integer
    # div (one gram longer than the classic probe prefix, enabling the
    # two-matches-in-prefix requirement both schemes rely on).
    # Eagerly checkpointed: the dispatch probe aggregates it twice and
    # the chosen candidate scheme consumes it once or twice more — the
    # rank window must run ONCE. DISK_ONLY like grams/g2: prefix is
    # corpus-sized (4 longs per surviving gram posting).
    prefix = bulk_checkpoint(
        ranked.filter(
            F.col("rn") <= F.col("n") - F.expr(f"({p} * n + {q} - 1) DIV {q}") + 2
        ).select("doc_id", "gid", "n", "rn"),
        n_rows=n_docs,
    )
    return gram_ids, gram_sets, prefix, n_docs


@query("near_dup_ngram_jaccard", oracle=_NGRAM_ORACLE, survey="EXT-dedup")
def near_dup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (shingle-exact variant).

    Candidate generation uses ℓ=2 extended-prefix filtering (the
    ℓ-prefix scheme of AdaptJoin — Wang et al., SIGMOD'12, "Can we beat
    the prefix filtering?" — on top of AllPairs/PPJoin, Bayardo et al.
    WWW'07): grams are canonically ordered rarest-first by global
    document frequency, each document indexes its first
    n - ceil(t*n) + 2 grams, and any pair with Jaccard >= t must share
    at least min(2, alpha) grams WITHIN those prefixes (ℓ-prefix lemma:
    the ℓ-th smallest common gram has >= alpha - ℓ commons after it, so
    it sits within the first n - alpha + ℓ positions of both docs).
    Requiring TWO prefix matches instead of one is what survives this
    degenerate corpus: on a 31-word vocabulary the gram space saturates
    (~27k grams, mean df ~68) and single-prefix-gram collisions flood
    the candidate set (24.1M candidates for 1,883 true pairs at sf1.0 —
    measured; the classic positional/length filters prune NOTHING here
    because t = 0.3 leaves the positional bound slack), while
    two-in-prefix collisions are quadratically rarer (32x fewer
    candidates, same corpus).

    The physical candidate scheme is CONTENT-DISPATCHED by a volume
    probe (`_ngram_scheme_probe`): when the EXACT single-gram match
    volume Σ C(c_gid, 2), measured from the checkpointed prefix
    relation, exceeds `NGRAM_PAIRKEY_COST_RATIO` × the exact pair-key
    posting volume Σ C(L_pref, 2), the saturated space switches to
    pair-key indexing (join on gram PAIRS — `_ngram_cand_pairkey`),
    whose postings stay linear in the corpus while the single-gram
    match volume grows Θ(Σ df_prefix²) = Θ(sf²) here. Natural corpora
    (low df; validated on the Zipf(1.07) 50k-word family) sit orders of
    magnitude below the ratio and run the classic single-gram prefix
    join. All filters in both schemes are exact — the oracle stays the
    plain all-pairs formulation, and
    tests/test_ngram_prefix_recall.py pins both schemes against a
    literal brute force. Exact Jaccard is then verified on candidates
    from the full gram sets."""
    # t as an exact rational (3/10): every pruning filter below is integer
    # arithmetic — float rounding at exact-threshold pairs (jac == 0.3)
    # must never prune a qualifying pair
    p, q = 3, 10
    t = p / q
    gram_ids, gram_sets, prefix, n_docs = _ngram_prefix_relations(spark, sf_dir, p, q)
    # Saturation is a CONTENT property — corpus size alone cannot see it.
    # The probe also runs the gid collision audit.
    scheme, _ = _ngram_scheme_probe(gram_ids, prefix)
    big = n_docs >= tables.PIN_MIN_ROWS  # the width pins' floor
    if scheme == "pairkey":
        # pin on the pair-key join columns: same AQE-coalesce hazard as
        # every pair-expansion join (tables.pin_join_width)
        cand = _ngram_cand_pairkey(
            pin_join_width(prefix, "doc_id", n_rows=n_docs), p, q, big=big
        )
    else:
        cand = _ngram_cand_single(
            pin_join_width(prefix, "gid", n_rows=n_docs), p, q
        )
    # verify join carries NO merge hint: both sides' static estimates
    # are honest-large (cand is a post-join aggregate, gram_sets a
    # groupBy over the checkpointed gram relation), so Catalyst plans
    # sort-merge statically and only AQE's runtime conversion — sized on
    # ACTUAL bytes, hence OOM-safe — can flip it to broadcast at small
    # SF. The driver-heap fatality class needs a statically
    # UNDERESTIMATED build side (the post-explode pairkey lineage above,
    # the MinHash candidate relation in verified_pairs_from_sets).
    ga = gram_sets.alias("ga")
    gb = gram_sets.alias("gb")
    jacs = (
        # no broadcast hint: gram_sets grows with the corpus, so the scale
        # plan is a shuffle join on doc_id; AQE still broadcasts at small SF
        cand.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga.gset", "gb.gset")).alias("n_common"),
            F.col("ga.n").alias("na"),
            F.col("gb.n").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jac"),
        )
    )
    return (
        jacs.filter(F.col("jac") >= t)
        .select("doc_a", "doc_b", round_port(F.col("jac"), 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


_CROSS_SOURCE_ORACLE = f"""
WITH {PAIR_CTES},
vpairs AS (
  SELECT doc_a, doc_b FROM jacs WHERE jac >= {JACCARD_THRESHOLD}
), attributed AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b
  FROM vpairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT source_a, source_b, COUNT(*) AS n_dup_pairs,
       CASE WHEN source_a = source_b THEN 'within' ELSE 'cross' END AS kind
FROM attributed
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


@query("cross_source_dup_matrix", oracle=_CROSS_SOURCE_ORACLE, survey="EXT-dedup,EXT-monitoring")
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the near-duplication comes from: verified MinHash pairs
    attributed to their (source, source) bucket, split within-source vs
    cross-source. Cross-source mass means scrapers are re-collecting
    each other's content (fix the crawl); within-source mass means a
    source re-publishes (fix at ingest) — the diagnosis that decides
    which dedup money to spend.

    Scale shape: the pair relation is the existing bounded LSH path;
    attribution is two (doc_id, source) joins of a narrow projection,
    then a sources²-bounded aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs, _ = minhash_pairs(docs)
    src = docs.select("doc_id", "source")
    attributed = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        attributed.groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_dup_pairs"))
        .withColumn(
            "kind",
            F.when(F.col("source_a") == F.col("source_b"), "within").otherwise("cross"),
        )
        .orderBy("source_a", "source_b")
    )


_SWEEP_THRESHOLDS = [0.5, 0.6, 0.7, 0.8, 0.9]

_SWEEP_ORACLE = f"""
WITH {PAIR_CTES},
x AS (
  SELECT ROUND(u.t * 10.0) / 10.0 AS threshold, j.jac
  FROM jacs j, LATERAL unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]) AS u(t)
)
SELECT threshold,
       CAST(SUM(CASE WHEN jac >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
FROM x
GROUP BY threshold
ORDER BY threshold
"""


@query("dedup_threshold_sweep", oracle=_SWEEP_ORACLE, survey="EXT-dedup,A15")
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pair counts at a ladder of Jaccard thresholds
    (0.5 … 0.9) — the tuning curve a pipeline owner reads before fixing
    the dedup cutoff (too low over-merges, too high leaves near-copies;
    the curve's knee is the decision input). The exact-Jaccard relation
    is computed ONCE over the LSH candidates; the ladder is a 5-way
    literal explode of that pair-sized relation — no per-threshold
    rescans of the corpus."""
    jacs, _ = minhash_pairs(load_table(spark, sf_dir, "documents"), threshold=0.0)
    x = jacs.select(
        F.explode(
            F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
        ).alias("threshold"),
        "jac",
    )
    return (
        x.groupBy("threshold")
        .agg(
            F.sum((F.col("jac") >= F.col("threshold")).cast("int"))
            .cast("bigint")
            .alias("n_pairs")
        )
        .orderBy("threshold")
    )


_SIG_MATCH = " + ".join(
    f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
)

_EST_ERROR_ORACLE = f"""
WITH {PAIR_CTES},
est AS (
  SELECT j.doc_a, j.doc_b, j.jac,
         CAST({_SIG_MATCH} AS DOUBLE) / {N_HASHES} AS est_jac
  FROM jacs j
  JOIN sigs sa ON sa.doc_id = j.doc_a
  JOIN sigs sb ON sb.doc_id = j.doc_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(jac) * 1000000.0) / 1000000.0 AS mean_exact,
       ROUND(AVG(est_jac) * 1000000.0) / 1000000.0 AS mean_estimate,
       ROUND(AVG(ABS(est_jac - jac)) * 1000000.0) / 1000000.0 AS mean_abs_err,
       ROUND(MAX(ABS(est_jac - jac)) * 1000000.0) / 1000000.0 AS max_abs_err,
       CAST(SUM(CASE WHEN est_jac >= {JACCARD_THRESHOLD} AND jac < {JACCARD_THRESHOLD}
                     THEN 1 ELSE 0 END) AS BIGINT) AS would_false_accept,
       CAST(SUM(CASE WHEN est_jac < {JACCARD_THRESHOLD} AND jac >= {JACCARD_THRESHOLD}
                     THEN 1 ELSE 0 END) AS BIGINT) AS would_false_reject
FROM est
"""


@query("minhash_estimation_error", oracle=_EST_ERROR_ORACLE, survey="EXT-dedup,A15")
def minhash_estimation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure the sketch: over every LSH candidate pair, the 8-hash
    signature-agreement estimate of Jaccard vs the exact value — mean/
    max absolute error plus the pairs a sketch-only threshold would
    false-accept or false-reject. This is the audit that justifies (or
    rejects) skipping exact verification at 100 TB: if
    would_false_accept stays 0 at your threshold, the verify pass can
    be sampled instead of exhaustive.

    Scale shape: everything downstream of the existing candidate
    generation — signatures join back per candidate pair (pair-sized),
    one aggregate row out."""
    # threshold 0.0: every candidate pair that shares a shingle
    exact, tsets = minhash_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.0
    )
    sigs = signatures_from_sets(tsets)
    matches = sum(
        F.when(F.col(f"sa.m{i}") == F.col(f"sb.m{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = (
        exact.join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "jac",
            (matches.cast("double") / N_HASHES).alias("est_jac"),
        )
    )
    thr = JACCARD_THRESHOLD
    err = F.abs(F.col("est_jac") - F.col("jac"))
    return est.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        round_port(F.avg("jac"), 6).alias("mean_exact"),
        round_port(F.avg("est_jac"), 6).alias("mean_estimate"),
        round_port(F.avg(err), 6).alias("mean_abs_err"),
        round_port(F.max(err), 6).alias("max_abs_err"),
        F.sum(
            F.when((F.col("est_jac") >= thr) & (F.col("jac") < thr), 1).otherwise(0)
        ).cast("bigint").alias("would_false_accept"),
        F.sum(
            F.when((F.col("est_jac") < thr) & (F.col("jac") >= thr), 1).otherwise(0)
        ).cast("bigint").alias("would_false_reject"),
    )
