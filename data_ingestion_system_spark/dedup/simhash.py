"""SimHash near-duplicate detection (SURVEY.md §7 Stage 6).

32-bit SimHash (Charikar 2002; used by Manku et al., WWW'07 for web-scale
near-dup): each token hashes to MB_BITS bits (from its md5 hex prefix);
per document, each bit position accumulates +1/-1 votes across tokens;
the sign vector is the fingerprint. Near-dups = fingerprints within
small Hamming distance, blocked by 8-bit fingerprint blocks so the pair
join is bucketed, never all-pairs.

Pure expression algebra: bit extraction is arithmetic on hex-digit
positions (no UDF), so the DuckDB oracle reproduces the pipeline exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import (
    corpus_checkpoint,
    fan_out,
    load_table,
    pin_join_width,
)

HAMMING_MAX = 3

# multi-block (rotated-table) variant: 32-bit fingerprints, 4 blocks of
# 8 bits. With HAMMING_MAX = 3 < 4 blocks, a qualifying pair differs in
# at most 3 blocks, so it agrees EXACTLY on at least one (pigeonhole) —
# blocking over all 4 block tables has perfect recall, unlike the single
# top-byte table (Manku, Jain & Sarma, WWW'07 §3).
MB_BITS = 32
MB_BLOCKS = 4
MB_BLOCK_BITS = MB_BITS // MB_BLOCKS


def _nibble_projs(instr_fn: str) -> list[str]:
    """The MB_BITS // 4 hex-digit values of h (= substr(md5(token), 1, k))
    projected ONCE per token as n0..n{k} — md5 and the instr lookups are
    both hoisted out of the per-bit vote SUMs (which then cost only a
    div+mod each). One md5 + k instr per token instead of 4k + k."""
    return [
        f"({instr_fn}('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) AS n{i}"
        for i in range(MB_BITS // 4)
    ]


def _bit_expr(b: int, intdiv: str) -> str:
    """Bit b (msb-first) of the token hash, read from the hoisted
    nibble column n{b // 4}."""
    shift = 2 ** (3 - b % 4)
    return f"((n{b // 4} {intdiv} {shift}) % 2)"


def _vote_sums(intdiv: str) -> str:
    return ",\n    ".join(
        f"SUM(2 * {_bit_expr(b, intdiv)} - 1) AS s{b}" for b in range(MB_BITS)
    )


def _simhash_value() -> str:
    return " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2 ** (MB_BITS - 1 - b)} ELSE 0 END)"
        for b in range(MB_BITS)
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """doc_id → MB_BITS-wide simhash fingerprint (bits from the md5 hex
    prefix, MB_BITS // 4 hex digits).

    Spark side (r11, guide §1.2 per-task work): the token hash is parsed
    ONCE with conv() into an MB_BITS-wide integer and each bit vote is a
    div/mod on it — the r10 shape projected MB_BITS/4 nibble columns via
    substr+instr pairs per token (the same 13-term pattern
    scalar.U52_SPARK_SQL replaced; measured ~3x cheaper per evaluation).
    Bit b (msb-first) of the hex prefix == bit (MB_BITS-1-b) of the parsed
    integer, so every vote SUM sees the identical ±1 terms; the DuckDB
    oracles keep the strpos nibble sums (no conv() there) and the hash
    parity is pinned by the oracle gates."""
    tokens = fan_out(docs, "doc_id").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    hashed = tokens.select(
        "doc_id",
        F.expr(
            f"CAST(conv(substr(md5(token), 1, {MB_BITS // 4}), 16, 10) AS BIGINT)"
        ).alias("u"),
    )
    vote_exprs = [
        F.expr(f"SUM(2 * ((u div {2 ** (MB_BITS - 1 - b)}) % 2) - 1)").alias(f"s{b}")
        for b in range(MB_BITS)
    ]
    votes = hashed.groupBy("doc_id").agg(*vote_exprs)
    return votes.select(
        "doc_id", F.expr(f"CAST({_simhash_value()} AS BIGINT)").alias("simhash")
    )


def _mb_block_divs() -> list[int]:
    return [(2**MB_BLOCK_BITS) ** t for t in range(MB_BLOCKS)]


def _first_match_pred(xor_sql: str) -> "F.Column":
    """TRUE iff the joined block table `a.t` is the FIRST (lowest-index)
    block on which the two fingerprints agree — block t' agrees iff
    ((a ^ b) div 256^t') % 256 == 0 (r11, guide §2.4). A pair within
    HAMMING_MAX agrees on >= 1 block (the pigeonhole recall argument),
    so it is emitted from exactly ONE of the MB_BLOCKS join branches and
    the pair-level DISTINCT — an exchange carrying every (pair x
    agreeing-block) duplicate — disappears: a cheap per-row xor
    predicate replaces it. Measured on the sf1.0 value graph:
    4.00 -> 1.56 s (5/5 interleaved pairs), identical rows."""
    B = 2**MB_BLOCK_BITS
    arms = ["WHEN 0 THEN TRUE"]
    for t in range(1, MB_BLOCKS):
        disagree_before = " AND ".join(
            f"((({xor_sql}) div {B**k}) % {B}) != 0" for k in range(t)
        )
        arms.append(f"WHEN {t} THEN {disagree_before}")
    return F.expr(f"CASE a.t {' '.join(arms)} END")


def _multiblock_oracle() -> str:
    blocks = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {t} AS t, (simhash // {d}) % {2**MB_BLOCK_BITS} AS bkey FROM hashes"
        for t, d in enumerate(_mb_block_divs())
    )
    return f"""
WITH tokens AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) t
), hashed AS (
  SELECT doc_id, substr(md5(token), 1, {MB_BITS // 4}) AS h FROM tokens
), nibbled AS (
  SELECT doc_id, {", ".join(_nibble_projs("strpos"))} FROM hashed
), votes AS (
  SELECT doc_id,
    {_vote_sums("//")}
  FROM nibbled GROUP BY doc_id
), hashes AS (
  SELECT doc_id, CAST({_simhash_value()} AS BIGINT) AS simhash FROM votes
), blocks AS (
  {blocks}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM blocks a
  JOIN blocks b ON a.t = b.t AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
FROM pairs WHERE hamming <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


def simhash_blocks(hashes: DataFrame) -> DataFrame:
    """(doc_id, simhash) → one row per (block table t, 8-bit block key).
    Each fingerprint lands in MB_BLOCKS buckets; the (t, bkey) equi-join
    over this table is the candidate generator."""
    block_structs = [
        F.struct(
            F.lit(t).alias("t"),
            F.expr(f"(simhash div {d}) % {2**MB_BLOCK_BITS}").alias("bkey"),
        )
        for t, d in enumerate(_mb_block_divs())
    ]
    return hashes.select(
        "doc_id", "simhash", F.explode(F.array(*block_structs)).alias("blk")
    ).select("doc_id", "simhash", F.col("blk.t").alias("t"), F.col("blk.bkey").alias("bkey"))


def simhash_pairs_multiblock_direct(hashes: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Doc-level multi-table block join — the small-corpus plan. A pair
    sharing several blocks is emitted ONLY from its first agreeing
    block (`_first_match_pred`), so the branches are disjoint and the
    r10 pair-level DISTINCT exchange is gone (r11, guide §2.4)."""
    blocks = pin_join_width(simhash_blocks(hashes), "t", "bkey", n_rows=n_docs)
    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(_first_match_pred("a.simhash ^ b.simhash"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# A fingerprint value holding more than this many docs is "hot": its doc
# rows split into k = ceil(cnt / SALT_CAP) deterministic sub-buckets and
# every recovery join runs on (value, sub) instead of the bare value, so
# no task ever owns more than ~SALT_CAP docs of one value. Picked so the
# densest sub-task (a within-value diagonal, C(SALT_CAP, 2) pairs) stays
# ~2M output rows — small against the 32-way answer split, large enough
# that the hot-value table stays n_docs/SALT_CAP rows (broadcastable at
# any corpus size: 1G docs -> <=500k rows of 12 bytes).
SALT_CAP = 2048


def _multiblock_value_pairs(vals: DataFrame, n_docs: int | None = None) -> DataFrame:
    """DISTINCT (va, vb, hamming) fingerprint-VALUE pairs within
    HAMMING_MAX that agree on >= 1 of the 4 block keys — the bounded
    value-graph edge relation shared by the salted pair-recovery plan
    (`simhash_pairs_multiblock_value_collapsed`) and the keeper surface
    (`near_dup_simhash_multiblock_keepers`). `vals` is the one-column
    DISTINCT simhash relation; the join is (t, bkey)-bucketed, never
    all-pairs, and its size is bounded by the saturating value space,
    not the corpus."""
    vblocks = pin_join_width(
        simhash_blocks(vals.select(F.col("simhash").alias("doc_id"), "simhash")),
        "t",
        "bkey",
        n_rows=n_docs,
    )
    a = vblocks.alias("a")
    b = vblocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        # first-agreeing-block filter instead of the pair-level DISTINCT
        # (r11; each qualifying value pair emits exactly once — measured
        # 4.00 -> 1.56 s on the sf1.0 value graph, identical rows)
        .filter(_first_match_pred("a.simhash ^ b.simhash"))
        .select(
            F.col("a.simhash").alias("va"),
            F.col("b.simhash").alias("vb"),
            F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


def simhash_pairs_multiblock_value_collapsed(hashes: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Value-collapsed multi-table candidate search — the at-scale plan
    (see `near_dup_simhash_multiblock`). Every join below is an
    expansion from byte-tiny inputs — widths pinned against AQE's
    size-based coalesce (tables.pin_join_width).

    Recovery is SALTED (r7, scale-failure class #4 applied here): the
    r6 shape keyed the doc-expansion joins by fingerprint VALUE, which
    concentrates Θ(that value's share of the answer) on single tasks —
    fingerprints concentrate on similar corpora, and a 16-bit variant
    died of exactly this (hottest value 24,802 docs -> one 308M-pair
    task). The 16-bit fix (broadcast the value-pair table, stream docs
    round-robin) does not transfer: this op's value-pair relation grows
    with the corpus (21.5M rows / ~430 MB at sf10) and must stay a
    shuffle join. Instead, hot values (> SALT_CAP docs) split into
    k = ceil(cnt / SALT_CAP) sub-buckets by pmod(xxhash64(doc_id), k):
    docs carry their sub-bucket, value pairs replicate ka*kb ways (only
    where a side is hot — cold-cold pairs replicate 1x), and each
    (value, sub) join key owns <= SALT_CAP docs of that value. Same
    exact answer, per-task work ~ answer / (width * k). The hot-value
    table is bounded by n_docs / SALT_CAP rows — broadcast-safe by
    construction, sized from a counted aggregate (not a Catalyst
    estimate), so the static-broadcast fatality class does not apply."""
    vals = hashes.select("simhash").distinct()
    # distinct value pairs sharing >= 1 block, within the Hamming bound
    vp = _multiblock_value_pairs(vals, n_docs=n_docs)
    # hot fingerprint values and their split factors (empty on corpora
    # where no value exceeds SALT_CAP — the whole salt degenerates to
    # sub = 0 / one replica and the plan is the r6 shape plus two
    # broadcast probes)
    # lazy checkpoint: hot feeds FOUR distinct subtrees (dsub, both vps
    # probes, offgrid) whose aliased shapes defeat exchange reuse — the
    # checkpoint makes the corpus-sized groupBy over `hashes` run once,
    # not four times, and eager=False defers that job to the first
    # consumer so plan-only inspections (EXPLAIN, test_plan_quality)
    # stay execution-free (r7 ADVICE: the eager form ran the groupBy at
    # DataFrame-construction time and measured slightly slower in the
    # interleaved sf10 A/B). Bounded relation (<= n_docs / SALT_CAP
    # rows), so memory residency is the point (class #5 does not apply).
    hot = (
        hashes.groupBy("simhash")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > SALT_CAP)
        .select(
            "simhash",
            F.ceil(F.col("cnt") / SALT_CAP).cast("int").alias("k"),
        )
        .localCheckpoint(eager=False)
    )
    dsub = pin_join_width(
        hashes.join(F.broadcast(hot), "simhash", "left").select(
            "doc_id",
            "simhash",
            F.pmod(F.xxhash64("doc_id"), F.coalesce(F.col("k"), F.lit(1)))
            .cast("int")
            .alias("sub"),
        ),
        "simhash",
        "sub",
        n_rows=n_docs,
    )
    # value pairs fan out over the (sa, sb) salt grid of their sides
    vps = pin_join_width(
        vp.join(
            F.broadcast(hot.select(F.col("simhash").alias("va"), F.col("k").alias("ka"))),
            "va",
            "left",
        )
        .join(
            F.broadcast(hot.select(F.col("simhash").alias("vb"), F.col("k").alias("kb"))),
            "vb",
            "left",
        )
        .select(
            "va",
            "vb",
            "hamming",
            F.coalesce(F.col("ka"), F.lit(1)).alias("ka"),
            F.coalesce(F.col("kb"), F.lit(1)).alias("kb"),
        )
        # NESTED explodes, not one sequence(0, ka*kb - 1): the flat grid
        # materializes a ka·kb-element array in ONE row buffer before
        # exploding — for a hot×hot value pair that is k² ints in memory
        # (quadratic in corpus/CAP), while each nested array is bounded
        # by a single k
        .select(
            "va",
            "vb",
            "hamming",
            "kb",
            F.explode(F.expr("sequence(0, ka - 1)")).alias("sa"),
        )
        .select(
            "va",
            "vb",
            "hamming",
            "sa",
            F.explode(F.expr("sequence(0, kb - 1)")).alias("sb"),
        ),
        "va",
        "sa",
        n_rows=n_docs,
    )
    x = dsub.alias("x")
    y = dsub.alias("y")
    cross = (
        vps.join(
            x,
            (F.col("x.simhash") == F.col("va")) & (F.col("x.sub") == F.col("sa")),
        )
        .join(
            y,
            (F.col("y.simhash") == F.col("vb")) & (F.col("y.sub") == F.col("sb")),
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            "hamming",
        )
    )
    # same-value pairs, diagonal: both docs in the same sub-bucket —
    # covers every cold value (sub = 0 for all its docs) and each hot
    # value's k within-bucket groups, <= C(SALT_CAP, 2) pairs per key
    same_diag = x.join(
        y,
        (F.col("x.simhash") == F.col("y.simhash"))
        & (F.col("x.sub") == F.col("y.sub"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    # same-value pairs, off-diagonal: hot values only — the strict
    # (i < j) sub-bucket grid; each unordered doc pair lands in exactly
    # one (i, j) cell, so the three branches are disjoint and the union
    # needs no pair-level DISTINCT
    offgrid = (
        hot.select(
            F.col("simhash").alias("v"),
            "k",
            # nested explodes again — a flattened C(k, 2) struct array
            # would buffer quadratically for a very hot value
            F.explode(F.expr("sequence(0, k - 2)")).alias("sa"),
        )
        .select(
            "v",
            "sa",
            F.explode(F.expr("sequence(sa + 1, k - 1)")).alias("sb"),
        )
    )
    same_off = (
        offgrid.join(
            x,
            (F.col("x.simhash") == F.col("v")) & (F.col("x.sub") == F.col("sa")),
        )
        .join(
            y,
            (F.col("y.simhash") == F.col("v")) & (F.col("y.sub") == F.col("sb")),
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(same_diag).unionByName(same_off)


@query("near_dup_simhash_multiblock", oracle=_multiblock_oracle(), survey="EXT-dedup")
def near_dup_simhash_multiblock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with EXACT recall at Hamming ≤ 3: 32-bit
    fingerprints split into 4 8-bit blocks; candidates are pairs agreeing
    on any block's (t, bkey), which by pigeonhole covers every pair
    within Hamming 3 (Manku et al., WWW'07 multi-table scheme — the
    recall fix for a single top-byte blocking table).

    Scale shape: fingerprinting is one explode+groupBy pass; the
    candidate join is bucketed on (t, bkey) — 4 tables × 256 buckets —
    and Hamming is checked only within buckets, never all-pairs. At
    100 TB the block tables shuffle-partition cleanly by (t, bkey), and
    recall stays exact as long as HAMMING_MAX < number of blocks.

    Above VALUE_COLLAPSE_MIN_DOCS the candidate search runs over
    DISTINCT fingerprint VALUES (large corpora repeat ~45% of values),
    so the block join and the Hamming filter touch the collapsed value
    relation; doc pairs are recovered by SALTED sub-bucket joins (hot
    values split k ways on both sides — see
    `simhash_pairs_multiblock_value_collapsed`), and the cross/diag/
    off-diag split makes the expansion duplicate-free WITHOUT the
    pair-level DISTINCT the doc-level join needs over its (answer ×
    shared-blocks) blowup. Below the threshold the direct doc-level
    block join is cheaper (identical answer either way, pinned by
    tests/test_plan_quality.py::test_simhash_multiblock_plans_agree).

    Reference parity: extends docs/summery_deck.md's near-dup goal
    (reference has no simhash; cited for the dedup requirement only)."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = corpus_checkpoint(simhash_fingerprints(docs), eager=False)
    n_docs = hashes.count()  # materializes the lazy checkpoint (one job, r11)
    pairs = (
        simhash_pairs_multiblock_value_collapsed(hashes, n_docs=n_docs)
        if n_docs >= VALUE_COLLAPSE_MIN_DOCS
        else simhash_pairs_multiblock_direct(hashes, n_docs=n_docs)
    )
    return pairs.orderBy("doc_a", "doc_b")


# Below this corpus size the plain doc-level block join beats the
# value-collapsed plan: the collapse's fixed overhead (distinct + two
# expansion joins + the cross/same union) costs ~1s of constant time
# that a 5k-doc corpus never earns back (VERDICT r4: 2.24 → 3.40 s at
# sf0.1), while above it the 16-bit value space saturates and the
# collapse is the difference between output-bound and quadratic
# (measured 86x wall at 10x corpus). Both plans compute the identical
# answer — the threshold only picks the cheaper physical shape.
VALUE_COLLAPSE_MIN_DOCS = 16_384


def _multiblock_keepers_oracle() -> str:
    vblocks = "\n  UNION ALL ".join(
        f"SELECT simhash, {t} AS t, (simhash // {d}) % {2**MB_BLOCK_BITS} AS bkey FROM vals"
        for t, d in enumerate(_mb_block_divs())
    )
    return f"""
WITH RECURSIVE tokens AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) t
), hashed AS (
  SELECT doc_id, substr(md5(token), 1, {MB_BITS // 4}) AS h FROM tokens
), nibbled AS (
  SELECT doc_id, {", ".join(_nibble_projs("strpos"))} FROM hashed
), votes AS (
  SELECT doc_id,
    {_vote_sums("//")}
  FROM nibbled GROUP BY doc_id
), hashes AS MATERIALIZED (
  SELECT doc_id, CAST({_simhash_value()} AS BIGINT) AS simhash FROM votes
), vals AS MATERIALIZED (
  SELECT simhash, COUNT(*) AS cnt FROM hashes GROUP BY simhash
), vblocks AS MATERIALIZED (
  {vblocks}
), vp AS MATERIALIZED (
  SELECT DISTINCT a.simhash AS va, b.simhash AS vb
  FROM vblocks a
  JOIN vblocks b ON a.t = b.t AND a.bkey = b.bkey AND a.simhash < b.simhash
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
), edges AS MATERIALIZED (
  SELECT va AS src, vb AS dst FROM vp
  UNION ALL
  SELECT vb AS src, va AS dst FROM vp
), walk(v, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.v
), vcomp AS MATERIALIZED (
  SELECT v, MIN(label) AS vlab FROM walk GROUP BY v
), cluster_vals AS MATERIALIZED (
  SELECT vl.simhash, COALESCE(c.vlab, vl.simhash) AS vlab
  FROM vals vl LEFT JOIN vcomp c ON c.v = vl.simhash
  WHERE vl.cnt >= 2 OR c.v IS NOT NULL
), members AS MATERIALIZED (
  SELECT h.doc_id, cv.vlab FROM hashes h JOIN cluster_vals cv USING (simhash)
), cids AS MATERIALIZED (
  SELECT vlab, MIN(doc_id) AS cluster_id, COUNT(*) AS cluster_size
  FROM members GROUP BY vlab
)
SELECT m.doc_id, s.cluster_id, s.cluster_size, m.doc_id = s.cluster_id AS is_keeper
FROM members m JOIN cids s USING (vlab)
ORDER BY m.doc_id
"""


@query(
    "near_dup_simhash_multiblock_keepers",
    oracle=_multiblock_keepers_oracle(),
    survey="EXT-dedup,A15",
)
def near_dup_simhash_multiblock_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup surface for the 32-bit multiblock SimHash family:
    per-doc cluster assignment + keeper flag, computed WITHOUT ever
    materializing the doc-pair relation (whose DEFINED answer is
    Θ(n²/2³²) on a saturating corpus — 7.8G pairs ≈ 500 s at sf10, an
    output-bound dump no pipeline consumes; the pair query
    `near_dup_simhash_multiblock` remains the recall diagnostic).

    The doc-pair graph is exactly the value-pair graph expanded by
    same-value cliques: two docs pair iff their fingerprints agree on
    ≥ 1 block within Hamming ≤ 3, a property of the VALUES alone (same
    value ⇒ Hamming 0 ⇒ always a pair). So connected components run on
    the BOUNDED value graph — nodes ≤ distinct 32-bit fingerprints
    present (≤ min(corpus, 2³²), saturating), edges =
    `_multiblock_value_pairs` — via the same `connected_components` as
    `dedup_clusters`, and docs pick up their value's component label
    with ONE corpus-sized hash join afterwards. Output is one row per
    doc with ≥ 1 near-dup: cluster id (min doc_id), cluster size,
    keeper flag — the is_keeper = false rows are the drop set, the
    `dedup_clusters` contract.

    Scale shape: candidate work is value-space-bounded, component
    iterations run on the value graph (tiny diameter: block-overlap
    cliques), and the only corpus-sized operations are the fingerprint
    pass, one join, and one aggregate — at sf10 this replaces the 500 s
    pair dump with seconds of work. The DuckDB oracle closes the same
    value graph with a recursive CTE and expands through the identical
    joins, so the differential test covers the value-clique theorem,
    not just the plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = corpus_checkpoint(simhash_fingerprints(docs), eager=False)
    n_docs = hashes.count()  # materializes the lazy checkpoint (one job, r11)
    # pre-saturation this is corpus-sized (one row per distinct value,
    # <= n_docs), so it takes the corpus truncation helper: memory-
    # resident lazily in local mode (feeds the value-pair join AND the
    # cluster_vals join), reliable df.checkpoint() when the mode is on
    vals = corpus_checkpoint(
        hashes.groupBy("simhash").agg(F.count("*").alias("cnt")), eager=False
    )
    vp = _multiblock_value_pairs(vals.select("simhash"), n_docs=n_docs)
    from data_ingestion_system_spark.dedup.clusters import connected_components

    vcomp = connected_components(
        vp.select(F.col("va").alias("doc_a"), F.col("vb").alias("doc_b"))
    ).select(F.col("doc_id").alias("vsim"), F.col("cluster_id").alias("vlab"))
    # a value belongs to a cluster iff it pairs with another value
    # (vcomp) or holds >= 2 docs (same-value clique, vlab = itself)
    cluster_vals = (
        vals.join(vcomp, vals["simhash"] == vcomp["vsim"], "left")
        .filter((F.col("cnt") >= 2) | F.col("vsim").isNotNull())
        .select("simhash", F.coalesce("vlab", "simhash").alias("vlab"))
    )
    members = hashes.join(cluster_vals, "simhash").select("doc_id", "vlab")
    cids = members.groupBy("vlab").agg(
        F.min("doc_id").alias("cluster_id"),
        F.count("*").alias("cluster_size"),
    )
    return (
        members.join(cids, "vlab")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )
