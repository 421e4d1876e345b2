"""Fuzzy record linkage: blocked edit-distance matching.

The reference deduplicates on exact review_id only (src/database/
db_manager.py:265-300, INSERT OR IGNORE); the dedup/ family here adds
set-similarity (MinHash/Jaccard) and bit-similarity (SimHash) modalities.
This module adds the remaining classic record-linkage modality: EDIT
DISTANCE over a normalized key, the tool for short noisy identifiers
(titles, names, addresses) where token-set similarity is too coarse —
a one-character typo barely moves Jaccard but is exactly levenshtein 1.

Scale design (the standard blocking strategy, Fellegi-Sunter style):
  1. normalize a fixed-width key per record (lowercase, strip
     non-alphanumerics, 80-char prefix) — one narrow projection;
  2. block on (lang, first 8 chars of the key): candidate pairs are
     generated per block, never corpus x corpus;
  3. cap block size (64) — the same skew guard the AllPairs prefix
     filter in dedup/minhash.py uses: a degenerate block (empty or
     boilerplate prefix) would otherwise go quadratic. Dropped blocks
     are a recall trade-off, counted in the companion profile query;
  4. `levenshtein()` runs JVM-side (built-in, codegen) only on
     within-block pairs with doc_id_a < doc_id_b.

At 100 TB the shuffle key is the block key, per-block work is bounded
by the cap, and no stage ever materializes the cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import load_table, pin_join_width

KEY_PREFIX = 80  # normalized-key width
BLOCK_PREFIX = 8  # blocking-key width (chars of the normalized key)
BLOCK_CAP = 64  # max records per block before the skew guard drops it
MAX_DIST = 8  # levenshtein threshold for a linkage pair


def _keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.substring(F.col("text"), 1, KEY_PREFIX)), "[^a-z0-9 ]", ""
        )
    )
    return docs.select(
        "doc_id",
        "lang",
        norm.alias("link_key"),
        F.substring(norm, 1, BLOCK_PREFIX).alias("block_key"),
    )


_KEYED_SQL = f"""
  SELECT doc_id, lang,
         TRIM(regexp_replace(LOWER(substr(text, 1, {KEY_PREFIX})),
                             '[^a-z0-9 ]', '', 'g')) AS link_key,
         substr(TRIM(regexp_replace(LOWER(substr(text, 1, {KEY_PREFIX})),
                                    '[^a-z0-9 ]', '', 'g')),
                1, {BLOCK_PREFIX}) AS block_key
  FROM documents
"""

_PAIRS_ORACLE = f"""
WITH keyed AS ({_KEYED_SQL}),
blocks AS (
  SELECT lang, block_key FROM keyed
  GROUP BY lang, block_key
  HAVING COUNT(*) BETWEEN 2 AND {BLOCK_CAP}
),
pairs AS (
  SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.link_key, b.link_key) AS edit_dist
  FROM keyed a
  JOIN keyed b ON a.lang = b.lang AND a.block_key = b.block_key
              AND a.doc_id < b.doc_id
  JOIN blocks bl ON bl.lang = a.lang AND bl.block_key = a.block_key
)
SELECT lang, CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       CAST(edit_dist AS BIGINT) AS edit_dist
FROM pairs WHERE edit_dist <= {MAX_DIST}
ORDER BY edit_dist, doc_a, doc_b
LIMIT 200
"""


@query("fuzzy_linkage_pairs", oracle=_PAIRS_ORACLE, survey="EXT-dedup,A15")
def fuzzy_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage: candidate pairs from (lang, 8-char
    normalized-prefix) blocks — capped at 64 records so no block goes
    quadratic — linked when levenshtein of the 80-char normalized keys
    is <= 8. The modality that catches one-typo near-identical records
    which token-set similarity scores as barely different."""
    keyed = _keyed(spark, sf_dir)
    blocks = (
        keyed.groupBy("lang", "block_key")
        .count()
        .filter((F.col("count") >= 2) & (F.col("count") <= BLOCK_CAP))
        .drop("count")
    )
    # pinned width: the per-block pair expansion runs a bounded
    # levenshtein per candidate — AQE's byte-based coalesce must not
    # fold it onto a handful of tasks (tables.pin_join_width)
    a = pin_join_width(keyed.join(blocks, ["lang", "block_key"]), "lang", "block_key")
    b = a.select(
        "lang",
        "block_key",
        F.col("doc_id").alias("doc_b"),
        F.col("link_key").alias("key_b"),
    )
    pairs = (
        a.join(b, ["lang", "block_key"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        # bounded levenshtein: the threshold arg early-exits the DP at
        # MAX_DIST (O(len·k) not O(len²)) and returns -1 past the bound —
        # measured 7.5x faster at sf1.0 with an identical surviving set,
        # and for surviving pairs the bounded value IS the exact distance
        .withColumn(
            "edit_dist", F.levenshtein(F.col("link_key"), F.col("key_b"), MAX_DIST)
        )
        .filter(F.col("edit_dist") >= 0)
    )
    return (
        pairs.select(
            "lang",
            F.col("doc_id").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint"),
            F.col("edit_dist").cast("bigint"),
        )
        .orderBy("edit_dist", "doc_a", "doc_b")
        .limit(200)
    )


_PROFILE_ORACLE = f"""
WITH keyed AS ({_KEYED_SQL}),
sizes AS (
  SELECT lang, block_key, COUNT(*) AS n FROM keyed GROUP BY lang, block_key
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_blocks,
       CAST(SUM(CASE WHEN n > {BLOCK_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS capped_blocks,
       CAST(SUM(CASE WHEN n > {BLOCK_CAP} THEN n ELSE 0 END) AS BIGINT)
         AS capped_records,
       CAST(SUM(CASE WHEN n BETWEEN 2 AND {BLOCK_CAP}
                     THEN n * (n - 1) / 2 ELSE 0 END) AS BIGINT)
         AS candidate_pairs,
       CAST(MAX(n) AS BIGINT) AS max_block
FROM sizes GROUP BY lang ORDER BY lang
"""


@query("linkage_block_profile", oracle=_PROFILE_ORACLE, survey="EXT-dedup,A12")
def linkage_block_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality profile per lang: how many blocks, how many
    singletons (no candidates generated), how many hit the skew cap
    (recall lost, counted — the 'no silent caps' rule), and the exact
    candidate-pair workload the cap admits. This is the number to watch
    before running `fuzzy_linkage_pairs` at scale."""
    keyed = _keyed(spark, sf_dir)
    sizes = keyed.groupBy("lang", "block_key").agg(F.count("*").alias("n"))
    cap = F.lit(BLOCK_CAP)
    return (
        sizes.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("singleton_blocks"),
            F.sum(F.when(F.col("n") > cap, 1).otherwise(0))
            .cast("bigint")
            .alias("capped_blocks"),
            F.sum(F.when(F.col("n") > cap, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("capped_records"),
            F.sum(
                F.when(
                    (F.col("n") >= 2) & (F.col("n") <= cap),
                    (F.col("n") * (F.col("n") - 1) / 2).cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("candidate_pairs"),
            F.max("n").cast("bigint").alias("max_block"),
        )
        .orderBy("lang")
    )


_LINK_CLUSTER_ORACLE = f"""
WITH RECURSIVE keyed AS ({_KEYED_SQL}),
blocks AS (
  SELECT lang, block_key FROM keyed
  GROUP BY lang, block_key
  HAVING COUNT(*) BETWEEN 2 AND {BLOCK_CAP}
),
linked AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keyed a
  JOIN keyed b ON a.lang = b.lang AND a.block_key = b.block_key
              AND a.doc_id < b.doc_id
  JOIN blocks bl ON bl.lang = a.lang AND bl.block_key = a.block_key
  WHERE levenshtein(a.link_key, b.link_key) <= {MAX_DIST}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM linked
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM linked
), nodes AS (
  SELECT DISTINCT src AS doc_id FROM edges
), walk(doc_id, label) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id
), comp AS (
  SELECT doc_id, MIN(label) AS entity_id FROM walk GROUP BY doc_id
), csizes AS (
  SELECT entity_id, COUNT(*) AS entity_size FROM comp GROUP BY entity_id
)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(c.entity_id AS BIGINT) AS entity_id,
       CAST(s.entity_size AS BIGINT) AS entity_size,
       c.doc_id = c.entity_id AS is_canonical
FROM comp c JOIN csizes s USING (entity_id)
ORDER BY c.doc_id
"""


@query("linkage_entities", oracle=_LINK_CLUSTER_ORACLE, survey="EXT-dedup,A15")
def linkage_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: transitive closure of the edit-distance link
    graph — A~B and B~C merge into one entity even when A and C differ
    by more than the threshold (the chaining behavior that makes record
    linkage RESOLUTION, not just pair matching). min-doc_id is the
    canonical record; reuses dedup/clusters.connected_components (driver
    union-find or the contraction loop), so the iteration cost bounds
    match the MinHash cluster query's."""
    from data_ingestion_system_spark.dedup.clusters import connected_components

    keyed = _keyed(spark, sf_dir)
    blocks = (
        keyed.groupBy("lang", "block_key")
        .count()
        .filter((F.col("count") >= 2) & (F.col("count") <= BLOCK_CAP))
        .drop("count")
    )
    # pinned width: the per-block pair expansion runs a bounded
    # levenshtein per candidate — AQE's byte-based coalesce must not
    # fold it onto a handful of tasks (tables.pin_join_width)
    a = pin_join_width(keyed.join(blocks, ["lang", "block_key"]), "lang", "block_key")
    b = a.select(
        "lang",
        "block_key",
        F.col("doc_id").alias("doc_b"),
        F.col("link_key").alias("key_b"),
    )
    pairs = (
        a.join(b, ["lang", "block_key"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        # bounded levenshtein — see fuzzy_linkage_pairs
        .filter(F.levenshtein(F.col("link_key"), F.col("key_b"), MAX_DIST) >= 0)
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("entity_size"))
    return (
        comp.join(sizes, "cluster_id")
        .select(
            F.col("doc_id").cast("bigint"),
            F.col("cluster_id").cast("bigint").alias("entity_id"),
            F.col("entity_size").cast("bigint"),
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )
