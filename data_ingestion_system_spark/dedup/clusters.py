"""Transitive near-duplicate clusters via distributed connected components.

Pairwise near-dup detection (dedup/minhash.py) is not enough to dedup a
corpus: if A≈B and B≈C, all three are one duplicate group even when A and
C never share an LSH band (the reference's exact-duplicate pass,
src/analysis/deep_analysis.py:317-344, has the same gap one level down —
it groups only literally-identical content). The standard fix is the
connected components of the verified-pair graph, with one keeper per
component.

Components are computed on the driver when the edge relation is small
(one collect + union-find), and otherwise with the edge-contraction loop
of Kiveris et al. ("Connected Components in MapReduce and Beyond", SoCC
2014) expressed as pure DataFrame algebra: each round every node takes
the minimum label of its closed neighborhood, then the graph contracts
onto the new labels (self-loops dropped, parallel edges merged) and the
original-doc mapping composes through the round. Dense near-dup
components — band-overlap cliques — collapse in a round or two. Each
round is one scheduled job; lineage is truncated per round with lazy
checkpoints so the plan does not grow with iterations.

The DuckDB oracle runs the same MinHash pipeline (shared CTE body) and
closes it transitively with a recursive CTE, so the differential test
covers candidate generation, verification, AND the closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.dedup.minhash import (
    JACCARD_THRESHOLD,
    PAIR_CTES,
    minhash_pairs,
)
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import (
    corpus_checkpoint,
    corpus_checkpoint_lazy,
    load_table,
)

MAX_ITERS = 20  # >> observed contraction rounds (6-7 on keeper graphs); else raises

# r10 (§4d): at or below this edge count the whole closure runs as ONE
# collect + driver-side union-find instead of the contraction loop.
# Every distributed round costs fixed driver/scheduler overhead
# (~0.15-0.3 s per job on local[32]) regardless of how small the graph
# is, and the round count is not bounded by corpus size — the sf0.1
# simhash VALUE graph (116k doubled edges) took 10 distributed rounds,
# ~2-4 s of pure round overhead that one collect replaces (measured
# interleaved A/B: keepers 5.9 -> 3.9 s median). The collect is bounded
# by the floor at ~4 MB (2 longs x 256k rows) — the same driver-metadata
# scale as the equi-depth boundary tuples and the PQ codebook collects,
# far under spark.driver.maxResultSize — and union-find with path
# compression closes 256k edges in well under 100 ms. Above the floor
# the contraction loop runs, so the 100 TB posture (never a corpus-scale
# driver collect) is preserved; both arms, and both relabel strategies
# of the contraction loop, are oracle-forced in tests/test_dispatch_arms.py.
CC_DRIVER_MAX_EDGES = 262_144

# r11 (§4d): in the contract arm, when the graph's NODE count (counted
# once from the materialized node relation — an exact number, not a
# Catalyst estimate) is at or below this, the per-round relabel table —
# bounded by the node count and shrinking every contraction — is
# BROADCAST into the two endpoint-relabel joins and the mapping compose
# instead of shuffle-joined. Round 1 then never exchanges the full edge
# relation at all (the r10 shape shuffled it twice: once by src, once by
# dst — the dominant per-round bytes on the sf1.0 simhash value graph,
# 3.08M doubled edges over ~40k nodes). 4M nodes × 2 longs ≈ 64 MB
# serialized (the session's autoBroadcastJoinThreshold), far under the
# 8 GB broadcast cap; above the floor the shuffle joins are unchanged,
# preserving the never-broadcast-corpus-scale-relations posture.
# Saturating value graphs (the keeper family) stay under the floor at
# every scale; doc-keyed graphs outgrow it and take the shuffle arm.
CC_BCAST_MAX_NODES = 4_000_000

# Diagnostics from the most recent connected_components call on this
# driver: (arm, rounds, initial edge count). Scale probes read it to
# verify the contraction loop's round count stays O(log) as the value
# graph grows (VERDICT r8 ask #8); never used for control flow.
LAST_CC_STATS: dict = {}


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) undirected edges → (doc_id, cluster_id) where
    cluster_id is the minimum doc_id of the component.

    Two physical arms, one answer (§4d, dispatched on the edge count):

    - DRIVER union-find (at most `CC_DRIVER_MAX_EDGES` edges): one
      collect, no distributed rounds.
    - EDGE CONTRACTION (larger graphs — Kiveris et al.): after each min
      round the graph CONTRACTS onto the new labels (edges relabelled,
      self-loops dropped, parallel edges merged) and the original-vertex
      mapping composes through the round. Dense near-dup graphs —
      band-overlap cliques, saturated simhash value balls — collapse to
      single nodes in a round or two, so the full-size edge relation is
      scanned once, not every round. The round count is NOT O(log n) in
      general: a node only merges into its smallest neighbor, so a path
      whose ids increase monotonically along it loses one node per round
      (a 200-node chain takes 199 rounds and exceeds `MAX_ITERS`). A chain
      with ids in random order shrinks by a constant factor per round in
      expectation; near-dup graphs are clique-like and close in a few
      rounds.

    Correctness of the contraction's min invariant: a node's new label
    is the min of CURRENT labels in its closed neighborhood, and every
    current label is by induction the min original id of its merged
    set, so a merged set's label stays the min original id of its
    union; at termination (no cross-label edge) each component is one
    node = its min doc_id — the same contract as the driver arm, pinned
    by the recursive-CTE oracles, the keeper-equality pytest, and the
    forced-arm dispatch test."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .transform(corpus_checkpoint_lazy)
    )
    # the count MATERIALIZES the lazy checkpoint — one scheduled job
    # where the r10 shape paid two (eager ckpt job + cached count scan)
    n_edges = edges.count()
    LAST_CC_STATS.clear()
    LAST_CC_STATS["n_edges"] = n_edges
    if n_edges <= CC_DRIVER_MAX_EDGES:
        LAST_CC_STATS["arm"] = "driver"
        LAST_CC_STATS["rounds"] = 0  # no distributed rounds by construction
        return _cc_driver(edges)
    LAST_CC_STATS["arm"] = "contract"
    # original doc_id -> current component label (composes every round)
    mapping = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .transform(corpus_checkpoint_lazy)
    )
    # exact node count (materializes the lazy mapping checkpoint, which
    # its consumers needed anyway) dispatches the relabel-join strategy
    n_nodes = mapping.count()
    LAST_CC_STATS["n_nodes"] = n_nodes
    return _cc_contract(edges, mapping, bcast=n_nodes <= CC_BCAST_MAX_NODES)


def _cc_driver(edges: DataFrame) -> DataFrame:
    """Small-graph arm: one collect of the (bounded) edge relation, then
    union-find with path compression on the driver, roots kept at the
    minimum doc_id so each component's label is its min member — the
    identical contract the contraction loop converges to. The result is
    re-parallelized with the same column type the edges carried (an
    ExistingRDD scan in a few slices, so re-use replays cheaply and
    never re-runs the collect)."""
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    id_type = edges.schema["src"].dataType
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # min root wins — the component label is its min doc_id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    rows = sorted((node, find(node)) for node in parent)
    schema = StructType(
        [StructField("doc_id", id_type), StructField("cluster_id", id_type)]
    )
    # a few slices so downstream joins/aggregates don't start single-task
    n_slices = max(1, min(len(rows) // 16_384 + 1, spark.sparkContext.defaultParallelism))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )


def _cc_contract(edges: DataFrame, mapping: DataFrame, bcast: bool) -> DataFrame:
    """Min-label round + graph contraction; convergence is the
    contracted edge relation going empty.

    ONE scheduled job per round (r11; guide §2.4 — fixed per-job driver
    overhead was the measured #1 residual of the keeper query at sf1.0):
    `relabel` and the contracted `edges` are LAZY checkpoints and the
    round's single action is `edges.count()`, which materializes both
    (relabel's persisted blocks are computed once inside that job and
    shared by the two join branches and the mapping compose) and doubles
    as the emptiness probe. The r10 shape scheduled three jobs per round
    — eager relabel ckpt, eager edges ckpt, isEmpty probe — whose
    driver/scheduler round-trips (~0.15-0.3 s each on local[32]) cost
    more than the shrinking post-round-1 graphs they computed."""
    for rnd in range(MAX_ITERS):
        # min over the closed neighborhood, in the CURRENT contracted
        # space (a contracted node's label is itself)
        # checkpoint (lazy): relabel feeds THREE subtrees (both
        # contraction sides + the mapping compose); without it the
        # edge-wide groupBy — the round's expensive op — would run
        # three times
        relabel = corpus_checkpoint(
            edges.groupBy(F.col("dst").alias("node"))
            .agg(F.min("src").alias("nmin"))
            .select("node", F.least("node", "nmin").alias("newlab")),
            eager=False,
        )
        # contract: both endpoints into the new label space; self-loops
        # vanish, parallel edges merge. Nodes missing from `relabel`
        # have no edges left — their components are finished.
        # relabel is node-bounded and shrinks every round: with `bcast`
        # (node count ≤ CC_BCAST_MAX_NODES, measured at dispatch) both
        # endpoint joins and the mapping compose take it as a BROADCAST
        # — the edge relation is never exchanged, only probed map-side;
        # the identical broadcast subtree is built once (ReuseExchange).
        # Above the floor the r10 shuffle joins stand.
        rel = F.broadcast(relabel) if bcast else relabel
        rs = rel.select(F.col("node").alias("src"), F.col("newlab").alias("ls"))
        rd = rel.select(F.col("node").alias("dst"), F.col("newlab").alias("ld"))
        edges = (
            edges.join(rs, "src")
            .join(rd, "dst")
            .select(F.col("ls").alias("src"), F.col("ld").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .transform(corpus_checkpoint_lazy)
        )
        # compose the original-vertex mapping through this contraction
        mapping = (
            mapping.join(
                rel.withColumnRenamed("node", "label"), "label", "left"
            )
            .select("doc_id", F.coalesce("newlab", "label").alias("label"))
            .transform(corpus_checkpoint_lazy)
        )
        # materializes relabel + edges (full scan, so the lazy local
        # checkpoints persist completely — a limit-style isEmpty would
        # leave partitions unmaterialized and re-derive them from
        # lineage next round) and probes convergence in the same job
        if edges.count() == 0:
            LAST_CC_STATS["rounds"] = rnd + 1
            return mapping.select("doc_id", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"connected components did not converge in {MAX_ITERS} rounds")


_CLUSTER_ORACLE = f"""
WITH RECURSIVE {PAIR_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM jacs WHERE jac >= {JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS doc_id FROM edges
), walk(doc_id, label) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id
), comp AS (
  SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id
), csizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT c.doc_id, c.cluster_id, s.cluster_size, c.doc_id = c.cluster_id AS is_keeper
FROM comp c JOIN csizes s USING (cluster_id)
ORDER BY c.doc_id
"""


@query("dedup_clusters", oracle=_CLUSTER_ORACLE, survey="EXT-dedup")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate groups: connected components of the verified
    MinHash-LSH pair graph, min-doc_id as the canonical cluster id and
    keeper. Emits every doc that has at least one near-duplicate, with
    its cluster id, cluster size, and keeper flag — the `is_keeper =
    false` rows are exactly the set a dedup job would drop."""
    pairs, _ = minhash_pairs(load_table(spark, sf_dir, "documents"))
    comp = connected_components(pairs)
    csizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(csizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )
