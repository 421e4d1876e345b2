"""Systematic dual-arm verification for every size-dispatched operator
(VERDICT r7 ask #5).

Several operators pick between two physical plans on a corpus-size floor
(CONVENTIONS.md §4d: two physical plans, one answer). The driver gate
only ever exercises the arm the floor picks at sf0.01; this test forces
EACH arm by moving its floor constant and asserts the full oracle match at
sf0.01 — so a dispatch regression on either side is a test failure, not
a silent at-scale surprise.

Knobs are module-level constants read at call time, so a monkeypatch
flips the dispatch without touching the query code. `0` forces the
at-scale arm, `10**12` the small-corpus arm (floors compare `>=` /
`count() >= floor` / `n <= floor` — see each site's docstring).
"""

from __future__ import annotations

import duckdb
import pytest
from conftest import assert_df_matches_oracle

from data_ingestion_system_spark import tables
from data_ingestion_system_spark.dedup import clusters, minhash, semdedup, simhash
from data_ingestion_system_spark.operators import integrity
from data_ingestion_system_spark.similarity import ivf
from data_ingestion_system_spark.registry import load_all
from data_ingestion_system_spark.tables import TABLE_NAMES
from data_ingestion_system_spark.text import pipeline

DISPATCH_SF_DIR = "/root/testdata/sf0.01"

HUGE = 10**12

# (query, [(module, attr)], {arm label: [values]})
DISPATCHED = [
    pytest.param(
        "near_dup_ngram_jaccard",
        [(minhash, "NGRAM_PAIRKEY_COST_RATIO")],
        {"pairkey": [-1.0], "single": [float(HUGE)]},
        id="ngram-scheme",
    ),
    pytest.param(
        # PIN_MIN_ROWS drives tables._past_floor, which picks the MinHash
        # verify-join strategy (AQE broadcast vs MERGE hint) and the
        # expansion-width pins
        "near_dup_minhash_lsh",
        [(tables, "PIN_MIN_ROWS")],
        {"merge_pinned": [0], "broadcast_unpinned": [HUGE]},
        id="minhash-verify-join",
    ),
    pytest.param(
        # r8 storage-level dispatch: DISK_ONLY vs MEMORY_AND_DISK bulk
        # checkpoints must be invisible to the answer
        "near_dup_minhash_lsh",
        [(tables, "BULK_DISK_ONLY_MIN_ROWS")],
        {"disk_only": [0], "memory_and_disk": [HUGE]},
        id="bulk-storage-level",
    ),
    pytest.param(
        "near_dup_simhash_multiblock",
        [(simhash, "VALUE_COLLAPSE_MIN_DOCS")],
        {"value_collapsed": [0], "direct": [HUGE]},
        id="simhash-multiblock-collapse",
    ),
    pytest.param(
        "semantic_dedup",
        [(semdedup, "SEMDEDUP_BLAS_MIN_ROWS")],
        {"blas": [0], "relational": [HUGE]},
        id="semdedup-flat-pair-term",
    ),
    pytest.param(
        "semantic_dedup_hier",
        [(semdedup, "SEMDEDUP_BLAS_MIN_ROWS")],
        {"blas": [0], "relational": [HUGE]},
        id="semdedup-hier-pair-term",
    ),
    pytest.param(
        # component-loop dispatch: the driver union-find arm (at most
        # CC_DRIVER_MAX_EDGES edges) vs the edge-contraction loop must
        # close the identical transitive clusters. r11 split the contract
        # arm on CC_BCAST_MAX_NODES (broadcast vs shuffle relabel joins)
        # — both relabel strategies forced here.
        "dedup_clusters",
        [
            (clusters, "CC_DRIVER_MAX_EDGES"),
            (clusters, "CC_BCAST_MAX_NODES"),
        ],
        {
            "contract_bcast": [-1, HUGE],
            "contract_shuffle": [-1, -1],
            "driver_unionfind": [HUGE, HUGE],
        },
        id="cc-loop",
    ),
    pytest.param(
        "corpus_prep_pipeline",
        [(pipeline, "PIPELINE_PARALLEL_MAX_DOCS")],
        {"serial": [0], "stage_parallel": [HUGE]},
        id="pipeline-stage-parallelism",
    ),
    pytest.param(
        # r10 anti-join input dispatch: per-FK-value pre-aggregation
        # (shuffle the value set, sum unmatched multiplicities) vs the
        # plain row-level anti-join must report identical orphan counts
        "orphan_check_matrix",
        [(integrity, "ORPHAN_PREAGG_MIN_ROWS")],
        {"preagg": [0], "row_level": [HUGE]},
        id="orphan-antijoin-preagg",
    ),
    pytest.param(
        # r9 assignment-shape dispatch: the fat single-pass scoring vs
        # the skinny score + argmax aggregate + vectors-join must assign
        # identical cells (tie order (c DESC, cell_id ASC) both arms)
        "ann_ivf_topk",
        [(ivf, "ASSIGN_SKINNY_MIN_BYTES")],
        {"fat": [HUGE], "skinny": [0]},
        id="ivf-assign-shape",
    ),
    pytest.param(
        "ann_filtered_topk",
        [(ivf, "ASSIGN_SKINNY_MIN_BYTES")],
        {"fat": [HUGE], "skinny": [0]},
        id="ivf-filtered-assign-shape",
    ),
]


@pytest.fixture(scope="module")
def duck01():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS"
            f" SELECT * FROM read_parquet('{DISPATCH_SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _arm_cases():
    for p in DISPATCHED:
        qname, knobs, arms = p.values
        for arm, values in arms.items():
            yield pytest.param(qname, knobs, values, id=f"{p.id}-{arm}")


@pytest.mark.parametrize("qname,knobs,values", list(_arm_cases()))
def test_dispatch_arm_matches_oracle(
    spark, duck01, registry, monkeypatch, qname, knobs, values
):
    for (mod, attr), v in zip(knobs, values):
        assert hasattr(mod, attr), f"{mod.__name__}.{attr} knob renamed?"
        monkeypatch.setattr(mod, attr, v)
    spec = registry[qname]
    assert spec.oracle is not None
    assert_df_matches_oracle(
        spec.spark(spark, DISPATCH_SF_DIR), duck01, spec.oracle
    )
    tables.release_session_checkpoints(spark)


# --- band/row ladder (r10): the two banding arms CHANGE the defined
# candidate set (unlike the §4d dispatches above, which pick a physical
# plan for one answer), so each arm is verified against ITS OWN oracle
# form. The floors are forced like every other arm; `pair_ctes()` reads
# them when it is called, so the oracle built under the same patch
# evaluates `satd` to that arm exactly as the Spark dispatch does.
def _force_ladder_arm(monkeypatch, wide):
    # both floors at 0 cross into the wide rung; an unreachable
    # occupancy threshold keeps the measured dispatch on the classic one
    monkeypatch.setattr(minhash, "BAND_LADDER_MIN_DOCS", 0)
    monkeypatch.setattr(minhash, "BAND_SATURATION_JV_PER_DOC", 0 if wide else HUGE)


@pytest.mark.parametrize("wide", [False, True])
def test_band_ladder_arm_matches_oracle(spark, duck01, registry, monkeypatch, wide):
    _force_ladder_arm(monkeypatch, wide)
    oracle = f"""
WITH {minhash.pair_ctes()}
SELECT doc_a, doc_b, ROUND(jac * 1000000.0) / 1000000.0 AS jaccard
FROM jacs
WHERE jac >= {minhash.JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""
    assert_df_matches_oracle(
        registry["near_dup_minhash_lsh"].spark(spark, DISPATCH_SF_DIR), duck01, oracle
    )
    tables.release_session_checkpoints(spark)


def test_band_ladder_dispatch_flips_on_measured_saturation(spark, monkeypatch):
    """The production dispatch (floors moved via monkeypatch so the
    sf0.01 fixture crosses them) must produce the SAME pairs as the
    wide banding; with an unreachable occupancy threshold it must stay
    on the classic banding. Also pins (a) wide candidates ⊂ classic
    candidates — the 4-row band key is the concatenation of its two
    2-row halves — and (b) the Python/SQL constant lockstep, so nobody
    retunes the Spark-side ladder without the PAIR_CTES mirror."""
    # constant lockstep first (before the monkeypatches below): the SQL
    # mirror embeds the same two integers the Python dispatch reads
    assert str(minhash.BAND_LADDER_MIN_DOCS) in minhash.PAIR_CTES
    assert f">= {minhash.BAND_SATURATION_JV_PER_DOC} * (SELECT COUNT(*)" in minhash.PAIR_CTES
    docs = tables.load_table(spark, DISPATCH_SF_DIR, "documents")
    n_docs = docs.count()
    _, tsets = minhash.minhash_pairs(docs, n_docs=n_docs)
    sigs = minhash.signatures_from_sets(tsets)

    def cand_set(df):
        return {(r.doc_a, r.doc_b) for r in df.collect()}

    def banded(rows):
        return cand_set(minhash.candidate_pairs(minhash.band_keys(sigs, rows), n_docs))

    classic = banded(minhash.CLASSIC_ROWS)
    wide = banded(minhash.WIDE_ROWS)
    assert wide <= classic  # strict band ⊂ loose band candidates
    _force_ladder_arm(monkeypatch, True)
    assert cand_set(minhash.lsh_candidate_pairs(tsets, n_docs)) == wide
    _force_ladder_arm(monkeypatch, False)
    assert cand_set(minhash.lsh_candidate_pairs(tsets, n_docs)) == classic
    tables.release_session_checkpoints(spark)
