"""Physical-plan assertions (SURVEY.md §4): the scale properties the
engine promises must be visible in the executed plan, not just hoped for.
A failure here is a performance regression even if results stay correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_system_spark.plans.inspect import (
    audit,
    count_broadcast_joins,
    count_sort_merge_joins,
    has_partial_aggregation,
    has_pushed_filters,
    has_whole_stage_codegen,
    is_take_ordered,
    read_schemas,
)
from data_ingestion_system_spark.registry import load_all
from data_ingestion_system_spark.tables import load_table

REGISTRY = load_all()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = REGISTRY["dynamic_filter"].spark(spark, sf_dir)
    assert has_pushed_filters(df), "predicates must push into the parquet scan"


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read the full 11-column lineitem."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = read_schemas(li)
    assert schemas and all("l_extendedprice" not in s for s in schemas)
    assert all("l_orderkey" in s for s in schemas)


def test_dim_joins_are_broadcast(spark, sf_dir):
    df = REGISTRY["app_stats"].spark(spark, sf_dir)
    assert count_broadcast_joins(df) >= 2, "customer and nation must broadcast"
    assert count_sort_merge_joins(df) == 0, "no sort-merge join for dim lookups"


def test_4way_join_single_shuffle_join(spark, sf_dir):
    df = REGISTRY["join_4way"].spark(spark, sf_dir)
    a = audit(df)
    assert a["broadcast_joins"] >= 2, "customer+nation broadcast"


def test_topk_is_take_ordered(spark, sf_dir):
    df = REGISTRY["topk_by_sortkey"].spark(spark, sf_dir)
    assert is_take_ordered(df), "ORDER BY+LIMIT must compile to TakeOrderedAndProject"


def test_aggregate_is_partial_final(spark, sf_dir):
    df = REGISTRY["group_frequency"].spark(spark, sf_dir)
    assert has_partial_aggregation(df), "groupBy must map-side combine"


def test_whole_stage_codegen_everywhere_core(spark, sf_dir):
    # grouped_distribution is excluded: exact `percentile` is a
    # TypedImperativeAggregate (ObjectHashAggregate) which cannot codegen —
    # an accepted cost of hash-exact parity (SURVEY §2.4 A10)
    for name in ["app_stats", "dynamic_filter", "quality_flags", "join_4way"]:
        df = REGISTRY[name].spark(spark, sf_dir)
        assert has_whole_stage_codegen(df), f"{name}: expression must run in codegen"


def test_anti_join_not_cartesian(spark, sf_dir):
    df = REGISTRY["anti_join"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "AntiJoin" in plan or "LeftAnti" in plan


def test_scan_filter_prunes_columns_in_quality(spark, sf_dir):
    """quality_flags touches only `text` — the scan must not read doc_id."""
    df = REGISTRY["quality_flags"].spark(spark, sf_dir)
    schemas = read_schemas(df)
    assert schemas and all("doc_id" not in s for s in schemas)


def test_bm25_side_inputs_broadcast(spark, sf_dir):
    """df/N/avgdl are tiny side aggregates — they must broadcast, and the
    scalar crossJoins must never become a CartesianProduct. Since the r10
    one-pass rewrite the side inputs are two ONE-ROW aggregate frames
    (N, and avgdl+per-term dfs), so the physical form is a broadcast
    nested-loop over a single row rather than a BroadcastHashJoin."""
    df = REGISTRY["bm25_search"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") + count_broadcast_joins(df) >= 2
    assert "CartesianProduct" not in plan


def test_contamination_bench_set_broadcast(spark, sf_dir):
    """The benchmark gram set is eval-suite-sized: the membership probe
    must be a broadcast semi join, not a corpus-wide shuffle join."""
    df = REGISTRY["contamination_overlap"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin LeftSemi" in plan or (
        "LeftSemi" in plan and "Broadcast" in plan
    ), plan


def test_doc_chunks_is_narrow(spark, sf_dir):
    """Chunking is embarrassingly parallel: no shuffle beyond the output
    ordering's range partitioning."""
    from data_ingestion_system_spark.plans.inspect import count_shuffles

    df = REGISTRY["doc_chunks"].spark(spark, sf_dir)
    assert count_shuffles(df) <= 1, "chunking itself must not shuffle"


def test_range_join_is_equi_join(spark, sf_dir):
    """The bucketed range join must compile to a hash/sort-merge
    equi-join on (key, bucket) — never the nested-loop/cartesian plan a
    raw interval predicate produces."""
    df = REGISTRY["range_join_events"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_tfidf_vocabulary_broadcast(spark, sf_dir):
    """Document frequencies are vocabulary-sized — broadcast onto the
    (doc, term) counts, never a sort-merge join."""
    df = REGISTRY["tfidf_top_terms"].spark(spark, sf_dir)
    assert count_broadcast_joins(df) >= 1
    assert count_sort_merge_joins(df) == 0


def test_equi_depth_approx_no_global_sort(spark, sf_dir):
    """The scale-path equi-depth histogram must not contain the global
    single-partition Window/NTILE sort that makes `equi_depth_buckets` a
    one-task funnel at 100 TB. Bucket assignment is a broadcast of the
    1-row cut-point relation onto the corpus scan; the only
    single-partition exchanges allowed are the 1-row scalar aggregates
    inside the cut-point computation itself."""
    df = REGISTRY["equi_depth_buckets_approx"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert plan.count("Exchange SinglePartition") <= 2, plan
    assert "BroadcastExchange" in plan, "cut points must broadcast"
    # the corpus side must stay a plain scan feeding the bucket project,
    # never get sorted or shuffled before bucket assignment
    assert "CartesianProduct" not in plan, plan


def test_equi_depth_exact_dispatch_plans(spark, sf_dir):
    """`equi_depth_buckets` runs the distributed exact NTILE at every
    size: its final bucket-assignment pass must carry NO Window at all —
    the range exchange + the checkpointed scan feed a pure projection +
    10-group aggregate. Its answer is checked against DuckDB's NTILE by
    the oracle-parity suite."""
    dist = REGISTRY["equi_depth_buckets"].spark(spark, sf_dir)
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the only sort allowed is the final 10-row bucket ordering — the
    # corpus itself is never sorted
    for line in plan.splitlines():
        if "Sort [" in line:
            assert "bucket" in line, plan
    # the bucket projection runs straight off the checkpointed scan
    assert "CartesianProduct" not in plan, plan


def test_bigram_lm_model_broadcast(spark, sf_dir):
    """The bigram model (vocabulary-sized) broadcasts onto the per-doc
    bigrams; nothing degrades to a sort-merge join."""
    df = REGISTRY["bigram_lm_scores"].spark(spark, sf_dir)
    assert count_broadcast_joins(df) >= 2
    assert count_sort_merge_joins(df) == 0


def test_orphan_matrix_edges_stay_hash_joins(spark, sf_dir):
    """Every FK edge audit is a hash anti-join; the only single-partition
    exchanges are the seven 1-row count aggregates."""
    df = REGISTRY["orphan_check_matrix"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") <= 7, plan


def test_packing_window_is_per_document(spark, sf_dir):
    """Sequence packing must never need a global total order — its
    running sum is windowed per doc_id, so no single-partition exchange
    appears anywhere in the plan."""
    df = REGISTRY["pack_training_sequences"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" in plan  # the per-doc running total IS a window, scoped


def test_semdedup_pairwise_is_cell_bucketed(spark, sf_dir):
    """SemDeDup's pairwise stage must be an equi-join on cell_id (the
    cluster bucket) — never a cartesian/nested-loop over the corpus; the
    only nested loop allowed is the 16-row broadcast centroid scoring."""
    df = REGISTRY["semantic_dedup"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # centroid scoring is a 16-row broadcast; the member×member join
    # must key on cell_id (hash or sort-merge both acceptable)
    assert "cell_id" in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_semdedup_hier_pairwise_is_fine_cell_bucketed(spark, sf_dir):
    """The hierarchical twin's pairwise stage must equi-join on
    (cell_id, fine_id) — the two-level bucket — and the fine-centroid
    scoring must be a BROADCAST join on cell_id (the fine table is
    Kc·Kf ≤ 4096 rows); never a cartesian over the corpus."""
    df = REGISTRY["semantic_dedup_hier"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "fine_id" in plan

    # the fine-scoring join sits behind a checkpoint in the full query —
    # assert its broadcast shape on the builder directly
    from data_ingestion_system_spark.dedup.semdedup import (
        _normed,
        assign_cells,
        train_fine_centroids,
    )
    from data_ingestion_system_spark.similarity.ann import _as_double
    from data_ingestion_system_spark.similarity.ivf import train_centroids
    from data_ingestion_system_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", _as_double("embedding").alias("ev"))
    cassigned = assign_cells(_normed(v), train_centroids(v, n_cells=4)).drop("ccos")
    fcents = train_fine_centroids(cassigned, 4)
    fine_plan = simple_plan_str(assign_cells(cassigned, fcents, "fine_id", ("cell_id",), "fcos"))
    assert "CartesianProduct" not in fine_plan
    assert "BroadcastHashJoin" in fine_plan  # fine-table scoring join


def test_semdedup_hier_pair_term_is_size_dispatched(spark, sf_dir):
    """One operator, two physical plans, one answer (VERDICT r5 ask #1):
    below SEMDEDUP_BLAS_MIN_ROWS the hierarchical pair term is the
    relational (cell, fine)-bucketed self-join (whole-stage codegen, no
    Python workers); at/above the floor it is the per-group dgemm
    (FlatMapGroupsInPandas). Both sides asserted on the same builder."""
    from data_ingestion_system_spark.dedup.semdedup import (
        SEMDEDUP_BLAS_MIN_ROWS,
        _hier_fassigned,
        semdedup_group_stats,
    )

    n, fa = _hier_fassigned(spark, sf_dir)
    assert n < SEMDEDUP_BLAS_MIN_ROWS  # testdata sits below the floor

    def plan(rows):
        stats = semdedup_group_stats(fa, rows, ("cell_id", "fine_id"), "fcos")
        return stats._jdf.queryExecution().executedPlan().toString()

    small_plan = plan(n)
    assert "FlatMapGroupsInPandas" not in small_plan
    assert "fine_id" in small_plan  # the bucketed relational self-join

    assert "FlatMapGroupsInPandas" in plan(SEMDEDUP_BLAS_MIN_ROWS)


def test_quality_classifier_weights_broadcast(spark, sf_dir):
    """The B-row model table broadcasts onto the exploded token stream —
    the corpus never shuffles to meet its weights."""
    df = REGISTRY["quality_classifier_scores"].spark(spark, sf_dir)
    assert count_broadcast_joins(df) >= 1
    assert count_sort_merge_joins(df) == 0


def test_hybrid_retriever_sides_take_ordered(spark, sf_dir):
    """Each retriever reduces to top-FUSE_K via TakeOrdered (never a
    global sort of the corpus), and the fusion join is id-keyed."""
    df = REGISTRY["hybrid_rrf_search"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_nb_learned_weights_broadcast(spark, sf_dir):
    """The trained NB weight table is vocabulary-sized — it must
    broadcast onto the scoring token stream, same serving plan as the
    fixture-weight classifier."""
    df = REGISTRY["nb_weak_label_confusion"].spark(spark, sf_dir)
    assert count_broadcast_joins(df) >= 1


def test_sketch_refine_family_has_no_full_column_buffer(spark, sf_dir):
    """winsorize / grouped percentiles / PSI all ride the sketch-refine
    path: no ObjectHashAggregate percentile buffer and no
    single-partition global sort may appear."""
    for name in (
        "winsorized_stats",
        "grouped_percentiles_sketch_refine",
        "psi_drift",
        "robust_outlier_profile",
    ):
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "percentile(" not in plan, name  # exact-percentile buffer
        assert "CartesianProduct" not in plan, name


def test_substring_dedup_no_cartesian_and_digest_keys(spark, sf_dir):
    """The shingle count-back join must be a hash/SMJ on the digest —
    never a cartesian — and spans shuffle as md5 digests, not text."""
    df = REGISTRY["substring_dup_profile"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicated_spans_topk_is_take_ordered(spark, sf_dir):
    df = REGISTRY["duplicated_spans_topk"].spark(spark, sf_dir)
    assert is_take_ordered(df), "span top-k must compile to TakeOrderedAndProject"


def test_sliding_rate_single_user_shuffle(spark, sf_dir):
    """RANGE window + per-user rollup must not add extra exchanges: one
    shuffle to partition by user_id (plus the final ordering)."""
    from data_ingestion_system_spark.plans.inspect import count_shuffles

    df = REGISTRY["sliding_rate_limit"].spark(spark, sf_dir)
    # window partition + final orderBy range exchange; anything more means
    # the rollup re-shuffled needlessly
    assert count_shuffles(df) <= 3, simple_plan_str(df)


def test_kfold_assignment_is_shuffle_free_expression(spark, sf_dir):
    """Fold assignment itself must be a per-row expression: the only
    exchanges in kfold_balance are the k-row aggregate and final sort."""
    from data_ingestion_system_spark.operators.crossval import with_fold

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    folded = with_fold(docs, F.col("doc_id"))
    from data_ingestion_system_spark.plans.inspect import count_shuffles

    assert count_shuffles(folded) == 0, "fold id must not shuffle"


def simple_plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_windowed_funnel_stays_key_partitioned(spark, sf_dir):
    """The stage joins (click->view anchor, purchase->both anchors) must
    be hash joins on user_id with the time-box as residual predicate;
    the only nested-loop joins allowed are the final 1x1x1 scalar-count
    combines."""
    df = REGISTRY["funnel_within_window"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "CartesianProduct" not in plan
    hash_joins = plan.count("BroadcastHashJoin") + plan.count(
        "ShuffledHashJoin"
    ) + plan.count("SortMergeJoin")
    assert hash_joins >= 3, plan  # c->v, p->v, p->c all keyed on user_id
    # the scalar combine may nested-loop 1-row sides; never more than the
    # two crossJoins in the query text
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_event_paths_single_window_pass(spark, sf_dir):
    """Both LEADs share one window frame: exactly one per-user sort, and
    the top-k compiles to TakeOrdered."""
    df = REGISTRY["common_event_paths"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert plan.count("Window") == 1, plan
    assert is_take_ordered(df)


def test_fuzzy_linkage_is_block_keyed(spark, sf_dir):
    """Levenshtein pair generation must be an equi-join on the
    (lang, block_key) blocking key — the whole point of blocking is
    that no corpus x corpus plan ever exists."""
    df = REGISTRY["fuzzy_linkage_pairs"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "block_key" in plan
    assert is_take_ordered(df)  # ORDER BY + LIMIT 200 never global-sorts


def test_scd2_windows_stay_user_partitioned(spark, sf_dir):
    """Every window in the SCD2 chain is PARTITIONed BY user_id: the
    build is key-parallel, with no single-partition exchange before the
    final (display-only) output ordering."""
    df = REGISTRY["scd2_user_segments"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "windowspecdefinition(user_id" in plan, plan
    # the only acceptable SinglePartition exchange is the final ORDER BY
    # (rangepartitioning handles that); none may feed a Window
    before_last_sort = plan.split("Sort [user_id")[0]
    assert "Exchange SinglePartition" not in before_last_sort, plan


def test_ewma_joins_daily_aggregate_not_events(spark, sf_dir):
    """The 20-day kernel self-join runs on the daily aggregate (one row
    per type x day), never on raw events: the plan must aggregate
    (partial+final) BEFORE the join, and the join is event_type-keyed."""
    df = REGISTRY["ewma_daily_volume"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "CartesianProduct" not in plan, plan
    assert has_partial_aggregation(df)
    join_free_tail = plan.split("Join")[-1]
    assert "HashAggregate" in join_free_tail, (
        "aggregation must happen upstream of (below) the self-join"
    )


def test_chi2_margins_broadcast(spark, sf_dir):
    """Cells, margins, and the totals row are all aggregate-sized —
    every join in the chi-squared plan must broadcast; shuffling the
    margins would be wrong at any scale."""
    df = REGISTRY["chi2_lang_source"].spark(spark, sf_dir)
    assert count_sort_merge_joins(df) == 0
    plan = simple_plan_str(df)
    assert "CartesianProduct" not in plan, plan


def test_correlation_matrix_is_single_pass(spark, sf_dir):
    """All ten moment sums come from ONE corpus aggregation; the three
    output rows are unions over the same 1-row aggregate (Spark may
    re-run the subtree per branch, but each branch must be a scan ->
    aggregate with no join/shuffle beyond the final exchange)."""
    df = REGISTRY["metric_correlation_matrix"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "Join" not in plan, plan
    assert has_partial_aggregation(df)


def test_cdc_apply_single_key_shuffle(spark, sf_dir):
    """CDC collapse is one shuffle on the key feeding one per-key window:
    no join, no cartesian, no single-partition exchange before the final
    output ordering."""
    df = REGISTRY["cdc_apply_state"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "windowspecdefinition(key" in plan, plan
    assert "Join" not in plan, plan
    before_last_sort = plan.split("Sort [key")[0]
    assert "Exchange SinglePartition" not in before_last_sort, plan


def test_ks_cdf_window_runs_on_collapsed_support(spark, sf_dir):
    """The KS CDF window must run over (value, count) aggregates — the
    per-sample HashAggregates sit below the full-outer join and window,
    so the single-key window sees support-sized input, never raw events."""
    df = REGISTRY["ks_test_click_purchase"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert has_partial_aggregation(df)
    join_tail = plan.split("Join")[-1]
    assert "HashAggregate" in join_tail, plan  # aggregate below the join


def test_weighted_median_window_is_group_partitioned(spark, sf_dir):
    """The cumulative-weight window must be PARTITIONed BY the group and
    run over the collapsed (group, value, weight) support: partial+final
    aggregation below the window, no single-partition exchange."""
    df = REGISTRY["weighted_median_by_flag"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "windowspecdefinition(grp" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert has_partial_aggregation(df)


def test_rolling_wau_window_is_equi_join(spark, sf_dir):
    """The 7-day trailing window joins by exploded day keys — a raw
    interval predicate would nested-loop every presence row against the
    spine. No BroadcastNestedLoopJoin, no cartesian."""
    df = REGISTRY["rolling_wau"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_histogram_2d_bounds_broadcast(spark, sf_dir):
    """The min/max bounds row is 1-row — the bin-assignment scan joins
    it broadcast; the binned groupBy must map-side combine."""
    df = REGISTRY["histogram_2d"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "CartesianProduct" not in plan, plan
    assert has_partial_aggregation(df)


def test_source_vocab_jaccard_joins_on_token(spark, sf_dir):
    """The pair stage must be a token-keyed join of the DISTINCT
    (source, token) relation with itself — never a cartesian of
    vocabularies; size lookups broadcast."""
    df = REGISTRY["source_vocab_jaccard"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "token" in plan
    assert count_broadcast_joins(df) >= 2


def test_simhash_candidates_join_on_fingerprint_value(spark, sf_dir):
    """At scale the multiblock simhash searches candidates over the
    DISTINCT fingerprint-value relation and expands via value-keyed
    equi-joins — the plan must carry the distinct aggregate and
    simhash-keyed joins, and never a cartesian (the doc-level self-join
    this replaced went quadratic as the value space saturated). The
    query picks the direct doc-level block join below
    VALUE_COLLAPSE_MIN_DOCS (r5: the collapse constant cost ~1s at
    sf0.1 without buying anything), so the collapsed shape is asserted
    on the builder directly and the threshold dispatch separately."""
    from data_ingestion_system_spark.dedup.simhash import (
        simhash_fingerprints,
        simhash_pairs_multiblock_direct,
        simhash_pairs_multiblock_value_collapsed,
    )
    from data_ingestion_system_spark.tables import load_table

    mb = simhash_fingerprints(load_table(spark, sf_dir, "documents"))
    mb_collapsed = simple_plan_str(simhash_pairs_multiblock_value_collapsed(mb))
    assert "CartesianProduct" not in mb_collapsed
    assert "HashAggregate" in mb_collapsed
    mb_direct = simple_plan_str(simhash_pairs_multiblock_direct(mb))
    assert "CartesianProduct" not in mb_direct  # (t, bkey)-keyed equi-join
    assert "bkey" in mb_direct

    # the sf0.001 corpus (500 docs) is below the threshold → direct plan
    small = REGISTRY["near_dup_simhash_multiblock"].spark(spark, sf_dir)
    assert "CartesianProduct" not in simple_plan_str(small)


def test_simhash_multiblock_plans_agree(spark, sf_dir):
    """Same physical-shape-only guarantee for the 32-bit multi-table
    variant: direct (pair-level DISTINCT over shared blocks) and
    value-collapsed (cross/same split) builders return the identical
    pair set."""
    from data_ingestion_system_spark.dedup.simhash import (
        simhash_fingerprints,
        simhash_pairs_multiblock_direct,
        simhash_pairs_multiblock_value_collapsed,
    )
    from data_ingestion_system_spark.tables import load_table

    hashes = simhash_fingerprints(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    direct = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs_multiblock_direct(hashes).collect()
    }
    collapsed = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs_multiblock_value_collapsed(hashes).collect()
    }
    assert direct == collapsed
    assert len(direct) > 0


def test_embedding_dedup_bucket_join_is_adaptive_pmod(spark, sf_dir):
    """The near-dup pair stage must equi-join on the pmod-coarsened
    bucket of the checkpointed full-width LSH key — no cartesian, no
    per-pair norm recomputation (norms are checkpoint columns)."""
    df = REGISTRY["near_dup_embedding_cosine"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "pmod" in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_linkage_levenshtein_is_bounded(spark, sf_dir):
    """The pair stage must call the 3-arg (thresholded) levenshtein —
    the O(len·k) early-exit form — never the unbounded O(len²) one.
    (linkage_entities shares the pair builder, but its levenshtein runs
    inside the closure's eager edge checkpoint, so only the pair query's
    lazy plan can be inspected.)"""
    df = REGISTRY["fuzzy_linkage_pairs"].spark(spark, sf_dir)
    plan = simple_plan_str(df)
    assert "levenshtein" in plan, plan
    # the threshold renders as the third Some(k) argument
    import re as _re

    assert _re.search(r"levenshtein\([^)]*,[^)]*,\s*Some\(\d+\)", plan), plan


def test_pair_expansion_joins_pin_their_width(spark, sf_dir):
    """Bucketed candidate/pair joins pin their reduce width with a
    numbered repartition (tables.pin_join_width → REPARTITION_BY_NUM,
    the one shuffle origin AQE never coalesces). AQE's size-based
    coalesce sizes reduce partitions by MAP bytes and cannot see the
    in-bucket quadratic expansion — measured at sf10: hierarchical
    SemDeDup 536 s unpinned vs 166-218 s pinned. The pin is
    THRESHOLD-DISPATCHED (tables._past_floor): under PIN_MIN_ROWS /
    the bytes floor an AQE-coalesced tiny plan is cheaper, so at test
    scale size-aware queries must show ZERO pinned exchanges, while
    large/untraceable relations must pin. A plan that loses either side
    of the dispatch regresses silently — at scale or at small corpora —
    while staying correct."""
    from data_ingestion_system_spark.plans.inspect import count_pinned_repartitions
    from data_ingestion_system_spark.tables import PIN_MIN_ROWS

    # size-aware at sf0.001: corpus far below every floor → no pins,
    # AQE keeps its coalesced plan (checkpoint-fed lineages pass the
    # footer-statistics doc count to pick the dispatch)
    for name in (
        "near_dup_embedding_cosine",
        "fuzzy_linkage_pairs",
        "near_dup_simhash_multiblock",
        "near_dup_minhash_lsh",
        "near_dup_ngram_jaccard",
    ):
        df = REGISTRY[name].spark(spark, sf_dir)
        assert count_pinned_repartitions(df) == 0, name

    # the SemDeDup variants checkpoint their pair join (the lineage —
    # pin included — collapses to Scan ExistingRDD), so the dispatch is
    # asserted on the un-checkpointed builders: in-memory relations are
    # untraceable → pin, unless the caller-supplied count is under the
    # rows floor
    from data_ingestion_system_spark.dedup.semdedup import _bucket_pairs

    for keys, rank_col in ((("cell_id",), "ccos"), (("cell_id", "fine_id"), "fcos")):
        assigned = spark.createDataFrame(
            [(1, [1.0, 0.0], 1.0, *[0] * len(keys), 0.9)],
            "vec_id long, ev array<double>, nrm double, "
            + "".join(f"{k} long, " for k in keys)
            + f"{rank_col} double",
        )

        def pins(**kw):
            return count_pinned_repartitions(_bucket_pairs(assigned, keys, rank_col, **kw))

        assert pins() >= 1, keys
        assert pins(n_rows=PIN_MIN_ROWS) >= 1, keys
        assert pins(n_rows=PIN_MIN_ROWS - 1) == 0, keys


def test_equi_depth_distributed_exact_under_heavy_ties(spark, tmp_path):
    """Adversarial input for the distributed rank scheme: only 3 distinct
    prices over 40k rows, so every bucket boundary lands mid-tie (the
    tuple tiebreakers decide), and the range partitioner sees a 3-value
    key distribution (most partitions empty or single-value). The
    distributed answer must still equal the global NTILE window's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window

    from data_ingestion_system_spark.functions.scalar import round_port
    from data_ingestion_system_spark.operators.statistics import (
        N_DEPTH_BUCKETS,
        _equi_depth_exact_distributed,
    )
    from data_ingestion_system_spark.tables import load_table

    n = 40_000
    rng = np.random.default_rng(5)
    prices = np.array([10.0, 10.0, 10.0, 20.5, 99.9])[rng.integers(0, 5, n)]
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(rng.permutation(n).astype("int64")),
            "l_partkey": pa.array(np.zeros(n, dtype="int64")),
            "l_suppkey": pa.array(np.zeros(n, dtype="int64")),
            "l_linenumber": pa.array(np.ones(n, dtype="int32")),
            "l_quantity": np.ones(n),
            "l_extendedprice": prices,
            "l_discount": np.zeros(n),
            "l_tax": np.zeros(n),
            "l_returnflag": pa.array(["A"] * n),
            "l_linestatus": pa.array(["O"] * n),
            "l_shipdate": pa.array(
                np.full(n, np.datetime64("2024-01-01", "us"))
            ),
        }),
        str(tmp_path / "lineitem.parquet"),
    )
    li = load_table(spark, str(tmp_path), "lineitem")
    from pyspark.sql import functions as F

    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    direct = (
        li.select("l_extendedprice", F.ntile(N_DEPTH_BUCKETS).over(w).alias("bucket"))
        .groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            round_port(F.min("l_extendedprice"), 6).alias("lo"),
            round_port(F.max("l_extendedprice"), 6).alias("hi"),
            round_port(F.avg("l_extendedprice"), 6).alias("mean_price"),
        )
        .orderBy("bucket")
        .collect()
    )
    dist = _equi_depth_exact_distributed(li).collect()
    assert [r.asDict() for r in direct] == [r.asDict() for r in dist]
