"""End-to-end training-corpus preparation pipeline.

The flagship composition of the LLM-data extension family — the job a
training-data team actually runs, wired from the library's own stages:

    1. quality  — Gopher-style repetition filters (text/repetition.py)
    2. model    — fastText-style hashed-feature classifier gate
                  (text/classifier.py; heuristics pass first, the
                  learned filter prunes what they can't see — the
                  CCNet/GPT-3 two-tier quality stack)
    3. dedup    — MinHash-LSH pairs closed into clusters, keep one doc
                  per duplicate group (dedup/clusters.py)
    4. decontam — drop docs overlapping the held-out eval slice, and
                  the eval slice itself (text/contamination.py)
    5. chunk    — cut survivors into 64-token training windows
                  (text/chunking.py)

Output is the per-source yield report (candidates → kept → chunks →
tokens), which is what a pipeline owner monitors per ingestion round.

The DuckDB oracle composes the SAME stage definitions (shared CTE
bodies from each module) into one statement, so the differential test
verifies the composition — filter interaction included — not just each
stage in isolation.

At 100 TB each stage is one corpus pass over narrow relations, and the
expensive intermediates (shingle sets, pair graph) are exactly the ones
the standalone queries already bound; a production run would persist
stage outputs between rounds (the incremental variant of the dedup
stage exists in streaming/neardup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.dedup.clusters import connected_components
from data_ingestion_system_spark.dedup.minhash import (
    JACCARD_THRESHOLD,
    PAIR_CTES,
    minhash_pairs,
)
from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import corpus_checkpoint, load_table
from data_ingestion_system_spark.text.classifier import (
    CLASSIFIER_CTES,
    hashed_weight_table,
    score_documents,
)
from data_ingestion_system_spark.text.contamination import (
    BENCH_MOD,
    CONTAM_CTES,
    FLAG_FRAC,
    doc_ngrams,
)
from data_ingestion_system_spark.text.repetition import (
    DUP_TRIGRAM_MAX,
    REPETITION_CTES,
    REPETITION_KEEP_SQL,
    TOP_BIGRAM_MAX,
    TOP_WORD_MAX,
    repetition_metrics,
)

_ORACLE = f"""
WITH RECURSIVE {PAIR_CTES},
dpairs AS (
  SELECT doc_a, doc_b FROM jacs WHERE jac >= {JACCARD_THRESHOLD}
), dedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM dpairs
), dnodes AS (
  SELECT DISTINCT src AS doc_id FROM dedges
), dwalk(doc_id, label) AS (
  SELECT doc_id, doc_id FROM dnodes
  UNION
  SELECT e.dst, w.label FROM dwalk w JOIN dedges e ON e.src = w.doc_id
), dcomp AS (
  SELECT doc_id, MIN(label) AS cluster_id FROM dwalk GROUP BY doc_id
),
{REPETITION_CTES},
{CONTAM_CTES},
{CLASSIFIER_CTES},
kept AS (
  SELECT d.doc_id, d.source, rt.ts
  FROM documents d
  JOIN rmetrics m ON m.doc_id = d.doc_id
  JOIN rtoks rt ON rt.doc_id = d.doc_id
  JOIN clfscored cs ON cs.doc_id = d.doc_id
  LEFT JOIN dcomp dc ON dc.doc_id = d.doc_id
  LEFT JOIN cflags cf ON cf.doc_id = d.doc_id
  WHERE d.doc_id % {BENCH_MOD} <> 0
    AND {REPETITION_KEEP_SQL}
    AND cs.keep = 1
    AND (dc.cluster_id IS NULL OR dc.cluster_id = d.doc_id)
    AND COALESCE(cf.contamination_frac < {FLAG_FRAC}, TRUE)
), chunkrows AS (
  SELECT doc_id, source,
         len(ts[CAST(s AS BIGINT) + 1 : CAST(s AS BIGINT) + 64]) AS n_toks
  FROM kept, UNNEST(range(0, len(ts), 48)) AS r(s)
), scand AS (
  SELECT source, COUNT(*) AS n_candidates FROM documents
  WHERE doc_id % {BENCH_MOD} <> 0 GROUP BY source
), keptagg AS (
  SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source
), chunkagg AS (
  SELECT source, COUNT(*) AS n_chunks, SUM(n_toks) AS n_tokens
  FROM chunkrows GROUP BY source
)
SELECT c.source, c.n_candidates,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(g.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(g.n_tokens, 0) AS BIGINT) AS n_tokens
FROM scand c
LEFT JOIN keptagg k ON k.source = c.source
LEFT JOIN chunkagg g ON g.source = c.source
ORDER BY c.source
"""


def stage_quality_ids(
    docs: DataFrame,
    toks: DataFrame | None = None,
    with_len: bool = False,
) -> DataFrame:
    """Stage 1: doc_ids passing the Gopher repetition filters.

    ``with_len`` additionally emits the doc's token count ``n_words``
    (= size(ts), the row-local metric the filter computed anyway) — the
    yield report's closed-form chunk arithmetic consumes it, so the
    pipeline never needs a per-word count relation just to recover L
    (r11; the r10 shape aggregated the word-count relation back into a
    per-doc sum the quality stage had already computed)."""
    m = repetition_metrics(docs, toks=toks)
    rep_keep = (
        (F.col("top_word_frac") <= TOP_WORD_MAX)
        & F.coalesce(F.col("top_bigram_frac") <= TOP_BIGRAM_MAX, F.lit(True))
        & F.coalesce(F.col("dup_trigram_frac") <= DUP_TRIGRAM_MAX, F.lit(True))
    )
    cols = ["doc_id", "n_words"] if with_len else ["doc_id"]
    return m.filter(rep_keep).select(*cols)


def stage_clf_keep_ids(docs: DataFrame, toks: DataFrame | None = None) -> DataFrame:
    """Stage 2: doc_ids the model-based quality gate keeps (fixture
    weights — production loads an exported model)."""
    return (
        score_documents(docs, hashed_weight_table(docs.sparkSession), toks=toks)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )


def stage_contaminated(
    docs: DataFrame, toks: DataFrame | None = None, n_docs: int | None = None
) -> DataFrame:
    """Stage 4: doc_ids whose n-gram overlap with the eval slice crosses
    the contamination threshold."""
    from data_ingestion_system_spark.tables import bulk_checkpoint

    # corpus-sized (every doc's contamination n-grams) → DISK_ONLY
    grams = bulk_checkpoint(doc_ngrams(docs, toks=toks), eager=False, n_rows=n_docs)
    is_bench = F.pmod("doc_id", F.lit(BENCH_MOD)) == 0
    bench_grams = grams.filter(is_bench).select("gram").distinct()
    train_grams = grams.filter(~is_bench)
    totals = train_grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .filter(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("n_grams")
            >= FLAG_FRAC
        )
        .select("doc_id")
    )


def stage_dup_drop(
    docs: DataFrame, toks: DataFrame | None = None, n_docs: int | None = None
) -> DataFrame:
    """Stage 3: doc_ids dropped as non-canonical members of near-dup
    clusters (closure over the FULL corpus — a doc whose cluster canon
    is an eval doc is dropped, same as the SQL)."""
    pairs, _ = minhash_pairs(docs, toks=toks, n_docs=n_docs)
    comp = connected_components(pairs)
    return comp.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")


# Above this corpus size the four stage DAGs materialize serially instead
# of in a 4-thread pool: each corpus-scale stage saturates the executors
# alone, so concurrent submission adds no throughput — it multiplies the
# peak working set (4 concurrent corpus DAGs OOM'd the sf30 heap while
# every stage runs comfortably standalone). Floor chosen at the sf1.0
# corpus size (50k docs ≪ 200k), where the parallel plan's latency win is
# measured and memory is far from pressure.
PIPELINE_PARALLEL_MAX_DOCS = 200_000


@query("corpus_prep_pipeline", oracle=_ORACLE, survey="EXT-pipeline")
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-corpus yield: candidate docs (outside the
    eval slice) → docs surviving quality + dedup + decontamination →
    chunks and tokens emitted."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # footer statistics — picks the verify-join dispatch
    # Stage materialization is SIZE-DISPATCHED (§4d two-physical-plans):
    #
    # Below PIPELINE_PARALLEL_MAX_DOCS the four filter stages materialize
    # in PARALLEL — they are independent DAGs, the dup stage's serial
    # chain (shingles → signatures → banded pairs → verify → iterative
    # closure) is the critical path, and overlapping it with the
    # quality/classifier/contamination passes (Spark schedules
    # concurrently-submitted jobs across the same executors) is pure
    # latency win while every working set is small. The dup stage
    # tokenizes independently there so it starts at t=0 instead of
    # behind the toks checkpoint.
    #
    # Above the floor the stages run SERIALLY and the dup stage REUSES
    # the shared token relation: each corpus-scale stage saturates the
    # executors by itself, so concurrency buys no throughput — it only
    # multiplies the peak working set, which is exactly how the sf30 run
    # (1.5M docs, 4 concurrent corpus DAGs in one heap) died of
    # Java-heap OOM while every stage completes comfortably alone.
    #
    # Within the token-based stages the corpus is tokenized ONCE
    # (fan_out + split, checkpointed) and every stage consumes that one
    # relation: the repetition filters row-locally, the classifier by
    # exploding it into its feature stream (the round-3 bench showed the
    # classifier stage re-tokenizing what stage 1 had already
    # tokenized). The r10 shape additionally built a per-(doc, word)
    # count relation for the classifier and the yield report's doc
    # lengths; r11 removes it — the classifier's
    # token-stream path is one corpus pass with a map-side-compacted
    # per-doc aggregate (vs explode + vocabulary groupBy + decimal
    # c·w aggregate, measured the heaviest sf1.0 stage), and the yield
    # report takes L from the quality stage's row-local n_words.
    from concurrent.futures import ThreadPoolExecutor

    from data_ingestion_system_spark.tables import bulk_checkpoint, fan_out

    def _ckpt(df: DataFrame) -> DataFrame:
        return corpus_checkpoint(df, eager=True)

    def _toks() -> DataFrame:
        # the token relation is CORPUS-SIZED (every doc's split array) —
        # MEMORY_AND_DISK blocks here starved the sf30 heap (class #5,
        # tables.bulk_checkpoint); the per-stage outputs are doc-id
        # lists / vocabulary aggregates and stay memory-resident
        return bulk_checkpoint(
            fan_out(docs, "doc_id").select(
                "doc_id", "source", F.split("text", " ").alias("ts")
            ),
            n_rows=n_docs,
        )

    if n_docs <= PIPELINE_PARALLEL_MAX_DOCS:
        with ThreadPoolExecutor(max_workers=4) as pool:
            dup_fut = pool.submit(lambda: _ckpt(stage_dup_drop(docs, n_docs=n_docs)))
            toks = _toks()
            q_fut = pool.submit(
                lambda: _ckpt(stage_quality_ids(docs, toks=toks, with_len=True))
            )
            clf_fut = pool.submit(lambda: _ckpt(stage_clf_keep_ids(docs, toks=toks)))
            contam_fut = pool.submit(lambda: _ckpt(stage_contaminated(docs, toks=toks, n_docs=n_docs)))

            quality_ids = q_fut.result()
            clf_keep_ids = clf_fut.result()
            contaminated = contam_fut.result()
            dup_drop = dup_fut.result()
    else:
        toks = _toks()
        quality_ids = _ckpt(stage_quality_ids(docs, toks=toks, with_len=True))
        clf_keep_ids = _ckpt(stage_clf_keep_ids(docs, toks=toks))
        contaminated = _ckpt(stage_contaminated(docs, toks=toks, n_docs=n_docs))
        # heaviest stage last, reusing the disk-resident token relation
        dup_drop = _ckpt(stage_dup_drop(docs, toks=toks, n_docs=n_docs))

    candidates = docs.filter(~(F.pmod("doc_id", F.lit(BENCH_MOD)) == 0))
    # the quality join is INNER (one row per doc in quality_ids), so it
    # filters exactly like the r10 left_semi AND attaches n_words
    survivors = (
        candidates.select("doc_id", "source")
        .join(quality_ids, "doc_id")
        .join(clf_keep_ids, "doc_id", "left_semi")
        .join(dup_drop, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )

    # stage 5: yield report per source. The chunk/token counts the report
    # needs are CLOSED-FORM integer arithmetic over each doc's word count
    # L (guide §2.4 — remove the shuffle/pass outright): the window
    # explode in chunk_documents emits floor((L-1)/STRIDE)+1 rows whose
    # n_tokens are min(CHUNK_TOKENS, L - s) for s in sequence(0, L-1,
    # STRIDE), so `size(sequence(...))` and an `aggregate()` over the
    # same sequence reproduce COUNT(*) and SUM(n_tokens) per doc exactly
    # (same integers, engines agree) without materializing the kept
    # corpus text, exploding windows, or re-joining source — the r9
    # shape checkpointed every kept doc's full text (DISK_ONLY) and ran
    # the explode + join + two groupBys the counts never needed. L is
    # the quality stage's row-local n_words (= size(ts); the r10 shape
    # recovered the same integer as sum(c) over the word-count relation,
    # empty docs included: split('') = ['']), already riding on
    # `survivors` — the final pass never touches text at all, and at
    # 100 TB the yield report is metadata-scale end to end.
    from data_ingestion_system_spark.text.chunking import CHUNK_TOKENS, STRIDE

    starts = f"sequence(0, CAST(n_words AS INT) - 1, {STRIDE})"
    per_doc = survivors.select(
        "source",
        F.expr(f"CAST(size({starts}) AS BIGINT)").alias("n_chunks"),
        F.expr(
            f"aggregate({starts}, CAST(0 AS BIGINT),"
            f" (acc, s) -> acc + least({CHUNK_TOKENS}, CAST(n_words AS INT) - s))"
        ).alias("n_tokens"),
    )
    cand_agg = candidates.groupBy("source").agg(F.count("*").alias("n_candidates"))
    kept_agg = per_doc.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chunks").alias("n_chunks"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return (
        cand_agg.join(kept_agg, "source", "left")
        .select(
            "source",
            "n_candidates",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
        .orderBy("source")
    )
