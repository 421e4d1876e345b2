#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The headline set spans the engine's main plan shapes: broadcast-join
aggregation, large self-join, window analytics, stratified sampling,
exact + MinHash-LSH + SimHash dedup, ANN top-k, and text profiling.

Each query is timed REPS times and the MEDIAN is reported — this box
has ±15% run-to-run noise and single-shot numbers have twice produced
phantom round-over-round regressions. The ANN index (IVF centroids, PQ
codebooks) is trained once in warm-up: an index is built once and
served many times, so steady-state query latency is the honest number
(training cost is reported separately as `ann_index_train_sec`).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from data_ingestion_system_spark.registry import load_all
from data_ingestion_system_spark.session import codegen_counters, get_spark
from data_ingestion_system_spark.tables import release_session_checkpoints

HEADLINE = [
    "app_stats",
    "join_4way",
    "dynamic_filter",
    "self_join_theta",
    "history_lag_zscore",
    "stratified_split",
    "dedup_exact_stats",
    "near_dup_minhash_lsh",
    "ann_topk_bruteforce",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "near_dup_embedding_cosine",
    "inverted_index_search",
    "token_counts",
    "quality_flags",
    "corpus_prep_pipeline",
    # round-3 additions: scale-path equi-depth binning, the bigram-LM
    # quality filter, and the FK-audit matrix (7 anti-joins in one plan)
    "equi_depth_buckets_approx",
    "bigram_lm_scores",
    "orphan_check_matrix",
    # round-3 additions (late): cluster-bucketed semantic dedup over the
    # warmed quantizer, and the hashed-feature model-based quality gate
    "semantic_dedup",
    "quality_classifier_scores",
    "hybrid_rrf_search",
    # round-3 late additions: exact substring (k-token shingle) dedup —
    # the remaining dedup modality — and the islands streak window
    "substring_dup_profile",
    "gap_islands",
    # round-3 late additions 2: the warehouse tier — blocked-Levenshtein
    # linkage (block-join + edit distance), SCD2 interval build (the
    # three-window chain over events), and rolling 7-day distinct users
    # (explode-to-equi-join trailing window)
    "fuzzy_linkage_pairs",
    "scd2_user_segments",
    "rolling_wau",
    # round-4 additions: the widest join shape in the catalog (lineitem ⋈
    # orders ⋈ customer ⋈ nation ⋈ region rollup), CDC feed collapse +
    # state apply (single key shuffle), and iterative entity-resolution
    # closure (blocked linkage pairs → connected components) — the three
    # staged r3 shapes most likely to misbehave at scale
    "revenue_rollup_nation_year",
    "cdc_apply_state",
    "linkage_entities",
    # round-5 additions (VERDICT r4 ask #6): the two remaining
    # scale-interesting shapes, tracked round-over-round — the exact-recall
    # 32-bit simhash (output-bound, sink-measured) and the hierarchical
    # SemDeDup twin (the fix for the flat op's inherent n^1.5)
    "near_dup_simhash_multiblock",
    "semantic_dedup_hier",
    # round-7 addition: the exact equi-depth histogram, size-dispatched
    # this round to the distributed rank scheme (range-repartition +
    # boundary tuples) — at sf0.1 it runs the no-global-sort plan, the
    # shape worth tracking alongside its sketch-refine approx twin
    "equi_depth_buckets",
    # round-8 addition (VERDICT r7 ask #3): the multiblock-simhash
    # production surface — value-graph components + keepers, replacing
    # the demoted 16-bit pair diagnostic's slot; corpus-sized output, so
    # collect-measured like every keeper query
    "near_dup_simhash_multiblock_keepers",
]

REPS = 3  # median-of-3 per query

# Queries whose DEFINED answer is pair-scale (quadratically growing with
# corpus saturation — SCALING.md): the engine computes them in seconds,
# but `.collect()` serializes tens of millions of rows to the Python
# driver, a cost every real consumer avoids by writing to storage. These
# are timed via `.count()` (full plan executes engine-side; VERDICT r4
# ask #3); the driver-collect time is reported alongside once under
# `collect_sec` so r4↔r5 totals stay comparable.
OUTPUT_BOUND = {"near_dup_simhash_multiblock"}

# Keeper-surface queries (corpus-scale keeper/cluster rows — ~500k at
# sf10): the PRODUCTION contract for keeper output is a sink write, not
# a driver collect (CONVENTIONS.md §6/§7; VERDICT r8 ask #3). These are
# timed per-rep via a parquet sink write to a temp dir; the
# driver-collect time is reported once under `collect_sec` so r8↔r9
# totals stay comparable (the same split OUTPUT_BOUND uses).
KEEPER_SINK = {"near_dup_simhash_multiblock_keepers"}
# timing-convention changes by round: (names, first round with the new
# convention) — box_cal must not read a convention flip as box drift
_CONVENTION_CHANGED = {"near_dup_simhash_multiblock_keepers": 9}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None
    spark = get_spark(app_name="dis-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    master = spark.sparkContext.master
    # Silence DAGScheduler's "Failed to update accumulator" stack traces:
    # AQE-cancelled stage tasks completing after a driver GC has cleared
    # their weak-ref'd SQLMetrics trip a benign scheduler race (verified:
    # reproducible by forcing System.gc() between queries; query results
    # unaffected). Real scheduler failures still propagate to this process
    # as exceptions — only the log channel is narrowed, only in bench.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
    )
    registry = load_all()

    # warm-up: JVM JIT + file-listing, not counted
    registry["group_frequency"].spark(spark, sf_dir).collect()
    # ANN index build (IVF centroids + PQ codebooks), timed separately —
    # headline ANN queries then measure serving against the built index
    from data_ingestion_system_spark.similarity.ivf import warm_index_cache

    t0 = time.perf_counter()
    warm_index_cache(spark, sf_dir)
    train_sec = round(time.perf_counter() - t0, 3)

    times: dict[str, float] = {}
    collect_sec: dict[str, float] = {}
    compiles: dict[str, list[int]] = {}
    compile_ms: dict[str, list[float]] = {}
    import shutil
    import tempfile

    sink_root = tempfile.mkdtemp(prefix="bench_keeper_sink_")
    for name in HEADLINE:
        walls, _, compiles[name], compile_ms[name] = time_query(
            spark, registry, name, sf_dir, REPS, sink_root
        )
        times[name] = round(statistics.median(walls), 3)
        if name in OUTPUT_BOUND or name in KEEPER_SINK:
            t0 = time.perf_counter()
            registry[name].spark(spark, sf_dir).collect()
            collect_sec[name] = round(time.perf_counter() - t0, 3)
    shutil.rmtree(sink_root, ignore_errors=True)

    total = round(sum(times.values()), 3)
    # Box calibration (VERDICT r6 ask #1): this box drifts ±50%
    # run-to-run, so raw cross-round deltas are box-confounded. The r5/r6
    # scheme normalized by a separate single-snapshot reference-workload
    # run, which cannot track drift ACROSS a 50 s bench session — r6's
    # run said the box was 10% faster while code-untouched queries ran
    # 1.2-2.3x slower, yielding a phantom normalized regression. The
    # estimator is now SELF-normalizing: the median per-query ratio (this
    # round / previous round) over queries whose implementing module is
    # UNCHANGED since the previous BENCH file was committed (git diff).
    # Untouched queries normalize to ~1.0x by construction; touched
    # queries' normalized deltas are then code-caused, box-corrected.
    boxcal = _box_factor(times, registry, sf, cpus)
    # r11 (VERDICT r10 ask #2, after two consecutive self-stamped-noisy
    # official sessions): the primary `value` is the box-CALIBRATED total
    # — raw total divided by the untouched-query median ratio vs the
    # previous round's BENCH file — whenever that calibration exists
    # (same SF, >= 5 untouched queries). The raw sum stays alongside as
    # `raw_total`, and `queries` remain the raw per-query medians, so
    # every historical per-query comparison is unaffected; only the
    # headline number stops being box-weather-confounded. Sessions with
    # no same-SF predecessor (e.g. the sf1.0 sidecar run) keep raw.
    value = total
    if boxcal:
        value = round(total / boxcal["factor"], 3)
    full = {
        "metric": "headline_queries_total",
        "value": value,
        "unit": "sec",
        "raw_total": total,
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "master": master,
        "reps": REPS,
        "collect_sec": collect_sec,
        "ann_index_train_sec": train_sec,
        "box_cal": boxcal,
        "data_manifest": _data_manifest(sf_dir),
        # per query and rep: Janino compiles (generated-class cache
        # misses) and their milliseconds; `codegen_session_compiles` is
        # the session's total, warm-up and index training included
        "codegen_compiles": compiles,
        "codegen_ms": compile_ms,
        "codegen_session_compiles": codegen_counters(spark)[0],
    }
    if boxcal:
        norm = {k: round(v / boxcal["factor"], 3) for k, v in times.items()}
        full["normalized_vs_prev"] = norm
        full["normalized_vs_prev_total"] = round(sum(norm.values()), 3)
    # full detail to a sidecar; stdout stays ONE lean line — the driver
    # records only the last ~2000 chars of stdout, and r6's fat line got
    # truncated past parseability (BENCH_r06.json: parsed=null)
    try:
        os.makedirs(os.path.join(_REPO, "bench_results"), exist_ok=True)
        with open(os.path.join(_REPO, "bench_results", "last_bench_full.json"), "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    lean = {
        "metric": "headline_queries_total",
        "value": value,
        "unit": "sec",
        "raw_total": total,
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "master": master,
        "reps": REPS,
        "ann_index_train_sec": train_sec,
        "box_cal": (
            {
                k: boxcal[k]
                for k in (
                    "prev_bench",
                    "factor",
                    "n_untouched",
                    "ratio_p25",
                    "ratio_p75",
                    "noisy_box",
                )
            }
            if boxcal
            else None
        ),
        "normalized_vs_prev_total": full.get("normalized_vs_prev_total"),
        "manifest_seed": full["data_manifest"].get("seed"),
    }
    print(json.dumps(lean))


def time_query(
    spark, registry: dict, name: str, sf_dir: str, reps: int, sink_root: str
) -> tuple[list[float], int | None, list[int], list[float]]:
    """Time `reps` runs of one catalog query; returns (walls in seconds,
    answer rows, and per rep the classes Janino compiled and their
    milliseconds). OUTPUT_BOUND queries run via .count() (the count is
    the row count), KEEPER_SINK queries write parquet under `sink_root`
    (rows read from the written footers afterwards, untimed), everything
    else is .collect()ed. The compile counters are read outside the
    timed span and run no Spark job."""
    walls, rows, compiles, compile_ms = [], None, [], []
    for _ in range(reps):
        # free finished runs' checkpoint blocks so no rep is measured
        # under another's leftover storage pressure
        # (tables.release_session_checkpoints — scale-failure class #6).
        # Per-REP, not just per-query: an iterative query's rep 1
        # otherwise leaves ~20 rounds of component checkpoints pinned
        # under reps 2-3, and dedup_clusters reps were observed growing
        # 9.8 -> 12.1 -> 17.8 s at sf1.0 from exactly that. (The ANN
        # index cache is driver-row-mirrored, so the release cannot
        # evict it.)
        release_session_checkpoints(spark)
        n0, ms0 = codegen_counters(spark)
        t0 = time.perf_counter()
        df = registry[name].spark(spark, sf_dir)
        if name in OUTPUT_BOUND:
            rows = df.count()
        elif name in KEEPER_SINK:
            # keeper-scale outputs are WRITTEN, not collected
            # (CONVENTIONS.md §6/§7) — the sink write is the production
            # contract being timed
            df.write.mode("overwrite").parquet(os.path.join(sink_root, name))
        else:
            rows = len(df.collect())
        walls.append(time.perf_counter() - t0)
        n1, ms1 = codegen_counters(spark)
        compiles.append(n1 - n0)
        compile_ms.append(round(ms1 - ms0, 1))
    if name in KEEPER_SINK:
        rows = _parquet_rows(os.path.join(sink_root, name))
    return walls, rows, compiles, compile_ms


def _parquet_rows(path: str) -> int:
    import glob

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(path, "*.parquet"))
    )


def _box_factor(
    times: dict, registry: dict, sf: float | None, cpus: int | None
) -> dict | None:
    """Session box-speed factor vs the previous round's bench: median of
    per-query time ratios over code-untouched headline queries.

    Untouched = neither the query's implementing module file (where its
    registered callable is defined) NOR any package-internal module it
    transitively imports (r11: a query registered in simhash.py rides
    clusters.py's component loop — an edit there must not read as box
    drift) has a diff since the commit that last touched the previous
    BENCH_r{N}.json. Shared-infrastructure edits (session/tables/
    registry/functions) are NOT excluded — a change that shifts every
    query uniformly is indistinguishable from box drift by this
    estimator and lands in the factor; per-query module edits are the
    ones that must not contaminate the box estimate, and those are
    excluded. Dispersion (p25/p75 of the untouched ratios) is reported
    so a wide spread flags an untrustworthy factor."""
    import glob
    import inspect
    import re
    import subprocess

    benches = sorted(
        glob.glob(os.path.join(_REPO, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if not benches:
        return None
    prev_path = benches[-1]
    prev_n = int(re.search(r"r(\d+)", os.path.basename(prev_path)).group(1))
    try:
        with open(prev_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    # ratios are only box signal when both rounds measured the same
    # corpus scale (an sf0.001 smoke vs an sf0.1 round is 0.76x of
    # nothing)
    if sf is not None and prev.get("sf") is not None and prev["sf"] != sf:
        return None
    # nor across core counts: a 4-core session against a 32-core record
    # measures the hardware, not the box's drift. The driver's wrapper
    # carries `cpus`; a record without it cannot show it ran on this box
    parsed = prev.get("parsed") if isinstance(prev.get("parsed"), dict) else {}
    if (prev.get("cpus") or parsed.get("cpus")) != cpus:
        return None
    # the driver's BENCH_r{N}.json wraps bench stdout: per-query times
    # live under parsed.queries (parsed is null when the line was
    # tail-truncated — r6 — in which case the builder's round-stamped
    # sidecar in bench_results/ carries the same run's full detail)
    prev_q = prev.get("queries") or (prev.get("parsed") or {}).get("queries") or {}
    if not prev_q:
        for cand in glob.glob(
            os.path.join(_REPO, "bench_results", f"bench_sf*_r{prev_n:02d}.json")
        ):
            try:
                with open(cand) as f:
                    side = json.load(f)
            except (OSError, ValueError):
                continue
            # a round can leave sidecars at several scales (r4 shipped
            # sf0.1 AND sf1.0) — an sf-mismatched one would make every
            # ratio ~sf_prev/sf_now and fabricate a huge box factor
            if sf is not None and side.get("sf") is not None and side["sf"] != sf:
                continue
            prev_q = side.get("queries", {})
            if prev_q:
                break
    if not prev_q:
        return None
    changed: set[str] = set()
    try:
        commit = subprocess.run(
            ["git", "log", "-n1", "--format=%H", "--", os.path.basename(prev_path)],
            cwd=_REPO, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if commit:
            diff = subprocess.run(
                ["git", "diff", "--name-only", commit],
                cwd=_REPO, capture_output=True, text=True, timeout=30,
            ).stdout
            changed = {ln.strip() for ln in diff.splitlines() if ln.strip().endswith(".py")}
    except (OSError, subprocess.SubprocessError):
        pass  # no git → no exclusions; the median is still skew-robust
    # a timing-convention flip (collect → sink write) is not box signal
    convention_flip = {n for n, since in _CONVENTION_CHANGED.items() if prev_n < since}
    dep_cache: dict[str, set] = {}
    ratios: dict[str, float] = {}
    excluded: list[str] = []
    for name, t in times.items():
        pt = prev_q.get(name)
        if not pt or pt <= 0:
            continue
        try:
            mod = os.path.relpath(inspect.getfile(registry[name].spark), _REPO)
        except (TypeError, OSError):
            mod = None
        deps = _internal_deps(mod, dep_cache) if mod else set()
        if mod in changed or (deps & changed) or name in convention_flip:
            excluded.append(name)
            continue
        ratios[name] = t / pt
    if len(ratios) < 5:
        return None
    vals = sorted(ratios.values())
    med = statistics.median(vals)
    p25 = vals[len(vals) // 4]
    p75 = vals[(3 * len(vals)) // 4]
    return {
        "prev_bench": os.path.basename(prev_path),
        "factor": round(med, 4),
        "n_untouched": len(vals),
        "excluded_touched": sorted(excluded),
        "ratio_p25": round(p25, 4),
        "ratio_p75": round(p75, 4),
        # CONVENTIONS.md §7 (r8 ask #6): when the untouched-query ratio
        # quartiles spread past ±15% around the median, the box was
        # drifting WITHIN this session and per-query deltas from this
        # run must not be cited as performance evidence.
        "noisy_box": bool(p75 > 1.15 * med or p25 < 0.85 * med),
    }


# Modules whose edits shift every query roughly uniformly (the factor
# docstring's rationale for keeping shared infrastructure IN the box
# estimate) — the transitive dependency walk stops at them.
_DEP_INFRA = {
    "data_ingestion_system_spark/session.py",
    "data_ingestion_system_spark/tables.py",
    "data_ingestion_system_spark/registry.py",
}


def _internal_deps(mod: str | None, cache: dict) -> set:
    """Transitive package-internal imports of a repo-relative module file
    (regex over the source, so function-level imports count), with the
    uniform-shift infra modules (and functions/*) excluded from the walk.
    Used by _box_factor: a query whose DEPENDENCY changed is touched."""
    import re

    if not mod or not mod.startswith("data_ingestion_system_spark"):
        return set()
    if mod in cache:
        return cache[mod]
    cache[mod] = set()  # cycle guard
    deps: set = set()
    try:
        with open(os.path.join(_REPO, mod)) as f:
            src = f.read()
    except OSError:
        return deps
    pat = re.compile(
        r"^\s*(?:from|import)\s+(data_ingestion_system_spark(?:\.\w+)*)", re.M
    )
    for m in pat.finditer(src):
        rel = m.group(1).replace(".", "/")
        for cand in (rel + ".py", rel + "/__init__.py"):
            if os.path.exists(os.path.join(_REPO, cand)):
                if cand in _DEP_INFRA or cand.startswith(
                    "data_ingestion_system_spark/functions/"
                ):
                    break
                if cand != mod:
                    deps.add(cand)
                    deps |= _internal_deps(cand, cache)
                break
    cache[mod] = deps
    return deps


def _data_manifest(sf_dir: str) -> dict:
    """Provenance of the measured corpus (VERDICT r5 ask #3). Generated
    dirs carry tools/gen_bench_data.py's manifest.json (generator digest,
    seed, per-table rows + digests); driver-shipped testdata has none, so
    fall back to a cheap stat fingerprint + footer row counts — enough to
    detect silent regeneration between rounds."""
    path = os.path.join(sf_dir, "manifest.json")
    if os.path.exists(path):
        with open(path) as f:
            m = json.load(f)
        return {
            "source": "manifest",
            "generator_sha256": m.get("generator_sha256"),
            "seed": m.get("seed"),
            "rows": {t: v.get("rows") for t, v in m.get("tables", {}).items()},
        }
    import glob
    import hashlib

    import pyarrow.parquet as pq

    rows = {}
    stat_parts = []
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p).removesuffix(".parquet")
        st = os.stat(p)
        stat_parts.append(f"{name}|{st.st_size}|{st.st_mtime_ns}")
        rows[name] = pq.ParquetFile(p).metadata.num_rows
    return {
        "source": "stat",
        "fingerprint": hashlib.md5("\n".join(stat_parts).encode()).hexdigest(),
        "rows": rows,
    }


if __name__ == "__main__":
    main()
