"""Table loading + catalog registration for the driver's testdata.

Loads are always schema-explicit (SURVEY.md §1.3) so column pruning and
filter pushdown operate on a known shape; `.explain` on any downstream query
should show PushedFilters/ReadSchema reaching the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from data_ingestion_system_spark.schemas import TESTDATA_SCHEMAS

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# memo of the events.ts footer sniff, keyed by (path, mtime, size) so a
# regenerated file at the same path re-sniffs instead of serving a stale
# unit decision (a stat call per load vs a footer read per load)
_EVENTS_TS_IS_LONG: dict[tuple, bool] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its explicit schema."""
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TESTDATA_SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
        # across testdata generations. Spark can't read NANOS natively; with
        # legacy.parquet.nanosAsLong the footer-inferred type comes back as
        # LongType (epoch nanos) and we truncate to micros with integer
        # division (a double round-trip would lose precision at ~1.7e18 —
        # matches DuckDB's nanos→micros truncation exactly). MICROS files
        # infer as TimestampType and read directly. Sniff the footer once
        # per path (the answer is fixed per file; every events query would
        # otherwise pay a listing + footer read just to re-learn it).
        st = os.stat(path)
        memo_key = (path, st.st_mtime_ns, st.st_size)
        if memo_key not in _EVENTS_TS_IS_LONG:
            inferred_ts = spark.read.parquet(path).schema["ts"].dataType
            _EVENTS_TS_IS_LONG[memo_key] = isinstance(inferred_ts, LongType)
        if _EVENTS_TS_IS_LONG[memo_key]:
            from pyspark.sql import functions as F

            # the declared events contract with ts swapped to raw nanos —
            # derived, not duplicated, so schemas.py changes propagate
            raw_schema = StructType([
                StructField(
                    f.name,
                    LongType() if f.name == "ts" else f.dataType,
                    f.nullable,
                )
                for f in TESTDATA_SCHEMAS["events"].fields
            ])
            raw = spark.read.schema(raw_schema).parquet(path)
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def has_parquet(path: str) -> bool:
    """Whether `path` is a directory holding at least one parquet file,
    at its root or in partition subdirs (`batch_id=<n>/...`)."""
    return any(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (SQL entry point).

    The reference exposes derived relations as SQLite views
    (reference: src/database/schema.sql:209-404); temp views are the Spark
    equivalent — named logical plans inlined by Catalyst.
    """
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition to the session's default parallelism ahead of
    expression-heavy per-row stages (explode / hash chains).

    At 100 TB a parquet scan arrives in thousands of splits and this
    shuffle is dwarfed by the work it feeds; on a small single-file scan
    (local testdata, one row-group) the scan yields ONE partition, so
    without the fan-out a single task would execute the entire
    explode+md5 chain serially while 31 cores idle. Shuffling the raw
    rows is far cheaper than serializing the exploded rows. Hash keys
    keep per-doc work co-located for downstream per-doc aggregates.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys) if keys else df.repartition(n)


# below this input size a fan-out shuffle costs more than it buys:
# ~32 scheduled tasks vs a single task over a few MB of rows
_FAN_OUT_MIN_BYTES = 8 * 1024 * 1024


def fan_out_if_narrow(
    df: DataFrame, *keys: str, min_bytes: int = _FAN_OUT_MIN_BYTES
) -> DataFrame:
    """`fan_out`, gated on the scan's estimated arrival parallelism (§4d
    threshold-dispatch: two physical plans, one answer).

    Unconditional fan-out is right when per-row work dwarfs a shuffle
    (explode/md5 chains); for moderately-priced per-row stages (GK
    sketch inserts, the percentile refine scan) the shuffle only pays
    for itself when the scan arrives under-parallel — a handful of
    row groups on a 32-core local run. At 100 TB the scan arrives in
    thousands of splits and this returns the input UNCHANGED, so the
    production plan carries no extra exchange.

    The probe is STRICTLY planning-time: source bytes from the logical
    plan's file listing, split count estimated as bytes ÷
    `spark.sql.files.maxPartitionBytes`. (An earlier version probed
    `df.rdd.getNumPartitions()`, which under AQE finalizes the physical
    plan — for shuffled lineages that EXECUTES the upstream exchanges
    once at build time and again at run time: silent double work.)

    A bytes floor keeps genuinely tiny inputs (the 2k-vector sf0.1
    embeddings table — microseconds of per-row work) on their single
    task: 32 scheduled tasks cost more than they parallelize. Lineages
    the planner can't trace to local files (checkpoints, in-memory
    relations, remote FS) fan out unconditionally — the scale-safe
    default the moderate per-row work still amortizes."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    total = _local_input_bytes(df)
    if total is None or total == 0:
        return df.repartition(n, *keys) if keys else df.repartition(n)
    if total < min_bytes:
        return df
    split = _parse_size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"),
        128 * 1024 * 1024,
    )
    est_splits = -(-total // max(1, split))
    if est_splits >= max(2, n // 2):
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)


_SIZE_UNITS = {
    "": 1, "b": 1,
    "k": 1024, "kb": 1024,
    "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3,
    "t": 1024**4, "tb": 1024**4,
}


def _parse_size_bytes(raw: str, default: int) -> int:
    """Spark size-conf string ("134217728b", "128m", "1g") → bytes."""
    try:
        s = str(raw).strip().lower()
        i = 0
        while i < len(s) and (s[i].isdigit() or s[i] == "."):
            i += 1
        unit = _SIZE_UNITS.get(s[i:].strip())
        return int(float(s[:i]) * unit) if unit and i else default
    except (ValueError, TypeError):
        return default


def _local_input_bytes(df: DataFrame) -> int | None:
    """Total bytes of the local files feeding `df`'s lineage — a
    planning-time size probe (no job). None when the relation can't be
    traced to local files (checkpoints, createDataFrame, remote FS)."""
    try:
        return sum(
            os.stat(f.removeprefix("file:")).st_size
            for f in df.inputFiles()
            if f.startswith("file:")
        )
    except OSError:
        return None


# Dispatch floors for the width pins below (§4d threshold-dispatch: two
# physical plans, one answer). Under either floor the relation is small
# enough that AQE's coalesced 1-2-task plan is CHEAPER than scheduling
# the declared reduce width (measured: the pins cost ~1.5 s across
# semantic_dedup's exchanges at sf0.1, n=2k vectors); above them the
# pin is what keeps the expansion parallel (hierarchical SemDeDup at
# sf10: 536 s unpinned -> 166-218 s pinned, same code otherwise).
PIN_MIN_ROWS = 16_384
_PIN_MIN_BYTES = 8 * 1024 * 1024


def _should_pin(df: DataFrame, n_rows: int | None) -> bool:
    if n_rows is not None:
        return n_rows >= PIN_MIN_ROWS
    total = _local_input_bytes(df)
    if total is not None and 0 < total < _PIN_MIN_BYTES:
        return False
    return True  # untraceable (checkpoint / in-memory) — pin, scale-safe


def pin_join_width(df: DataFrame, *keys: str, n_rows: int | None = None) -> DataFrame:
    """Hash-repartition a candidate/expansion-join side to the session's
    `spark.sql.shuffle.partitions`, PINNED against AQE coalescing
    (REPARTITION_BY_NUM is never coalesced).

    Every bucketed near-dup / linkage candidate join expands a byte-tiny
    shuffled input into per-bucket pair work that is QUADRATIC in bucket
    membership. AQE's size-based coalesce (parallelismFirst=false, the
    production setting) sizes reduce partitions by MAP bytes — it cannot
    see the expansion — and folds the join onto a handful of tasks that
    grind the pair term serially (measured: hierarchical SemDeDup at
    sf10 536 s unpinned vs 166-218 s pinned). The
    shuffle-partitions conf is the operator's declared reduce width: the
    knob a 100 TB deployment tunes anyway, instead of a local guess.

    Threshold-dispatched: callers that already counted the corpus pass
    `n_rows` (pins from PIN_MIN_ROWS up); otherwise a planning-time
    bytes probe of the lineage's local files skips the pin for tiny
    corpora, where AQE's coalesced plan is strictly cheaper. Relations
    the probe can't trace (checkpoints, in-memory) pin unconditionally —
    the scale-safe default."""
    if not _should_pin(df, n_rows):
        return df
    return df.repartition(_declared_reduce_width(df.sparkSession), *keys)


def pin_width(df: DataFrame, *keys: str, n_rows: int | None = None) -> DataFrame:
    """Pin the width of a dense-compute relation that is about to be
    `localCheckpoint`ed (same REPARTITION_BY_NUM mechanics and threshold
    dispatch as `pin_join_width`; distinct name because the failure mode
    differs).

    A checkpoint FREEZES whatever layout its input shuffle ran with.
    When that input is a skinny argmax/assignment relation, AQE's
    byte-based coalesce folds it to 1-2 partitions — correct for the
    bytes, catastrophic for downstream per-row-expensive consumers
    (k-means scoring, K×DIM fused multiply-adds) that inherit the
    frozen width across every later job (measured: hierarchical
    SemDeDup's fine-assignment pass ground on 2 of 32 cores at sf10).
    Pinning the width BEFORE the checkpoint makes every consumer run at
    the session's declared reduce width. Keys keep downstream
    co-location (aggregates on the same keys reuse the exchange);
    keyless pins round-robin."""
    if not _should_pin(df, n_rows):
        return df
    n = _declared_reduce_width(df.sparkSession)
    return df.repartition(n, *keys) if keys else df.repartition(n)


# Reliable-checkpoint mode (cluster fault tolerance). localCheckpoint
# truncates lineage into EXECUTOR-LOCAL blocks: free on local[32], but on
# a real cluster an executor loss makes the truncated lineage
# unrecoverable and fails the job — and at 100 TB with thousands of
# executors over hours, preemption/loss is the expected case. When this
# env var (or the Spark conf `spark.graft.reliableCheckpointDir`) names a
# directory on fault-tolerant storage (HDFS/S3/NFS), corpus-sized
# truncations (`bulk_checkpoint`, `corpus_checkpoint`) switch to reliable
# `df.checkpoint()` against `setCheckpointDir` — same asymptotic cost
# (the consumers are sequential scans that read back at storage bandwidth
# either way), but the blocks survive executor loss. Bounded relations
# (centroids, codebooks, boundary tuples) keep plain localCheckpoint:
# their blocks are a few KB, and — honestly — a lost localCheckpoint
# block is unrecoverable once lineage is truncated, so losing one still
# fails the QUERY (not a task retry). The accepted trade: the re-run of
# a query whose corpus-scale state already sits on fault-tolerant
# storage replays only the cheap bounded tail — seconds, not the hours
# of corpus work the reliable blocks protect.
RELIABLE_CHECKPOINT_ENV = "SPARK_GRAFT_RELIABLE_CHECKPOINT"
_RELIABLE_DIR_SET_FOR: dict[str, str] = {}  # app id -> dir last set


def _reliable_checkpoint_dir(spark: SparkSession) -> str | None:
    d = os.environ.get(RELIABLE_CHECKPOINT_ENV)
    if not d:
        d = spark.conf.get("spark.graft.reliableCheckpointDir", None)
    return d or None


def _strip_file_scheme(p: str) -> str:
    """file:///x, file:/x → /x (normpath'd); other schemes untouched."""
    if p.startswith("file://"):
        p = p[len("file://") :]
    elif p.startswith("file:"):
        p = p[len("file:") :]
    return os.path.normpath(p)


def _reliable_checkpoint(df: DataFrame, ckpt_dir: str, eager: bool) -> DataFrame:
    """Reliable `df.checkpoint()` against `ckpt_dir`. setCheckpointDir is
    re-issued whenever the configured dir CHANGES (keyed per app id) OR
    the SparkContext's ACTUAL checkpoint dir no longer points under it —
    a Python-side memo alone would silently write our corpus-sized
    checkpoints into whatever directory a host application's own
    setCheckpointDir call selected (where the ownership-scoped sweep
    rightly refuses to clean them). Note Spark computes a lazy reliable
    checkpoint's subtree up to twice (the action, then the
    checkpoint-write job re-runs the lineage); for the iterative callers
    each round's subtree reads the previous round's checkpoint, so the
    extra cost is one bounded join per round — measured at parity with
    the local arms at sf10 (SCALING.md round-8)."""
    spark = df.sparkSession
    sc = spark.sparkContext
    app_id = sc.applicationId
    actual_ok = False
    try:
        opt = sc._jsc.sc().getCheckpointDir()
        if opt.isDefined():
            # setCheckpointDir appends a UUID child; the parent is the
            # configured dir
            actual_parent = _strip_file_scheme(os.path.dirname(str(opt.get())))
            actual_ok = actual_parent == _strip_file_scheme(ckpt_dir)
    except Exception:
        pass
    if _RELIABLE_DIR_SET_FOR.get(app_id) != ckpt_dir or not actual_ok:
        sc.setCheckpointDir(ckpt_dir)
        _RELIABLE_DIR_SET_FOR[app_id] = ckpt_dir
    return df.checkpoint(eager=eager)


# Storage-level floor for bulk (local) checkpoints (§4d threshold
# dispatch; documented next to text/pipeline.PIPELINE_PARALLEL_MAX_DOCS,
# the sibling corpus floor). Above the floor DISK_ONLY wins: at sf10
# (500k docs) MEMORY_AND_DISK token blocks fill the unified pool's
# storage half and starve wide aggregates / trigger GCLocker stalls
# (sf10 A/B: 58.8/54.3 → 39.4/51.3 s; r8 re-measured the crossover as
# box-dependent — SCALING.md round-8 — and DISK_ONLY stays above the
# floor because on a box where memory would win its cost is a bounded
# slowdown, while MEMORY_AND_DISK's class-#5 failure is fatal). Below
# it the relation fits in memory and the disk round-trip is pure
# overhead (r7's blanket DISK_ONLY cost near_dup_minhash_lsh ×1.84 at
# sf0.1).
#
# UNITS: the floor is calibrated in SOURCE-CORPUS rows (documents), not
# rows of the checkpointed relation — every calibrated caller passes
# its doc count while checkpointing a per-doc EXPANSION (token sets,
# 3-gram postings: ~25-100 rows/doc). In relation-row terms the
# measured crossover sits around ~10M rows (5k docs ≈ 0.5M token rows
# kept memory-resident; 500k docs ≈ 50M went to disk), and the
# class-#5 OOM margin holds at the boundary: a just-under-floor corpus
# (200k docs ≈ 20M gram rows ≈ 2 GB) fits the default heap's protected
# storage half, while the sf30 failure regime (3M docs) is far above
# the floor. Callers that counted the corpus pass `n_rows=<doc count>`;
# otherwise a planning-time bytes probe of the lineage's source files
# decides; untraceable lineages (checkpoint-fed) go DISK_ONLY — the
# scale-safe default.
BULK_DISK_ONLY_MIN_ROWS = 200_000
_BULK_DISK_ONLY_MIN_BYTES = 32 * 1024 * 1024


def _bulk_wants_disk_only(df: DataFrame, n_rows: int | None) -> bool:
    if n_rows is not None:
        return n_rows >= BULK_DISK_ONLY_MIN_ROWS
    total = _local_input_bytes(df)
    if total is not None and 0 < total < _BULK_DISK_ONLY_MIN_BYTES:
        return False
    return True


def bulk_checkpoint(
    df: DataFrame, eager: bool = True, n_rows: int | None = None
) -> DataFrame:
    """Truncate the lineage of a CORPUS-SIZED relation.

    Default mode: localCheckpoint with a size-dispatched storage level.
    Scale-failure class #5 (found at sf30, 180M rows, 32 task threads):
    `localCheckpoint`'s default MEMORY_AND_DISK storage competes with
    execution memory in the unified pool — an eager checkpoint of a
    corpus-sized relation fills the storage half, and the very next
    wide aggregate over it dies with UNABLE_TO_ACQUIRE_MEMORY while
    trying to allocate its first 256 KB hash map (32 concurrent tasks
    × near-zero evictable execution share). DISK_ONLY reserves nothing
    from the pool; the consumers of a bulk checkpoint are sequential
    scans, which read back at disk bandwidth exactly like the parquet
    scan that produced the relation. Below `BULK_DISK_ONLY_MIN_ROWS`
    the relation fits comfortably in the storage half and memory
    residency is strictly faster, so small corpora keep MEMORY_AND_DISK
    (two physical plans, one answer — CONVENTIONS.md §4d).

    Reliable mode (`SPARK_GRAFT_RELIABLE_CHECKPOINT=dir`): uses
    `df.checkpoint()` against that directory instead, so the truncated
    lineage survives executor loss on a real cluster (see
    `RELIABLE_CHECKPOINT_ENV`).

    Use this for relations that grow with the corpus (fact-table keys,
    per-token/per-gram expansions); plain `localCheckpoint` remains
    right for bounded relations (centroids, codebooks, boundary tuples)
    where memory residency is the point."""
    from pyspark.storagelevel import StorageLevel

    ckpt_dir = _reliable_checkpoint_dir(df.sparkSession)
    if ckpt_dir:
        return _reliable_checkpoint(df, ckpt_dir, eager)
    level = (
        StorageLevel.DISK_ONLY
        if _bulk_wants_disk_only(df, n_rows)
        else StorageLevel.MEMORY_AND_DISK
    )
    return df.localCheckpoint(eager=eager, storageLevel=level)


def corpus_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate the lineage of a corpus-sized relation that WANTS memory
    residency (iterative label relations, per-vector normed embeddings,
    per-gram working sets consumed repeatedly within one job).

    Default mode: identical to `df.localCheckpoint(eager=...)`. Reliable
    mode (`SPARK_GRAFT_RELIABLE_CHECKPOINT=dir`): reliable
    `df.checkpoint()` so an executor loss mid-iteration doesn't kill the
    job (see `RELIABLE_CHECKPOINT_ENV`). Bounded relations should keep
    calling `localCheckpoint` directly."""
    ckpt_dir = _reliable_checkpoint_dir(df.sparkSession)
    if ckpt_dir:
        return _reliable_checkpoint(df, ckpt_dir, eager)
    return df.localCheckpoint(eager=eager)


def corpus_checkpoint_lazy(df: DataFrame) -> DataFrame:
    """`corpus_checkpoint(df, eager=False)` in `.transform(...)`-chain form."""
    return corpus_checkpoint(df, eager=False)


def release_session_checkpoints(spark: SparkSession) -> int:
    """Unpersist every persistent RDD in the session; returns the count.

    Scale-failure class #6 (found at sf30 in a sequential multi-query
    session): localCheckpoint blocks belong to the SESSION, not the
    query — nothing unpersists them when a query's DataFrames go out of
    scope, because ContextCleaner is weak-reference-driven and a JVM
    under storage pressure does not reliably GC the handles in time.
    Query 4 of a sequential sweep died of Java-heap OOM executing a
    pipeline that runs standalone in 90 s: three finished queries'
    checkpoint blocks were still pinning the heap. Call this BETWEEN
    queries in any long-lived session (sweep, notebook, server); never
    during one — it destroys in-flight checkpoints. Bounded driver
    caches (ANN index rows, broadcast handles) are not persistent RDDs
    and survive."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    # indexed, not iterated: a py4j iterator ends in a JVM
    # NoSuchElementException, which PySpark's error converter then
    # matches against its exception classes (50-60 ms a call)
    keys = jmap.keySet().toArray()
    for i in range(len(keys)):
        jmap.get(keys[i]).unpersist(False)
    # Reliable-mode twin (r8): df.checkpoint() part files are not
    # reference-tracked reliably either — ContextCleaner deletes them
    # only with cleanCheckpoints=true AND a timely driver GC, the same
    # weak-ref gap as the blocks above. The between-queries release
    # therefore also empties the session's checkpoint directory (local
    # filesystems only: on HDFS/S3 retention is the platform's
    # lifecycle rule, and a shared dir must not be swept by one
    # driver). Same contract: never call mid-query. Scope (r9, advisor):
    # sweep ONLY a directory THIS library configured via the reliable
    # mode — an embedding app that called setCheckpointDir for its own
    # df.checkpoint() use owns that dir's lifecycle, and sweeping it
    # here would delete live checkpoints between our queries.
    app_id = spark.sparkContext.applicationId
    # _strip_file_scheme on BOTH sides: a URI-form configured dir
    # (file:///mnt/ckpt) must still match the filesystem path the
    # context reports, else the sweep silently never fires and rdd-*
    # dirs accumulate for the session's lifetime
    ours = {
        _strip_file_scheme(p)
        for p in (
            _reliable_checkpoint_dir(spark),
            _RELIABLE_DIR_SET_FOR.get(app_id),
        )
        if p
    }
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    if ours and opt.isDefined():
        d = _strip_file_scheme(str(opt.get()))
        # setCheckpointDir appends a UUID subdir, so the active dir is a
        # CHILD of the configured one — match on containment.
        nd = d
        mine = any(nd == p or nd.startswith(p + os.sep) for p in ours)
        if mine and os.path.isdir(d):
            import shutil

            for sub in os.listdir(d):
                if sub.startswith("rdd-"):
                    shutil.rmtree(os.path.join(d, sub), ignore_errors=True)
    return len(keys)


def _declared_reduce_width(spark: SparkSession) -> int:
    """`spark.sql.shuffle.partitions` as an int; managed platforms set it
    to "auto", where the cluster's default parallelism is the honest
    stand-in for the declared reduce width."""
    try:
        # no explicit fallback value: Spark 4.1 type-validates a fallback
        # against the conf's declared int type, so passing "" throws
        # INVALID_CONF_VALUE on sessions that never set the conf. With no
        # fallback the conf system returns its own default ("200", or
        # "auto" on managed platforms, which the int() guard handles).
        raw = spark.conf.get("spark.sql.shuffle.partitions")
        return int(raw)
    except Exception:
        return spark.sparkContext.defaultParallelism


def local_rows_df(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """Small driver-built row set (audit, alert, label rows, replayed
    index artifacts) → LocalRelation.

    `createDataFrame(list, schema)` pickles the rows through `parallelize`
    into a PythonRDD, so every append starts Python worker tasks (and the
    first one in a session starts the `pyspark.daemon`). An Arrow table
    plans as a `LocalTableScan` and runs no Python on the executors: one
    write job, one part file. The rows are data, not code: a frame
    rebuilt with other rows of the same schema reuses the compiled
    classes. Column types and nullability are `schema`'s
    exactly; top-level timestamps take the same wall-clock reading as
    `createDataFrame(list, ...)` (a naive datetime is local time)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for field, arrow_field, values in zip(schema.fields, arrow_schema, columns):
        if isinstance(field.dataType, TimestampType):
            values = [None if v is None else field.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


def fingerprint_fixture_dir(prefix: str, sf_dir: str, table: str = "events") -> str:
    """Deterministic temp-dir path for fixtures derived from a testdata
    table, keyed on the source parquet's (path, mtime_ns, size) via md5 —
    stable across processes (unlike salted hash()) and invalidated the
    moment the driver regenerates the table. Callers write the fixture
    once under a marker file and reuse it for the testdata generation's
    lifetime."""
    import hashlib
    import tempfile

    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    digest = hashlib.md5(
        f"{sf_dir}|{table}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{digest}")
