"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to in-process SQLite
(reference: src/database/db_manager.py:40); our engine's equivalent of its
"connection setup" is a tuned SparkSession. Defaults are chosen for the
100 TB design point and work unchanged on local[N]:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy) —
  replaces hand-tuned shuffle sizing at scale.
- UTC session timezone — the reference stores ISO-8601 strings and compares
  lexicographically (reference: src/database/db_manager.py:165-170); we keep
  native timestamps and pin the zone so results are environment-independent.
- Arrow enabled for the (rare) pandas boundary.
- A session compiles each plan shape once. Spark keeps Janino-compiled
  classes in one JVM-wide LRU (`spark.sql.codegen.cache.maxEntries`,
  default 100), and one perfbench `warehouse` pass alone generates about
  170 classes, so at the default every pass recompiled what the pass
  before had run (12-15 ms a class plus class loading, and on a long
  session a full C1 code cache). The cap is `CODEGEN_CACHE_ENTRIES`
  = 2048, at least twice the measured working set: 413 distinct
  classes in a traced perfbench session of both workloads, 864 in a
  `bench.py` headline session. `codegen_counters` reads the JVM's
  compile count and time for the harnesses.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "data-ingestion-system-spark"

# Generated-class cache cap: the smallest power of two at least twice
# the larger of two measured working sets, the distinct classes one
# session compiles with an unbounded cache (local[4]). A traced
# perfbench session of both workloads (set-up, drains, warm-up and
# timed passes, checks) compiles 413; a bench.py headline session (35
# queries at sf0.1, warm-up, index training and 3 reps each) 864. A
# generated class averages 2.2-2.3 KB of bytecode, so the cap costs a
# few MB at most. The conf is static: the first session of the JVM
# fixes it, and `extra_conf` overrides it there.
CODEGEN_CACHE_ENTRIES = 2048


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return max(1, os.cpu_count() or 4)


def get_spark(
    app_name: str = APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from the environment / spark-submit;
    locally we default to ``local[N]`` with N from $SPARK_GRAFT_CPUS.
    """
    n = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # size-based post-shuffle coalescing (not parallelism-preserving):
        # the recommended production setting — AQE targets
        # advisoryPartitionSizeInBytes instead of keeping N tiny partitions
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python Data Source API (sources/paginated.py) planning-time
        # predicate pushdown — off by default in Spark 4.1, wanted always
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # serve filterless MIN/MAX/COUNT from parquet footer statistics —
        # at 100 TB a full-table COUNT(*) becomes a metadata read
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark cannot
        # read natively; read as epoch-nanos long, converted in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable-mode (SPARK_GRAFT_RELIABLE_CHECKPOINT) hygiene: let
        # ContextCleaner delete df.checkpoint() files when their RDDs
        # are GC'd; tables.release_session_checkpoints sweeps the rest
        # deterministically between queries
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.shuffledHashJoinFactor", "3")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # bucketed tables (sources/bucketing.py) live in the session
        # catalog; keep the warehouse out of the repo checkout
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/dis_spark_warehouse"),
        )
    )
    # spark-submit conveys --master as the spark.master property, NOT as
    # an env var — defaulting to local[n] whenever our bespoke
    # SPARK_MASTER env is unset would silently run the submitted 100 TB
    # job in local mode on the driver box
    submitted = None
    try:
        from pyspark import SparkConf

        _sc_conf = SparkConf()
        if _sc_conf.contains("spark.master"):
            submitted = _sc_conf.get("spark.master")
    except Exception:
        pass
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER") and not submitted:
        builder = builder.master(f"local[{n}]")
    effective_master = (
        master or os.environ.get("SPARK_MASTER") or submitted or f"local[{n}]"
    )
    # bare "local" (no brackets) is a legal 1-thread in-process master
    in_process = effective_master == "local" or effective_master.startswith("local[")
    if not in_process:
        # multi-JVM / real cluster: zstd halves shuffle bytes at measured
        # CPU parity (sf1.0 A/B, near_dup_minhash_lsh under
        # local-cluster[4,8,4096]: 87->42 MB written, 105->50 MB remote
        # read, steady-state wall 7.16 vs 7.11 s — SCALING.md r9). On a
        # network-bound cluster the byte saving is pure win; in-process
        # local[] shuffles keep Spark's lz4 default. Override with
        # SPARK_GRAFT_IO_CODEC or extra_conf.
        builder = builder.config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # an explicit caller width — the arg OR an extra_conf entry (the
    # probe's A/B knob) — must never be clobbered by the topology rule
    if shuffle_partitions is None and "spark.sql.shuffle.partitions" not in (
        extra_conf or {}
    ):
        width = _topology_width(spark, n)
        if width and spark.conf.get("spark.sql.shuffle.partitions") != str(width):
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) by this JVM so far, read
    from Spark's own codegen metrics on the driver: two py4j calls and
    no Spark job. Harnesses take deltas around a query or a micro-batch;
    a compile is a cache miss, so a plan that reruns should add none.
    Under a multi-JVM master the executors' compiles are not counted."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6


def _topology_width(spark: SparkSession, local_n: int) -> int | None:
    """Declared reduce width from the ACTUAL executor topology, not the
    launcher box's CPU count (VERDICT r8 ask #2): a
    `local-cluster[2,4,*]` session launched from a 32-core box would
    otherwise declare width 32 for an 8-core cluster — every shuffle
    runs 4 waves of undersized tasks and `tables.pin_width` pins the
    wrong number into every checkpointed relation. local[n] keeps n
    (defaultParallelism == n, no change); local-cluster parses the
    master string (executors x cores — defaultParallelism right after
    startup races executor registration and can read 2); real cluster
    masters use defaultParallelism once executors have settled."""
    m = spark.sparkContext.master
    if m.startswith("local-cluster["):
        try:
            n_exec, cores, _ = m[len("local-cluster[") : -1].split(",")
            return max(8, int(n_exec) * int(cores))
        except ValueError:
            return None
    if m.startswith("local"):
        # legal forms: local, local[N], local[*], local[N,maxFailures],
        # local[*,maxFailures] — the thread count is the first element
        if m == "local":
            return 8  # 1 thread; the floor of 8 applies
        first = m[6:-1].split(",")[0].strip() if m.startswith("local[") else ""
        if first == "*":
            return max(8, os.cpu_count() or local_n)
        try:
            return max(8, int(first))
        except ValueError:
            return max(8, local_n)
    # standalone/yarn/k8s: defaultParallelism = live total cores; give
    # executor registration a moment to settle past the floor of 2.
    # "Stable for 1.5s" alone is NOT settlement — before any executor
    # registers the reading sits at the floor for 5-30s on a real
    # cluster, and an early exit would declare width 8 for a 512-core
    # cluster (the exact undersized-width failure this function
    # prevents). Early-exit only once >=1 executor HAS registered and
    # the reading still holds: then the cluster genuinely is tiny.
    import time

    deadline = time.monotonic() + 10.0
    width = spark.sparkContext.defaultParallelism
    last = width
    stable_since = time.monotonic()
    while width <= 2 and time.monotonic() < deadline:
        try:
            # driver counts as one entry in the memory-status map
            n_exec = (
                spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
            )
        except Exception:
            n_exec = 0
        if n_exec >= 1 and time.monotonic() - stable_since >= 1.5:
            break
        time.sleep(0.25)
        width = spark.sparkContext.defaultParallelism
        if width != last:
            last = width
            stable_since = time.monotonic()
    return max(8, width)
