"""Session-lifetime memory hygiene (tables.py): the two sf30 findings.

Class #5 — corpus-sized checkpoints must store DISK_ONLY so they reserve
nothing from the unified pool (`bulk_checkpoint`); class #6 — finished
queries' checkpoint blocks must be releasable between queries in a
long-lived session (`release_session_checkpoints`), because nothing else
unpersists them and four sequential sf30 queries OOM'd a heap whose
every single query runs standalone.

Also the session's generated-code cache: a long-lived session compiles
each plan shape once (`session.CODEGEN_CACHE_ENTRIES`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_system_spark.registry import load_all
from data_ingestion_system_spark.tables import (
    bulk_checkpoint,
    load_table,
    release_session_checkpoints,
)


def test_bulk_checkpoint_is_disk_only_and_lossless(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    # n_rows above the dispatch floor forces the DISK_ONLY arm (the r8
    # size dispatch keeps small corpora MEMORY_AND_DISK; this test pins
    # the at-scale storage class)
    from data_ingestion_system_spark.tables import BULK_DISK_ONLY_MIN_ROWS

    cp = bulk_checkpoint(
        li.repartitionByRange(8, "l_extendedprice"), n_rows=BULK_DISK_ONLY_MIN_ROWS
    )
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    new = [jmap[k] for k in set(jmap.keys()) - before]
    assert new, "bulk_checkpoint persisted nothing"
    for rdd in new:  # (df.rdd would wrap a fresh conversion RDD — level NONE)
        lvl = rdd.getStorageLevel()
        assert lvl.useDisk() and not lvl.useMemory(), lvl.description()
    assert cp.count() == li.count()
    # the checkpoint freezes the range layout: partition ids are stable
    # across two reads (the property the equi-depth rank scheme rests on)
    a = cp.select(F.spark_partition_id().alias("p"), "l_orderkey").collect()
    b = cp.select(F.spark_partition_id().alias("p"), "l_orderkey").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_release_session_checkpoints_frees_and_queries_rerun(spark, sf_dir):
    registry = load_all()
    before = registry["dedup_clusters"].spark(spark, sf_dir).collect()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert len(jmap) > 0  # the pipeline checkpointed something
    n = release_session_checkpoints(spark)
    assert n == len(jmap)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    # a fresh run rebuilds its own checkpoints and returns the same rows
    after = registry["dedup_clusters"].spark(spark, sf_dir).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_release_is_idempotent_on_empty_session(spark):
    release_session_checkpoints(spark)
    assert release_session_checkpoints(spark) == 0


def test_release_frees_every_rdd_without_a_jvm_exception(spark, monkeypatch):
    """The release indexes the persisted-RDD map: walking a py4j
    iterator ends in a JVM NoSuchElementException, which PySpark turns
    into a CapturedException after matching it against its exception
    classes (50-60 ms a call even with nothing persisted)."""
    from pyspark.errors.exceptions import captured

    release_session_checkpoints(spark)
    pinned = [spark.range(100 * i).localCheckpoint(eager=True) for i in (1, 2, 3)]
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == len(pinned)
    created = []
    init = captured.CapturedException.__init__

    def counting_init(self, *a, **kw):
        created.append(type(self).__name__)
        init(self, *a, **kw)

    monkeypatch.setattr(captured.CapturedException, "__init__", counting_init)
    assert release_session_checkpoints(spark) == len(pinned)
    assert release_session_checkpoints(spark) == 0
    assert created == []
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_get_spark_sets_the_codegen_cache_cap(spark):
    from data_ingestion_system_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_a_rerun_query_compiles_no_class(spark, sf_dir):
    """A session compiles each plan shape once: the second run of a
    registry query finds every generated class in the cache."""
    from data_ingestion_system_spark.session import codegen_counters

    query = load_all()["app_stats"]
    first = query.spark(spark, sf_dir).collect()
    release_session_checkpoints(spark)
    n0 = codegen_counters(spark)[0]
    second = query.spark(spark, sf_dir).collect()
    assert codegen_counters(spark)[0] - n0 == 0
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_topology_width_follows_master_not_launcher_cpus():
    """r8 ask #2: the declared reduce width derives from the executor
    topology in the master URL, never the launcher box's CPU count."""
    from data_ingestion_system_spark.session import _topology_width

    class _SC:
        def __init__(self, master):
            self.master = master

    class _Spark:
        def __init__(self, master):
            self.sparkContext = _SC(master)

    # a 2x4 local-cluster launched from a 32-core box declares width 8
    assert _topology_width(_Spark("local-cluster[2,4,2048]"), 32) == 8
    assert _topology_width(_Spark("local-cluster[4,8,4096]"), 32) == 32
    # explicit local[k] follows k, not the env parallelism
    assert _topology_width(_Spark("local[16]"), 32) == 16
    # floor of 8 everywhere (tiny masters keep enough reduce fan-out)
    assert _topology_width(_Spark("local[2]"), 32) == 8
    assert _topology_width(_Spark("local-cluster[1,2,1024]"), 32) == 8


def test_topology_width_parses_maxfailures_form():
    """local[N,maxFailures] is a legal master string: the width must be
    N, never the launcher box's CPU count (r8 width-rule regression)."""
    from data_ingestion_system_spark.session import _topology_width

    class _SC:
        def __init__(self, m):
            self.master = m
            self.defaultParallelism = 2

    class _Spark:
        def __init__(self, m):
            self.sparkContext = _SC(m)

    assert _topology_width(_Spark("local[16,3]"), 99) == 16
    assert _topology_width(_Spark("local[4,2]"), 99) == 8  # floor of 8
    assert _topology_width(_Spark("local-cluster[4,8,4096]"), 99) == 32
    # bare "local" is a legal 1-thread master: floor, never launcher CPUs
    assert _topology_width(_Spark("local"), 99) == 8


def test_cluster_masters_default_to_zstd_shuffle_codec(spark):
    """Non-local masters get zstd shuffle compression (halves shuffle
    bytes at measured CPU parity — SCALING.md r9 A/B); in-process
    local[] sessions keep Spark's lz4 default. The cluster arm runs in
    a subprocess: the JVM's session singleton would otherwise hand back
    the suite's local[32] session regardless of the requested master."""
    import os
    import subprocess
    import sys

    # the shared fixture session is local[...]: codec must be untouched
    assert spark.conf.get("spark.io.compression.codec", "lz4") == "lz4"
    code = (
        "from data_ingestion_system_spark.session import get_spark;"
        "s = get_spark(app_name='codec-probe', master='local-cluster[1,2,1024]');"
        "print('CODEC=' + s.conf.get('spark.io.compression.codec'));"
        "s.stop()"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, cwd=repo,
    )
    assert "CODEC=zstd" in out.stdout, out.stderr[-1500:]
