"""Tests of the benchmark's own helpers, on the committed fixtures.

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import measure  # noqa: E402
from perfbench.workloads import answers_match, canonical  # noqa: E402

EVENTLOG = os.path.join(HERE, "fixtures", "eventlog.jsonl")
PROGRESS = os.path.join(HERE, "fixtures", "progress.json")


# -- the tail-percentile rule ------------------------------------------------


def test_tail_needs_more_than_ten_samples():
    assert measure.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100)
    assert measure.tail_percentile([float(i) for i in range(10)]) == (9.0, 100)


@pytest.mark.parametrize("n,pct", [(11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)])
def test_tail_percentile_known_points(n, pct):
    xs = [float(i) for i in range(n)]
    random.Random(n).shuffle(xs)
    value, got = measure.tail_percentile(xs)
    assert got == pct
    assert sum(x > value for x in xs) >= 10


def test_tail_percentile_is_the_highest_that_leaves_ten():
    for n in range(11, 400):
        xs = [float(i) for i in range(n)]
        value, pct = measure.tail_percentile(xs)
        assert sum(x > value for x in xs) >= 10
        # one percentile higher would leave fewer than ten beyond it
        rank = -(-(pct + 1) * n // 100)
        assert n - rank < 10, (n, pct)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        measure.tail_percentile([])


# -- the job-interval union behind driver_only_s ------------------------------


def test_union_length_merges_overlaps_and_clips():
    assert measure.union_length([], 0, 10) == 0
    assert measure.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert measure.union_length([(1, 9), (2, 3)], 0, 10) == 8  # nested
    assert measure.union_length([(-5, 2), (8, 20)], 0, 10) == 4  # clipped both ends
    assert measure.union_length([(11, 12), (-3, -1)], 0, 10) == 0  # outside
    assert measure.union_length([(1, 2), (2, 4)], 0, 10) == 3  # touching


def test_driver_only_time_on_fixture():
    jobs = measure.parse_jobs(EVENTLOG)
    mine = measure.window_jobs(jobs, 1000, 1850, "operators.app_stats#1")
    busy = measure.union_length([(j["start_ms"], j["end_ms"]) for j in mine], 1000, 1850)
    assert busy == 400 + 150 + 50
    assert 1850 - 1000 - busy == 250


# -- event-log and progress parsing ------------------------------------------


def test_parse_jobs():
    jobs = {j["id"]: j for j in measure.parse_jobs(EVENTLOG)}
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    assert jobs[0] == {"id": 0, "group": "operators.app_stats#1", "start_ms": 1000, "end_ms": 1400}
    assert jobs[2]["group"] is None
    assert jobs[4]["end_ms"] == jobs[4]["start_ms"] == 5400  # never ended


def test_window_jobs_by_group_and_window():
    jobs = measure.parse_jobs(EVENTLOG)
    ids = lambda js: sorted(j["id"] for j in js)  # noqa: E731
    # tagged jobs of the group, plus the untagged job inside the window
    assert ids(measure.window_jobs(jobs, 1000, 1850, "operators.app_stats#1")) == [0, 1, 2]
    # a narrower window keeps the tagged jobs but not the untagged one
    assert ids(measure.window_jobs(jobs, 1000, 1500, "operators.app_stats#1")) == [0, 1]
    # stream windows take every job submitted inside them
    assert ids(measure.window_jobs(jobs, 5000, 5450)) == [3, 4]


def test_task_windows_use_the_probe_parser():
    w = measure.task_windows(EVENTLOG, [(1000, 1850), (5000, 5450), (9000, 9100)])
    assert w[0]["tasks"] == 3
    assert w[0]["shuffle_write_bytes"] == 4096 + 6144
    assert w[0]["memory_spill_bytes"] == 2048 and w[0]["disk_spill_bytes"] == 1024
    assert w[0]["executor_run_ms"] == 280 + 320 + 80
    assert w[0]["shuffle_read_local_bytes"] == 10240
    assert w[1]["tasks"] == 1 and w[1]["shuffle_write_bytes"] == 512
    assert w[2]["tasks"] == 0


def test_progress_batches():
    with open(PROGRESS) as fh:
        progress = json.load(fh)
    batches = measure.progress_batches(progress)
    assert len(batches) == 1  # the idle trigger read no rows
    b = batches[0]
    assert b["batch_id"] == 0 and b["rows"] == 750
    assert (b["start_ms"], b["end_ms"]) == (5000.0, 5450.0)
    assert b["trigger_s"] == 0.45
    assert b["addBatch_s"] == 0.38 and b["walCommit_s"] == 0.011
    assert b["getBatch_s"] == 0.008 and b["latestOffset_s"] == 0.025
    assert b["queryPlanning_s"] == 0.006
    # the batch window picks up the stream's jobs in the event log
    jobs = measure.parse_jobs(EVENTLOG)
    assert len(measure.window_jobs(jobs, b["start_ms"], b["end_ms"])) == 2


# -- CPU time from /proc -------------------------------------------------------


def test_proc_stat_reads_name_parent_and_ticks():
    # a thread name with a space and a parenthesis, as the JVM's are
    line = "4242 (C2 Compiler(x)) S 4200 4242 4200 0 -1 4194560 9 0 0 0 150 25 7 3 20 0 30 0"
    assert measure.proc_stat(line) == ("C2 Compiler(x)", 4200, 175, 10)


def test_proc_stat_on_this_process():
    with open("/proc/self/stat") as fh:
        name, ppid, own, reaped = measure.proc_stat(fh.read())
    assert ppid == os.getppid()
    assert own >= 0 and reaped >= 0


# -- answer comparison and provenance ---------------------------------------


def test_answers_compare_without_order_and_with_float_tolerance():
    a = canonical(["b", "a"], [(2, "x"), (1.0, "y")])
    b = canonical(["a", "b"], [("y", 1.0 + 1e-12), ("x", 2)])
    assert answers_match(a, b) is None
    c = canonical(["a", "b"], [("y", 1.5), ("x", 2)])
    assert "row" in answers_match(a, c)
    assert "columns" in answers_match(a, canonical(["a", "c"], [("y", 1.0), ("x", 2)]))


def test_refuses_to_compare_across_core_counts():
    a = {"workload": "warehouse", "provenance": {"cpus": 4, "master": "local[4]"}}
    measure.comparable(a, dict(a))
    b = {"workload": "warehouse", "provenance": {"cpus": 32, "master": "local[32]"}}
    with pytest.raises(ValueError, match="cpus"):
        measure.comparable(a, b)
