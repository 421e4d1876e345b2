"""Recall guarantees of the multi-block SimHash candidate generator.

The point of the Manku-style multi-table scheme (dedup/simhash.py,
`near_dup_simhash_multiblock`) is EXACT recall at Hamming <= HAMMING_MAX:
with 4 blocks and a budget of 3 differing bits, at least one 8-bit block
is untouched, so blocked candidate generation finds every qualifying
pair. These tests pin that against a literal all-pairs scan — if anyone
changes block count, block width, or the Hamming budget in a way that
breaks the pigeonhole argument, this fails.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from data_ingestion_system_spark.dedup.simhash import (
    HAMMING_MAX,
    MB_BLOCKS,
    simhash_blocks,
    simhash_fingerprints,
)
from data_ingestion_system_spark.registry import load_all
from data_ingestion_system_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_pigeonhole_precondition():
    # the exact-recall argument requires strictly fewer differing bits
    # than block tables
    assert HAMMING_MAX < MB_BLOCKS


def test_multiblock_matches_all_pairs_bruteforce(spark):
    docs = load_table(spark, SF_DIR, "documents")
    fps = dict(
        simhash_fingerprints(docs)
        .rdd.map(lambda r: (r.doc_id, r.simhash))
        .collect()
    )
    expected = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= HAMMING_MAX
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in load_all()["near_dup_simhash_multiblock"].spark(spark, SF_DIR).collect()
    }
    assert got == expected


def test_each_doc_lands_in_every_block_table(spark):
    docs = load_table(spark, SF_DIR, "documents")
    blocks = simhash_blocks(simhash_fingerprints(docs))
    per_doc = blocks.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.countDistinct("t").alias("nt")
    )
    bad = per_doc.filter((F.col("n") != MB_BLOCKS) | (F.col("nt") != MB_BLOCKS)).count()
    assert bad == 0
    rng = blocks.agg(F.min("bkey").alias("lo"), F.max("bkey").alias("hi")).first()
    assert 0 <= rng.lo and rng.hi <= 255


def test_salted_recovery_hot_values_exact(spark, monkeypatch):
    """The salted recovery (dedup/simhash.py SALT_CAP) must return the
    exact direct-join answer when values are HOT enough to split into
    k > 1 sub-buckets — the branch no shipped corpus reaches at test
    scale. SALT_CAP is monkeypatched tiny so a synthetic corpus with
    two heavy fingerprint values (one pair within Hamming 3 of each
    other, one isolated) exercises cross (hot x hot, hot x cold),
    same-diagonal, and same-off-diagonal branches with real k x k
    grids, against the doc-level direct join as the oracle."""
    import itertools

    from data_ingestion_system_spark.dedup import simhash as sh

    monkeypatch.setattr(sh, "SALT_CAP", 4)
    # fingerprints chosen so: v1/v2 differ in 2 bits (qualifying pair of
    # values), v3 is far from both; v1 and v2 each held by 11 docs
    # (k = ceil(11/4) = 3), v3 by 5 docs (k = 2), plus 30 cold docs
    v1, v2, v3 = 0x12345678, 0x12345672, 0x0F0F0F0F
    rows = (
        [(i, v1) for i in range(11)]
        + [(100 + i, v2) for i in range(11)]
        + [(200 + i, v3) for i in range(5)]
        + [(300 + i, 0x40000000 + i * 17) for i in range(30)]
    )
    hashes = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in sh.simhash_pairs_multiblock_value_collapsed(hashes).collect()
    }
    fps = dict(rows)
    expected = set()
    for a, b in itertools.combinations(sorted(fps), 2):
        # candidate iff some 8-bit block agrees (the direct join's
        # blocking), then Hamming filter
        h = bin(fps[a] ^ fps[b]).count("1")
        if h > sh.HAMMING_MAX:
            continue
        if any(
            (fps[a] >> (8 * t)) & 0xFF == (fps[b] >> (8 * t)) & 0xFF
            for t in range(sh.MB_BLOCKS)
        ):
            expected.add((a, b, h))
    assert got == expected
    # no duplicates either (exactly one row per unordered pair)
    n_rows = sh.simhash_pairs_multiblock_value_collapsed(hashes).count()
    assert n_rows == len(expected)


def test_salted_recovery_randomized_fuzz(spark, monkeypatch):
    """Randomized differential fuzz of the salted multiblock recovery:
    seeded random fingerprint multisets (some values deliberately hot
    relative to a tiny SALT_CAP, some Hamming-close value pairs) vs a
    literal brute force over the doc-level blocking semantics. Catches
    grid-enumeration bugs (a missed (sa, sb) cell silently drops pairs)
    that a hand-built corpus might not hit."""
    import random

    from data_ingestion_system_spark.dedup import simhash as sh

    monkeypatch.setattr(sh, "SALT_CAP", 3)
    for seed in (7, 23, 91):
        rng = random.Random(seed)
        base_vals = [rng.getrandbits(32) for _ in range(8)]
        vals = []
        for v in base_vals:
            vals.append(v)
            # a Hamming-1..3 neighbor, and sometimes a far value
            for _ in range(rng.randint(0, 2)):
                w = v
                for _ in range(rng.randint(1, 3)):
                    w ^= 1 << rng.randrange(32)
                vals.append(w)
        rows = []
        doc = 0
        for v in vals:
            for _ in range(rng.randint(1, 11)):  # some values hot vs CAP=3
                rows.append((doc, v))
                doc += 1
        hashes = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in sh.simhash_pairs_multiblock_value_collapsed(hashes).collect()
        }
        fps = dict(rows)
        expected = {
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a, b in itertools.combinations(sorted(fps), 2)
            if bin(fps[a] ^ fps[b]).count("1") <= sh.HAMMING_MAX
        }
        assert got == expected, f"seed {seed}: {len(got)} vs {len(expected)}"
        assert sh.simhash_pairs_multiblock_value_collapsed(hashes).count() == len(expected), seed
