"""Recall guarantee of the ℓ=2 extended-prefix candidate generator.

`near_dup_ngram_jaccard` (dedup/minhash.py) prunes candidates with
three exact filters — AllPairs length, the relaxed per-row positional
bound (2 + min(remaining) >= alpha), and the two-matches-in-prefix
group filter (ℓ-prefix lemma, AdaptJoin) — all of which must preserve
EVERY pair with Jaccard >= 0.3. The lemma's edge cases live at tiny
gram sets: n = 1..3 grams makes alpha = 1 (where the requirement
relaxes to min(2, alpha) = 1 shared gram) and makes the extended
prefix cap at the whole set. These tests pin the full operator against
a literal all-pairs Python brute force on adversarial corpora (4-word
vocabulary → heavy gram collisions; doc lengths 3..12 words → gram
sets of size 1..10) so a filter regression fails here instead of
surfacing as silently-missing pairs at scale.
"""

from __future__ import annotations

import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_ingestion_system_spark.dedup import minhash

VOCAB = ["a", "b", "c", "d"]
THRESHOLD = 0.3
# NGRAM_PAIRKEY_COST_RATIO values that force each candidate scheme;
# None leaves the production volume dispatch in place
SCHEME_RATIO = {"pairkey": -1.0, "single": 10.0**12}


def _ngram_pairs(spark, sf_dir, monkeypatch, scheme):
    if scheme is not None:
        monkeypatch.setattr(minhash, "NGRAM_PAIRKEY_COST_RATIO", SCHEME_RATIO[scheme])
    return minhash.near_dup_ngram_jaccard(spark, sf_dir).collect()


def _grams(text: str) -> frozenset:
    ts = text.split(" ")
    if len(ts) < 3:
        return frozenset()
    return frozenset(
        f"{ts[i]} {ts[i + 1]} {ts[i + 2]}" for i in range(len(ts) - 2)
    )


def _brute_force(texts: dict[int, str]) -> set[tuple[int, int]]:
    gsets = {i: _grams(t) for i, t in texts.items() if _grams(t)}
    out = set()
    for a, b in itertools.combinations(sorted(gsets), 2):
        inter = len(gsets[a] & gsets[b])
        union = len(gsets[a] | gsets[b])
        if union and inter / union >= THRESHOLD:
            out.add((a, b))
    return out


def _write_docs(tmpdir: str, texts: dict[int, str]) -> str:
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [texts[i] for i in ids],
                "lang": ["en"] * len(ids),
                "source": ["fuzz"] * len(ids),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        os.path.join(tmpdir, "documents.parquet"),
    )
    return tmpdir


@pytest.mark.parametrize("scheme", ["single", "pairkey", None])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_ngram_prefix_filters_keep_every_qualifying_pair(
    spark, tmp_path, monkeypatch, seed, scheme
):
    rng = random.Random(seed)
    texts = {}
    for i in range(60):
        n_w = rng.randint(3, 12)
        texts[i] = " ".join(rng.choice(VOCAB) for _ in range(n_w))
    # planted exact + near copies (the structures the filters must keep)
    texts[100] = texts[0]
    texts[101] = texts[1] + " " + rng.choice(VOCAB)
    sf_dir = _write_docs(str(tmp_path), texts)

    got = {(r.doc_a, r.doc_b) for r in _ngram_pairs(spark, sf_dir, monkeypatch, scheme)}
    assert got == _brute_force(texts)


@pytest.mark.parametrize("scheme", ["single", "pairkey", None])
def test_ngram_prefix_filters_alpha_one_pairs(spark, tmp_path, monkeypatch, scheme):
    # hand-built minimal sets: single-gram docs (n=1 → alpha can be 1,
    # where min(2, alpha) = 1 shared gram must suffice — the pair-key
    # scheme's tiny-doc branch) and a 1-vs-3-gram pair right at the
    # length-filter boundary (10*na >= 3*nb at na=1, nb=3; jac = 1/3
    # qualifies)
    texts = {
        0: "a b c",            # grams: {a b c}
        1: "a b c",            # exact dup of 0 → jac 1.0
        2: "a b c d e",        # grams: {a b c, b c d, c d e} → with 0: 1/3
        3: "b c d",            # with 2: 1/3; with 0: 0/... jac 0
        4: "x y",              # < 3 words: excluded entirely
    }
    sf_dir = _write_docs(str(tmp_path), texts)
    got = {(r.doc_a, r.doc_b) for r in _ngram_pairs(spark, sf_dir, monkeypatch, scheme)}
    assert got == _brute_force(texts)
    assert (0, 1) in got and (0, 2) in got and (2, 3) in got


def test_ngram_scheme_dispatch_and_equivalence_on_testdata(spark, sf_dir, monkeypatch):
    """Both candidate schemes return the identical pair set on the
    shipped testdata, and the registered query (content-dispatched)
    matches them — one operator, two physical plans, one answer."""
    dispatched = _ngram_pairs(spark, sf_dir, monkeypatch, None)
    single = _ngram_pairs(spark, sf_dir, monkeypatch, "single")
    pairkey = _ngram_pairs(spark, sf_dir, monkeypatch, "pairkey")
    assert sorted(map(tuple, single)) == sorted(map(tuple, pairkey))
    assert sorted(map(tuple, dispatched)) == sorted(map(tuple, single))
