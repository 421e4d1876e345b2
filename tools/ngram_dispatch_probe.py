#!/usr/bin/env python
"""Validate the ngram candidate-scheme dispatch on a corpus family
(VERDICT r6 ask #3): the production probe's decision and exact join
volumes, plus a timed A/B of both forced schemes (answers must agree).

History: the first run of this tool on the Zipf(1.07) corpus measured
the r6 Σ(ρ·df)² single-volume MODEL at 257× over the exact count
(sf1.0-zipf: est 13.4M vs 52,293) — heavy-tailed head grams are
rank-excluded from the rarest-first prefixes, breaking the uniform
survival assumption. The model was replaced with exact volume
aggregates (dedup/minhash._ngram_scheme_probe), so this tool now
reports the same numbers the production dispatch acts on.

Usage:
    python tools/ngram_dispatch_probe.py /tmp/sf1.0-zipf [/tmp/sf1.0 ...]
    python tools/ngram_dispatch_probe.py --no-time /tmp/sf10-zipf
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from data_ingestion_system_spark.dedup import minhash  # noqa: E402
from data_ingestion_system_spark.dedup.minhash import (  # noqa: E402
    _ngram_prefix_relations,
    _ngram_scheme_probe,
    near_dup_ngram_jaccard,
)
from data_ingestion_system_spark.session import get_spark  # noqa: E402

P, Q = 3, 10
# NGRAM_PAIRKEY_COST_RATIO values that force each candidate scheme
FORCE_RATIO = {"single": 10.0**12, "pairkey": -1.0}


def probe_dir(spark, sf_dir: str, time_schemes: bool = True) -> dict:
    gram_ids, _gram_sets, prefix, n_docs = _ngram_prefix_relations(spark, sf_dir, P, Q)
    # the probe hard-fails on a gid collision (audit folded into its
    # gram_ids aggregate) — same contract as the production dispatch
    scheme, stats = _ngram_scheme_probe(gram_ids, prefix)
    out = {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "dispatch": scheme,
        "probe": {k: round(v, 3) if isinstance(v, float) else v for k, v in stats.items()},
    }
    if time_schemes:
        ratio = minhash.NGRAM_PAIRKEY_COST_RATIO
        for forced, forced_ratio in FORCE_RATIO.items():
            # the forced timings include the dispatch probe's aggregates
            minhash.NGRAM_PAIRKEY_COST_RATIO = forced_ratio
            try:
                t0 = time.perf_counter()
                n_pairs = near_dup_ngram_jaccard(spark, sf_dir).count()
            finally:
                minhash.NGRAM_PAIRKEY_COST_RATIO = ratio
            out[f"{forced}_sec"] = round(time.perf_counter() - t0, 1)
            out[f"{forced}_pairs"] = n_pairs
        assert out["single_pairs"] == out["pairkey_pairs"], out
        # dispatched run (production decision), timed too
        t0 = time.perf_counter()
        out["dispatched_pairs"] = near_dup_ngram_jaccard(spark, sf_dir).count()
        out["dispatched_sec"] = round(time.perf_counter() - t0, 1)
    return out


def main(dirs: list[str]) -> None:
    time_schemes = True
    if "--no-time" in dirs:
        dirs = [d for d in dirs if d != "--no-time"]
        time_schemes = False
    spark = get_spark(app_name="ngram-dispatch-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for d in dirs:
        print(json.dumps(probe_dir(spark, d, time_schemes)), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:] or ["/tmp/sf1.0-zipf"])
