#!/usr/bin/env python3
"""Compare two benchmark records from ``perfbench_results/``.

    python3 perfbench/compare.py BASE.json NEW.json

Prints each end-to-end metric of both records and their ratio. Refuses
records of different workloads, core counts or masters. When one record
is traced and the other is not, the pass_cpu_s and pass_s differences
are the tracing overhead.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.measure import comparable  # noqa: E402


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    try:
        comparable(base, new)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 1
    for name, b in base["end_to_end"].items():
        n = new["end_to_end"].get(name)
        if n is None:
            continue
        ratio = n / b if b else float("nan")
        print(f"{name:<20} {b:>12.4f} {n:>12.4f} {ratio:>8.3f}x {base['units'][name]}")
    tb, tn = base["provenance"]["trace"], new["provenance"]["trace"]
    if tb != tn:
        traced, plain = (base, new) if tb else (new, base)
        cpu = traced["end_to_end"]["pass_cpu_s"] - plain["end_to_end"]["pass_cpu_s"]
        wall = traced["extra"]["pass_s"] - plain["extra"]["pass_s"]
        print(f"tracing overhead (traced - untraced): pass_cpu_s {cpu:+.4f} s, pass_s {wall:+.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
