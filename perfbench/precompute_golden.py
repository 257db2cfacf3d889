#!/usr/bin/env python3
"""Fill the golden-outcome cache for a range of seeds.

    python3 perfbench/precompute_golden.py --workload wide_fetch --seeds 0-99

A run whose (workload, seed) is not cached computes the golden model
itself — single-threaded, several seconds on ``wide_fetch`` — and stores
it. Precomputing keeps that work out of benchmark runs. Entries whose key
no longer matches (a changed workload shape or golden-model source) are
recomputed; one process per workload, since each workload has its own
cache file.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import golden_check, workloads  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def seed_range(text: str) -> range:
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-99")
    args = ap.parse_args(argv)
    for seed in seed_range(args.seeds):
        t = time.time()
        # the core count only sets fetch partitioning, which the key omits
        wl = workloads.build(args.workload, seed, 1)
        _, cached = golden_check.expected(ROOT, wl, seed)
        print(f"{args.workload} seed {seed}: "
              f"{'cached' if cached else 'computed'} in {time.time() - t:.1f} s",
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
