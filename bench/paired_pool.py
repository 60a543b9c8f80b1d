"""Pool interleaved-pair scaling runs (bench/scaling_paired.py).

Each run's JSON carries per-pair efficiencies with per-pass steal and
loadavg. Pooling is at PAIR granularity (a pair is the protocol's
atomic regime-matched sample): the headline is the median of all
pairs, and the probe-stratified estimator keeps only pairs where BOTH
passes recorded steal ≤ 2 cpu-s — the threshold the retired block
protocol's pools used, so the BENCH.md clean strata stay comparable.

Usage: python bench/paired_pool.py bench/artifacts/scaling_paired_r5_run*.json
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths):
    pairs = []
    for p in paths:
        d = json.load(open(p))
        for pr in d["pairs"]:
            pr["run"] = p
            pairs.append(pr)
    if not pairs:
        print("no pairs")
        return 1
    effs = sorted(p["efficiency"] for p in pairs)
    STEAL_MAX = 2.0
    clean = [p for p in pairs
             if p["steal_n"] is not None and p["steal_4n"] is not None
             and p["steal_n"] <= STEAL_MAX and p["steal_4n"] <= STEAL_MAX]
    out = {
        "runs": len(paths),
        "pairs": len(pairs),
        "median_pair_efficiency": round(statistics.median(effs), 3),
        "clean_pairs": len(clean),
        "median_clean_pair_efficiency": (
            round(statistics.median(
                sorted(p["efficiency"] for p in clean)), 3)
            if clean else None),
        "per_pair": effs,
        "pooled_median_sec_n": round(statistics.median(
            sorted(p["sec_n"] for p in pairs)), 1),
        "pooled_median_sec_4n": round(statistics.median(
            sorted(p["sec_4n"] for p in pairs)), 1),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
