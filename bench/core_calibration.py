"""Per-core host-speed calibration for the scaling-efficiency windows.

The N vs 4N emulation (bench/scaling_paired.py) divides throughput measured
with 2 active cores by throughput with 8 active cores ON ONE SHARED
HOST. Real clusters hold per-core speed constant as executors are
added; a single box does not — turbo bins, SMT co-scheduling on the
hypervisor, and the shared memory bus all make one core FASTER when
fewer cores are busy. Steal ticks (bench/scaling_worker.py) record the
cycles the host takes away, but they cannot see frequency: a 2-core
level running in a higher turbo bin shows zero steal while inflating
the denominator of the efficiency ratio.

This probe measures that artifact directly, the same way steal is
measured: run K identical single-threaded workers, each pinned to its
own vCPU, and record per-worker throughput at K = N and K = 4N.

  ratio = per_worker_speed(4N active) / per_worker_speed(N active)

ratio < 1 means the box slows each core down as more cores go busy —
a real 4N-executor cluster would not — so the frequency-normalized
scaling efficiency is   eff_normalized = eff_measured / ratio.

Two workloads bracket the job's profile:
  * alu  — SHA-256 over a 64 KiB cache-resident buffer (pure core
           speed: frequency + SMT sharing, no memory-bus term).
  * membw — 64 MiB numpy copy per iteration (streams through LLC to
            DRAM: the shared-bus wall at higher active-core counts).

Usage:  python bench/core_calibration.py [--n 2] [--seconds 6]
Prints one JSON line; cite it next to the scaling pool in BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

WORKER = r"""
import hashlib, json, sys, time
mode, seconds = sys.argv[1], float(sys.argv[2])
if mode == "alu":
    buf = bytes(range(256)) * 256          # 64 KiB, L2-resident
    t0 = time.perf_counter(); n = 0
    while time.perf_counter() - t0 < seconds:
        h = hashlib.sha256(buf)
        for _ in range(31):
            h = hashlib.sha256(h.digest() + buf)
        n += 32
    dt = time.perf_counter() - t0
    print(json.dumps({"ops_per_s": n / dt}))
else:
    import numpy as np
    a = np.ones(64 * 1024 * 1024 // 8)      # 64 MiB source
    b = np.empty_like(a)
    t0 = time.perf_counter(); n = 0
    while time.perf_counter() - t0 < seconds:
        np.copyto(b, a)
        n += 1
    dt = time.perf_counter() - t0
    # one copy reads 64 MiB and writes 64 MiB
    print(json.dumps({"ops_per_s": n * 128.0 / dt}))  # MiB/s moved
"""


def run_level(k: int, mode: str, seconds: float) -> dict:
    """K pinned single-thread workers; returns per-worker mean ops/s."""
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(WORKER)
        wpath = f.name
    try:
        procs = [
            subprocess.Popen(
                ["taskset", "-c", str(i), sys.executable, wpath,
                 mode, str(seconds)],
                stdout=subprocess.PIPE, text=True)
            for i in range(k)
        ]
        speeds = []
        for p in procs:
            out, _ = p.communicate(timeout=seconds + 60)
            speeds.append(json.loads(out.strip())["ops_per_s"])
    finally:
        os.unlink(wpath)
    speeds.sort()
    return {
        "active_cores": k,
        "per_worker_mean": round(sum(speeds) / len(speeds), 1),
        "per_worker_min": round(speeds[0], 1),
        "per_worker_max": round(speeds[-1], 1),
    }


def steal_cpu_sec() -> float | None:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2, help="small level")
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--rounds", type=int, default=3,
                    help="interleaved N/4N rounds; medians reported")
    args = ap.parse_args()
    n, n4 = args.n, 4 * args.n

    out: dict = {"n": n, "n4": n4, "seconds": args.seconds,
                 "rounds": args.rounds}
    s0 = steal_cpu_sec()
    for mode in ("alu", "membw"):
        lo_runs, hi_runs = [], []
        # interleave levels so a regime drift mid-probe hits both
        for _ in range(args.rounds):
            lo_runs.append(run_level(n, mode, args.seconds))
            hi_runs.append(run_level(n4, mode, args.seconds))
        med = lambda rs: sorted(  # noqa: E731
            r["per_worker_mean"] for r in rs)[len(rs) // 2]
        lo, hi = med(lo_runs), med(hi_runs)
        out[mode] = {
            "per_worker_at_n": lo,
            "per_worker_at_4n": hi,
            "per_core_speed_ratio_4n_vs_n": round(hi / lo, 3),
            "runs_n": lo_runs, "runs_4n": hi_runs,
        }
    s1 = steal_cpu_sec()
    out["steal_cpu_sec_during_probe"] = (
        round(s1 - s0, 2) if s0 is not None and s1 is not None else None)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
