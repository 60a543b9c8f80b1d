"""Interleaved-pair scaling-efficiency protocol (north_rule ≥0.8).

The block protocol this replaced timed all N-level passes, then all
4N-level passes, in two separate fresh JVMs. On this shared box the host regime (steal
episodes, level-independent frequency throttling — BENCH.md round-5
episode analysis) drifts on a minutes timescale, i.e. BETWEEN the two
blocks — and any drift lands directly in the efficiency ratio: the
round-5 clean pool's 0.71–0.89 spread is dominated by the 2-core
level's ±15% swing between runs while the 8-core level held steady.

This harness removes the between-block term by construction:

  * both levels run as PERSISTENT warmed JVMs (``scaling_worker.py
    --serve``) pinned to DISJOINT core sets (a real cluster's
    long-running executors are warm and do not share cores either);
  * passes alternate lo/hi per pair, with the order flipped on
    alternate pairs (lo,hi / hi,lo / …) so a monotone regime drift
    cancels to first order within the pair sequence;
  * the headline estimator is the MEDIAN OF PER-PAIR EFFICIENCIES —
    each pair's two passes execute within the same ~30 s regime
    window, so a regime excursion perturbs one pair, not one level.

Per-pass steal and loadavg are still recorded for the stratified-clean
estimator (pairs where both passes recorded steal ≤ 2 cpu-s).

Usage:  python bench/scaling_paired.py [--n 2] [--pairs 5] [--rows 400000]
Prints one JSON line; append it to the round's pool artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bench"))



def ensure_zip() -> str:
    zpath = "/tmp/pv_spark.zip"
    subprocess.run(["rm", "-f", zpath], check=True)
    subprocess.run(["zip", "-qr", zpath, "protovalidate_spark"],
                   cwd=REPO, check=True)
    return zpath


def ensure_table(rows: int) -> str:
    from protovalidate_spark.conf import local_session
    import bench as benchmod
    spark = local_session(cores=8, app="pv-scaling-prep")
    path = benchmod.ensure_clips_bench(spark, rows)
    spark.stop()
    return path


class Level:
    """A persistent warmed worker JVM plus its file-based command
    channel (spark-submit does not wire the parent's stdin through to
    the Python driver — stdout does pass through, so results ride
    stdout and commands ride numbered files in a control dir)."""

    def __init__(self, cores: int, cpu_list: str, table: str, zpath: str,
                 warmup: int = 1):
        self.cores = cores
        self.ctl = tempfile.mkdtemp(prefix=f"pv_paired_{cores}_")
        self.n_sent = 0
        cmd = [
            "taskset", "-c", cpu_list,
            "spark-submit", "--master", f"local[{cores}]",
            "--conf", "spark.ui.enabled=false",
            "--conf", f"spark.driver.memory={2 * cores}g",
            "--py-files", zpath,
            os.path.join(REPO, "bench", "scaling_worker.py"),
            "--table", table, "--cores", str(cores),
            "--warmup", str(warmup),
            "--serve", self.ctl,
        ]
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                     stderr=subprocess.DEVNULL,
                                     text=True, cwd=REPO, bufsize=1)

    def read_json_line(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"worker local[{self.cores}] exited early")
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)

    def _send(self, text: str):
        path = os.path.join(self.ctl, "cmd-%04d" % self.n_sent)
        with open(path + ".tmp", "w") as f:
            f.write(text)
        os.rename(path + ".tmp", path)   # atomic vs the poll loop
        self.n_sent += 1

    def one_pass(self) -> dict:
        self._send("PASS")
        return self.read_json_line()

    def shutdown(self):
        try:
            self._send("QUIT")
            self.proc.wait(timeout=120)
        except Exception:
            self.proc.kill()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=400000)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--n", type=int, default=2, help="small level (N cores)")
    ap.add_argument("--warmup", type=int, default=1,
                    help="untimed warm-up passes per level (use 2 for "
                         "tables past ~2 GiB: the first timed 4N pass "
                         "otherwise still pays GC heap growth + "
                         "page-cache fill)")
    args = ap.parse_args()
    n, n4 = args.n, args.n * 4

    zpath = ensure_zip()
    # skip the prep SparkSession when the table already exists — its
    # JVM lingers as an (idle, unpinned) child for the whole run
    ready_marker = os.path.join(REPO, "_fixtures",
                                "clips_bench_N%d" % args.rows,
                                "_BENCH_READY")
    if os.path.exists(ready_marker):
        table = os.path.dirname(ready_marker)
    else:
        table = ensure_table(args.rows)

    t0 = time.time()
    # Disjoint core sets: hi on 0..4N-1, lo on 4N..5N-1 — the idle
    # level's JVM housekeeping threads never share a cpu with the
    # active level's timed pass.
    hi = Level(n4, f"0-{n4 - 1}", table, zpath, warmup=args.warmup)
    lo = Level(n, f"{n4}-{n4 + n - 1}", table, zpath, warmup=args.warmup)
    try:
        hi_ready = hi.read_json_line()
        lo_ready = lo.read_json_line()
        rows = lo_ready["rows"]

        pairs = []
        for k in range(args.pairs):
            order = (lo, hi) if k % 2 == 0 else (hi, lo)
            res = {}
            for lvl in order:
                r = lvl.one_pass()
                res[r["cores"]] = r
            eff = (rows / res[n4]["pass_sec"]) / (
                4.0 * (rows / res[n]["pass_sec"]))
            pairs.append({
                "pair": k, "order": "lo_hi" if k % 2 == 0 else "hi_lo",
                "sec_n": res[n]["pass_sec"], "sec_4n": res[n4]["pass_sec"],
                "steal_n": res[n]["steal_cpu_sec"],
                "steal_4n": res[n4]["steal_cpu_sec"],
                "loadavg_n": res[n]["loadavg"],
                "loadavg_4n": res[n4]["loadavg"],
                "efficiency": round(eff, 3),
            })
            print(json.dumps(pairs[-1]), file=sys.stderr)
    finally:
        for lvl in (lo, hi):
            lvl.shutdown()

    effs = sorted(p["efficiency"] for p in pairs)
    STEAL_MAX = 2.0
    clean = [p for p in pairs
             if p["steal_n"] is not None and p["steal_4n"] is not None
             and p["steal_n"] <= STEAL_MAX and p["steal_4n"] <= STEAL_MAX]
    clean_effs = sorted(p["efficiency"] for p in clean)

    summary = {
        "metric": ("clips/sec full rule-set pass, interleaved-pair "
                   "scaling local[%d] vs local[%d]" % (n, n4)),
        "protocol": "paired",
        "rows": rows,
        "n_cores": n, "n4_cores": n4,
        "plan_sec_n": lo_ready["plan_sec"], "plan_sec_4n": hi_ready["plan_sec"],
        "pairs": pairs,
        "median_pair_efficiency": round(statistics.median(effs), 3),
        "clean_pairs": len(clean),
        "median_clean_pair_efficiency": (
            round(statistics.median(clean_effs), 3) if clean else None),
        "throughput_n": round(rows / statistics.median(
            sorted(p["sec_n"] for p in pairs)), 1),
        "throughput_4n": round(rows / statistics.median(
            sorted(p["sec_4n"] for p in pairs)), 1),
        "harness_wall_s": round(time.time() - t0, 1),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
