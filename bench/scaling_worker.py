"""spark-submit worker for the scaling-efficiency evidence
(BASELINE.json north_rule: ≥0.8 throughput scaling efficiency between N
and 4N executors; in-sandbox protocol: same job, same input, local[N] vs
local[4N]).

Launched by bench/scaling_paired.py (``--serve``), or by hand as:
  spark-submit --master local[N] --py-files pv_spark.zip \
      bench/scaling_worker.py --table PATH --cores N --repeats 3

Runs the FULL clips rule-set pass (row rules + audio decode + uniqueness
+ referential) over the given table: one untimed warm-up pass (JIT,
Python-worker fork+import, page cache), then ``--repeats`` timed passes.
Prints ONE JSON line with per-pass seconds; the harness takes the median.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--serve", default="",
                    help="interleaved-pair protocol (bench/scaling_paired"
                    ".py): path to a control DIRECTORY. After the "
                    "untimed warm-up, poll it for cmd-NNNN files; each "
                    "containing 'PASS' runs ONE timed pass and prints "
                    "one JSON line on stdout, so the orchestrator can "
                    "alternate the N and 4N levels within the same "
                    "host-regime window instead of timing all of one "
                    "level then all of the other (regime drift between "
                    "the two blocks lands directly in the efficiency "
                    "ratio). File-based because spark-submit does NOT "
                    "wire the parent's stdin through to the Python "
                    "driver (verified: a piped line never reaches "
                    "sys.stdin).")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from protovalidate_spark.conf import apply_recommended

    b = (SparkSession.builder.appName(f"pv-scaling-{args.cores}")
         .config("spark.ui.enabled", "false"))
    spark = apply_recommended(b, cores=args.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import os

    from protovalidate_spark.clips import clips_suite
    from protovalidate_spark.dataset.drift import (
        drift_violations, load_snapshot, save_snapshot, snapshot)
    from protovalidate_spark.dataset.stats import column_stats

    DRIFT_COLS = ["sr_hz", "dur_ms", "codec"]
    STATS_COLS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]

    df = spark.read.parquet(args.table)
    suite = clips_suite(spark)
    n_rows = df.count()

    # Drift baseline: produced by a previous run in production — computed
    # once here beside the table, NOT part of the timed pass.
    bpath = args.table.rstrip("/") + "_drift_baseline.json"
    if not os.path.exists(bpath):
        save_snapshot(snapshot(df, DRIFT_COLS), bpath)
    baseline = load_snapshot(bpath)

    # Build the violations plan ONCE (persist=False so repeated
    # executions recompute rather than read a cache). Plan construction +
    # Catalyst optimization is a per-JOB driver cost — at the 10^12-row
    # target it amortizes to ~0% of wall time, so the throughput
    # measurement times plan EXECUTION; the one-time planning cost is
    # reported separately.
    t0 = time.time()
    res = suite.run(df, persist=False)
    violations = res.violations
    violations._jdf.queryExecution().executedPlan()
    plan_sec = round(time.time() - t0, 3)

    def one_pass() -> float:
        """One full metric pass: row rules + decode + uniqueness +
        referential (violations plan) + per-column stats + drift."""
        t0 = time.time()
        violations.count()
        # noop write FORCES the stats aggregation (a bare call returns a
        # lazy frame — round-1 discarded it, overstating the pass)
        column_stats(df, STATS_COLS).write.format("noop") \
            .mode("overwrite").save()
        drift_violations(df, baseline).count()
        return time.time() - t0

    def load1() -> float:
        """1-min /proc/loadavg — an external-contention probe recorded
        at each pass start, so a pooled analysis can stratify runs on a
        RECORDED load signal instead of after-the-fact absolute times
        (this box is shared; see BENCH.md's episode analysis). The
        reading includes this job's own threads: the healthy baseline
        is roughly the level's core count (~N..N+2); values well above
        that are the neighbor's workload."""
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except OSError:
            return -1.0

    def steal_ticks() -> int:
        """Cumulative CPU-steal ticks (/proc/stat field 8) — in this
        Firecracker microVM the REAL contention source is the shared
        HOST, which guest loadavg cannot see; steal time measures
        exactly the cycles the host took away. Per-pass steal seconds
        is the definitive recorded noisy-neighbor probe (BENCH.md
        episode analysis)."""
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except (OSError, IndexError, ValueError):
            return -1

    # warm-up: python workers, JIT, page cache — untimed. Larger tables
    # need more than one (the 800k paired window's first two timed
    # 8-core passes ran 2× steady-state: GC heap growth + page-cache
    # population under the other level's concurrent warm-up).
    for _ in range(args.warmup):
        one_pass()

    if args.serve:
        # Interleaved-pair mode: one timed pass per command file. The
        # JVM stays warm between passes (a real cluster's long-running
        # executors are warm too); an idle Spark JVM burns ~0 cpu, so
        # the OTHER level's pass runs uncontended on the shared cores.
        print(json.dumps({"ready": True, "cores": args.cores,
                          "rows": n_rows, "plan_sec": plan_sec}),
              flush=True)
        k = 0
        while True:
            cmd = os.path.join(args.serve, "cmd-%04d" % k)
            while not os.path.exists(cmd):
                time.sleep(0.2)
            with open(cmd) as f:
                c = f.read().strip()
            if c != "PASS":
                break
            la = load1()
            s0 = steal_ticks()
            sec = round(one_pass(), 3)
            s1 = steal_ticks()
            print(json.dumps({
                "cores": args.cores, "pass_sec": sec, "loadavg": la,
                "steal_cpu_sec": (round((s1 - s0) / 100.0, 2)
                                  if s0 >= 0 and s1 >= 0 else None),
            }), flush=True)
            k += 1
        spark.stop()
        return 0

    secs, loads, steals = [], [], []
    for _ in range(args.repeats):
        loads.append(load1())
        s0 = steal_ticks()
        secs.append(round(one_pass(), 3))
        s1 = steal_ticks()
        # ticks are USER_HZ=100 across all cpus -> steal cpu-seconds;
        # None (not 0.0) when unreadable so an unmeasured pass can
        # never masquerade as steal-clean in the pooled stratum
        steals.append(round((s1 - s0) / 100.0, 2)
                      if s0 >= 0 and s1 >= 0 else None)

    print(json.dumps({
        "cores": args.cores,
        "rows": n_rows,
        "plan_sec": plan_sec,
        "passes_sec": secs,
        "loadavg_at_pass": loads,
        "steal_cpu_sec_per_pass": steals,
        "median_sec": sorted(secs)[len(secs) // 2],
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
