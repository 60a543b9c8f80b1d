"""Benchmark entry point.

    python3 perfbench/run.py --workload clips_audio --seed 1 --seconds 10 \
        --trace 0 [--size full|smoke]

Run from the repository root. Inputs are generated from ``--seed`` by
``perfbench/gen.py`` (cached under ``.perfbench/cache``), the engine runs
on ``local[<cores>]`` in this process, and the last line of standard
output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload twice in one process: untraced passes first, then a session
with the Spark event log on, spans around every engine call and one
probe per layer; it reports the per-layer metrics. A human-readable
summary, with the failure rate, goes to standard error, and the whole
record (every pass with its steal and load) to
``.perfbench/results/<workload>-s<seed>-trace<t>.json``.

Noise controls: a fixed number of untimed warm-up passes, the cache
cleared after every pass, an explicit driver heap well below physical
memory, and CPU steal plus load recorded per pass (never used to drop a
pass). Every pass, warm-ups included, is checked against the oracle.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402
from layers import UNITS, per_layer  # noqa: E402

DRIVER_MEM = "2g"
WARMUPS = 2          # untimed passes after the first one
MIN_PASSES = 3       # timed passes, however short --seconds is
NOMINAL_PASS_S = 4.0  # --seconds buys one timed pass per this many seconds
SETUP_REPEATS = 3    # repeats of the open step (inputs, suite, oracle)
E2E = {"setup_s": "s", "first_pass_s": "s", "pass_s_p50": "s",
       "rows_per_s": "rows/s", "peak_rss_mb": "MiB"}


def process_age_s() -> float:
    """Seconds since this process started (interpreter start-up
    included)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


class Run:
    """One benchmark invocation: sessions, passes and the record."""

    def __init__(self, args, root: str):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.base = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.base, "work",
                                 f"{args.workload}-{os.getpid()}")
        self.passes = []     # every attempted pass, in order
        self.record = {"workload": args.workload, "seed": args.seed,
                       "size": args.size, "seconds": args.seconds,
                       "trace": args.trace, "cores": self.cores,
                       "driver_mem": DRIVER_MEM, "warmups": WARMUPS,
                       "setup_repeats": SETUP_REPEATS}

    # -- sessions -------------------------------------------------------------

    def session(self, event_log: str = ""):
        from protovalidate_spark.conf import local_session
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the heap is committed and touched up front, so the peak RSS
            # does not swing with when the collector grows the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + event_log,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        return local_session(cores=self.cores, app="perfbench",
                             driver_mem=DRIVER_MEM, **extra)

    # -- passes ---------------------------------------------------------------

    def attempt(self, phase: str, fn):
        """Run one pass; an exception or an oracle mismatch counts as a
        failed pass, and no pass is ever dropped."""
        s0, t0 = tracing.steal_ticks(), time.perf_counter()
        try:
            secs, ok, note = fn()
        except Exception:  # a failed pass is data: record it and go on
            secs, ok = time.perf_counter() - t0, False
            note = traceback.format_exc(limit=3)
        rec = {"phase": phase, "s": secs, "ok": ok,
               "steal_s": (tracing.steal_ticks() - s0) / 100.0,
               "loadavg": tracing.loadavg()}
        if note:
            rec["note"] = note
            print(f"[perfbench] {phase} pass failed: {note}",
                  file=sys.stderr)
        self.passes.append(rec)
        return rec

    def drive(self, w, label: str, seconds: float, first: bool = True):
        """First pass, warm-ups, then the timed passes ``seconds``
        buys. The pass count depends on ``seconds`` alone, not on how
        fast the passes run: passes keep speeding up as the JVM warms,
        so a count that grew with speed would move the median along
        that trend. Each pass runs under a span named after its kind."""
        def step(kind, fn):
            with w.tr.span(kind):
                return self.attempt(f"{label}.{kind}", fn)
        if first:
            step("first", w.first)
        for _ in range(WARMUPS):
            step("warmup", w.run_pass)
        n = max(MIN_PASSES, round(seconds / NOMINAL_PASS_S))
        return [step("timed", w.run_pass)["s"] for _ in range(n)]

    def setup(self, event_log: str = "", tracer_on: bool = False):
        t0 = time.perf_counter()
        spark = self.session(event_log)
        session_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark, tracer_on, self.args.workload)
        w = self.workload(spark, self.inputs, self.work, tracer)
        opens = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            w.open()
            opens.append(time.perf_counter() - t)
        return spark, w, tracer, session_s, opens

    def stop(self, spark) -> float:
        """Peak RSS of the process tree, then stop the session."""
        per_proc = tracing.tree_hwm_mb(os.getpid())
        self.record.setdefault("hwm_mb", []).append(per_proc)
        spark.stop()
        return sum(per_proc.values())

    # -- the two modes -----------------------------------------------------

    def untraced(self, seconds: float, pre_s: float) -> dict:
        spark, w, _, session_s, opens = self.setup()
        self.record.update(session_s=session_s, open_s=opens, pre_s=pre_s)
        setup_s = pre_s + session_s + statistics.median(opens)
        timed = self.drive(w, "untraced", seconds)
        rss = self.stop(spark)
        p50 = statistics.median(timed)
        first = self.passes[0]["s"]
        return {"setup_s": setup_s, "first_pass_s": first,
                "pass_s_p50": p50, "rows_per_s": w.rows / p50,
                "peak_rss_mb": rss}

    def traced(self, seconds: float, pre_s: float) -> dict:
        """Untraced passes for half of ``seconds``, then the traced
        session: passes for the other half and the layer probes."""
        untraced = self.untraced(seconds / 2, pre_s)["pass_s_p50"]
        log_dir = os.path.join(self.work, "eventlog")
        spark, w, tracer, session_s, _ = self.setup(log_dir, True)
        t0 = time.perf_counter()
        # the resume baseline of the untraced half is still on disk
        timed = self.drive(w, "traced", seconds / 2,
                           first=self.args.workload != "resume_append")
        with tracer.span("probes"):
            w.probes()
        rss = self.stop(spark)
        traced_wall = time.perf_counter() - t0
        tracer.dump(os.path.join(self.base, "results",
                                 self.result_name() + ".spans.json"))
        log = tracing.parse_event_log(log_dir, self.args.workload)
        steal = [p["steal_s"] for p in self.passes
                 if p["phase"] == "traced.timed"]
        m = per_layer(log, tracer, w, self.cores, steal)
        m["conf.session_s"] = self.record["session_s"]
        m["trace.overhead_frac"] = (statistics.median(timed) / untraced - 1)
        self.record.update(traced_session_s=session_s, traced_rss_mb=rss,
                           traced_wall_s=traced_wall)
        return m

    def result_name(self) -> str:
        a = self.args
        return f"{a.workload}-s{a.seed}-trace{a.trace}"

    def main(self, pre_s: float) -> dict:
        a = self.args
        metrics = (self.traced(a.seconds, pre_s) if a.trace
                   else self.untraced(a.seconds, pre_s))
        failed = sum(1 for p in self.passes if not p["ok"])
        self.record.update(passes=self.passes, metrics=metrics)
        units = UNITS if a.trace else E2E
        return {"correct": failed == 0, "attempted": len(self.passes),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]}
                            for k, v in metrics.items()}}


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM and its Python
    workers to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while (len(tracing.process_tree(os.getpid())) > 1
           and time.time() < deadline):
        time.sleep(0.2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("clips_audio", "contract_scalar",
                             "resume_append"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(gen.SIZES), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    if importlib.util.find_spec("protovalidate_spark") is None:
        print("perfbench: the engine package protovalidate_spark is not "
              "importable from " + root, file=sys.stderr)
        return 2
    from workloads import WORKLOADS
    run = Run(args, root)
    run.workload = WORKLOADS[args.workload]
    # set-up so far (interpreter, engine import); generation is excluded
    pre_s = process_age_s()
    os.makedirs(os.path.join(run.base, "results"), exist_ok=True)
    run.inputs = gen.ensure(os.path.join(run.base, "cache"),
                            run.workload.kind, args.seed, args.size)
    try:
        out = run.main(pre_s)
    finally:
        stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    with open(os.path.join(run.base, "results",
                           run.result_name() + ".json"), "w") as f:
        json.dump(run.record, f, indent=1)
    for k, v in out["metrics"].items():
        print(f"  {k:24s} {v['value']:14.4f} {v['unit']}", file=sys.stderr)
    rate = out["failed"] / out["attempted"]
    print(f"  {'fail_rate':24s} {rate:14.4f} ratio "
          f"({out['failed']}/{out['attempted']} passes)", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
