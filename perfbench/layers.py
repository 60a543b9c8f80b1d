"""Per-layer metrics of a traced run, named after the engine's modules.

Each value comes from the spans the benchmark recorded and the Spark
event log of the traced session. A layer the workload's pass uses is
measured on the pass; a layer the pass does not use is measured on that
layer's probe (see ``workloads.Workload.probes``), so every workload
reports every metric.
"""

from __future__ import annotations

import statistics

# (name, unit, better) — BENCHMARK.json's per_layer list mirrors this
METRICS = [
    ("conf.session_s", "s", "lower"),
    ("suite_serde.load_ms", "ms", "lower"),
    ("rules.build_ms", "ms", "lower"),
    ("suite.run_ms", "ms", "lower"),
    ("suite.eager_jobs", "count", "lower"),
    ("suite.action_s", "s", "lower"),
    ("dataset.build_ms", "ms", "lower"),
    ("dataset.exec_s", "s", "lower"),
    ("dataset.file_scans", "count", "lower"),
    ("dataset.exchanges", "count", "lower"),
    ("audio.decode_s", "s", "lower"),
    ("audio.python_time_ms", "ms", "lower"),
    ("audio.python_boot_ms", "ms", "lower"),
    ("audio.python_init_ms", "ms", "lower"),
    ("audio.to_python_mb", "MiB", "lower"),
    ("audio.from_python_mb", "MiB", "lower"),
    ("sources.list_ms", "ms", "lower"),
    ("runner.partition_jobs", "count", "lower"),
    ("runner.partition_s", "s", "lower"),
    ("runner.global_s", "s", "lower"),
    ("runner.sink_write_mb", "MiB", "lower"),
    ("runner.manifest_appends", "count", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_cpu_s", "cpu-s", "lower"),
    ("exec.sched_delay_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.scan_mb", "MiB", "lower"),
    ("exec.shuffle_write_mb", "MiB", "lower"),
    ("exec.spill_mb", "MiB", "lower"),
    ("exec.cpu_util", "ratio", "higher"),
    ("host.steal_s", "cpu-s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]
UNITS = {name: unit for name, unit, _ in METRICS}

_ARROW = "ArrowEvalPython"
_PY_METRICS = {
    "audio.python_time_ms": "time to run Python workers",
    "audio.python_boot_ms": "time to start Python workers",
    "audio.python_init_ms": "time to initialize Python workers",
    "audio.to_python_mb": "data sent to Python workers",
    "audio.from_python_mb": "data returned from Python workers",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(log, tracer, w, cores: int, steal_per_pass) -> dict:
    """Every per-layer metric except ``conf.session_s`` and
    ``trace.overhead_frac``, which the caller measures. Pass-level
    figures are per timed pass (spans under ``timed/pass``)."""
    def dur(*paths):
        for p in paths:
            if tracer.durations(p):
                return _median(tracer.durations(p))
        return 0.0

    suite_run = ("timed/pass/suite.run", "probes/probe.suite/suite.run")
    m = {"suite_serde.load_ms": 1e3 * dur("timed/pass/suite_serde.load",
                                          "probes/probe.suite_serde"),
         "rules.build_ms": 1e3 * dur("probes/probe.rules"),
         "suite.run_ms": 1e3 * dur(*suite_run)}
    for p in suite_run:
        if tracer.durations(p):
            m["suite.eager_jobs"] = (len(log.job_ids(p))
                                     / len(tracer.durations(p)))
            break
    m["suite.action_s"] = dur("timed/pass/suite.action",
                              "probes/probe.suite/suite.action")

    m["dataset.build_ms"] = 1e3 * dur("probes/probe.dataset.build")
    m["dataset.exec_s"] = dur("probes/probe.dataset.exec")
    nodes = log.plan_nodes(log.job_ids("probes/probe.dataset.exec"))
    m["dataset.file_scans"] = sum(1 for n in nodes if n.startswith("Scan"))
    m["dataset.exchanges"] = sum(1 for n in nodes
                                 if n in ("Exchange", "BroadcastExchange"))

    m["audio.decode_s"] = dur("probes/probe.audio")
    audio_jobs = log.job_ids("probes/probe.audio")
    for key, name in _PY_METRICS.items():
        # worker start-up happens once per session: count all of it
        jobs = list(log.jobs) if key == "audio.python_boot_ms" \
            else audio_jobs
        m[key] = log.sql_metric(jobs, _ARROW, name)

    m["sources.list_ms"] = 1e3 * dur("probes/probe.sources")

    # the runner: the timed passes on resume_append, its probe elsewhere
    runner = ("timed/pass/runner.resume" if w.runner_stats_from_passes
              else "probes/probe.runner")
    runner_jobs = log.job_ids(runner)
    calls = max(len(tracer.durations(runner)), 1)
    for key in ("partition_jobs", "partition_s", "global_s",
                "manifest_appends"):
        m[f"runner.{key}"] = _median([s[key] for s in w.runner_stats])
    m["runner.sink_write_mb"] = \
        log.task_totals(runner_jobs)["write_mb"] / calls

    passes = tracer.durations("timed/pass")
    n = max(len(passes), 1)
    pass_jobs = log.job_ids("timed/pass")
    t = log.task_totals(pass_jobs)
    m["exec.jobs"] = len(pass_jobs) / n
    m["exec.tasks"] = t["tasks"] / n
    m["exec.task_cpu_s"] = t["cpu_s"] / n
    m["exec.sched_delay_s"] = t["sched_delay_s"] / n
    m["exec.gc_s"] = t["gc_s"] / n
    m["exec.scan_mb"] = log.scan_mb(pass_jobs) / n
    m["exec.shuffle_write_mb"] = t["shuffle_write_mb"] / n
    m["exec.spill_mb"] = t["spill_mb"] / n
    m["exec.cpu_util"] = t["cpu_s"] / max(sum(passes) * cores, 1e-9)
    m["host.steal_s"] = (statistics.fmean(steal_per_pass)
                         if steal_per_pass else 0.0)
    return m
