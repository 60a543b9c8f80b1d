"""Smoke tests of the benchmark on its smoke-size inputs.

    python3 -m pytest perfbench -q

One Spark session runs all three workloads: open, first pass, one timed
pass (each checked against the generator's oracle) and the layer probes,
with the event log on; every per-layer metric is then derived for every
workload. Separate tests pin the generator (seeded, engine-free), the
BENCHMARK.json metric lists, the output contract of ``run.py`` and its
refusal to run without the engine.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("clips_audio", "contract_scalar", "resume_append")


def _files(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_generator_is_seeded_and_engine_free(tmp_path):
    code = ("import sys; sys.path.insert(0, {here!r}); import gen; "
            "[gen.ensure({cache!r}, k, 5, 'smoke') for k in gen.BUILDERS]; "
            "print(sorted(m for m in sys.modules "
            "if m.split('.')[0] in ('pyspark', 'protovalidate_spark')))")
    for name in ("a", "b"):
        out = subprocess.run(
            [sys.executable, "-c",
             code.format(here=HERE, cache=str(tmp_path / name))],
            check=True, capture_output=True, text=True).stdout
        assert out.strip() == "[]"
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    oracle = json.loads(_files(tmp_path / "a")[
        f"clips-s5-smoke{gen.SIZES['smoke']['clips']}/oracle.json"])
    assert oracle["rows"] == gen.SIZES["smoke"]["clips"]
    assert oracle["by_rule"]["/sr_hz:DRIFT"] == 1


def test_benchmark_json_lists_match_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == layers.METRICS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """All three workloads in one traced session; returns
    ``{workload: (workload object, tracer, passes ok)}`` plus the event
    log directory."""
    from workloads import WORKLOADS as CLASSES
    base = tmp_path_factory.mktemp("bench")
    args = run.parse_args(["--workload", "clips_audio", "--seed", "3",
                           "--seconds", "1", "--size", "smoke"])
    r = run.Run(args, str(base))
    log_dir = os.path.join(r.work, "eventlog")
    spark = r.session(log_dir)
    out = {}
    try:
        for name in WORKLOADS:
            cls = CLASSES[name]
            inputs = gen.ensure(str(base / "cache"), cls.kind, 3, "smoke")
            tr = tracing.Tracer(spark, True, name)
            w = cls(spark, inputs, os.path.join(r.work, name), tr)
            os.makedirs(w.work, exist_ok=True)
            w.open()
            with tr.span("first"):
                first = w.first()
            with tr.span("timed"):
                timed = w.run_pass()
            with tr.span("probes"):
                w.probes()
            out[name] = (w, tr, [first, timed])
        rss = sum(tracing.tree_hwm_mb(os.getpid()).values())
    finally:
        spark.stop()
    yield out, log_dir, rss, r.cores
    shutil.rmtree(r.work, ignore_errors=True)


@pytest.mark.parametrize("name", WORKLOADS)
def test_passes_match_the_oracle(traced, name):
    _, _, passes = traced[0][name]
    for secs, ok, note in passes:
        assert ok, note
        assert secs > 0


@pytest.mark.parametrize("name", WORKLOADS)
def test_every_layer_metric_is_reported(traced, name):
    out, log_dir, rss, cores = traced
    w, tr, _ = out[name]
    log = tracing.parse_event_log(log_dir, name)
    m = layers.per_layer(log, tr, w, cores, [0.0])
    expected = {n for n, _, _ in layers.METRICS} - {
        "conf.session_s", "trace.overhead_frac"}
    assert set(m) == expected
    assert all(math.isfinite(v) and v >= 0 for v in m.values()), m
    assert m["exec.jobs"] > 0 and m["exec.scan_mb"] > 0
    assert m["suite.eager_jobs"] > 0 and m["dataset.file_scans"] > 0
    assert m["audio.to_python_mb"] > 0 and m["runner.manifest_appends"] > 0
    if name == "resume_append":
        # three partitions received appended files
        assert m["runner.partition_jobs"] == len(gen.APPEND_PARTS)
    assert rss > 0


def test_run_prints_the_contract_line():
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "contract_scalar", "--seed", "4", "--seconds", "1", "--trace", "0",
         "--size", "smoke"],
        cwd=ROOT, check=True, capture_output=True, text=True, timeout=180)
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    assert out["attempted"] == 1 + run.WARMUPS + run.MIN_PASSES
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.E2E
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_run_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "clips_audio",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert res.returncode != 0
    assert res.stdout.strip() == ""
