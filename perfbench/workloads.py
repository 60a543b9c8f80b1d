"""The three benchmark workloads, driven through the engine's public
functions.

Each workload has the same shape:

* ``open()``  — inputs open, suite built or loaded, oracle ready
  (the repeatable part of set-up);
* ``first()`` — the first pass of a fresh session;
* ``run_pass()`` — one timed pass; returns ``(seconds, ok, note)``,
  where ``ok`` is the oracle check of that pass;
* ``probes()`` — traced runs only: each layer called on its own, so the
  event log can attribute its jobs and SQL metrics.

Spans are opened with the tracer around every call into the engine.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from protovalidate_spark import (Float64, Int32, Int64, Object, String,
                                 load_suite, save_suite)
from protovalidate_spark.audio.decode import with_decoded
from protovalidate_spark.clips import clips_suite
from protovalidate_spark.errors import violation_summary
from protovalidate_spark.runner import (read_manifest, run_checkpointed,
                                        verdicts_from_outputs)
from protovalidate_spark.sources import (read_table, table_partitions,
                                         table_snapshot_id)
from protovalidate_spark.suite import ValidationSuite

import gen


def by_rule(rows) -> dict:
    return {f"{r['field_path']}:{r['rule_id']}": r["violations"]
            for r in rows}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want))
    return ", ".join(f"{k}: got {got.get(k, 0)} want {want.get(k, 0)}"
                     for k in keys if got.get(k, 0) != want.get(k, 0))


class Workload:
    name = ""
    kind = ""            # generator table kind
    runner_stats_from_passes = False

    def __init__(self, spark, inputs: str, work: str, tracer):
        self.spark, self.inputs, self.work, self.tr = spark, inputs, work, tracer
        self.table = os.path.join(inputs, "table")
        self.serde_path = os.path.join(work, f"{self.name}.suite.json")
        self.runner_stats = []   # one record per run_checkpointed call

    def open(self) -> None:
        with open(os.path.join(self.inputs, "oracle.json")) as f:
            self.oracle = json.load(f)
        self.rows = self.oracle["rows"]

    def first(self):
        return self.run_pass()

    # -- layer probes (traced runs only) ------------------------------------

    def probe_frames(self):
        """(table frame for the dataset/rules probes, frame + binary
        column for the decode probe)."""
        return self.df, self.df, "bytes"

    def probes(self) -> None:
        spark, tr = self.spark, self.tr
        with tr.span("probe.sources"):
            table_partitions(spark, self.table, "part_date")
            table_snapshot_id(spark, self.table)
            read_table(spark, self.table)
        with tr.span("probe.suite_serde"):
            load_suite(self.serde_path, spark)
        frame, audio, col = self.probe_frames()
        with tr.span("probe.rules"):
            self.suite.row_violations(frame)
        with tr.span("probe.dataset.build"):
            parts = self.suite.dataset_violations(frame)
        with tr.span("probe.dataset.exec"):
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p.select(*u.columns))
            _noop(u)
        with tr.span("probe.audio"):
            _noop(with_decoded(audio, bytes_col=col, out_col="__dec"))
        self.runner_probe()

    def runner_probe(self) -> None:
        """The checkpointed runner on this table, for workloads whose
        pass does not use it."""
        out = os.path.join(self.work, "runner_probe")
        shutil.rmtree(out, ignore_errors=True)
        with self.tr.span("probe.runner"):
            run_checkpointed(self.spark, self.suite, self.table, out,
                             partitions_per_job=16)
        self.runner_stats.append(_runner_stats(out, 0))


def _manifest_recs(out: str) -> list:
    path = os.path.join(out, "_manifest", "manifest.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _runner_stats(out: str, before: int) -> dict:
    """What one run_checkpointed call added to the manifest."""
    new = _manifest_recs(out)[before:]
    parts = [r for r in new if r["part"] != "__global__"]
    glob = [r for r in new if r["part"] == "__global__"]
    return {"partition_jobs": sum(1 / r.get("batch_size", 1) for r in parts),
            # a batched job stamps its wall time on each of its records
            "partition_s": sum(r["wall_ms"] / r.get("batch_size", 1)
                               for r in parts) / 1e3,
            "global_s": sum(r["wall_ms"] for r in glob) / 1e3,
            "manifest_appends": len(new)}


# ---------------------------------------------------------------------------

class ClipsAudio(Workload):
    """The north-star pass: the full clips suite over WAV payloads."""

    name, kind = "clips_audio", "clips"

    def open(self) -> None:
        super().open()
        spark, tr = self.spark, self.tr
        with tr.span("open.sources"):
            self.df = read_table(spark, self.table)
            self.dim = spark.read.parquet(
                os.path.join(self.inputs, "codecs.parquet"))
        with tr.span("open.suite"):
            self.suite = self._build()
            save_suite(self._suite_for_serde(), self.serde_path,
                       ref_paths=[os.path.join(self.inputs,
                                               "codecs.parquet")])

    def _build(self):
        return clips_suite(self.spark,
                           drift_baseline=gen.CLIPS_DRIFT_BASELINE,
                           dim=self.dim)

    def _suite_for_serde(self):
        # the decode-consistency rules are lambdas and never serialize
        return dataclasses.replace(self.suite, extra_object_rules=())

    def run_pass(self):
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("pass"):
            with tr.span("suite.build"):
                suite = self._build()
            with tr.span("suite.run"):
                res = suite.run(self.df, with_stats=True, persist=True)
            with tr.span("suite.action"):
                got = by_rule(violation_summary(res.violations_full)
                              .collect())
                _noop(res.stats)
        dt = time.perf_counter() - t0
        res.violations_full.unpersist(blocking=True)
        self.spark.catalog.clearCache()
        want = self.oracle["by_rule"]
        return dt, got == want, _diff(got, want)


class ContractScalar(Workload):
    """``validate_table --suite``: a JSON contract over a scalar table."""

    name, kind = "contract_scalar", "scalar"

    def open(self) -> None:
        super().open()
        spark, tr = self.spark, self.tr
        with tr.span("open.sources"):
            self.df = spark.read.parquet(self.table)
        with tr.span("open.suite"):
            merchants = os.path.join(self.inputs, "merchants.parquet")
            self.suite = contract_suite(spark.read.parquet(merchants))
            save_suite(self.suite, self.serde_path, ref_paths=[merchants])

    def run_pass(self):
        spark, tr = self.spark, self.tr
        t0 = time.perf_counter()
        with tr.span("pass"):
            with tr.span("suite_serde.load"):
                suite = load_suite(self.serde_path, spark)
            with tr.span("suite.run"):
                res = suite.run(self.df, persist=True)
            with tr.span("suite.action"):
                got = by_rule(violation_summary(res.violations_full)
                              .collect())
        dt = time.perf_counter() - t0
        res.violations_full.unpersist(blocking=True)
        spark.catalog.clearCache()
        want = self.oracle["by_rule"]
        return dt, got == want, _diff(got, want)

    def probe_frames(self):
        # no payload column: the decode probe sees text cast to binary
        audio = self.df.select(F.col("account").cast("binary").alias("b"))
        return self.df, audio, "b"


def contract_suite(merchants) -> ValidationSuite:
    """The declarative contract of the scalar table (thresholds shared
    with the generator's oracle)."""
    rules = (
        Object().with_unknown()
        .with_key("id", Int64().with_required().min(0))
        .with_key("account", String().with_required()
                  .regex(r"^acct-[0-9]{8}$"))
        .with_key("merchant_id", Int64().with_required())
        .with_key("amount", Float64().with_required().min(0.0)
                  .max(10000.0))
        .with_key("qty", Int32().min_exclusive(0).max(1000))
        .with_key("status", String().allowed_values(*gen.STATUSES))
        .with_key("channel", String().allowed_values(*gen.CHANNELS))
        .with_key("note", String().with_nil().max_len(64))
    )
    return ValidationSuite(
        rules=rules,
        row_keys=["id"],
        unique=[["id"]],
        refs=[("merchant_id", merchants, "merchant_id")],
        drift_baseline=gen.SCALAR_DRIFT_BASELINE,
        stats_bounds=[{"col": "note",
                       "max_null_rate": gen.NOTE_MAX_NULL_RATE},
                      {"col": "qty", "min": gen.QTY_MIN_BOUND}],
        metrics=[{"kind": "entropy", "cols": list(gen.ENTROPY_COLS),
                  "min_entropy": gen.MIN_ENTROPY}],
        volume_specs=[{"group_col": "channel",
                       "max_rel_dev": gen.VOLUME_MAX_REL_DEV}],
        calendar_cols=["event_date"],
    )


class ResumeAppend(ClipsAudio):
    """The checkpointed runner resuming after files were appended to a
    few partitions of the clips table."""

    name, kind = "resume_append", "clips"
    runner_stats_from_passes = True

    def open(self) -> None:
        super().open()
        self.out = os.path.join(self.work, "out")
        self.pristine = os.path.join(self.work, "out_pristine")
        if not os.path.isdir(os.path.join(self.work, "table")):
            _link_tree(os.path.join(self.inputs, "table"),
                       os.path.join(self.work, "table"))
        self.table = os.path.join(self.work, "table")
        src = os.path.join(self.inputs, "append")
        self.appends = [
            (os.path.join(src, rel), os.path.join(self.table, rel))
            for rel in sorted(
                os.path.relpath(os.path.join(d, f), src)
                for d, _, fs in os.walk(src) for f in fs)]

    def first(self):
        """The first pass: a full checkpointed run over the table before
        the append, kept as the state every resume starts from."""
        for _, dst in self.appends:
            if os.path.exists(dst):
                os.remove(dst)
        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.perf_counter()
        with self.tr.span("baseline"):
            run_checkpointed(self.spark, self.suite, self.table, self.out)
        dt = time.perf_counter() - t0
        man = read_manifest(os.path.join(self.out, "_manifest"))
        rows = sum(r["rows_scanned"] for p, r in man.items()
                   if p != "__global__")
        ok = rows == self.rows and "__global__" in man
        shutil.rmtree(self.pristine, ignore_errors=True)
        shutil.copytree(self.out, self.pristine)
        return dt, ok, "" if ok else f"baseline rows_scanned {rows}"

    def _restore(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.pristine, self.out)
        for src, dst in self.appends:
            if os.path.exists(dst):
                os.remove(dst)
            _link(src, dst)

    def run_pass(self):
        self._restore()
        before = len(_manifest_recs(self.out))
        t0 = time.perf_counter()
        with self.tr.span("pass"):
            with self.tr.span("runner.resume"):
                run_checkpointed(self.spark, self.suite, self.table,
                                 self.out)
        dt = time.perf_counter() - t0
        if self.tr.enabled:
            self.runner_stats.append(_runner_stats(self.out, before))
        return (dt,) + self._check()

    def _check(self):
        want = self.oracle["resume"]
        man = read_manifest(os.path.join(self.out, "_manifest"))
        parts = [r for p, r in man.items() if p != "__global__"]
        got = {
            "rows_scanned": sum(r["rows_scanned"] for r in parts),
            "row_violations": sum(r["violations"] for r in parts),
            "global_violations": man.get("__global__", {}).get("violations"),
        }
        verdicts = sorted(
            [str(r["part_date"]), r["pass"], r["rows_scanned"],
             r["violations"]]
            for r in verdicts_from_outputs(self.spark, self.out).collect())
        got["verdicts"] = verdicts
        bad = [k for k in got if got[k] != want[k]]
        return not bad, ", ".join(f"{k}: got {got[k]} want {want[k]}"
                                  for k in bad)

    def probe_frames(self):
        # basePath keeps part_date, which the suite's row keys carry
        delta = self.spark.read.option("basePath", self.table).parquet(
            *[d for _, d in self.appends])
        return read_table(self.spark, self.table), delta, "bytes"

    def probes(self) -> None:
        # the suite layer on the delta files the resume validates
        _, delta, _ = self.probe_frames()
        with self.tr.span("probe.suite"):
            with self.tr.span("suite.run"):
                res = self.suite.run(delta, persist=True)
            with self.tr.span("suite.action"):
                violation_summary(res.violations_full).collect()
        res.violations_full.unpersist(blocking=True)
        super().probes()

    def runner_probe(self) -> None:
        pass  # the timed passes are runner calls


def _link(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def _link_tree(src: str, dst: str) -> None:
    for d, _, files in os.walk(src):
        for f in files:
            p = os.path.join(d, f)
            _link(p, os.path.join(dst, os.path.relpath(p, src)))


WORKLOADS = {w.name: w for w in (ClipsAudio, ContractScalar, ResumeAppend)}
