"""Runner control semantics: per-partition TIMEOUT (job cancelled, a
first-class TIMEOUT violation row, resumable manifest rec), whole-run
CANCELED budget, and partition-group batching (same manifests/violations,
fewer jobs). Mirrors the reference's context handling
(pkg/rules/object.go:416-427, slice.go:289-292) at partition granularity."""

import dataclasses
import os
import time

import pytest
from pyspark.sql.functions import pandas_udf

from protovalidate_spark.clips import clips_suite
from protovalidate_spark.errors import Code
from protovalidate_spark.fixtures import TINY, expected_violations
from protovalidate_spark.runner import (
    completed_partitions, read_manifest, run_checkpointed,
    verdicts_from_outputs,
)
from protovalidate_spark.rules.object import ObjectRule
from protovalidate_spark.suite import ValidationSuite


def _slow_suite(spark, secs: float):
    """Clips suite with an injected slow Arrow rule so a partition job
    reliably outlives a small timeout."""

    @pandas_udf("boolean")
    def _slow_ok(s):
        time.sleep(secs)
        return s.isnull() | True

    rule = ObjectRule("SLOW", lambda get: _slow_ok(get("clip_id")),
                      "deliberately slow test rule")
    suite = clips_suite(spark)
    return dataclasses.replace(
        suite, extra_object_rules=suite.extra_object_rules + (rule,))


def test_partition_timeout_row_and_resume(spark, tiny_table,
                                          tmp_path_factory):
    table = tiny_table
    out = str(tmp_path_factory.mktemp("run_out"))

    r1 = run_checkpointed(spark, _slow_suite(spark, 30), table, out,
                          max_partitions=1, partition_timeout_secs=3)
    assert len(r1.partitions_timed_out) == 1 and not r1.partitions_run
    pv = r1.partitions_timed_out[0]

    # resumable manifest rec, not a completion
    m = read_manifest(os.path.join(out, "_manifest"))
    assert m[pv]["status"] == Code.TIMEOUT
    assert not completed_partitions(os.path.join(out, "_manifest"))

    # first-class violation row in the partition's sink
    viol = spark.read.parquet(
        os.path.join(out, "violations", f"part_date={pv}")).collect()
    assert len(viol) == 1
    assert viol[0]["rule_id"] == Code.TIMEOUT
    assert viol[0]["field_path"] == "/"

    # verdict: fail, never pass
    v = {r["part_date"]: r for r in
         verdicts_from_outputs(spark, out).collect()}
    assert v[pv]["pass"] is False

    # resume with the normal suite picks the partition up again
    r2 = run_checkpointed(spark, clips_suite(spark), table, out)
    assert pv in r2.partitions_run and not r2.partitions_skipped
    m2 = read_manifest(os.path.join(out, "_manifest"))
    assert m2[pv]["status"] == "complete"
    # the TIMEOUT control row was overwritten by the real violations
    viol2 = spark.read.parquet(
        os.path.join(out, "violations", f"part_date={pv}"))
    assert viol2.filter(viol2.rule_id == Code.TIMEOUT).count() == 0


def test_run_budget_cancels_remaining(spark, tiny_table,
                                      tmp_path_factory):
    table = tiny_table
    out = str(tmp_path_factory.mktemp("run_out"))

    r = run_checkpointed(spark, clips_suite(spark), table, out,
                         time_budget_secs=0.0)
    assert not r.partitions_run
    assert len(r.partitions_canceled) == 16
    m = read_manifest(os.path.join(out, "_manifest"))
    assert all(rec["status"] == Code.CANCELED for rec in m.values())
    assert not completed_partitions(os.path.join(out, "_manifest"))

    # resume without a budget completes everything
    r2 = run_checkpointed(spark, clips_suite(spark), table, out)
    assert len(r2.partitions_run) == 16 and not r2.partitions_skipped


def test_partition_batching_matches_per_partition(spark, tiny_table,
                                                  tmp_path_factory):
    table = tiny_table
    out1 = str(tmp_path_factory.mktemp("run_single"))
    out4 = str(tmp_path_factory.mktemp("run_batched"))

    calls = []

    class CountingSuite(ValidationSuite):
        def row_violations(self, df):
            calls.append(1)
            return super().row_violations(df)

    base = clips_suite(spark)
    suite = CountingSuite(**{f.name: getattr(base, f.name)
                             for f in dataclasses.fields(base)})

    run_checkpointed(spark, suite, table, out1)
    single_jobs = len(calls)
    calls.clear()
    run_checkpointed(spark, suite, table, out4, partitions_per_job=4)
    batched_jobs = len(calls)
    assert single_jobs == 16 and batched_jobs == 4  # fewer Spark jobs

    m1 = read_manifest(os.path.join(out1, "_manifest"))
    m4 = read_manifest(os.path.join(out4, "_manifest"))
    assert set(m1) == set(m4)
    for pv in m1:
        assert m1[pv]["rows_scanned"] == m4[pv]["rows_scanned"], pv
        assert m1[pv]["violations"] == m4[pv]["violations"], pv
        assert m1[pv]["file_list"] == m4[pv]["file_list"], pv

    # identical violation content, and equal to the fixture expectation
    def key_set(path):
        df = spark.read.parquet(os.path.join(path, "violations"))
        return {(r["row_idx"], r["field_path"], r["rule_id"])
                for r in df.collect()}

    assert key_set(out1) == key_set(out4)
    gv = spark.read.parquet(os.path.join(out4, "global_violations"))
    got = key_set(out4) | {(r["row_idx"], r["field_path"], r["rule_id"])
                           for r in gv.collect()}
    assert got == expected_violations(TINY)


def test_runner_caps_sink_but_keeps_manifest_counts_exact(
        spark, tiny_table, tmp_path_factory):
    """max_exemplars_per_rule bounds the violations PARQUET SINK while
    the manifest (Observation on the pre-cap stream) records exact
    counts — the verdicts stay identical to an uncapped run."""
    table = tiny_table
    out_full = str(tmp_path_factory.mktemp("run_full"))
    out_cap = str(tmp_path_factory.mktemp("run_cap"))

    run_checkpointed(spark, clips_suite(spark), table, out_full)
    suite = dataclasses.replace(clips_suite(spark),
                                max_exemplars_per_rule=1)
    run_checkpointed(spark, suite, table, out_cap)

    mf = read_manifest(os.path.join(out_full, "_manifest"))
    mc = read_manifest(os.path.join(out_cap, "_manifest"))
    assert {p: r["violations"] for p, r in mf.items()} == \
           {p: r["violations"] for p, r in mc.items()}

    vfull = spark.read.parquet(os.path.join(out_full, "violations"))
    vcap = spark.read.parquet(os.path.join(out_cap, "violations"))
    # capped sink: at most 1 row per (partition, rule); subset of full
    per = vcap.groupBy("part_date", "field_path", "rule_id").count()
    assert all(r["count"] == 1 for r in per.collect())
    key = lambda r: (r["row_idx"], r["field_path"], r["rule_id"])
    assert {key(r) for r in vcap.collect()} <= \
           {key(r) for r in vfull.collect()} and vcap.count() > 0
