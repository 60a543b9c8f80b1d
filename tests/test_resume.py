"""Checkpoint/resume: kill after 7/16 partitions, rerun, assert only the
remaining 9 are re-scanned and final outputs equal a cold full run
(FIXTURES.md §5)."""

import os
import shutil

import pytest

from protovalidate_spark.clips import clips_suite
from protovalidate_spark.fixtures import TINY, clips_df, expected_violations, write_clips
from protovalidate_spark.runner import (
    read_manifest, run_checkpointed, verdicts_from_outputs,
)


def test_resume_from_manifest(spark, tiny_table, tmp_path_factory):
    table = tiny_table
    out = str(tmp_path_factory.mktemp("run_out"))
    suite = clips_suite(spark)

    # first run dies after 7 partitions
    r1 = run_checkpointed(spark, suite, table, out, max_partitions=7)
    assert len(r1.partitions_run) == 7 and not r1.partitions_skipped
    m1 = read_manifest(os.path.join(out, "_manifest"))
    assert len(m1) == 7  # no global phase yet

    # resume: skips the 7, runs the 9, then the global phase
    r2 = run_checkpointed(spark, suite, table, out)
    assert sorted(r2.partitions_skipped) == sorted(r1.partitions_run)
    assert len(r2.partitions_run) == 9
    m2 = read_manifest(os.path.join(out, "_manifest"))
    assert len(m2) == 17  # 16 partitions + __global__
    for rec in m2.values():
        assert rec["snapshot_id"] and "completed_at" in rec

    # final outputs identical to a cold in-memory full run
    viol = spark.read.parquet(os.path.join(out, "violations"))
    gv = spark.read.parquet(os.path.join(out, "global_violations"))
    got = {(r["row_idx"], r["field_path"], r["rule_id"])
           for r in viol.collect()} | \
          {(r["row_idx"], r["field_path"], r["rule_id"])
           for r in gv.collect()}
    assert got == expected_violations(TINY)

    verdicts = verdicts_from_outputs(spark, out)
    vmap = {r["part_date"]: r for r in verdicts.collect()}
    assert len(vmap) == 16
    assert sum(r["rows_scanned"] for r in vmap.values()) == TINY.n_rows
    # cross-check against the one-shot suite verdicts
    cold = clips_suite(spark).run(clips_df(spark, TINY))
    cold_v = {str(r["part_date"]): (r["pass"], r["rows_scanned"], r["violations"])
              for r in cold.verdicts.collect()}
    for pd_, r in vmap.items():
        assert cold_v[pd_] == (r["pass"], r["rows_scanned"], r["violations"])


def test_resume_reruns_rewritten_partition(spark, tmp_path_factory):
    """Lineage-verified resume: a partition rewritten AFTER its manifest
    rec (new data-file names) is re-validated on the next run; untouched
    partitions stay skipped, and the rewritten partition's verdict
    reflects the NEW data."""
    table = str(tmp_path_factory.mktemp("clips_table_lin"))
    out = str(tmp_path_factory.mktemp("run_out_lin"))
    write_clips(spark, table, TINY)
    suite = clips_suite(spark)

    r1 = run_checkpointed(spark, suite, table, out)
    assert not r1.partitions_stale
    parts = sorted(r1.partitions_run)
    victim = parts[0]

    # rewrite ONE partition in place: same rows, new part-file names —
    # exactly what a compaction/backfill commit looks like on disk
    vdir = os.path.join(table, f"part_date={victim}")
    pdf = spark.read.parquet(vdir)
    tmp = vdir + "_rewrite"
    pdf.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(vdir)
    os.replace(tmp, vdir)

    r2 = run_checkpointed(spark, suite, table, out)
    assert r2.partitions_stale == [victim]
    assert r2.partitions_run == [victim]
    assert len(r2.partitions_skipped) == len(parts) - 1

    # manifest lineage updated to the new file list; verdicts still
    # reconcile with a cold full run (data content unchanged)
    m = read_manifest(os.path.join(out, "_manifest"))
    rec = m[victim]
    assert rec["file_list"] and all(
        os.path.exists(f) for f in rec["file_list"])
    verdicts = {r["part_date"]: r for r in
                verdicts_from_outputs(spark, out).collect()}
    cold = clips_suite(spark).run(clips_df(spark, TINY))
    cold_v = {str(r["part_date"]): (r["pass"], r["violations"])
              for r in cold.verdicts.collect()}
    assert cold_v[victim] == (verdicts[victim]["pass"],
                              verdicts[victim]["violations"])

    # third run: nothing stale, everything skipped — and the global phase
    # is reused from the manifest (zero table scans), reporting the same
    # dataset-level violation count without appending a new __global__ rec
    mpath = os.path.join(out, "_manifest", "manifest.jsonl")
    def n_global():
        with open(mpath) as f:
            return sum(1 for ln in f if '"__global__"' in ln)
    g_before = n_global()
    r3 = run_checkpointed(spark, suite, table, out)
    assert not r3.partitions_stale and not r3.partitions_run
    assert n_global() == g_before
    g_rec = read_manifest(os.path.join(out, "_manifest"))["__global__"]
    assert r3.total_violations == g_rec["violations"] > 0


def test_resume_appends_only_delta_files(spark, tmp_path_factory):
    """Pure-append lineage (Iceberg's dominant commit shape): a resumed
    run scans ONLY the new files, appends their violations to the
    partition sink, and sums manifest totals — final verdicts equal a
    cold run over the augmented table."""
    import glob

    from protovalidate_spark.sources import read_table

    table = str(tmp_path_factory.mktemp("clips_table_app"))
    out = str(tmp_path_factory.mktemp("run_out_app"))
    write_clips(spark, table, TINY)
    suite = clips_suite(spark)

    r1 = run_checkpointed(spark, suite, table, out)
    parts = sorted(r1.partitions_run)
    victim, donor = parts[0], parts[1]
    m1 = read_manifest(os.path.join(out, "_manifest"))
    donor_rows = m1[donor]["rows_scanned"]

    # append one extra data file to the victim partition: the donor
    # partition's rows (same non-partition schema, new file name)
    vdir = os.path.join(table, f"part_date={victim}")
    ddir = os.path.join(table, f"part_date={donor}")
    tmp = str(tmp_path_factory.mktemp("delta_stage"))
    spark.read.parquet(ddir).coalesce(1).write.mode("overwrite").parquet(tmp)
    src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.copy(src, os.path.join(vdir, "part-appended-00001.parquet"))

    r2 = run_checkpointed(spark, suite, table, out)
    assert r2.partitions_stale == [victim]
    assert r2.partitions_run == [victim]
    # only the delta file's rows were scanned this run
    assert r2.total_rows == donor_rows
    m2 = read_manifest(os.path.join(out, "_manifest"))
    rec = m2[victim]
    assert rec["appended_files"] == 1
    assert rec["rows_scanned"] == m1[victim]["rows_scanned"] + donor_rows
    assert sorted(rec["file_list"]) == sorted(
        os.path.join(vdir, f) for f in os.listdir(vdir)
        if f.endswith(".parquet"))

    # verdicts reconcile with a cold full run over the AUGMENTED table
    got = {r["part_date"]: (r["pass"], r["rows_scanned"], r["violations"])
           for r in verdicts_from_outputs(spark, out).collect()}
    cold = clips_suite(spark).run(read_table(spark, table))
    want = {str(r["part_date"]): (r["pass"], r["rows_scanned"],
                                  r["violations"])
            for r in cold.verdicts.collect()}
    assert got == want

    # idempotent: nothing stale on the next rerun, global phase reused
    r3 = run_checkpointed(spark, suite, table, out)
    assert not r3.partitions_stale and not r3.partitions_run


def _small_file_sink(spark, out):
    """A violation sink whose partition A holds three append runs (3
    files, 30 rows) and partition B one file (5 rows)."""
    vdir = os.path.join(out, "violations")
    rows = [(i, f"/f{i % 2}", "MIN", "m", str(i)) for i in range(30)]
    df = spark.createDataFrame(
        rows, "row_idx long, field_path string, rule_id string, "
              "message string, actual string")
    a = os.path.join(vdir, "part_date=2026-01-01")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        (df.filter(f"row_idx >= {lo} and row_idx < {hi}").coalesce(1)
           .write.mode("append").parquet(a))
    b = os.path.join(vdir, "part_date=2026-01-02")
    df.limit(5).coalesce(1).write.mode("overwrite").parquet(b)
    return a, b


def nf(d):
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))


def test_compact_violations_preserves_rows(spark, tmp_path_factory):
    """Sink compaction collapses a partition's accumulated small files
    into one without changing row content; single-file partitions are
    left alone."""
    from protovalidate_spark.runner import compact_violations

    out = str(tmp_path_factory.mktemp("run_out_cmp"))
    a, b = _small_file_sink(spark, out)
    assert nf(a) == 3 and nf(b) == 1
    before = sorted(tuple(r) for r in spark.read.parquet(a).collect())

    done = compact_violations(spark, out)
    assert done == ["2026-01-01"]
    assert nf(a) == 1 and nf(b) == 1
    after = sorted(tuple(r) for r in spark.read.parquet(a).collect())
    assert after == before


@pytest.mark.parametrize("fail_at", [0, 1])
def test_compact_violations_survives_a_failed_rename(spark, tmp_path,
                                                     monkeypatch, fail_at):
    """A rename of the compaction swap fails once: the sink still reads
    every row exactly once under its date, and the next call settles
    the leftovers and compacts."""
    from collections import Counter

    from protovalidate_spark import runner

    out = str(tmp_path)
    vdir = os.path.join(out, "violations")
    a, _ = _small_file_sink(spark, out)

    def read():
        df = spark.read.parquet(vdir)
        assert dict(df.dtypes)["part_date"] == "date"
        return Counter((tuple(r), str(r["part_date"])) for r in df.collect())

    before = read()
    real, calls = os.replace, []

    def flaky(src, dst):
        calls.append(src)
        if len(calls) == fail_at + 1:
            raise OSError("injected rename failure")
        return real(src, dst)

    monkeypatch.setattr(runner.os, "replace", flaky)
    with pytest.raises(OSError, match="injected"):
        runner.compact_violations(spark, out)
    monkeypatch.undo()
    assert read() == before and sum(before.values()) == 35
    assert runner.compact_violations(spark, out) == ["2026-01-01"]
    assert read() == before and nf(a) == 1
    assert sorted(os.listdir(vdir)) == ["part_date=2026-01-01",
                                        "part_date=2026-01-02"]


def test_compact_violations_settles_an_interrupted_swap(spark, tmp_path):
    """A run killed between its two renames leaves the old partition
    aside and a copy beside it: the next call restores the partition,
    drops the copy, and compacts it."""
    from protovalidate_spark.runner import compact_violations

    out = str(tmp_path)
    vdir = os.path.join(out, "violations")
    a, b = _small_file_sink(spark, out)
    before = sorted(tuple(r) for r in spark.read.parquet(vdir).collect())
    os.replace(a, os.path.join(vdir, ".aside.part_date=2026-01-01"))
    shutil.copytree(b, os.path.join(vdir, ".compact.part_date=2026-01-02"))
    assert compact_violations(spark, out) == ["2026-01-01"]
    assert sorted(os.listdir(vdir)) == ["part_date=2026-01-01",
                                        "part_date=2026-01-02"]
    assert nf(a) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(vdir).collect()) \
        == before
