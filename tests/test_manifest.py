"""Crash consistency of the checkpoint manifest (runner.py): a run
killed mid-append leaves a torn LAST line, which a resume tolerates,
records and cuts; a torn line anywhere else is corruption and raises."""

import json
import os

import pytest

from protovalidate_spark import runner
from protovalidate_spark.clips import clips_suite
from protovalidate_spark.runner import (GLOBAL_KEY, MANIFEST_NAME,
                                        append_manifest, read_manifest,
                                        repair_manifest, run_checkpointed)


def _write(d, text):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, MANIFEST_NAME), "w") as f:
        f.write(text)


def _rec(part, n=0):
    return json.dumps({"part": part, "violations": n, "status": "complete"})


def test_torn_last_line_is_skipped(tmp_path, caplog):
    d = str(tmp_path)
    _write(d, _rec("a") + "\n" + _rec("b") + "\n" + '{"part": "c", "viol')
    with caplog.at_level("WARNING", logger="protovalidate_spark.runner"):
        got = read_manifest(d)
    assert sorted(got) == ["a", "b"]
    assert "torn" in caplog.text


def test_torn_middle_line_raises(tmp_path):
    d = str(tmp_path)
    _write(d, _rec("a") + "\n" + '{"part": "b", "vi' + "\n" + _rec("c") + "\n")
    with pytest.raises(ValueError, match="corrupt manifest"):
        read_manifest(d)


def test_repair_cuts_torn_tail_before_next_append(tmp_path):
    d = str(tmp_path)
    _write(d, _rec("a") + "\n" + '{"part": "b", "vi')
    assert repair_manifest(d) == '{"part": "b", "vi'
    append_manifest(d, {"part": "b", "violations": 2})
    assert read_manifest(d)["b"]["violations"] == 2
    assert repair_manifest(d) is None  # whole file: nothing to cut


def test_repair_ends_a_whole_unterminated_line(tmp_path):
    d = str(tmp_path)
    _write(d, _rec("a") + "\n" + _rec("b", 3))   # killed before "\n"
    assert repair_manifest(d) is None
    append_manifest(d, {"part": "c", "violations": 1})
    assert {p: r["violations"] for p, r in read_manifest(d).items()} == \
        {"a": 0, "b": 3, "c": 1}


def test_append_is_one_fsynced_write(tmp_path, monkeypatch):
    synced = []
    real = os.fsync
    monkeypatch.setattr(runner.os, "fsync",
                        lambda fd: synced.append(fd) or real(fd))
    d = str(tmp_path)
    append_manifest(d, {"part": "a", "violations": 0})
    append_manifest(d, {"part": "b", "violations": 1})
    assert len(synced) == 2
    assert sorted(read_manifest(d)) == ["a", "b"]


def test_resume_after_torn_manifest_line(spark, tiny_table, tmp_path):
    """A run killed in the middle of a manifest append resumes: the torn
    line is cut and reported, the remaining partitions run, and the
    global record counts exactly the rows of the global sink."""
    out = str(tmp_path)
    suite = clips_suite(spark)
    r1 = run_checkpointed(spark, suite, tiny_table, out, max_partitions=7,
                          partitions_per_job=7)
    assert len(r1.partitions_run) == 7 and r1.manifest_torn_tail is None
    mdir = os.path.join(out, "_manifest")
    with open(os.path.join(mdir, MANIFEST_NAME), "a") as f:
        f.write('{"part": "2024-01-')

    r2 = run_checkpointed(spark, suite, tiny_table, out,
                          partitions_per_job=16)
    assert r2.manifest_torn_tail == '{"part": "2024-01-'
    assert sorted(r2.partitions_skipped) == sorted(r1.partitions_run)
    assert len(r2.partitions_run) == 9
    m = read_manifest(mdir)
    assert len(m) == 17
    gv = spark.read.parquet(os.path.join(out, "global_violations"))
    assert m[GLOBAL_KEY]["violations"] == gv.count() > 0
