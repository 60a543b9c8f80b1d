"""Suite-level serde (suite_serde.py): the whole table contract —
rules + uniqueness + refs + drift baseline + bounds/metrics/integrity
specs — round-trips through one JSON artifact with identical
violations output."""

import json

import pytest
from pyspark.sql import functions as F

from protovalidate_spark import (
    Int64, Object, SerdeError, String, load_suite, save_suite,
    suite_from_dict, suite_to_dict,
)
from protovalidate_spark.suite import ValidationSuite


@pytest.fixture(scope="module")
def table(spark):
    rows = [(i, f"u{i % 7}", "A" if i % 3 else "B", float(i))
            for i in range(60)]
    rows += [(60, "u1", "C", -5.0), (60, "u2", "A", 2.0)]  # dup id + bad
    return spark.createDataFrame(rows, "id bigint, user string, "
                                       "flag string, amt double")


@pytest.fixture(scope="module")
def dim_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("dim") / "flags.parquet")
    spark.createDataFrame([("A",), ("B",)], "flag string") \
         .write.mode("overwrite").parquet(p)
    return p


def make_suite(spark, dim_path):
    from protovalidate_spark.dataset import snapshot
    base_df = spark.createDataFrame(
        [(i, float(i)) for i in range(60)], "id bigint, amt double")
    baseline = snapshot(base_df, ["amt"])
    dim = spark.read.parquet(dim_path)
    return ValidationSuite(
        rules=(Object().with_unknown()
               .with_key("id", Int64().with_required().min(0))
               .with_key("flag", String().with_required().min_len(1))),
        row_keys=["id"],
        unique=[["id"]],
        refs=[("flag", dim, "flag")],
        drift_baseline=baseline,
        stats_bounds=[{"col": "amt", "max_null_rate": 0.0,
                       "min": -10.0, "max": 100.0}],
        metrics=[{"kind": "entropy", "cols": ["flag"],
                  "min_entropy": 0.1}],
    )


def test_suite_roundtrip(spark, table, dim_path):
    suite = make_suite(spark, dim_path)
    doc = suite_to_dict(suite, ref_paths=[dim_path])
    json.dumps(doc)
    suite2 = suite_from_dict(doc, spark)

    a = sorted(map(tuple, suite.run(table, persist=False)
                   .violations.collect()))
    b = sorted(map(tuple, suite2.run(table, persist=False)
                   .violations.collect()))
    assert a == b and a  # non-degenerate: dup id + REF C rows present


def test_suite_file_roundtrip(spark, table, dim_path, tmp_path):
    suite = make_suite(spark, dim_path)
    p = str(tmp_path / "contract.json")
    save_suite(suite, p, ref_paths=[dim_path])
    suite2 = load_suite(p, spark)
    v = suite2.run(table, persist=False).violations
    got = {r["rule_id"] for r in v.collect()}
    assert "UNIQUE" in got and "REF" in got


def test_reconciliation_roundtrip(spark, tmp_path):
    fact = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], "k bigint, v double")
    dimp = str(tmp_path / "dim.parquet")
    spark.createDataFrame([(1, 15.0), (2, 99.0)], "k bigint, total double") \
         .write.mode("overwrite").parquet(dimp)
    suite = ValidationSuite(
        rules=Object().with_unknown(),
        row_keys=["k"],
        reconciliations=[{
            "dim": spark.read.parquet(dimp), "fact_key": "k",
            "dim_key": "k", "fact_expr": F.expr("sum(v)"),
            "dim_col": "total"}],
    )
    doc = suite_to_dict(suite, reconciliation_tables=[
        {"dim_path": dimp, "fact_expr_sql": "sum(v)"}])
    suite2 = suite_from_dict(doc, spark)
    a = sorted(map(tuple, suite.run(fact, persist=False)
                   .violations.collect()))
    b = sorted(map(tuple, suite2.run(fact, persist=False)
                   .violations.collect()))
    assert a == b and len(a) == 1  # key 2: 7 != 99


def test_refs_without_paths_refuse(spark, table, dim_path):
    suite = make_suite(spark, dim_path)
    with pytest.raises(SerdeError):
        suite_to_dict(suite)


def test_extra_object_rules_refuse(spark):
    from protovalidate_spark import ObjectRule
    suite = ValidationSuite(
        rules=Object().with_unknown(),
        extra_object_rules=(ObjectRule(
            "X", lambda cols: F.lit(True), "x", "/x"),))
    with pytest.raises(SerdeError):
        suite_to_dict(suite)


def _rows(suite, df):
    return sorted(((r["row_idx"], r["field_path"], r["rule_id"],
                    r["message"], r["actual"])
                   for r in suite.run(df, persist=False).violations.collect()),
                  key=str)


def test_clips_suite_with_every_audio_gate_roundtrips(spark, tiny_clips,
                                                      tmp_path):
    """The flagship suite with every audio flag saves as one artifact
    (its decode-consistency and audio gates are plain specs) and the
    reloaded suite reproduces its violation rows exactly."""
    from protovalidate_spark.clips import clips_suite
    from protovalidate_spark.fixtures import codecs_dim
    dim = str(tmp_path / "codecs.parquet")
    codecs_dim(spark).write.parquet(dim)
    suite = clips_suite(spark, dim=spark.read.parquet(dim),
                        audio_checks=True, level_checks=True,
                        vad_checks=True, bandwidth_checks=True)
    p = str(tmp_path / "clips.json")
    save_suite(suite, p, ref_paths=[dim])
    want = _rows(suite, tiny_clips)
    assert len(want) > 27   # the baseline rows plus audio-gate rows
    assert _rows(load_suite(p, spark), tiny_clips) == want


@pytest.mark.parametrize("spec, named", [
    ({"gate": "loudness", "col": "bytes"}, r"'loudness'.*'clipping'"),
    ({"gate": "clipping", "col": "transcript"}, r"'clipping'.*'transcript'"),
], ids=["unknown-gate", "col-not-decodable"])
def test_bad_gate_spec_in_artifact_raises(spark, tiny_clips, spec, named):
    from protovalidate_spark.clips import clips_rules
    doc = suite_to_dict(ValidationSuite(rules=clips_rules(),
                                        audio_gates=(spec,)))
    suite = suite_from_dict(json.loads(json.dumps(doc)), spark)
    with pytest.raises(ValueError, match=named):
        suite.row_violations(tiny_clips)


def _drift_rows(suite, table):
    return [r for r in suite.run(table, persist=False).violations.collect()
            if r["rule_id"] == "DRIFT"]


def test_zero_drift_thresholds_survive_roundtrip(spark, table, dim_path):
    """psi_threshold=0.0 is the strictest gate; a reloaded suite must
    not fall back to the looser 0.2 / 0.1 defaults."""
    import dataclasses
    base = make_suite(spark, dim_path)
    assert not _drift_rows(base, table)  # the defaults pass this drift
    strict = dataclasses.replace(base, psi_threshold=0.0, ks_threshold=0.0)
    want = _drift_rows(strict, table)
    assert want
    doc = json.loads(json.dumps(suite_to_dict(strict, ref_paths=[dim_path])))
    reloaded = suite_from_dict(doc, spark)
    assert (reloaded.psi_threshold, reloaded.ks_threshold) == (0.0, 0.0)
    assert _drift_rows(reloaded, table) == want


def test_validate_table_refuses_flags_the_suite_ignores(monkeypatch, tmp_path):
    """jobs/validate_table.py --suite runs the artifact's own uniqueness
    groups, row keys and exemplar cap; the CLI flags for them are
    refused, never silently dropped."""
    import importlib.util
    import os
    import sys
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs", "validate_table.py")
    spec = importlib.util.spec_from_file_location("validate_table", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    suite = str(tmp_path / "missing.json")
    for flags in (["--unique", "id"], ["--row-keys", "id"],
                  ["--max-exemplars", "3"]):
        monkeypatch.setattr(sys, "argv", ["validate_table.py", "--table",
                                          str(tmp_path), "--suite", suite,
                                          *flags])
        with pytest.raises(SystemExit, match=flags[0]):
            job.main()


def test_every_plain_field_survives_roundtrip(spark):
    """One field walk: every ValidationSuite field except the ones with
    their own code (rules, refs, reconciliations, extra_object_rules)
    set to a non-default value comes back from the artifact."""
    import dataclasses
    explicit = {"rules", "refs", "reconciliations", "extra_object_rules"}
    values = {
        "row_keys": ["id"], "partition_col": "p", "unique": [["id"]],
        "drift_baseline": {"amt": {"kind": "numeric", "edges": [0.0, 1.0],
                                   "counts": [3, 4]}},
        "psi_threshold": 0.0, "ks_threshold": 0.0,
        "drift_group_col": "flag", "stats_cols": ["amt"],
        "salt_buckets": 4,
        "audio_gates": [{"gate": "clipping", "col": "bytes",
                         "max_ratio": 0.01}],
        "label_conflicts": [{"id_col": "id", "key": "exact"}],
        "monotonic": [{"col": "id"}],
        "volume_specs": [{"group_col": "flag", "max_rel_dev": 0.5}],
        "calendar_cols": ["d"],
        "freshness": [{"ts_col": "ts", "max_age_hours": 1.0,
                       "as_of": "2024-01-01 00:00:00"}],
        "embedding_drift": [{"col": "v", "baseline": {"mean": [0.0]}}],
        "stats_bounds": [{"col": "amt", "max_null_rate": 0.0}],
        "metrics": [{"kind": "entropy", "cols": ["flag"],
                     "min_entropy": 0.1}],
        "outliers": [{"col": "amt", "method": "mad"}],
        "max_exemplars_per_rule": 3,
    }
    plain = [f for f in dataclasses.fields(ValidationSuite)
             if f.name not in explicit]
    assert {f.name for f in plain} == set(values)
    for f in plain:
        assert values[f.name] != f.default, f.name
    suite = ValidationSuite(rules=Object().with_unknown(), **values)
    doc = json.loads(json.dumps(suite_to_dict(suite)))
    back = suite_from_dict(doc, spark)
    for f in plain:
        assert getattr(back, f.name) == values[f.name], f.name
