"""Constraint suggestion (dataset/suggest.py): profile → rule rows →
compiled fluent rule set, and the acceptance property that the
suggested rules hold on the table they were profiled from (Deequ
ConstraintSuggestion parity; the reference is declare-only, so this is
an engine extension on the same builders — rules/base.py,
rules/object.py)."""

import datetime as dt

import pytest

from protovalidate_spark.dataset import build_ruleset, suggest_rules


@pytest.fixture(scope="module")
def table(spark):
    rows = [
        (i,
         f"{i:04d}",
         "A" if i % 3 else "B",
         float(i) / 4.0,
         dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
         None if i == 7 else f"txt-{i}")
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "id bigint, code string, flag string, amt double, "
              "ts timestamp, note string")


def test_suggest_rows(table):
    s = {(r["column"], r["rule"]): r
         for r in suggest_rules(table, exact_distinct=True).collect()}

    assert ("id", "required") in s
    assert s[("id", "min")]["param"] == "0"
    assert s[("id", "max")]["param"] == "39"
    assert ("id", "unique") in s                    # 40 distinct of 40

    # all-digits fixed-width string: regex + length bounds, and it is
    # unique too (a string key column)
    assert s[("code", "regex")]["param"] == "^[0-9]+$"
    assert s[("code", "min_len")]["param"] == "4"
    assert s[("code", "max_len")]["param"] == "4"
    assert ("code", "unique") in s

    # low-cardinality: sorted value set as a JSON array
    assert s[("flag", "allowed_values")]["param"] == '["A","B"]'
    assert ("flag", "unique") not in s

    assert s[("amt", "min")]["param"] == "0.000000"
    assert s[("amt", "max")]["param"] == "9.750000"

    assert s[("ts", "min")]["param"] == "2024-01-01 00:00:00"
    assert ("ts", "max") in s

    # note has one NULL → no required, no unique
    assert ("note", "required") not in s
    assert ("note", "unique") not in s
    assert ("note", "min_len") in s


def test_suggest_approx_unique_reason(table):
    s = {(r["column"], r["rule"]): r["reason"]
         for r in suggest_rules(table, exact_distinct=False).collect()}
    assert "approx" in s[("id", "unique")]


def test_acceptance_roundtrip(table):
    """Suggested rules must PASS on the table they were profiled from
    (the Deequ acceptance property): build the ObjectRuleSet and assert
    zero violations."""
    sugg = suggest_rules(table, exact_distinct=True)
    obj, unique = build_ruleset(sugg, dict(table.dtypes))
    assert unique == [["code"], ["id"]] or unique == [["id"], ["code"]]
    viols = obj.violations(table, row_key_cols=["id"])
    assert viols.count() == 0


def test_violations_after_drift(table, spark):
    """A row outside the profiled ranges IS flagged by the suggested
    rules — the suggestion tightens to the observed data."""
    obj, _ = build_ruleset(
        suggest_rules(table, exact_distinct=True), dict(table.dtypes))
    bad = spark.createDataFrame(
        [(99, "xx", "C", 1e9, dt.datetime(2030, 1, 1), None)],
        table.schema)
    got = {r["rule_id"] for r in
           obj.violations(bad, row_key_cols=["id"]).collect()}
    # id 99 > max 39; code fails regex+len; flag C not allowed;
    # amt/ts above max
    assert "MAX" in got and "NOTALLOWED" in got
    assert "PATTERN" in got or "MIN_LEN" in got


def test_value_set_pass_is_bounded(table):
    """Pass 2 only aggregates the qualifying low-card columns — a
    high-cardinality string column must not reach collect_set."""
    sugg = suggest_rules(table, low_card_max=1, exact_distinct=True)
    assert not [r for r in sugg.collect() if r["rule"] == "allowed_values"]


def test_bad_column_raises(table):
    with pytest.raises(ValueError):
        suggest_rules(table, ["nope"])


def test_allowed_values_keep_commas(spark):
    """A suggested value containing a comma survives the suggest →
    build_ruleset round trip as ONE allowed value."""
    rows = [(i, "a,b" if i % 2 else "c") for i in range(40)]
    t = spark.createDataFrame(rows, "id bigint, tag string")
    sugg = suggest_rules(t, ["tag"], exact_distinct=True)
    obj, _ = build_ruleset(sugg, dict(t.dtypes))
    assert obj.violations(t, row_key_cols=["id"]).count() == 0
    probe = spark.createDataFrame([(0, "a"), (1, "b"), (2, "a,b")],
                                  t.schema)
    got = {r["id"] for r in
           obj.violations(probe, row_key_cols=["id"]).collect()}
    assert got == {0, 1}
