"""Rule-set serde (rules/serde.py): fluent DSL ⇄ JSON round-trips are
behaviorally identical (compiled violations compared row-for-row), and
lambda-bearing constructs refuse to serialize instead of silently
dropping constraints."""

import datetime as dt
import json

import pytest

from protovalidate_spark import (
    Binary, Constant, Duration, Float64, Int16, Object, SerdeError,
    Slice, String, Time, load_ruleset, ruleset_from_dict,
    ruleset_to_dict, save_ruleset,
)


def roundtrip(rs):
    doc = ruleset_to_dict(rs)
    json.dumps(doc)          # must be pure-JSON
    return ruleset_from_dict(doc)


def assert_same_violations(spark, rs, rs2, df, keys=("id",)):
    a = sorted(map(tuple, rs.violations(df, row_key_cols=list(keys))
                   .collect()))
    b = sorted(map(tuple, rs2.violations(df, row_key_cols=list(keys))
                   .collect()))
    assert a == b and a  # non-degenerate: at least one violation row


def test_scalar_object_roundtrip(spark):
    rs = (Object().with_unknown()
          .with_key("name", String().with_required().min_len(3)
                    .max_len(10).regex("^[a-z]+$")
                    .rejected_values("forbidden"))
          .with_key("qty", Int16().with_required().min(1).max(100))
          .with_key("price", Float64().with_nil().min_exclusive(0.0))
          .with_key("flag", String().allowed_values("A", "B")))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "ok", 5, 2.5, "A"),
         (2, "x", 200, 0.0, "C"),
         (3, None, None, None, "UPPER"),
         (4, "forbidden", 1, 1.0, "B")],
        "id int, name string, qty int, price double, flag string")
    assert_same_violations(spark, rs, rs2, df)


def test_typed_fields_roundtrip(spark):
    rs = (Object()
          .with_key("ts", Time().with_layouts("yyyy-MM-dd")
                    .min(dt.datetime(2024, 1, 1))
                    .max(dt.datetime(2024, 12, 31)))
          .with_key("dur", Duration().with_unit("s").min(10).max(600))
          .with_key("payload", Binary().min_len(4).magic(b"RIFF")))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "2024-06-01", 60, bytearray(b"RIFFxxxx")),
         (2, "2023-01-01", 5, bytearray(b"JPEG")),
         (3, "2025-06-01", 1000, bytearray(b"ab"))],
        "id int, ts string, dur int, payload binary")
    assert_same_violations(spark, rs, rs2, df)


def test_width_base_fields_survive():
    rs = Int16().with_base(16).with_rounding("half_even")
    doc = ruleset_to_dict(rs)
    assert doc["width"] == "int16"
    assert doc["calls"][0] == {"call": "with_base", "args": [16]}
    rs2 = ruleset_from_dict(doc)
    assert rs2.width == "int16" and rs2.base == 16 \
        and rs2.rounding == "half_even"


def test_min_len_chars_disambiguated(spark):
    rs = Object().with_key("s", String().min_len_chars(3))
    rs2 = roundtrip(rs)
    # 2-char multibyte string: 6 octets (passes octet min_len 3) but
    # 2 chars — only the CHARS form flags it, so a mis-roundtrip to
    # the octet form would produce zero violations
    df = spark.createDataFrame([(1, "éé")], "id int, s string")
    assert_same_violations(spark, rs, rs2, df)


def test_constant_and_slice_roundtrip(spark):
    rs = (Object()
          .with_key("version", Constant(3))
          .with_key("tags", Slice().min_len(1).with_item_rule_set(
              String().min_len(2))))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, 3, ["ok", "x"]), (2, 4, [])],
        "id int, version int, tags array<string>")
    assert_same_violations(spark, rs, rs2, df)


def test_dynamic_key_roundtrip(spark):
    rs = (Object().with_unknown()
          .with_dynamic_key(r"m_.*", Float64().min(0.0)))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, -1.0, 2.0)], "id int, m_a double, m_b double")
    assert_same_violations(spark, rs, rs2, df)


def test_save_load_file(spark, tmp_path):
    rs = Object().with_key("n", Int16().min(0))
    p = str(tmp_path / "rules.json")
    save_ruleset(rs, p)
    rs2 = load_ruleset(p)
    df = spark.createDataFrame([(1, -5)], "id int, n int")
    assert_same_violations(spark, rs, rs2, df)


def test_suggestions_compile_and_roundtrip(spark):
    """The suggest → build_ruleset → serde → apply loop holds."""
    from protovalidate_spark.dataset import build_ruleset, suggest_rules
    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B") for i in range(20)],
        "id bigint, flag string")
    obj, _ = build_ruleset(suggest_rules(df, exact_distinct=True),
                           dict(df.dtypes))
    obj2 = roundtrip(obj)
    bad = spark.createDataFrame([(99, "C")], "id bigint, flag string")
    got = {r["rule_id"] for r in
           obj2.violations(bad, row_key_cols=["id"]).collect()}
    assert "MAX" in got and "NOTALLOWED" in got


def test_lambda_rules_refuse():
    from pyspark.sql import functions as F
    rs = Object().with_key(
        "x", String().with_rule_func(lambda c: c != F.lit("no"),
                                     rule_id="CUSTOM", message="custom"))
    with pytest.raises(SerdeError):
        ruleset_to_dict(rs)


def test_conditional_key_refuses():
    rs = Object().with_conditional_key(
        "x", lambda cols: cols["y"].isNotNull(), String().min_len(1),
        deps=("y",))
    with pytest.raises(SerdeError):
        ruleset_to_dict(rs)


def test_email_roundtrip(spark):
    """Default Email() = structural + with_domain(Domain().with_tld());
    the lifted domain rules regroup into one with_domain call."""
    from protovalidate_spark import Email
    rs = Object().with_key("e", Email())
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "a@b.com"), (2, "no-at"), (3, "two@@x.com"),
         (4, "ok@sub.example.org"), (5, "x@bad_tld.zzzznotatld"),
         (6, ".dot@x.com")],
        "id int, e string")
    assert_same_violations(spark, rs, rs2, df)


def test_email_custom_domain_roundtrip(spark):
    from protovalidate_spark import Domain, Email
    rs = Object().with_key(
        "e", Email().with_domain(Domain().with_suffix("example.com")))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "a@mail.example.com"), (2, "a@other.org"), (3, "bad")],
        "id int, e string")
    assert_same_violations(spark, rs, rs2, df)


def test_ip_roundtrip(spark):
    from protovalidate_spark import IP
    rs = Object().with_key(
        "ip", IP().with_ipv4_only().with_private_only()
                  .with_cidr("10.0.0.0/8", "192.168.0.0/16"))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "10.1.2.3"), (2, "8.8.8.8"), (3, "192.168.1.1"),
         (4, "172.16.0.1"), (5, "fe80::1"), (6, "not-an-ip")],
        "id int, ip string")
    assert_same_violations(spark, rs, rs2, df)


def test_ip_range_mask_roundtrip(spark):
    from protovalidate_spark import IP
    rs = Object().with_key(
        "ip", IP().with_range("10.0.0.1", "10.0.0.100")
                  .with_subnet_mask("10.0.0.0", "255.0.0.0"))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "10.0.0.50"), (2, "10.9.9.9"), (3, "11.0.0.1")],
        "id int, ip string")
    assert_same_violations(spark, rs, rs2, df)


def test_uri_roundtrip(spark):
    from protovalidate_spark import URI
    rs = Object().with_key(
        "u", URI().with_allowed_schemes("https", "ftp")
                  .with_host_required().with_min_port(1000)
                  .with_allowed_ports(8443, 9000).with_deep_errors())
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "https://x.com:8443/a"), (2, "http://y.com"),
         (3, "https://z.com:80/b"), (4, "https:///nohost"),
         (5, "bad uri %zz")],
        "id int, u string")
    assert_same_violations(spark, rs, rs2, df)


def test_uri_relative_roundtrip(spark):
    from protovalidate_spark import URI
    rs = Object().with_key("u", URI().with_relative())
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "//x.com/a"), (2, "https://y.com"), (3, "1nvalid://z")],
        "id int, u string")
    assert_same_violations(spark, rs, rs2, df)


def test_domain_standalone_roundtrip(spark):
    from protovalidate_spark import Domain
    rs = Object().with_key("d", Domain().with_tld("com", "org"))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "a.com"), (2, "b.net"), (3, "-bad-.com")],
        "id int, d string")
    assert_same_violations(spark, rs, rs2, df)


def test_vector_roundtrip(spark):
    from protovalidate_spark import Float64, Vector
    rs = Object().with_key(
        "v", Vector().dim(3).finite().norm_min(0.5).norm_max(2.0)
                     .with_item_rule_set(Float64().min(-1.0)))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 1.0]),
         (3, [float("nan"), 0.0, 0.0]), (4, [9.0, 9.0, 9.0]),
         (5, [-2.0, 0.5, 0.5])],
        "id int, v array<double>")
    assert_same_violations(spark, rs, rs2, df)


def test_map_roundtrip(spark):
    from protovalidate_spark import Int32, Map, String
    rs = (Map().with_key("name", String().min_len(2))
          .with_dynamic_key(r"score_.*", Int32().min(0).max(100))
          .with_dynamic_bucket(r"x_.*", "extras"))
    rs2 = roundtrip(rs)
    from protovalidate_spark.rules.map_ import MapRuleSet
    assert isinstance(rs2, MapRuleSet)
    df = spark.createDataFrame(
        [(1, {"name": "a", "score_math": "150", "x_extra": "1"}),
         (2, {"name": "ok", "score_sci": "50", "stray": "v"})],
        "id int, m map<string,string>")
    obj = Object().with_unknown().with_key("m", rs)
    obj2 = Object().with_unknown().with_key("m", rs2)
    assert_same_violations(spark, obj, obj2, df)


def test_query_param_lift_roundtrip(spark):
    """The lift's inner rule set is a recorded argument, so its cast
    type survives the replay."""
    from protovalidate_spark import Int32, Query
    rs = Object().with_key("q", Query().with_param("page", Int32().min(1)))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "page=0"), (2, "page=5"), (3, "x=1&page=-3"), (4, "a=%zz")],
        "id int, q string")
    assert_same_violations(spark, rs, rs2, df)


def test_uri_query_param_roundtrip(spark):
    from protovalidate_spark import URI, Int32
    rs = Object().with_key("u", URI().with_query_param(
        "page", Int32().with_required().min(1)))
    rs2 = roundtrip(rs)
    df = spark.createDataFrame(
        [(1, "https://x.com/?page=0"), (2, "https://x.com/?page=2"),
         (3, "https://x.com/")],
        "id int, u string")
    assert_same_violations(spark, rs, rs2, df)


def test_time_diff_and_expired_roundtrip(spark):
    """min_diff / max_diff / expired resolve ``now`` when called; the
    record keeps the resolved value, so the replay does not re-read the
    clock."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rs = (Object()
          .with_key("a", Time().min_diff(dt.timedelta(days=-1)))
          .with_key("b", Time().max_diff(dt.timedelta(days=1)))
          .with_key("c", Time().expired()))
    doc = ruleset_to_dict(rs)
    json.dumps(doc)
    import time as _time
    _time.sleep(0.01)    # a replay that re-read the clock would differ
    rs2 = ruleset_from_dict(doc)
    bound = rs.key_rules()["a"].rules[0].predicate
    bound2 = rs2.key_rules()["a"].rules[0].predicate
    # the compiled bounds are the same literal timestamps
    from pyspark.sql import functions as F
    assert str(bound(F.col("a"))) == str(bound2(F.col("a")))
    df = spark.createDataFrame(
        [(1, now - dt.timedelta(days=2), now + dt.timedelta(days=2),
          now - dt.timedelta(hours=1)),
         (2, now, now, now + dt.timedelta(hours=1))],
        "id int, a timestamp, b timestamp, c timestamp")
    assert_same_violations(spark, rs, rs2, df)


def test_duration_unit_after_bound_roundtrip(spark):
    """Replay starts from the construction-time fields: min(10) before
    with_unit("s") stays 10 ms (a replay from the final unit would give
    10,000 ms)."""
    rs = Object().with_key("d", Duration().min(10).with_unit("s"))
    rs2 = roundtrip(rs)
    assert rs2.key_rules()["d"].rules[0].params == {"min_ms": 10.0}
    df = spark.createDataFrame([(1, 0), (2, 1), (3, 20)],
                               "id int, d int")
    assert_same_violations(spark, rs, rs2, df)


def test_rules_off_the_recorded_path_refuse():
    from pyspark.sql import functions as F
    from protovalidate_spark.rules import Rule
    custom = Rule("CUSTOM", lambda c: c != F.lit("no"), "custom")
    with pytest.raises(SerdeError, match="recorded builder path"):
        ruleset_to_dict(Object().with_key("x", String()._with_rule(custom)))
    with pytest.raises(SerdeError, match="with_rule"):
        ruleset_to_dict(Object().with_key("x", String().with_rule(custom)))


def test_rule_func_refusal_names_the_builder():
    with pytest.raises(SerdeError, match="with_rule_func"):
        ruleset_to_dict(String().with_rule_func(lambda c: c.isNotNull()))