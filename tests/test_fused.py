"""The suite's shared aggregate (dataset/fused.py): every
aggregate-shaped check of a suite is computed by ONE driver action,
its findings re-enter the violation union as a JVM-local relation, and
each check's rows are identical to its standalone function's."""

import pytest
from pyspark.sql import functions as F

from protovalidate_spark import Int64, Object
from protovalidate_spark.dataset import (
    calendar_gap_violations, correlation_violations,
    drift_by_group_violations, drift_violations, entropy_violations,
    freshness_violations, mutual_information_violations, snapshot,
    stats_bounds_violations, volume_anomalies)
from protovalidate_spark.suite import ValidationSuite

AS_OF = "2024-01-25 00:00:00"


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """(full, empty, all-NULL, NaN) parquet tables whose data trips
    every finding of every fused kind."""
    root = tmp_path_factory.mktemp("fused")
    rows = []
    for i in range(2000):
        day = i % 20
        rows.append((
            i, ("a", "b", "c", "d", None)[i % 5 if i % 7 else 0],
            float(i % 97) if i % 17 else None,
            "x" if i % 3 == 0 or i % 11 == 0 else "y",
            # days 5 and 11 never appear: two calendar gaps
            f"2024-01-{(2 if day in (5, 11) else day + 1):02d}",
            f"2024-01-{(i % 20) + 1:02d} {i % 24:02d}:00:00",
            f"s{i % 4}", float(i % 13) * 1.5))
    df = spark.createDataFrame(
        rows, "id long, cat string, val double, c2 string, d string, "
              "ts string, shard string, q double") \
        .withColumn("d", F.col("d").cast("date")) \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {}
    for name, frame in (
            ("full", df), ("empty", df.limit(0)),
            ("nulls", df.withColumn("cat", F.lit(None).cast("string"))
                        .withColumn("val", F.lit(None).cast("double"))
                        .withColumn("d", F.lit(None).cast("date"))
                        .withColumn("ts", F.lit(None).cast("timestamp"))),
            ("nan", df.withColumn("val", F.when(
                F.col("id") % 5 == 0, F.lit(float("nan")))
                .otherwise(F.col("val"))))):
        path = str(root / name)
        frame.write.parquet(path)
        out[name] = path
    return out


def _baseline(spark, path):
    snap = snapshot(spark.read.parquet(path).filter("id % 2 = 0"),
                    ["cat", "val", "c2"])
    snap["cat"]["hist"] = {"a": 0.7, "b": 0.3}
    return snap


BOUNDS = [{"col": "val", "max_null_rate": 0.01, "min": 45.0, "max": 55.0},
          {"col": "cat", "min_distinct": 10, "max_distinct": 2}]
FRESH = {"ts_col": "ts", "max_age_hours": 100.0, "as_of": AS_OF,
         "group_col": "shard"}


def _suite(baseline):
    return ValidationSuite(
        rules=Object().with_unknown().with_key("id", Int64().min(0)),
        row_keys=["id"],
        drift_baseline=baseline, psi_threshold=0.0, ks_threshold=0.0,
        drift_group_col="shard",
        stats_bounds=BOUNDS,
        metrics=[{"kind": "entropy", "cols": ["cat", "c2"],
                  "min_entropy": 1.0, "max_entropy": 0.5},
                 {"kind": "corr", "col_x": "val", "col_y": "q",
                  "min_r": 0.5},
                 {"kind": "mi", "col_x": "cat", "col_y": "c2",
                  "min_mi": 0.5}],
        volume_specs=[{"group_col": "cat", "max_rel_dev": 0.01,
                       "min_count": 380}],
        calendar_cols=["d"],
        freshness=[{"ts_col": "ts", "max_age_hours": 1.0, "as_of": AS_OF},
                   FRESH],
        stats_cols=["cat", "val"])


def _standalone(df, baseline):
    """Each fused kind's standalone rows, projected like the suite
    projects them (a group label rides in the message)."""
    def tag(v, col):
        return v.select("field_path", "rule_id", F.concat(
            "message", F.lit(f" [{col}="), F.col(col).cast("string"),
            F.lit("]")).alias("message"), "actual")
    return [
        stats_bounds_violations(df, BOUNDS),
        entropy_violations(df, ["cat", "c2"], min_entropy=1.0,
                           max_entropy=0.5),
        correlation_violations(df, "val", "q", min_r=0.5),
        mutual_information_violations(df, "cat", "c2", min_mi=0.5),
        tag(volume_anomalies(df, F.col("cat"), "cat", max_rel_dev=0.01,
                             min_count=380), "cat"),
        calendar_gap_violations(df, F.col("d"), "d").drop("d"),
        freshness_violations(df, F.col("ts"), "ts", 1.0, AS_OF)
        .drop("max_ts"),
        tag(freshness_violations(df, F.col("ts"), "ts", 100.0, AS_OF,
                                 group_col="shard"), "shard"),
        drift_violations(df, baseline, 0.0, 0.0),
        tag(drift_by_group_violations(df, "shard", baseline, 0.0, 0.0),
            "shard"),
    ]


def _key(row):
    return tuple("" if v is None else v for v in row)


def _rows(df):
    return sorted((tuple(r) for r in df.select(
        "field_path", "rule_id", "message", "actual").collect()), key=_key)


@pytest.mark.parametrize("name", ["full", "empty", "nulls", "nan"])
def test_suite_rows_equal_standalone_rows(spark, tables, name):
    df = spark.read.parquet(tables[name])
    baseline = _baseline(spark, tables["full"])
    got = _rows(_suite(baseline).run(df, persist=False).violations_full
                .filter(F.col("id").isNull()))
    want = sorted((r for v in _standalone(df, baseline) for r in _rows(v)),
                  key=_key)
    assert got == want
    if name == "full":
        # every kind fires on the full table
        kinds = {(fp.split("/")[1], rid) for fp, rid, _, _ in got}
        assert {("val", "NULL"), ("cat", "MIN"), ("cat", "MAX"),
                ("val,q", "MIN"), ("cat,c2", "MIN"), ("cat", "DRIFT"),
                ("d", "REQUIRED"), ("ts", "EXPIRED")} <= kinds
        assert any(m is None for _, rid, m, _ in got if rid == "DRIFT"), \
            "the NULL volume group keeps its NULL message"


def test_with_stats_rides_the_same_action(spark, tables):
    from protovalidate_spark.dataset import column_stats
    df = spark.read.parquet(tables["full"])
    res = _suite(_baseline(spark, tables["full"])).run(
        df, with_stats=True, persist=False)
    assert sorted(res.stats.collect()) == sorted(
        column_stats(df, ["cat", "val"]).collect())


def _record_actions(monkeypatch, spark):
    """Every collect/count/toPandas fired, with the frame it ran on
    (tests/test_dataset.py's _count_actions pattern, patched on the
    concrete DataFrame class: PySpark 4's classic DataFrame overrides
    the actions of ``pyspark.sql.DataFrame``)."""
    seen = []
    cls = type(spark.range(1))
    for name in ("collect", "count", "toPandas"):
        orig = getattr(cls, name)

        def wrap(orig):
            def inner(self, *a, **k):
                seen.append(self)
                return orig(self, *a, **k)
            return inner
        monkeypatch.setattr(cls, name, wrap(orig))
    return seen


def _plan(df):
    """The executed plan — AQE's final plan only, not its initial one."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_run_is_one_action_and_jvm_local(spark, tables, monkeypatch):
    df = spark.read.parquet(tables["full"])
    suite = _suite(_baseline(spark, tables["full"]))
    seen = _record_actions(monkeypatch, spark)
    res = suite.run(df, with_stats=True, persist=False)
    assert len(seen) == 1, f"run() fired {len(seen)} driver actions"
    fused = _plan(seen[0])
    assert fused.count("FileScan") <= 2, fused
    monkeypatch.undo()
    res.violations_full.collect()
    plan = _plan(res.violations_full)
    assert "ExistingRDD" not in plan, plan
    res.stats.collect()
    assert "ExistingRDD" not in _plan(res.stats)


def _nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def test_windows_see_only_the_keys_that_ask(spark, tables):
    """MI's marginal windows (one of them partitioned by key alone: one
    task) and the histogram totals take only their own keys' counts;
    entropy, volume and calendar counts reduce straight from the shared
    count."""
    from pyspark.sql.classic.dataframe import DataFrame
    from protovalidate_spark.dataset.drift import Histograms
    from protovalidate_spark.dataset.fused import Aggregate
    from protovalidate_spark.dataset.integrity import Calendar, Volume
    from protovalidate_spark.dataset.metrics import (Entropy,
                                                     MutualInformation)
    df = spark.read.parquet(tables["full"])
    agg = Aggregate(df)
    ent, mi = Entropy(["id", "cat"]), MutualInformation("cat", "c2")
    hist = Histograms(["cat", "val"], {"val": (0.0, 100.0)})
    for c in (ent, mi, hist, Volume(F.col("cat"), "cat"),
              Calendar(F.col("d"), "d")):
        c.plan(agg)
    plan = agg._keyed()._jdf.queryExecution().optimizedPlan()
    windowed = set()
    for node in _nodes(plan):
        if node.nodeName() == "Window":
            rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, node)
            windowed |= {r.key for r in DataFrame(rows, spark)
                         .select("key").distinct().collect()}
    assert windowed == {mi._k, *hist._keys}
