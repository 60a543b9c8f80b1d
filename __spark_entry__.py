"""Driver contract for the spark-graft builder (PySpark target).

Every query below exercises the public protovalidate_spark engine API
(rule DSL → Catalyst predicates, dataset-level checks, pipeline ops) over
the driver's parquet tables; ``oracle_sql()`` carries the DuckDB-runnable
ANSI equivalent. Clips-specific queries run over the committed
deterministic scalar fixture ``_fixtures/clips_scalar.parquet``
(FIXTURES.md) so the DuckDB oracle can read the same rows.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
CLIPS_SCALAR = os.path.join(REPO, "_fixtures", "clips_scalar.parquet")
CLIPS_LABELED = os.path.join(REPO, "_fixtures", "clips_labeled.parquet")
EXPECTED_DIR = os.path.join(REPO, "_fixtures", "expected")

# The sweep runner owns the SparkSession, so we can't set
# spark.python.sql.dataFrameDebugging.enabled=false at session build
# (protovalidate_spark.conf does for the engine's own sessions). Seed
# pyspark's module-level cache instead: call-site capture costs a Python
# stack walk + 2-3 py4j round-trips on EVERY DataFrame API call, which
# dominated plan-construction time for the build-heavy queries here.
try:  # pyspark 4.x internal — a no-op if the module moves
    import pyspark.errors.utils as _pyspark_errors_utils
    _pyspark_errors_utils._enable_debugging_cache = False
except ImportError as e:
    logging.getLogger(__name__).warning(
        "call-site capture stays on: %s", e)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: rule-set validation pass over sf0.001 lineitem+orders —
    row-level DSL rules + uniqueness + referential, one violations frame."""
    return q_validate_lineitem(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# validation queries (engine API on the shared tables)
# ---------------------------------------------------------------------------

def q_validate_lineitem(spark, sf_dir):
    from protovalidate_spark import Float64, Object, String
    li = _t(spark, sf_dir, "lineitem")
    rs = (Object().with_unknown()
          .with_key("l_quantity", Float64().with_required().min(1).max(45))
          .with_key("l_discount", Float64().with_required().max(0.07))
          .with_key("l_returnflag", String().allowed_values("A", "N", "R"))
          .with_key("l_linestatus", String().allowed_values("F", "O")))
    v = rs.violations(li, row_key_cols=["l_orderkey", "l_linenumber"])
    return v.select("l_orderkey", "l_linenumber", "field_path", "rule_id")


def q_exemplars_lineitem(spark, sf_dir):
    """Bounded violation materialization (errors.cap_exemplars +
    violation_summary; ValidationSuite.max_exemplars_per_rule): at
    10^12-row scale a pervasive rule would materialize billions of
    violation rows, so the sink keeps only the k=10 deterministically
    smallest exemplars per (field_path, rule_id) while counts stay
    exact on the pre-cap stream. Scale shape: the rank window gets a
    map-side PARTIAL WindowGroupLimit (pinned in test_plans), so a hot
    rule ships ≤ P·k rows through the shuffle, never its raw count;
    the exact summary is a partial-aggregated groupBy broadcast back
    onto the tiny capped frame."""
    from protovalidate_spark import Float64, Object, String
    from protovalidate_spark.errors import cap_exemplars, violation_summary
    li = _t(spark, sf_dir, "lineitem")
    rs = (Object().with_unknown()
          .with_key("l_quantity", Float64().with_required().min(1).max(45))
          .with_key("l_discount", Float64().with_required().max(0.07))
          .with_key("l_returnflag", String().allowed_values("A", "N", "R")))
    v = (rs.violations(li, row_key_cols=["l_orderkey", "l_linenumber"])
           .select("l_orderkey", "l_linenumber", "field_path", "rule_id"))
    capped = cap_exemplars(v, ["l_orderkey", "l_linenumber"], 10)
    totals = violation_summary(v).withColumnRenamed("violations",
                                                    "rule_total")
    return capped.join(F.broadcast(totals),
                       on=["field_path", "rule_id"]).select(
        "l_orderkey", "l_linenumber", "field_path", "rule_id", "rule_total")


def q_collection_lineitem(spark, sf_dir):
    """Collection-API parity (reference pkg/errors/collection.go:7-141
    + dict.go classification): ``violations_for`` filters by a path
    written in ANY serializer (normalized driver-side to the stored
    default form — here the dot and JSONPath forms), and
    ``with_error_type`` appends the validation/permission/internal
    classification (NOTALLOWED → permission, bound rules → validation).
    The quantity branch goes through ``violations_for_as(..., dtype=
    "double")`` — the ForPathAs typed accessor (collection.go:85-102) —
    so ``actual_typed`` carries the violating value cast back from the
    stored string to its original type."""
    from pyspark.sql import functions as F
    from protovalidate_spark import Float64, Object, String
    from protovalidate_spark.errors import (violations_for,
                                            violations_for_as,
                                            with_error_type)
    li = _t(spark, sf_dir, "lineitem")
    rs = (Object().with_unknown()
          .with_key("l_quantity", Float64().with_required().min(1).max(45))
          .with_key("l_returnflag", String().allowed_values("A", "N", "R")))
    v = rs.violations(li, row_key_cols=["l_orderkey", "l_linenumber"])
    qty = violations_for_as(v, "l_quantity", serializer="dot",
                            dtype="double")
    flag = (violations_for(v, "$.l_returnflag", serializer="jsonpath")
            .withColumn("actual_typed", F.lit(None).cast("double")))
    return (with_error_type(qty.unionByName(flag))
            .select("l_orderkey", "l_linenumber", "field_path", "rule_id",
                    "error_type", "actual_typed"))


def q_conditional_orders(spark, sf_dir):
    import datetime as dt
    from protovalidate_spark import Object, Time
    o = _t(spark, sf_dir, "orders")
    rs = (Object().with_unknown()
          .with_conditional_key(
              "o_orderdate", lambda get: get("o_orderstatus") == "F",
              Time().max(dt.datetime(1999, 12, 31)), deps=("o_orderstatus",)))
    v = rs.violations(o, row_key_cols=["o_orderkey"])
    return v.select("o_orderkey", "field_path", "rule_id")


def q_cross_column_lineitem(spark, sf_dir):
    from protovalidate_spark import Object, ObjectRule
    li = _t(spark, sf_dir, "lineitem")
    rs = (Object().with_unknown()
          .with_rule(ObjectRule(
              "RANGE", lambda get: get("l_tax") <= get("l_discount") + 0.05,
              "tax must be within discount+0.05", field_path="/l_tax")))
    v = rs.violations(li, row_key_cols=["l_orderkey", "l_linenumber"])
    return v.select("l_orderkey", "l_linenumber", "field_path", "rule_id")


def q_stats_lineitem(spark, sf_dir):
    from protovalidate_spark.dataset import column_stats
    li = _t(spark, sf_dir, "lineitem")
    st = column_stats(li, ["l_orderkey", "l_linenumber", "l_returnflag"],
                      exact_distinct=True, quantiles=())
    return st.select(
        F.col("column").alias("col_name"), "n_rows", "null_rate",
        F.col("min").alias("min_s"), F.col("max").alias("max_s"),
        F.col("approx_distinct").alias("distinct_cnt"))


def q_stats_quantiles(spark, sf_dir):
    """Quantile-bearing stats contract (ADVICE r1: keep the quantile path
    end-to-end oracle-verified): exact interpolated percentiles — the
    quantile_cont analog — through the same single-pass aggregation; the
    approx-sketch path is tolerance-pinned against this in pytest."""
    from protovalidate_spark.dataset import column_stats
    li = _t(spark, sf_dir, "lineitem")
    st = column_stats(li, ["l_quantity", "l_extendedprice"],
                     quantiles=(0.25, 0.5, 0.9), exact_distinct=True,
                     exact_quantiles=True)
    return st.select(
        F.col("column").alias("col_name"),
        F.round(F.element_at("quantiles", 1), 6).alias("q25"),
        F.round(F.element_at("quantiles", 2), 6).alias("q50"),
        F.round(F.element_at("quantiles", 3), 6).alias("q90"))


def q_unique_orders_custkey(spark, sf_dir):
    from protovalidate_spark.dataset import unique_violations
    o = _t(spark, sf_dir, "orders")
    v = unique_violations(o, ["o_custkey"], row_key_cols=["o_orderkey"])
    return v.select("o_orderkey", "field_path", "rule_id")


def q_ref_customer_nation(spark, sf_dir):
    from protovalidate_spark.dataset import ref_violations
    c = _t(spark, sf_dir, "customer")
    dim = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 15)
    v = ref_violations(c, "c_nationkey", dim, "n_nationkey",
                       row_key_cols=["c_custkey"])
    return v.select("c_custkey", "field_path", "rule_id")


def q_hist_quantity(spark, sf_dir):
    from protovalidate_spark.dataset import histogram_counts
    li = _t(spark, sf_dir, "lineitem")
    return histogram_counts(li, "l_quantity", 0.0, 64.0, 32)


def q_ks_quantity(spark, sf_dir):
    """KS statistic between the bucketed l_quantity distributions of two
    deterministic halves (dataset drift check, dataset/drift.py ks_stat)."""
    from protovalidate_spark.dataset import histogram, ks_stat
    li = _t(spark, sf_dir, "lineitem")
    a = histogram(li.filter(F.col("l_orderkey") % 2 == 0), "l_quantity",
                  lo=0.0, hi=64.0)
    b = histogram(li.filter(F.col("l_orderkey") % 2 == 1), "l_quantity",
                  lo=0.0, hi=64.0)
    val = round(ks_stat(a, b), 6)
    return spark.createDataFrame([(val,)], "ks double")


def q_psi_returnflag(spark, sf_dir):
    from protovalidate_spark.dataset import histogram, psi
    li = _t(spark, sf_dir, "lineitem")
    a = histogram(li.filter(F.col("l_orderkey") % 2 == 0), "l_returnflag")
    b = histogram(li.filter(F.col("l_orderkey") % 2 == 1), "l_returnflag")
    val = round(psi(a, b), 6)
    return spark.createDataFrame([(val,)], "psi double")


def q_psi_by_group_lineitem(spark, sf_dir):
    """Per-GROUP drift vs the GLOBAL baseline (dataset/drift.py
    drift_by_group_violations — the bad-shard detector whole-table
    drift dilutes away): PSI of l_returnflag per l_linestatus group
    against the whole-table histogram, psi-only gate at a floor
    threshold so every group's formatted psi string is value-matched.
    The fixture's returnflag is group-independent, so group 0's 'A's
    are deterministically remapped to 'N' in BOTH engines: group 0
    drifts hard, the others drift mildly (the baseline absorbs the
    distortion). Pure SQL oracle (identical eps-floored PSI arithmetic
    per group)."""
    from protovalidate_spark.dataset import drift_by_group_violations, snapshot
    li = _t(spark, sf_dir, "lineitem")
    li = (li.withColumn("grp", (F.col("l_orderkey") % 4).cast("string"))
          .withColumn("l_returnflag",
                      F.when((F.col("l_orderkey") % 4 == 0)
                             & (F.col("l_returnflag") == "A"), "N")
                      .otherwise(F.col("l_returnflag"))))
    base = snapshot(li, ["l_returnflag"])
    return drift_by_group_violations(li, "grp", base,
                                     psi_threshold=0.0001,
                                     ks_threshold=None) \
        .select("grp", "field_path", "rule_id", "actual")


def q_reconcile_orders_lineitem(spark, sf_dir):
    """Fact↔dim aggregate reconciliation (dataset/integrity.py): per-order
    lineitem gross revenue must match o_totalprice within 25% relative
    tolerance; RECONCILE row per out-of-tolerance order, REQUIRED row
    per order with no lineitems at all. One fact shuffle (map-side
    partial sum), join on the collapsed aggregate."""
    from protovalidate_spark.dataset import reconciliation_violations
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    v = reconciliation_violations(
        li, o, "l_orderkey", "o_orderkey",
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
              * (1 + F.col("l_tax"))),
        "o_totalprice", rel_tol=0.25)
    return v.select("o_orderkey", "rule_id")


def q_monotonic_lineitem(spark, sf_dir):
    """Per-key sequence monotonicity (dataset/integrity.py): within each
    order, l_shipdate ordered by l_linenumber must be non-decreasing;
    one MONOTONIC row per element breaking against its predecessor.
    One hash shuffle on the key, in-partition sort only. The fixture's
    (l_orderkey, l_linenumber) is NOT unique, so the value itself is the
    tiebreak — among order-ties the ascending value sort makes the
    violation multiset permutation-invariant (equal values never
    violate non-strict monotonicity)."""
    from protovalidate_spark.dataset import monotonic_violations
    li = _t(spark, sf_dir, "lineitem")
    return monotonic_violations(
        li, ["l_orderkey"], ["l_linenumber", "l_shipdate"], "l_shipdate",
        row_key_cols=["l_orderkey", "l_linenumber"]) \
        .select("l_orderkey", "l_linenumber", "rule_id")


def q_volume_anomaly_events(spark, sf_dir):
    """Per-day row-volume anomaly (dataset/integrity.py): days whose
    event count deviates >5% from the mean daily count — the bad-shard
    volume detector, complementary to distribution drift. Count agg
    collapses to day-cardinality rows before the broadcast-mean gate."""
    from protovalidate_spark.dataset import volume_anomalies
    ev = _t(spark, sf_dir, "events")
    return volume_anomalies(ev, F.to_date("ts"), "event_date",
                            max_rel_dev=0.05) \
        .select(F.col("event_date").cast("string").alias("event_date"),
                "cnt", "rule_id")


def q_outliers_iqr_events(spark, sf_dir):
    """Robust row-level outliers, Tukey IQR fences (dataset/outliers.py
    iqr_outlier_violations): rows of events.value outside
    [q1-1.5*IQR, q3+1.5*IQR] with data-derived (exact-percentile) fences
    — the parameter agg is one map-side-combined scan, the flag pass is
    a shuffle-free projection with the fences inlined as literals."""
    from protovalidate_spark.dataset import iqr_outlier_violations
    ev = _t(spark, sf_dir, "events")
    v = iqr_outlier_violations(ev, ["value"], row_key_cols=["event_id"],
                               k=1.5, exact=True)
    return v.select("event_id", "field_path", "rule_id",
                    F.round(F.col("actual").cast("double"), 2).alias("val2"))


def q_outliers_mad_events(spark, sf_dir):
    """Robust row-level outliers, Iglewicz-Hoaglin modified z-score
    (dataset/outliers.py mad_outlier_violations): rows of events.value
    with |0.6745*(x-median)/MAD| > 3.5, median/MAD exact — the
    estimators a heavy tail cannot drag (mean/std z-scores break down
    exactly when outliers are present)."""
    from protovalidate_spark.dataset import mad_outlier_violations
    ev = _t(spark, sf_dir, "events")
    v = mad_outlier_violations(ev, ["value"], row_key_cols=["event_id"],
                               k=3.5, exact=True)
    return v.select("event_id", "field_path", "rule_id",
                    F.round(F.col("actual").cast("double"), 2).alias("val2"))


def q_grouped_stats_events(spark, sf_dir):
    """Per-group per-column profiling (dataset/stats.py
    grouped_column_stats): null-rate/min/max/distinct/median of
    events.value for every event_type from ONE groupBy agg — the
    per-shard profile pass; wide→long reshape AFTER aggregation on
    group-cardinality rows. Exact distinct/quantiles = oracle mode."""
    from protovalidate_spark.dataset import grouped_column_stats
    ev = _t(spark, sf_dir, "events")
    g = grouped_column_stats(ev, "event_type", ["value"],
                             exact_distinct=True, exact_quantiles=True)
    return g.select(
        "event_type", "column", "n_rows", "null_rate",
        F.round(F.col("min").cast("double"), 2).alias("min2"),
        F.round(F.col("max").cast("double"), 2).alias("max2"),
        F.col("approx_distinct").alias("distinct_n"),
        F.round(F.col("quantiles")[3], 4).alias("q50_4"))


def q_freshness_events(spark, sf_dir):
    """Per-group ingestion freshness (dataset/integrity.py
    freshness_violations): a shard/producer whose newest row is older
    than the budget is one EXPIRED row — invisible to the global max
    when the other shards keep flowing. as_of is pinned (never
    wall-clock now), so the run is reproducible. One map-side-combined
    (group, max_ts) shuffle of group-cardinality rows."""
    from protovalidate_spark.dataset import freshness_violations
    ev = _t(spark, sf_dir, "events")
    v = freshness_violations(ev, F.col("ts"), "ts", max_age_hours=0.5,
                             as_of="2024-01-31 00:00:00",
                             group_col="event_type")
    return v.select(
        "event_type",
        F.date_format("max_ts", "yyyy-MM-dd HH:mm:ss").alias("max_ts_s"),
        "field_path", "rule_id")


def q_fd_events(spark, sf_dir):
    """Functional-dependency contract (dataset/integrity.py
    functional_dependency_violations): each derived shard
    (event_id div 10) must map to ONE label — a deterministic planted
    break (label flips on event_id % 97 == 0) makes every group
    containing a flip row a CONSISTENT violation with min/max
    witnesses. One map-side-combined distinct agg, no join."""
    from protovalidate_spark.dataset import functional_dependency_violations
    ev = _t(spark, sf_dir, "events")
    d = (ev.filter(F.col("event_id").isNotNull())
           .withColumn("shard", (F.col("event_id") / 10).cast("long"))
           .withColumn("label", F.when(F.col("event_id") % 97 == 0, "x")
                       .otherwise("y")))
    v = functional_dependency_violations(d, ["shard"], "label")
    return v.select("shard", "n_values", "dep_min", "dep_max", "rule_id")


def q_calendar_gaps_orders(spark, sf_dir):
    """Calendar completeness (dataset/integrity.py): every date between
    the observed min and max o_orderdate must be present; one REQUIRED
    row per missing ingest day. Distinct-date collapse, then sequence
    explode on the single (min,max) row + broadcast anti-join."""
    from protovalidate_spark.dataset import calendar_gap_violations
    o = _t(spark, sf_dir, "orders")
    return calendar_gap_violations(o, F.col("o_orderdate"), "order_date") \
        .select(F.col("order_date").cast("string").alias("order_date"),
                "rule_id")


def q_embedding_drift(spark, sf_dir):
    """Embedding-distribution drift (dataset/embedding.py): per-DIM
    z-score vs a baseline snapshot (one stacked single-row agg, no
    explode/shuffle; mean-cosine deliberately rejected — near-isotropic
    means are noise). Baseline = even vec_ids; current = odd vec_ids
    with dim 0 shifted +0.2 in BOTH engines. Natural half-vs-half dim
    shifts z≲0.3 on this fixture; the planted shift lands z≈1.6 ⇒
    exactly dim 0 plus the aggregate fraction row fire at z>1."""
    from protovalidate_spark.dataset import (embedding_drift_violations,
                                             embedding_snapshot)
    em = _t(spark, sf_dir, "embeddings")
    base = embedding_snapshot(em.filter(F.col("vec_id") % 2 == 0),
                              "embedding", dim=64)
    cur = em.filter(F.col("vec_id") % 2 == 1).withColumn(
        "embedding",
        F.concat(F.array(F.col("embedding")[0] + F.lit(0.2)),
                 F.slice(F.col("embedding").cast("array<double>"), 2, 63)))
    v = embedding_drift_violations(cur, "embedding", base,
                                   z_threshold=1.0, max_drift_frac=0.01)
    return v.select("field_path", "rule_id")


def q_group_size_lineitem(spark, sf_dir):
    """Per-key cardinality bounds (dataset/integrity.py
    group_size_violations): every order must have 2–6 lineitems; one
    MIN/MAX row per out-of-bounds order. One map-side-combined shuffle
    of (key, count) pairs."""
    from protovalidate_spark.dataset import group_size_violations
    li = _t(spark, sf_dir, "lineitem")
    return group_size_violations(li, ["l_orderkey"], min_n=2, max_n=6) \
        .select("l_orderkey", "group_n", "rule_id")


def q_vector_rules_embeddings(spark, sf_dir):
    """First-class vector rules (rules/vector.py): dim / finite /
    L2-norm bounds as JVM higher-order expressions, zero UDF. The
    fixture's embeddings are clean unit vectors, so three corruption
    classes are planted deterministically in BOTH engines (the
    psi_by_group pattern): 65th element appended (TYPE), ×3 scale
    (MAX on norm), NaN in slot 0 (RANGE; the NaN norm also fails MAX —
    both engines order NaN above all doubles). The norm is a
    sequential double fold, bit-identical across engines."""
    from protovalidate_spark import Object, Vector
    em = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    corrupted = (
        F.when(F.col("vec_id") % 7 == 0,
               F.concat(e.cast("array<double>"), F.array(F.lit(0.5))))
         .when(F.col("vec_id") % 11 == 3,
               F.transform(e, lambda x: x.cast("double") * F.lit(3.0)))
         .when(F.col("vec_id") % 13 == 5,
               F.concat(F.array(F.lit(float("nan"))),
                        F.slice(e.cast("array<double>"), 2, 63)))
         .otherwise(e.cast("array<double>")))
    em = em.withColumn("embedding", corrupted)
    rs = Object().with_unknown().with_key(
        "embedding",
        Vector().dim(64).finite().norm_min(0.9).norm_max(1.5))
    v = rs.violations(em, row_key_cols=["vec_id"])
    return v.select("vec_id", "field_path", "rule_id")


def q_stats_drift_lineitem(spark, sf_dir):
    """Stats-delta drift gates: baseline = even-orderkey half, current =
    odd half with three engineered regressions (l_extendedprice nulls
    spike, l_returnflag collapses to one value, l_quantity doubles past
    the baseline max); l_tax stays clean. Returns (field_path, rule_id)
    only — value formatting stays engine-local. Exact SQL oracle
    recomputes the same gates."""
    from protovalidate_spark.dataset import (
        stats_drift_violations, stats_snapshot)
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_tax", "l_returnflag", "l_extendedprice"]
    snap = stats_snapshot(li.filter(F.col("l_orderkey") % 2 == 0),
                          cols, exact_distinct=True)
    cur = li.filter(F.col("l_orderkey") % 2 == 1).select(
        (F.col("l_quantity") * 2).alias("l_quantity"),
        "l_tax",
        F.lit("N").alias("l_returnflag"),
        F.when(F.col("l_orderkey") % 3 == 0, None)
         .otherwise(F.col("l_extendedprice")).alias("l_extendedprice"))
    v = stats_drift_violations(cur, snap, exact_distinct=True)
    return v.select("field_path", "rule_id")


def q_heavy_hitters_clips(spark, sf_dir):
    """Exact per-column top-5 values (codec, sr_hz) from ONE stacked
    aggregation with a deterministic tie-break — categorical profiling
    beside column_stats. Plain SQL oracle (row_number window)."""
    from protovalidate_spark.dataset import heavy_hitters
    df = spark.read.parquet(CLIPS_SCALAR)
    return heavy_hitters(df, ["codec", "sr_hz"], k=5)


def q_chi2_js_returnflag(spark, sf_dir):
    """Chi-square distance + Jensen-Shannon divergence between the same
    even/odd l_returnflag histograms PSI compares — both from the SAME
    histogram pairs (one action each side), exact SQL oracle."""
    from protovalidate_spark.dataset import chi2_distance, histogram, js_divergence
    li = _t(spark, sf_dir, "lineitem")
    a = histogram(li.filter(F.col("l_orderkey") % 2 == 0), "l_returnflag")
    b = histogram(li.filter(F.col("l_orderkey") % 2 == 1), "l_returnflag")
    return spark.createDataFrame(
        [(round(chi2_distance(a, b), 6), round(js_divergence(a, b), 6))],
        "chi2 double, js double")


# ---------------------------------------------------------------------------
# clips engine queries (committed scalar fixture → DuckDB-readable)
# ---------------------------------------------------------------------------

def q_clips_scalar_rules(spark, sf_dir):
    from protovalidate_spark import Int32, Object, String
    df = spark.read.parquet(CLIPS_SCALAR)
    rs = (Object().with_unknown()
          .with_key("clip_id", String().with_required().min_len(6).max_len(64)
                    .regex(r"^clip-[0-9]{10}$"))
          .with_key("sr_hz", Int32().with_required().min(8000).max(192000)
                    .allowed_values(8000, 16000, 22050, 44100, 48000))
          .with_key("dur_ms", Int32().with_required().min_exclusive(0)
                    .max(600_000))
          .with_key("codec", String().with_required()
                    .allowed_values("wav", "flac", "opus", "mp3"))
          .with_key("transcript", String().with_required().min_len(1)))
    v = rs.violations(df, row_key_cols=["row_idx"])
    return v.select("row_idx", "field_path", "rule_id")


def q_clips_unique(spark, sf_dir):
    from protovalidate_spark.dataset import unique_violations
    df = spark.read.parquet(CLIPS_SCALAR)
    v = unique_violations(df, ["clip_id"], row_key_cols=["row_idx"])
    return v.select("row_idx", "field_path", "rule_id")


def q_clips_ref_codec(spark, sf_dir):
    from protovalidate_spark.dataset import ref_violations
    from protovalidate_spark.fixtures import codecs_dim
    df = spark.read.parquet(CLIPS_SCALAR)
    v = ref_violations(df, "codec", codecs_dim(spark), "codec",
                       row_key_cols=["row_idx"])
    return v.select("row_idx", "field_path", "rule_id")


def q_clips_full_audio(spark, sf_dir):
    """Full audio pass (incl. WAV decode + consistency) on the generated
    tiny table — non-SQL-expressible (Arrow decode stage); deterministic,
    so the oracle is a committed expected-output snapshot."""
    from protovalidate_spark.clips import clips_suite
    from protovalidate_spark.fixtures import TINY, clips_df
    res = clips_suite(spark).run(clips_df(spark, TINY), persist=False)
    return res.violations.select("row_idx", "field_path", "rule_id")


def q_clips_format_family(spark, sf_dir):
    """The full uncompressed WAV family (PCM 8/16/24/32, IEEE float
    32/64, G.711 A-law/mu-law, each plain and EXTENSIBLE-wrapped)
    through the ONE Arrow decode stage, plus malformed payloads that
    must come back ok=false. Non-SQL (decode), deterministic (fixed
    synth args), so the oracle is a committed expected-output
    snapshot. Mirrors the reference's per-value custom-decode
    extension point (pkg/rules/inerface.go WithCast)."""
    import struct

    from protovalidate_spark.audio import with_decoded
    from protovalidate_spark.audio.wav import synth_sine_wav

    fmts = ["pcm8", "pcm16", "pcm24", "pcm32", "float32", "float64",
            "mulaw", "alaw"]
    rows = []
    for i, fmt in enumerate(fmts):
        for ext in (False, True):
            for k, sr in enumerate((8000, 16000, 44100)):
                rows.append((
                    f"{fmt}_ext{int(ext)}_{sr}",
                    synth_sine_wav(200.0 + 37 * i + 11 * k, sr,
                                   40 + 20 * k, 0.4, fmt=fmt,
                                   extensible=ext)))
    base = synth_sine_wav(440.0, 8000, 50, 0.4)
    mu16 = bytearray(base)
    struct.pack_into("<H", mu16, 20, 7)  # mu-law label on 16-bit data
    rows += [("bad_mulaw_16bit", bytes(mu16)),
             ("bad_truncated", base[:len(base) // 2]),
             ("bad_garbage", b"definitely not a riff container"),
             ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    return with_decoded(df).select(
        "clip_id",
        F.col("_decoded.ok").alias("decode_ok"),
        F.col("_decoded.sr").alias("dec_sr"),
        F.col("_decoded.n_samples").alias("dec_n"),
        F.col("_decoded.dur_ms").alias("dec_dur_ms"),
        F.round("_decoded.rms", 4).alias("dec_rms"))


def q_speech_rate_clips(spark, sf_dir):
    """Audio/transcript consistency: whitespace tokens per second must
    land in [1, 40] on the scalar clips fixture (CONSISTENT). Pure JVM
    expression (no decode) — plain SQL oracle."""
    from protovalidate_spark import Object
    from protovalidate_spark.audio.features import speech_rate_rule
    df = spark.read.parquet(CLIPS_SCALAR)
    rs = Object().with_unknown().with_rule(
        speech_rate_rule(min_wps=1.0, max_wps=40.0))
    v = rs.violations(df, row_key_cols=["row_idx"])
    return v.select("row_idx", "field_path", "rule_id",
                    F.col("actual").cast("double").alias("rate_wps"))


def q_clips_audio_features(spark, sf_dir):
    """PCM feature extraction (peak / clipping ratio / silence ratio /
    zero-crossing rate) over every uncompressed WAV format at three
    amplitudes (clean / clipped / silent) plus undecodable payloads —
    ONE fused Arrow stage (decode + features). Non-SQL (decode);
    deterministic, so the oracle is a committed snapshot."""
    from protovalidate_spark.audio import with_decoded
    from protovalidate_spark.audio.wav import synth_sine_wav
    fmts = ["pcm8", "pcm16", "pcm24", "pcm32", "float32", "float64",
            "mulaw", "alaw"]
    rows = []
    for i, fmt in enumerate(fmts):
        for label, amp in (("clean", 0.5), ("clipped", 1.4), ("silent", 0.0)):
            rows.append((f"{fmt}_{label}",
                         synth_sine_wav(220.0 + 31 * i, 16000, 80, amp,
                                        fmt=fmt)))
    rows += [("bad_garbage", b"not audio"), ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    f = with_decoded(df, fields=("features",))
    return f.select(
        "clip_id", F.col("_decoded.ok").alias("feat_ok"),
        F.round("_decoded.peak", 6).alias("peak"),
        F.round("_decoded.clip_ratio", 6).alias("clip_ratio"),
        F.round("_decoded.silence_ratio", 6).alias("silence_ratio"),
        F.round("_decoded.zcr", 6).alias("zcr"))


def q_audio_snr_clips(spark, sf_dir):
    """VAD-based SNR gate (audio/segments.py min_snr_rule): speech-frame
    RMS vs noise-frame RMS from the single decode+VAD Arrow stage, over
    deterministic tone+noise-floor synth clips across formats. Non-SQL
    (decode); deterministic, so the oracle is a committed snapshot."""
    import numpy as np

    from protovalidate_spark import Object
    from protovalidate_spark.audio import min_snr_rule, with_decoded
    from protovalidate_spark.audio.wav import synth_wav
    rows = []
    for fmt, sr in (("pcm16", 16000), ("float32", 8000), ("alaw", 8000)):
        n = int(sr * 0.3)
        t = np.arange(n) / sr
        tone = np.sin(2 * np.pi * 330.0 * t)
        for label, s_amp, n_amp in (("clean", 0.5, 0.004),
                                    ("noisy", 0.02, 0.009),
                                    ("tone_only", 0.5, None)):
            x = s_amp * tone if n_amp is None else np.concatenate(
                [s_amp * tone, np.full(n, n_amp)])
            rows.append((f"{fmt}_{label}", synth_wav(x, sr, fmt=fmt)))
    rows += [("bad_garbage", b"not audio"), ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    seg = with_decoded(df, fields=("vad",))
    rs = Object().with_unknown().with_rule(min_snr_rule(min_db=10.0))
    v = rs.violations(seg, row_key_cols=["clip_id"])
    return v.select("clip_id", "field_path", "rule_id", "actual")


def q_audio_bandwidth_clips(spark, sf_dir):
    """Effective-bandwidth / upsample-detection gate
    (audio/bandwidth.py bandwidth_rule): spectral rolloff vs the
    container's Nyquist over deterministic synth clips — full-band
    noise passes, band-limited content (ideally-resampled-from-lower-
    rate / telephony band) fails CONSISTENT, silent and undecodable
    clips are other rules' findings. Non-SQL (decode + rfft);
    deterministic, so the oracle is a committed snapshot."""
    import numpy as np

    from protovalidate_spark import Object
    from protovalidate_spark.audio import bandwidth_rule, with_decoded
    from protovalidate_spark.audio.wav import synth_wav

    def lowpass(sr, freqs, amp=0.25):
        t = np.arange(int(sr * 0.3)) / sr
        return amp * sum(np.sin(2 * np.pi * f * t + 0.1 * i)
                         for i, f in enumerate(freqs)) / len(freqs)

    rows = []
    for fmt, sr in (("pcm16", 16000), ("float32", 16000), ("alaw", 8000)):
        rng = np.random.default_rng(11)
        rows.append((f"{fmt}_fullband",
                     synth_wav(0.3 * rng.standard_normal(
                         int(sr * 0.3)).clip(-1, 1), sr, fmt=fmt)))
        rows.append((f"{fmt}_upsampled",
                     synth_wav(lowpass(sr, [300.0, 800.0, 1400.0]),
                               sr, fmt=fmt)))
        rows.append((f"{fmt}_narrowband",
                     synth_wav(lowpass(sr, [600.0]), sr, fmt=fmt)))
        rows.append((f"{fmt}_silent",
                     synth_wav(np.zeros(int(sr * 0.3)), sr, fmt=fmt)))
    rows += [("bad_garbage", b"not audio"), ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    bw = with_decoded(df, fields=("bandwidth",))
    rs = Object().with_unknown().with_rule(bandwidth_rule(min_ratio=0.5))
    v = rs.violations(bw, row_key_cols=["clip_id"])
    return v.select("clip_id", "field_path", "rule_id", "actual")


def q_codec_consistency_clips(spark, sf_dir):
    """Declared-codec vs container-format consistency
    (audio/container.py codec_consistency_rule): the metadata column's
    promise checked against the RIFF header's effective format code
    (EXTENSIBLE resolved) — header-chain parse only, membership test
    compiled to a JVM map lookup. Non-SQL (binary header parse);
    deterministic, so the oracle is a committed snapshot."""
    from protovalidate_spark import Object
    from protovalidate_spark.audio import (codec_consistency_rule,
                                           with_container_format)
    from protovalidate_spark.audio.wav import synth_sine_wav

    fmts = ["pcm8", "pcm16", "pcm24", "pcm32", "float32", "float64",
            "mulaw", "alaw"]
    rows = []
    for i, fmt in enumerate(fmts):
        for ext in (False, True):
            b = synth_sine_wav(220.0 + 31 * i, 8000, 60, 0.4, fmt=fmt,
                               extensible=ext)
            rows.append((f"{fmt}_ext{int(ext)}_true", b, fmt))
            rows.append((f"{fmt}_ext{int(ext)}_coarse", b, "wav"))
            wrong = fmts[(i + 3) % len(fmts)]
            rows.append((f"{fmt}_ext{int(ext)}_as_{wrong}", b, wrong))
    rows += [("unknown_codec", synth_sine_wav(330.0, 8000, 60, 0.4),
              "opus"),
             ("bad_garbage", b"not audio", "pcm16"),
             ("bad_null", None, "pcm16"),
             ("null_codec", synth_sine_wav(330.0, 8000, 60, 0.4), None)]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string")
    cf = with_container_format(df)
    rs = Object().with_unknown().with_rule(codec_consistency_rule())
    v = rs.violations(cf, row_key_cols=["clip_id"])
    return v.select("clip_id", "field_path", "rule_id", "actual")


def q_repair_audio_clips(spark, sf_dir):
    """Audio repair (audio/repair.py with_normalized_audio): DC removal
    + peak normalization under a 30 dB gain cap, re-encoded and decoded
    back through the UNMODIFIED pipeline — the repaired features must
    show the dc_offset/quiet gates now pass. Non-SQL (decode+encode);
    deterministic, so the oracle is a committed snapshot."""
    import numpy as np

    from protovalidate_spark.audio import (with_decoded,
                                           with_normalized_audio)
    from protovalidate_spark.audio.wav import synth_wav
    rows = []
    for fmt, sr in (("pcm16", 16000), ("float32", 8000)):
        t = np.arange(int(sr * 0.3)) / sr
        tone = np.sin(2 * np.pi * 330.0 * t)
        for label, x in (("clean", 0.5 * tone),
                         ("biased", 0.2 * tone + 0.1),
                         ("faint", 0.004 * tone),
                         ("silent", 0.0 * tone)):
            rows.append((f"{fmt}_{label}", synth_wav(x, sr, fmt=fmt)))
    rows += [("bad_garbage", b"not audio"), ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    norm = with_normalized_audio(df)
    feats = with_decoded(
        norm.select("clip_id",
                    F.col("_norm")["ok"].alias("norm_ok"),
                    F.round(F.col("_norm")["gain_db"], 2).alias("gain2"),
                    F.round(F.col("_norm")["dc_removed"], 4).alias("dc4"),
                    F.col("_norm")["bytes"].alias("bytes")),
        fields=("features",))
    return feats.select(
        "clip_id", "norm_ok", "gain2", "dc4",
        F.round("_decoded.peak", 3).alias("peak3"),
        F.round("_decoded.dc_offset", 4).alias("rdc4"),
        F.round("_decoded.rms_dbfs", 1).alias("rdbfs1"))


def q_standardize_audio_clips(spark, sf_dir):
    """Sample-rate/format standardization (audio/repair.py
    with_standardized_audio): clips at 8/16/22.05/44.1 kHz across
    formats re-encoded to pcm16 @ 16 kHz, decoded back through the
    unmodified pipeline — rate, duration, level, and tone frequency
    (ZCR) must survive the resample. Non-SQL; deterministic, so the
    oracle is a committed snapshot."""
    from protovalidate_spark.audio import with_decoded, with_standardized_audio
    from protovalidate_spark.audio.wav import synth_sine_wav
    rows = []
    for fmt, sr in (("pcm16", 44100), ("float32", 22050), ("mulaw", 8000),
                    ("pcm24", 16000)):
        rows.append((f"{fmt}_{sr}",
                     synth_sine_wav(330.0, sr, 300, 0.5, fmt=fmt)))
    rows += [("bad_garbage", b"not audio"), ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    std = with_standardized_audio(df, target_sr=16000, fmt="pcm16")
    dec = with_decoded(
        std.select("clip_id", F.col("_std")["ok"].alias("std_ok"),
                   F.col("_std")["src_sr"].alias("src_sr"),
                   F.col("_std")["bytes"].alias("bytes")),
        out_col="_dec")
    return dec.select(
        "clip_id", "std_ok", "src_sr",
        F.col("_dec")["sr"].alias("out_sr"),
        F.col("_dec")["dur_ms"].alias("out_dur_ms"),
        F.round(F.col("_dec")["rms"], 4).alias("rms4"))


def q_trim_audio_clips(spark, sf_dir):
    """Leading/trailing silence trim (audio/repair.py
    with_trimmed_audio): dead air cut under a -40 dBFS frame gate with
    50 ms context pad, re-encoded and decoded back through the
    unmodified pipeline; an all-silent clip trims to 0 samples. Also
    exercises RMS-target loudness normalization (normalize_pcm
    target_rms_dbfs) on the trimmed bytes. Non-SQL (decode+encode);
    deterministic, so the oracle is a committed snapshot."""
    import numpy as np

    from protovalidate_spark.audio import (with_decoded,
                                           with_normalized_audio,
                                           with_trimmed_audio)
    from protovalidate_spark.audio.wav import synth_wav
    rows = []
    for fmt, sr in (("pcm16", 16000), ("float32", 8000)):
        tone = 0.4 * np.sin(2 * np.pi * 330.0 * np.arange(sr // 2) / sr)
        pad_front = np.concatenate([np.zeros(sr // 4), tone])
        pad_both = np.concatenate([np.zeros(sr // 5), tone,
                                   np.zeros(2 * sr // 5)])
        for label, x in (("tight", tone), ("front", pad_front),
                         ("both", pad_both),
                         ("silent", np.zeros(sr // 2))):
            rows.append((f"{fmt}_{label}", synth_wav(x, sr, fmt=fmt)))
    rows += [("bad_garbage", b"not audio"), ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    tr = with_trimmed_audio(df)
    norm = with_normalized_audio(
        tr.select("clip_id", F.col("_trim")["ok"].alias("trim_ok"),
                  F.round(F.col("_trim")["lead_ms"], 1).alias("lead_ms"),
                  F.round(F.col("_trim")["tail_ms"], 1).alias("tail_ms"),
                  F.col("_trim")["out_dur_ms"].alias("out_dur_ms"),
                  F.col("_trim")["bytes"].alias("bytes")),
        target_rms_dbfs=-20.0)
    dec = with_decoded(
        norm.select("clip_id", "trim_ok", "lead_ms", "tail_ms",
                    "out_dur_ms",
                    F.col("_norm")["bytes"].alias("bytes")),
        out_col="_dec")
    return dec.select(
        "clip_id", "trim_ok", "lead_ms", "tail_ms", "out_dur_ms",
        F.col("_dec")["dur_ms"].alias("dec_dur_ms"),
        F.round(F.col("_dec")["rms"], 4).alias("rms4"))


def q_curate_clips(spark, sf_dir):
    """Audio curation end-to-end (pipeline/curate.py curate_clips):
    decode/quality gates -> spectral content dedup (keep-smallest-id) ->
    label-conflict group drops, over deterministic synth clips: per
    format a clean tone, a clipped take, a silent take, a re-encoded
    duplicate pair with AGREEING labels (non-keeper drops UNIQUE) and a
    re-encoded pair with CONFLICTING labels (whole group drops
    CONSISTENT). Non-SQL (decode+FFT); deterministic, so the oracle is
    a committed snapshot."""
    import numpy as np

    from protovalidate_spark.pipeline import curate_clips
    from protovalidate_spark.audio.wav import synth_wav
    rows = []
    for fmt, sr, f0 in (("pcm16", 16000, 330.0), ("float32", 8000, 262.0)):
        t = np.arange(int(sr * 0.3)) / sr
        tone = np.sin(2 * np.pi * f0 * t)
        alt = np.sin(2 * np.pi * (f0 * 1.5) * t)
        rows += [
            (f"{fmt}_clean", synth_wav(0.5 * tone, sr, fmt=fmt), "fine"),
            (f"{fmt}_clipped", synth_wav(1.6 * tone, sr, fmt=fmt), "loud"),
            (f"{fmt}_silent", synth_wav(0.0 * tone, sr, fmt=fmt), "quiet"),
            # agreeing-label dup pair: original + alaw re-encode
            (f"{fmt}_dupA", synth_wav(0.5 * alt, sr, fmt=fmt), "same words"),
            (f"{fmt}_dupB", synth_wav(0.5 * alt, sr, fmt="alaw"),
             "same words"),
        ]
        # conflicting-label pair on a third tone
        third = np.sin(2 * np.pi * (f0 * 2.0) * t)
        rows += [
            (f"{fmt}_cfA", synth_wav(0.5 * third, sr, fmt=fmt), "one label"),
            (f"{fmt}_cfB", synth_wav(0.5 * third, sr, fmt="mulaw"),
             "another label"),
        ]
    rows += [("bad_garbage", b"not audio", "x"), ("bad_null", None, "y")]
    df = spark.createDataFrame(rows,
                               "clip_id string, bytes binary, "
                               "transcript string")
    kept, dropped = curate_clips(df)
    return dropped.select("clip_id", "field_path", "rule_id", "actual")


def q_audio_level_clips(spark, sf_dir):
    """Integrated-level (quiet_rule, MIN on rms_dbfs) and DC-offset
    (dc_offset_rule, MAX on |mean|) capture-quality gates over
    deterministic synth clips across sample formats — same fused Arrow
    feature stage as clips_audio_features. Non-SQL (decode);
    deterministic, so the oracle is a committed snapshot (the `actual`
    column is the rules' rounded-string output — no float-boundary
    exposure)."""
    import numpy as np

    from protovalidate_spark import Object
    from protovalidate_spark.audio import with_decoded
    from protovalidate_spark.audio.features import dc_offset_rule, quiet_rule
    from protovalidate_spark.audio.wav import synth_wav
    rows = []
    for fmt, sr in (("pcm16", 16000), ("pcm24", 22050), ("float32", 8000),
                    ("mulaw", 8000)):
        t = np.arange(int(sr * 0.3)) / sr
        tone = np.sin(2 * np.pi * 330.0 * t)
        for label, x in (("ok", 0.4 * tone),
                         ("faint", 0.003 * tone),
                         ("silent", 0.0 * tone),
                         ("biased", 0.3 * tone + 0.12)):
            rows.append((f"{fmt}_{label}", synth_wav(x, sr, fmt=fmt)))
    rows += [("bad_garbage", b"not audio"), ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    f = with_decoded(df, fields=("features",))
    rs = (Object().with_unknown()
          .with_rule(quiet_rule(min_dbfs=-45.0))
          .with_rule(dc_offset_rule(max_abs=0.02)))
    v = rs.violations(f, row_key_cols=["clip_id"])
    return v.select("clip_id", "field_path", "rule_id", "actual")


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _split_sql_oracle() -> str:
    from protovalidate_spark.pipeline.sampling import split_sql
    return split_sql("doc_id", _SPLIT_WEIGHTS, salt="r3")


def q_split_documents(spark, sf_dir):
    """Deterministic hash-based train/val/test split (md5 of doc_id) —
    partition-independent and append-stable, pure map-side; the oracle
    recomputes the SAME md5 bucket in DuckDB (split_sql)."""
    from protovalidate_spark.pipeline.sampling import with_split
    d = _t(spark, sf_dir, "documents")
    return (with_split(d, "doc_id", _SPLIT_WEIGHTS, salt="r3")
            .select("doc_id", "split"))


def q_stratified_sample_clips(spark, sf_dir):
    """Per-stratum deterministic downsampling on the scalar clips
    fixture: keep 20% of 'wav' rows, 100% of every other codec —
    map-only filter, same md5-bucket device, plain SQL oracle."""
    from protovalidate_spark.pipeline.sampling import stratified_sample
    df = spark.read.parquet(CLIPS_SCALAR).filter(F.col("codec").isNotNull())
    out = stratified_sample(df, "clip_id", "codec",
                            {"wav": 0.2}, salt="r3", default_fraction=1.0)
    return out.select("row_idx", "clip_id", "codec")


def q_array_embeddings(spark, sf_dir):
    """Slice rules (reference pkg/rules/slice.go): per-item rule set with
    per-index violation paths + array length bounds + ACCUMULATE-ALL —
    a 9.5 sentinel injected at index 0 of every 5th vector fails BOTH
    item rules (MAX and DENIED), producing two violation rows for one
    item (reference item loop slice.go:311-344 appends every rule's
    error)."""
    from protovalidate_spark import Float64, Object, Slice
    vec = F.transform("embedding", lambda x: x.cast("double"))
    vec = F.when(F.col("vec_id") % 5 == 0,
                 F.concat(F.array(F.lit(9.5)),
                          F.slice(vec, 2, F.size(vec) - 1))).otherwise(vec)
    e = _t(spark, sf_dir, "embeddings").select("vec_id", vec.alias("vec"))
    rs = (Object().with_unknown()
          .with_key("vec", Slice()
                    .with_item_rule_set(
                        Float64().max(0.25).rejected_values(9.5))
                    .min_len(64)))
    v = rs.violations(e, row_key_cols=["vec_id"])
    return v.select("vec_id", "field_path", "rule_id")


def q_coerce_str_int16(spark, sf_dir):
    """Lossless-checked string→int16 coercion (reference
    number_coerce.go:17-73): non-numeric and width-overflow ⇒ TYPE,
    rules suppressed on coercion failure."""
    from protovalidate_spark import Int16, Object
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    sval = (F.when(k % 7 == 3, F.lit("99999"))       # > int16 max
             .when(k % 11 == 5, F.lit("12x4"))        # not a number
             .otherwise((k % 100).cast("string")))
    df = o.select("o_orderkey", sval.alias("sval"))
    rs = Object().with_unknown().with_key("sval", Int16().min(0))
    v = rs.violations(df, row_key_cols=["o_orderkey"])
    return v.select("o_orderkey", "field_path", "rule_id")


def q_time_layout_orders(spark, sf_dir):
    """String→time with a cumulative layout list, first match wins
    (reference time/time.go:134-152,205-224) + MAX bound."""
    import datetime as dt
    from protovalidate_spark import Object, Time
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    od = (F.when(k % 5 == 2, F.date_format("o_orderdate", "dd.MM.yyyy"))
           .when(k % 7 == 3, F.lit("not-a-date"))
           .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")))
    df = o.select("o_orderkey", od.alias("od"))
    rs = (Object().with_unknown()
          .with_key("od", Time().with_layouts("yyyy-MM-dd", "dd.MM.yyyy")
                    .max(dt.datetime(1997, 1, 1))))
    v = rs.violations(df, row_key_cols=["o_orderkey"])
    return v.select("o_orderkey", "field_path", "rule_id")


def q_unique_salted(spark, sf_dir):
    """Salted two-phase uniqueness (north_rule: explicit skew salting) —
    must produce byte-identical results to the unsalted path."""
    from protovalidate_spark.dataset import unique_violations
    o = _t(spark, sf_dir, "orders")
    v = unique_violations(o, ["o_custkey"], row_key_cols=["o_orderkey"],
                          salt_buckets=16)
    return v.select("o_orderkey", "field_path", "rule_id")


def q_json_props_events(spark, sf_dir):
    """WithJson (reference object.go:818-846): parse a JSON string column
    into declared keys, then per-key rules."""
    from protovalidate_spark import Int64, Object
    e = _t(spark, sf_dir, "events")
    rs = (Object().with_json("props")
          .with_key("k", Int64().min(10)))
    v = rs.violations(e, row_key_cols=["event_id"])
    return v.select("event_id", "field_path", "rule_id")


def q_map_props_events(spark, sf_dir):
    """MapType-column validation (reference Map[K,V](), object.go:112-128):
    dynamic-key rule set over every entry of a map<string,bigint>."""
    from protovalidate_spark import Int64, Map, Object
    e = _t(spark, sf_dir, "events")
    df = e.select("event_id",
                  F.from_json("props", "map<string,bigint>").alias("props"))
    rs = (Object().with_unknown()
          .with_key("props", Map().with_unknown()
                    .with_dynamic_key(".*", Int64().min(10))))
    v = rs.violations(df, row_key_cols=["event_id"])
    return v.select("event_id", "field_path", "rule_id")


def q_map_bucket_events(spark, sf_dir):
    """Dynamic buckets on a MapType column (reference WithDynamicBucket /
    WithConditionalDynamicBucket, object.go:237-279): a synthesized map
    per event carries a fixed key `k`, an `x_*` key routed to bucket
    `xs`, and a `y_b` key routed to conditional bucket `ys` only when
    k >= 50 — otherwise it stays unknown (UNEXPECTED). Buckets rendered
    as sorted `key=value` strings so DuckDB can build the same rows."""
    from protovalidate_spark import Int64, Map
    e = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    m = F.create_map(
        F.lit("k"), (k % 100).cast("bigint"),
        F.lit("x_a"), (k % 7).cast("bigint"),
        F.when(k % 3 == 0, F.lit("x_b")).otherwise(F.lit("y_b")),
        (k % 5).cast("bigint"))
    df = e.select("event_id", m.alias("props"))
    rs = (Map().with_key("k", Int64())
          .with_dynamic_bucket("^x_", "xs")
          .with_conditional_dynamic_bucket(
              "^y_", lambda mm: F.element_at(mm, "k") >= 50, "ys"))
    buckets = rs.bucket_output(F.col("props"))
    viols = rs.compile_violations(F.col("props"), "/props",
                                  "map<string,bigint>")

    def render(mc):
        return F.concat_ws(",", F.transform(
            F.array_sort(F.map_keys(mc)),
            lambda kk: F.concat(kk, F.lit("="),
                                F.element_at(mc, kk).cast("string"))))

    return df.select(
        "event_id",
        F.coalesce(render(F.element_at(buckets, "xs")), F.lit("")).alias("xs"),
        F.coalesce(render(F.element_at(buckets, "ys")), F.lit("")).alias("ys"),
        F.size(F.filter(viols, lambda v: v["rule_id"] == "UNEXPECTED"))
         .alias("n_unexpected"))


def q_ip_customer(spark, sf_dir):
    """net-package IP rule set: v4/v6 format + public-only classification
    (reference net/rule_ip_public_private.go:12-99)."""
    from protovalidate_spark import IP, Object
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ip = (F.when(k % 7 == 3, F.lit("10.0.0.5"))     # private v4
           .when(k % 11 == 5, F.lit("256.1.2.3"))    # invalid
           .when(k % 13 == 6, F.lit("fe80::1"))      # link-local v6
           .otherwise(F.lit("8.8.8.8")))
    df = c.select("c_custkey", ip.alias("ip"))
    rs = Object().with_unknown().with_key("ip", IP().with_public_only())
    v = rs.violations(df, row_key_cols=["c_custkey"])
    return v.select("c_custkey", "field_path", "rule_id")


def q_localized_lineitem(spark, sf_dir):
    """i18n dictionary rendering (reference errors/dict.go:41-56,222-240):
    violations localized via a broadcast (rule_id → template) join with
    {path}/{actual} interpolation — message rendering happens at REPORT
    time, never in the rule hot path."""
    from protovalidate_spark import Float64, Object
    from protovalidate_spark.dictionary import localize
    li = _t(spark, sf_dir, "lineitem")
    rs = (Object().with_unknown()
          .with_key("l_quantity", Float64().max(45)))
    v = rs.violations(li, row_key_cols=["l_orderkey", "l_linenumber"])
    out = localize(v, templates={"MAX": "{path} over max: {actual}"},
                   locale="en")
    return out.select("l_orderkey", "l_linenumber",
                      F.col("localized_message").alias("msg"))


def q_uri_parts_orders(spark, sf_dir):
    """URI part requirements (reference net/uri.go With*Required +
    WithRelative + WithAllowedPorts): relative URIs allowed, host
    required, user required, ports allow-listed — deep error paths."""
    from protovalidate_spark import URI, Object
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    url = (F.when(k % 7 == 3, F.lit("/relative/path/only"))       # no host
            .when(k % 11 == 5, F.lit("https://u:p@h.example.com:9999/"))  # bad port
            .when(k % 13 == 6, F.lit("https://h.example.com:8080/"))      # no user
            .otherwise(F.lit("https://u:p@h.example.com:8080/ok")))
    df = o.select("o_orderkey", url.alias("u"))
    rs = (Object().with_unknown()
          .with_key("u", URI().with_deep_errors().with_relative()
                    .with_host_required().with_user_required()
                    .with_allowed_ports(443, 8080)))
    v = rs.violations(df, row_key_cols=["o_orderkey"])
    return v.select("o_orderkey", "field_path", "rule_id")


def q_email_domain_customer(spark, sf_dir):
    """Email.WithDomain (reference net/email.go:255-260): a custom
    domain sub-rule-set (suffix allow-list) lifted into the email rules,
    replacing the default TLD domain set."""
    from protovalidate_spark import Domain, Email, Object
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    email = (F.when(k % 7 == 3, F.lit("a@other.org"))
              .when(k % 11 == 5, F.lit("bad local@corp.example.com"))
              .otherwise(F.lit("ok@corp.example.com")))
    df = c.select("c_custkey", email.alias("em"))
    rs = (Object().with_unknown()
          .with_key("em", Email().with_domain(
              Domain().with_suffix("example.com"))))
    v = rs.violations(df, row_key_cols=["c_custkey"])
    return v.select("c_custkey", "field_path", "rule_id")


def q_bool_constant_events(spark, sf_dir):
    """Bool coercion (0/1 ints and true/false strings only,
    bool.go:330-380) + Constant equality + Any().forbidden() over
    synthesized columns."""
    from protovalidate_spark import Any, Bool, Constant, Object
    e = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    flag = (F.when(k % 7 == 3, F.lit("maybe"))      # not coercible
             .when(k % 11 == 5, F.lit("false"))      # coerces, fails true()
             .otherwise(F.lit("true")))
    tag = F.when(k % 13 == 6, F.lit("wrong")).otherwise(F.lit("fixed"))
    ghost = F.when(k % 17 == 8, F.lit("present"))    # else NULL
    df = e.select("event_id", flag.alias("flag"), tag.alias("tag"),
                  ghost.alias("ghost"))
    rs = (Object().with_unknown()
          .with_key("flag", Bool().true())
          .with_key("tag", Constant("fixed"))
          .with_key("ghost", Any().forbidden()))
    v = rs.violations(df, row_key_cols=["event_id"])
    return v.select("event_id", "field_path", "rule_id")


def q_duration_orders(spark, sf_dir):
    """Duration rule set end-to-end (reference time/duration.go): unit
    scaling (s→ms), MIN/MAX bounds, and the RoundingNone default turning
    a fractional-ms remainder into a coercion error."""
    from protovalidate_spark import Duration, Object
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    # seconds, sometimes fractional with sub-ms precision (1e-5 s = 0.01 ms)
    secs = (F.when(k % 7 == 3, k % 100 + 0.00001)
             .otherwise((k % 100).cast("double")))
    df = o.select("o_orderkey", secs.alias("secs"))
    rs = (Object().with_unknown()
          .with_key("secs", Duration().with_unit("s").min(5).max(90)))
    v = rs.violations(df, row_key_cols=["o_orderkey"])
    return v.select("o_orderkey", "field_path", "rule_id")


def q_int_base16_customer(spark, sf_dir):
    """Int.WithBase (reference int.go WithBase + digit-guarded conv):
    base-16 string parsing with invalid-digit TYPE errors and a MIN
    bound on the parsed value."""
    from protovalidate_spark import Int32, Object
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    hexs = (F.when(k % 11 == 5, F.lit("zz"))
             .otherwise(F.lower(F.hex(k % 300))))
    df = c.select("c_custkey", hexs.alias("hx"))
    rs = Object().with_unknown().with_key("hx", Int32().with_base(16).min(16))
    v = rs.violations(df, row_key_cols=["c_custkey"])
    return v.select("c_custkey", "field_path", "rule_id")


def q_fixed_output_lineitem(spark, sf_dir):
    """Float.WithFixedOutput (reference rounding.go:71-78 + output
    assignment): the COERCED value itself — half-even rounded to 2
    decimals, formatted as a fixed-precision string."""
    from protovalidate_spark import Float64
    li = _t(spark, sf_dir, "lineitem")
    rs = Float64().with_rounding("half_even", 2).with_fixed_output(2)
    # l_quantity/8 yields binary-EXACT .125-step values, so the
    # half-even ties are deterministic and engine-independent
    out = rs.coerced(F.col("l_quantity") / 8.0, "double")
    return (li.filter(F.col("l_linenumber") == 1)
            .select("l_orderkey", F.replace(out, F.lit(","), F.lit(""))
                    .alias("px")))


def q_time_diff_orders(spark, sf_dir):
    """Time.WithMinDiff/WithMaxDiff with a pinned 'now' (reference
    time/rule_mindiff.go:19-53 evaluates relative to now; pinned at
    compile for deterministic plans)."""
    import datetime as dt
    from protovalidate_spark import Object, Time
    now = dt.datetime(1996, 1, 1)
    o = _t(spark, sf_dir, "orders")
    rs = (Object().with_unknown()
          .with_key("o_orderdate",
                    Time().min_diff(dt.timedelta(days=-365), now=now)
                          .max_diff(dt.timedelta(days=365), now=now)))
    v = rs.violations(o, row_key_cols=["o_orderkey"])
    return v.select("o_orderkey", "field_path", "rule_id")


def q_domain_suffix_customer(spark, sf_dir):
    """Domain.WithSuffix label-aligned matching (reference
    net/rule_domain_suffix.go:22-134): equals-suffix or ends with
    '.suffix'; 'evilexample.com' must NOT match 'example.com'."""
    from protovalidate_spark import Domain, Object
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dom = (F.when(k % 7 == 3, F.lit("evilexample.com"))
            .when(k % 11 == 5, F.lit("sub.example.com"))
            .when(k % 13 == 6, F.lit("example.com"))
            .otherwise(F.lit("other.org")))
    df = c.select("c_custkey", dom.alias("dom"))
    rs = (Object().with_unknown()
          .with_key("dom", Domain().with_suffix("example.com")))
    v = rs.violations(df, row_key_cols=["c_custkey"])
    return v.select("c_custkey", "field_path", "rule_id")


def q_ip_cidr_customer(spark, sf_dir):
    """IP CIDR membership across versions (reference rule_ip_cidr.go +
    rule_ip_subnet_mask.go round-2 parity): v4 blocks on the codegen'd
    int64 BETWEEN path, v6 blocks on the 128-bit pair path (one Arrow
    parse kernel)."""
    from protovalidate_spark import IP, Object
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ip = (F.when(k % 7 == 3, F.lit("10.1.2.3"))       # v4 in 10/8
           .when(k % 11 == 5, F.lit("11.1.2.3"))       # v4 outside
           .when(k % 13 == 6, F.lit("2001:db8::1"))    # v6 in db8::/32
           .when(k % 17 == 8, F.lit("2001:db9::1"))    # v6 outside
           .otherwise(F.lit("10.200.0.1")))
    df = c.select("c_custkey", ip.alias("ip"))
    rs = (Object().with_unknown()
          .with_key("ip", IP().with_cidr("10.0.0.0/8", "2001:db8::/32")))
    v = rs.violations(df, row_key_cols=["c_custkey"])
    return v.select("c_custkey", "field_path", "rule_id")


def q_codec_rollup_clips(spark, sf_dir):
    """Skew-safe two-level salted rollup (north_rule: explicit salting on
    hot codec groups) — results must be identical to a plain GROUP BY."""
    from protovalidate_spark.dataset import salted_rollup
    df = spark.read.parquet(CLIPS_SCALAR)
    r = salted_rollup(df.filter(F.col("codec").isNotNull()), ["codec"],
                      [("count", None, "n"),
                       ("sum", "dur_ms", "dur_total"),
                       ("min", "sr_hz", "sr_min"),
                       ("max", "sr_hz", "sr_max"),
                       ("avg", "dur_ms", "dur_avg")],
                      salt_buckets=16)
    return r.select("codec", F.col("n").cast("bigint").alias("n"),
                    F.col("dur_total").cast("bigint").alias("dur_total"),
                    "sr_min", "sr_max", F.round("dur_avg", 4).alias("dur_avg"))


def q_email_customer(spark, sf_dir):
    """net-package Email rule set (reference pkg/rules/net/email.go) over a
    deterministic derived email column: valid / bad-domain-label /
    unknown-TLD / missing-@ cases keyed off c_custkey moduli."""
    from protovalidate_spark import Email, Object
    c = _t(spark, sf_dir, "customer")
    email = F.concat(
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))),
        F.when(F.col("c_custkey") % 7 == 3, F.lit("@bad..domain.com"))
         .when(F.col("c_custkey") % 11 == 5, F.lit("@example.notatld"))
         .when(F.col("c_custkey") % 13 == 6, F.lit("atexample.com"))
         .otherwise(F.lit("@example.com")))
    df = c.select("c_custkey", email.alias("email"))
    rs = Object().with_unknown().with_key("email", Email())
    v = rs.violations(df, row_key_cols=["c_custkey"])
    return v.select("c_custkey", "field_path", "rule_id")


def q_uri_orders(spark, sf_dir):
    """net-package URI rule set (reference pkg/rules/net/uri.go): scheme
    allow-list, port bounds, query-param sub-rules, percent-encoding."""
    from protovalidate_spark import URI, Int32, Object
    o = _t(spark, sf_dir, "orders")
    url = F.concat(
        F.when(F.col("o_orderkey") % 7 == 3, F.lit("ftp://files.example.com/"))
         .when(F.col("o_orderkey") % 11 == 5, F.lit("https://example.com:99999/"))
         .when(F.col("o_orderkey") % 13 == 6, F.lit("https://example.com/a%zzb"))
         .otherwise(F.lit("https://example.com/")),
        F.lit("orders/"), F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 17 == 8, F.lit("?page=500"))
         .otherwise(F.lit("?page=3")))
    df = o.select("o_orderkey", url.alias("url"))
    rs = (Object().with_unknown()
          .with_key("url", URI().with_deep_errors()
                    .with_allowed_schemes("http", "https")
                    .with_max_port(65535)
                    .with_query_param("page", Int32().min(1).max(100))))
    v = rs.violations(df, row_key_cols=["o_orderkey"])
    return v.select("o_orderkey", "field_path", "rule_id")


# ---------------------------------------------------------------------------
# training-data pipeline ops
# ---------------------------------------------------------------------------

def q_dedup_exact_documents(spark, sf_dir):
    from protovalidate_spark.pipeline import exact_duplicates
    d = _t(spark, sf_dir, "documents")
    return exact_duplicates(d, "doc_id", "text", normalized=False) \
        .select("doc_id", "fingerprint", "group_size")


def q_fingerprint_documents(spark, sf_dir):
    from protovalidate_spark.pipeline import fingerprint
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_token_count_documents(spark, sf_dir):
    from protovalidate_spark.pipeline import token_count
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens"))


def q_quality_documents(spark, sf_dir):
    from protovalidate_spark.pipeline import quality_score
    d = _t(spark, sf_dir, "documents")
    q = quality_score(d, "text")
    return q.select("doc_id",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.round("punct_ratio", 6).alias("punct_r"),
                    F.round("digit_ratio", 6).alias("digit_r"),
                    F.round("stopword_ratio_en", 6).alias("stop_r"))


def q_langid_documents(spark, sf_dir):
    from protovalidate_spark.pipeline import lang_id
    d = _t(spark, sf_dir, "documents")
    return lang_id(d, "text").select("doc_id", "lang_pred")


def q_stats_bounds_lineitem(spark, sf_dir):
    """Deequ-style absolute stats assertions (dataset/stats.py
    stats_bounds_violations): null-rate budget, distinct bounds and
    value-range bounds from ONE agg pass. Nulls injected
    deterministically in BOTH engines (testdata is fully non-null);
    exact-distinct oracle mode; every actual is an integer count,
    a stringified column min/max, or a %g-formatted integer ratio."""
    from protovalidate_spark.dataset import stats_bounds_violations
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_quantity", F.when(F.col("l_orderkey") % 50 == 0,
                             F.lit(None).cast("double"))
        .otherwise(F.col("l_quantity")))
    return stats_bounds_violations(li, [
        {"col": "l_quantity", "max_null_rate": 0.01, "min": 2.0,
         "max": 40.0},
        {"col": "l_returnflag", "max_distinct": 2},
        {"col": "l_linestatus", "min_distinct": 2},   # passes: no row
    ], exact_distinct=True)


def q_grouped_entropy_events(spark, sf_dir):
    """Segmented Shannon entropy (dataset/metrics.py
    grouped_column_entropy): event_type entropy per ingest day — one
    shard/day collapsing is invisible to the global metric. Pure SQL
    oracle, identical integer-count arithmetic."""
    from protovalidate_spark.dataset import grouped_column_entropy
    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts").cast("string"))
    return grouped_column_entropy(e, "day", ["event_type"])


def q_entropy_events(spark, sf_dir):
    """Shannon entropy of categorical columns (dataset/metrics.py
    column_entropy — Deequ-parity metric): one stacked melt + map-side
    counts; the decisive float is ln()-of-integer-count arithmetic,
    6-decimal round (psi convention)."""
    from protovalidate_spark.dataset import column_entropy
    e = _t(spark, sf_dir, "events")
    return column_entropy(e, ["event_type", "user_id"])


def q_corr_lineitem(spark, sf_dir):
    """Pearson correlation bound metric (dataset/metrics.py
    correlation): ONE single-row aggregate scan, streaming co-moments.
    The oracle is DuckDB's corr() — both sides compute sample Pearson
    from the identical double column, 6-decimal round on one row."""
    from protovalidate_spark.dataset import correlation
    li = _t(spark, sf_dir, "lineitem")
    return correlation(li, "l_quantity", "l_extendedprice")


def q_mi_lineitem(spark, sf_dir):
    """Mutual information between two categoricals (dataset/metrics.py
    mutual_information — the soft functional-dependency metric): one
    groupBy(x,y) shuffle, marginals re-aggregated from the joint frame.
    Integer-count operands, double casts before the products, 6-decimal
    round."""
    from protovalidate_spark.dataset import mutual_information
    li = _t(spark, sf_dir, "lineitem")
    return mutual_information(li, "l_returnflag", "l_linestatus")


def q_perplexity_documents(spark, sf_dir):
    """CCNet-style corpus-LM quality signal (pipeline/text.py
    bigram_logprob): an add-0.5-smoothed bigram LM trained on the
    corpus itself scores every doc by mean negative log-likelihood.
    Pure SQL oracle — integer counts, exactly-representable k and a
    6-decimal round of the per-doc MEAN make the arithmetic
    cross-engine stable (the psi/ks ROUND convention)."""
    from protovalidate_spark.pipeline import bigram_logprob
    d = _t(spark, sf_dir, "documents")
    return bigram_logprob(d, "doc_id")


def q_repetition_documents(spark, sf_dir):
    """Gopher/C4 repetition signals (pipeline/text.py) — map-only JVM
    expressions; the oracle composes the identical arithmetic from
    DuckDB list functions."""
    from protovalidate_spark.pipeline import repetition_features
    d = _t(spark, sf_dir, "documents")
    r = repetition_features(d, "text")
    return r.select("doc_id", "n_tokens",
                    F.round("dup_word_frac", 6).alias("dup_w"),
                    F.round("dup_2gram_frac", 6).alias("dup_2g"),
                    F.round("mean_word_len", 6).alias("mwl"))


def q_gopher_quality_documents(spark, sf_dir):
    """Gopher-rule quality gates as violation rows."""
    from protovalidate_spark.pipeline import gopher_quality_violations
    d = _t(spark, sf_dir, "documents")
    return gopher_quality_violations(d, "doc_id", "text") \
        .select("doc_id", "field_path", "rule_id", "message")


_PII_INJECT = (" contact bob@example.com or +1 (555) 123-4567 "
               "from 10.0.0.1")

# deterministic page fragments for the C4 line gates (the fixture corpus
# is single-line word salad): injected into BOTH engines, same order
_C4_SENT = "This is a real sentence. It even has punctuation! Surely?"
_C4_LOREM = "lorem ipsum dolor sit amet."
_C4_BRACE = "if (x) { return 1; }"
_C4_JS = "Please enable javascript to continue."


def q_c4_quality_documents(spark, sf_dir):
    """C4-style line-level page gates (pipeline/text.py
    c4_quality_violations): sentence-count floor, lorem-ipsum and
    curly-brace page drops, javascript-line flagging, kept-line-fraction
    floor — deterministic page fragments injected into every 3rd/11th/
    13th/17th doc in BOTH the Spark query and the SQL oracle (same
    pattern as pii_documents)."""
    from protovalidate_spark.pipeline import c4_quality_violations
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    for mod, frag in ((3, _C4_SENT), (11, _C4_LOREM),
                      (13, _C4_BRACE), (17, _C4_JS)):
        t = F.when(F.col("doc_id") % mod == 0,
                   F.concat(t, F.lit("\n" + frag))).otherwise(t)
    d = d.withColumn("text", t)
    return c4_quality_violations(d, "doc_id", "text",
                                 min_kept_line_frac=0.5) \
        .select("doc_id", "field_path", "rule_id", "message")


_SPAN_INJECT = ("shared duplicated passage marker alpha beta gamma delta "
                "epsilon zeta eta theta")  # 12 tokens


def q_oov_documents(spark, sf_dir):
    """Out-of-vocabulary rate (pipeline/text.py oov_rate) against the
    corpus's own top-30 vocabulary (vocab_topk — deterministic set via
    the freq-desc/token-asc tie-break): per-doc token/OOV counts and
    rate. Pure SQL oracle: identical top-k + explode + broadcast-shaped
    membership arithmetic (IEEE double division agrees bit-for-bit on
    integer operands)."""
    from protovalidate_spark.pipeline import oov_rate, vocab_topk
    d = _t(spark, sf_dir, "documents")
    vocab = vocab_topk(d, "text", k=30)
    return oov_rate(d, "doc_id", vocab) \
        .select("doc_id", "n_tokens", "n_oov", "oov_rate")


def q_duplicate_spans_documents(spark, sf_dir):
    """Exact duplicated-passage detection (pipeline/dedup.py
    duplicate_spans — the Lee et al. substring-dedup gate): a 12-token
    passage is appended to every 9th doc in BOTH engines; maximal
    duplicated k=8 spans must agree exactly (pure SQL oracle: positional
    grams + count>=2 + island merge, same arithmetic)."""
    from protovalidate_spark.pipeline import duplicate_spans
    d = _t(spark, sf_dir, "documents")
    d = d.withColumn("text", F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.col("text"), F.lit(" " + _SPAN_INJECT)))
        .otherwise(F.col("text")))
    return duplicate_spans(d, "doc_id", "text", k=8) \
        .select("doc_id", "start_tok", "end_tok", "span_tokens", "n_grams")


def q_remove_spans_documents(spark, sf_dir):
    """Substring-dedup REMOVAL (pipeline/dedup.py remove_duplicate_spans):
    same injected shared passage as duplicate_spans_documents; the
    surgically-cut normalized text and per-doc removed-token counts must
    agree with the SQL oracle's anti-join reconstruction exactly."""
    from protovalidate_spark.pipeline import remove_duplicate_spans
    d = _t(spark, sf_dir, "documents")
    d = d.withColumn("text", F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.col("text"), F.lit(" " + _SPAN_INJECT)))
        .otherwise(F.col("text")))
    return remove_duplicate_spans(d, "doc_id", "text", k=8) \
        .select("doc_id", "clean_text", "n_removed_tokens")


def q_pii_documents(spark, sf_dir):
    """PII pattern counts; the fixture corpus is synthetic word salad,
    so deterministic PII text is injected into every 7th doc in BOTH the
    Spark query and the SQL oracle (same pattern as curate_documents'
    injected duplicates)."""
    from protovalidate_spark.pipeline import pii_counts
    d = _t(spark, sf_dir, "documents")
    d = d.withColumn("text", F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(_PII_INJECT))).otherwise(F.col("text")))
    return pii_counts(d, "text").select(
        "doc_id", "n_emails", "n_ipv4", "n_phones")


def q_redact_pii_documents(spark, sf_dir):
    """PII redaction (pipeline/text.py redact_pii): every detected span
    replaced by its bracketed marker, SAME patterns as pii_counts
    (imported, never re-stated), fixed replace order
    (emails → IPs → phones); the post-scrub pii_counts on the redacted
    column must be all-zero — emitted so the oracle verifies
    convergence, not just the string transform."""
    from protovalidate_spark.pipeline import pii_counts, with_redacted_text
    d = _t(spark, sf_dir, "documents")
    d = d.withColumn("text", F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(_PII_INJECT))).otherwise(F.col("text")))
    red = with_redacted_text(d, "text").drop("text") \
        .withColumnRenamed("text_redacted", "text")
    return pii_counts(red, "text").select(
        "doc_id", F.col("text").alias("redacted"),
        (F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones"))
        .alias("residual_pii"))


def q_ann_topk_embeddings(spark, sf_dir):
    from protovalidate_spark.pipeline import cosine_topk
    e = _t(spark, sf_dir, "embeddings")
    e = e.withColumn("vec", F.transform("embedding",
                                        lambda x: x.cast("double")))
    qvec = e.orderBy("vec_id").first()["vec"]
    return cosine_topk(e, "vec_id", "vec", qvec, k=10) \
        .select("vec_id", F.round("cosine", 4).alias("cos4"))


def q_neardup_embeddings(spark, sf_dir):
    from protovalidate_spark.pipeline import embedding_near_dups
    e = _t(spark, sf_dir, "embeddings")
    e = e.withColumn("vec", F.transform("embedding",
                                        lambda x: x.cast("double")))
    return embedding_near_dups(e, "vec_id", "vec", threshold=0.4,
                               brute_force=True) \
        .select("id_a", "id_b", F.round("cosine", 4).alias("cos4"))


def q_curate_documents(spark, sf_dir):
    """End-to-end curation drop report (pipeline/curate.py): quality
    gates + exact dedup with keep-smallest-id, reported through the
    engine's violation shape. Exact duplicates synthesized by re-adding
    every 10th doc under a shifted id."""
    from protovalidate_spark.pipeline import curate_documents
    d = _t(spark, sf_dir, "documents")
    dup = (d.filter(F.col("doc_id") % 10 == 0)
            .withColumn("doc_id", F.col("doc_id") + 100000))
    df = d.unionByName(dup)
    kept, dropped = curate_documents(df, "doc_id", "text",
                                     min_tokens=30, max_punct_ratio=0.05)
    return dropped.select("doc_id", "field_path", "rule_id")


def q_neardup_embeddings_lsh(spark, sf_dir):
    """Hyperplane-LSH near-dup (the 100 TB path): sign-bit signature
    matmul (all bands stacked) → one shuffle on the (band, bucket) key →
    in-bucket pairwise-cosine matmul. Deterministic given the seed, so
    the oracle is a committed expected-output snapshot."""
    from protovalidate_spark.pipeline import embedding_near_dups
    e = _t(spark, sf_dir, "embeddings")
    e = e.withColumn("vec", F.transform("embedding",
                                        lambda x: x.cast("double")))
    return embedding_near_dups(e, "vec_id", "vec", threshold=0.4,
                               planes=8, seed=11) \
        .select("id_a", "id_b", F.round("cosine", 4).alias("cos4"))


def q_minhash_neardup_documents(spark, sf_dir):
    """MinHash-LSH candidates verified by exact Jaccard — non-SQL
    (banded signature join); deterministic given the seed, oracle = a
    committed expected-output snapshot."""
    from protovalidate_spark.pipeline import ngram_jaccard_dedup
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_dedup(d, "doc_id", "text", shingle_n=3,
                               threshold=0.5)


def q_simhash_documents(spark, sf_dir):
    """SimHash near-dups — Arrow UDF signature; deterministic, oracle =
    a committed expected-output snapshot."""
    from protovalidate_spark.pipeline import simhash_near_dups
    d = _t(spark, sf_dir, "documents")
    return simhash_near_dups(d, "doc_id", "text", prefix_bits=12,
                             max_hamming=6)


def q_ngram_jaccard_documents(spark, sf_dir):
    """Exact all-pairs n-gram Jaccard with lossless PPJoin-style prefix
    filtering (pipeline/dedup.py prefix_jaccard_pairs). Output is the
    integer (inter, uni) set sizes — the SQL oracle does the naive
    quadratic blocking version; prefix filtering only shrinks the
    CANDIDATE set, the verified output is provably identical."""
    from protovalidate_spark.pipeline import prefix_jaccard_pairs
    d = _t(spark, sf_dir, "documents")
    return prefix_jaccard_pairs(d, "doc_id", "text", shingle_n=3,
                                threshold_num=1, threshold_den=2)


def q_quantize_embeddings(spark, sf_dir):
    """Symmetric per-vector int8 quantization for materialized ANN
    indexes (pipeline/similarity.py quantize_embeddings). JVM-only
    higher-order expressions with cross-engine-exact arithmetic
    (float→double promotion, one division, half-away round), so the
    oracle is the same formula in plain SQL — integer output, no
    float-boundary risk on q8 itself.

    Contract shape: q8 is emitted as a comma-joined STRING, not an
    array — the driver's canonicalizer sorts a pandas frame over all
    columns and an array column raises `unhashable type: 'list'`
    (the round-4 ERR row). The join is lossless for int8 text."""
    from protovalidate_spark.pipeline import quantize_embeddings
    d = _t(spark, sf_dir, "embeddings")
    return (quantize_embeddings(d, "embedding")
            .select("vec_id",
                    F.concat_ws(",", F.col("q8").cast("array<string>"))
                     .alias("q8"),
                    "q8_scale"))


def q_pack_documents(spark, sf_dir):
    """Sequence packing (pipeline/packing.py pack_offsets): global
    token offset + start/end training-window ids per document, under a
    deterministic doc_id order. Spark runs the distributed two-level
    prefix sum (one range shuffle, O(P) driver merge, shuffle-free
    Arrow cumsum); the oracle is the serial windowed SQL the prefix
    sum must agree with exactly."""
    from protovalidate_spark.pipeline import pack_offsets
    d = _t(spark, sf_dir, "documents")
    return pack_offsets(d, "doc_id", text_col="text", window_tokens=512)


def q_pack_clips(spark, sf_dir):
    """Audio-payload packing: the same distributed prefix sum with
    dur_ms as the weight — clips packed into 30 s training windows in
    row_idx order (row_idx is the unique total order; clip_id has the
    fixture's deliberate NULLs/dups). NULL/negative durations consume
    nothing, same clamp as NULL text."""
    from protovalidate_spark.pipeline import pack_offsets
    df = spark.read.parquet(CLIPS_SCALAR)
    out = pack_offsets(df, "row_idx", token_count_col="dur_ms",
                       window_tokens=30_000)
    return out.withColumnRenamed("n_tokens", "dur_ms_w")


def q_vocab_topk_documents(spark, sf_dir):
    """Corpus vocabulary top-k (pipeline/text.py vocab_topk): 100 most
    frequent whitespace tokens, tie-broken by token so the k-boundary
    is a deterministic set. TakeOrderedAndProject — no global sort."""
    from protovalidate_spark.pipeline import vocab_topk
    d = _t(spark, sf_dir, "documents")
    return vocab_topk(d, "text", 100)


def q_audio_dup_clips(spark, sf_dir):
    """Duplicate-AUDIO detection (audio/fingerprint.py): the same sine
    content re-encoded across sample formats / rates / gains must land
    in one spectral-fingerprint group; distinct content must not.
    Non-SQL (Arrow decode+FFT stage); deterministic (fixed synth args),
    so the oracle is a committed expected-output snapshot."""
    from protovalidate_spark.audio import audio_dup_groups
    from protovalidate_spark.audio.wav import synth_sine_wav

    encs = [("pcm16", 8000, 0.5, False), ("pcm8", 16000, 0.4, False),
            ("float32", 44100, 0.25, True), ("alaw", 8000, 0.6, False)]
    rows = []
    for k in range(12):
        freq = 330.0 * 2 ** (k / 6.0)  # 2-semitone grid, distinct content
        for e in range(1 + (k % 4)):   # group sizes 1..4
            fmt, sr, amp, ext = encs[e]
            rows.append((f"clip-{k:02d}-{e}",
                         synth_sine_wav(freq, sr, 480, amp, fmt=fmt,
                                        extensible=ext)))
    rows.append(("corrupt-0", b"RIFF not a wav"))
    rows.append(("null-0", None))
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    return audio_dup_groups(df, "clip_id", "bytes")


def q_audio_embed_neardup_clips(spark, sf_dir):
    """Audio-embedding near-dup (audio/embed.py → pipeline/dedup.py):
    the same sine content re-encoded across formats / sample rates /
    gains must pair at cosine ≥ 0.95 through the spectral-band
    embedding; content 4 semitones apart must not; undecodable and
    all-silent payloads are excluded by the content gate. Non-SQL
    (Arrow decode+FFT stage); deterministic (fixed synth args), so the
    oracle is a committed expected-output snapshot."""
    from protovalidate_spark.audio import audio_embeddings_frame
    from protovalidate_spark.audio.wav import synth_sine_wav
    from protovalidate_spark.pipeline.dedup import embedding_near_dups

    encs = [("pcm16", 16000, 0.5, False), ("pcm8", 8000, 0.35, False),
            ("float32", 44100, 0.25, True), ("mulaw", 8000, 0.6, False)]
    rows = []
    for k in range(10):
        freq = 260.0 * 2 ** (k / 3.0)  # 4-semitone grid: distinct content
        for e in range(1 + (k % 3)):   # group sizes 1..3
            fmt, sr, amp, ext = encs[e]
            rows.append((f"clip-{k:02d}-{e}",
                         synth_sine_wav(freq, sr, 400, amp, fmt=fmt,
                                        extensible=ext)))
    rows += [("corrupt-0", b"RIFF junk"), ("null-0", None),
             ("silent-0", synth_sine_wav(440.0, 16000, 400, 0.0))]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    emb = audio_embeddings_frame(df)
    pairs = embedding_near_dups(emb, "id", "embedding", threshold=0.95,
                                brute_force=True)
    # pair set is the semantic payload; cosine at 2 decimals — synth
    # pairs sit at ~0.97-1.00, far from any rounding boundary
    return pairs.select("id_a", "id_b",
                        F.round("cosine", 2).alias("cos2"))


def q_audio_segments_clips(spark, sf_dir):
    """Energy-VAD segmentation (audio/segments.py): tone/silence
    patterns across sample formats and rates — burst counting, hangover
    bridging of short pauses, click suppression, lead-in silence, and
    the all-silent clip — through ONE fused Arrow decode+VAD stage.
    Non-SQL (decode); deterministic (integer frame logic on fixed
    synth), so the oracle is a committed snapshot."""
    import numpy as np

    from protovalidate_spark.audio import with_decoded
    from protovalidate_spark.audio.wav import synth_wav

    def pcm(sr, pattern, freq=330.0):
        parts = []
        for dur_ms, active in pattern:
            n = int(sr * dur_ms / 1000)
            t = np.arange(n) / sr
            parts.append(0.5 * np.sin(2 * np.pi * freq * t)
                         if active else np.zeros(n))
        return np.concatenate(parts)

    pats = {
        "two_bursts": ((300, True), (200, False), (300, True)),
        "click_only": ((20, True), (500, False)),
        "leading_silence": ((400, False), (300, True)),
        "bridged_pause": ((200, True), (40, False), (200, True)),
        "all_silent": ((600, False),),
    }
    rows = []
    for fmt, sr in (("pcm16", 16000), ("pcm8", 8000), ("alaw", 8000),
                    ("float32", 44100)):
        for name, p in pats.items():
            rows.append((f"{fmt}_{sr}_{name}",
                         synth_wav(pcm(sr, p), sr, fmt=fmt)))
    rows += [("bad_garbage", b"not audio"), ("bad_null", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    seg = with_decoded(df, fields=("vad",))
    v = F.col("_decoded")
    return seg.select(
        "clip_id", v["ok"].alias("vad_ok"),
        v["n_segments"].alias("n_segments"),
        v["speech_ms"].alias("speech_ms"),
        F.round(v["speech_ratio"], 4).alias("speech_ratio4"),
        v["longest_gap_ms"].alias("longest_gap_ms"),
        # F.get, not [0]: ANSI mode throws on the empty segment arrays
        F.get(v["segments"], 0)["start_ms"].alias("seg0_start_ms"),
        F.get(v["segments"], 0)["end_ms"].alias("seg0_end_ms"))


def q_transcript_conflict_clips(spark, sf_dir):
    """Transcript-label conflict gate, exact mode (audio/consistency.py):
    byte-identical clips whose transcripts disagree after normalization
    (case/whitespace collapsed; NULL is a distinct label, '' is a bad
    label not a missing one). Pure JVM — md5 key + one window shuffle —
    so the oracle is plain SQL grouping the committed labeled fixture
    by its bytes column."""
    from protovalidate_spark.audio import transcript_conflicts
    df = spark.read.parquet(CLIPS_LABELED)
    return transcript_conflicts(df)


def q_transcript_conflict_tolerant_clips(spark, sf_dir):
    """Edit-tolerant variant (edit_tolerance=1): typo-level
    re-labelings (1 Levenshtein edit from the group's reference label)
    stop counting as conflicts; NULL-vs-text groups conflict regardless
    of tolerance. Still pure JVM (F.levenshtein) — the oracle computes
    the same thing in SQL with DuckDB's levenshtein()."""
    from protovalidate_spark.audio import transcript_conflicts
    df = spark.read.parquet(CLIPS_LABELED)
    return transcript_conflicts(df, edit_tolerance=1)


def q_transcript_conflict_content_clips(spark, sf_dir):
    """Transcript-label conflict gate, content mode: the same recording
    RE-ENCODED (other rate / bit depth / gain ⇒ different bytes, same
    spectral fingerprint) with disagreeing labels — the case exact
    hashing can never see. Negatives: re-encodings whose labels differ
    only in formatting, distinct content sharing a transcript, garbage
    and NULL payloads. Non-SQL (Arrow decode+FFT); deterministic, so
    the oracle is a committed snapshot."""
    from protovalidate_spark.audio import transcript_conflicts
    from protovalidate_spark.audio.wav import synth_sine_wav

    encs = [("pcm16", 16000, 0.5), ("pcm8", 8000, 0.3),
            ("float32", 44100, 0.25), ("mulaw", 8000, 0.6)]
    rows = []
    for k in range(8):
        freq = 294.0 * 2 ** (k / 4.0)  # 3-semitone grid: distinct content
        label = f"spoken line number {k}"
        for e in range(1 + (k % 4)):   # group sizes 1..4
            fmt, sr, amp = encs[e]
            # every third group gets one disagreeing label; group 5
            # gets a formatting-only variant (NOT a conflict)
            tx = label
            if e == 2 and k % 3 == 0:
                tx = f"spoken line number {k} revised"
            elif e == 1 and k == 5:
                tx = f"  Spoken LINE number {k} "
            rows.append((f"clip-{k:02d}-{e}",
                         synth_sine_wav(freq, sr, 400, amp, fmt=fmt), tx))
    rows += [("junk-0", b"RIFF junk", "junk label"),
             ("null-0", None, "no audio"),
             # distinct content, shared transcript: not a conflict
             ("share-a", synth_sine_wav(1975.5, 16000, 400, 0.5), "shared"),
             ("share-b", synth_sine_wav(2217.5, 16000, 400, 0.5), "shared")]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, transcript string")
    return transcript_conflicts(df, key="content")


def q_decontaminate_documents(spark, sf_dir):
    """Benchmark decontamination (pipeline/dedup.py contamination_hits):
    docs sharing any 4-gram with the deterministic eval split
    (doc_id % 50 == 0), hits = distinct shared shingles. Broadcast
    semi-join shape: the eval gram set is tiny next to the corpus."""
    from protovalidate_spark.pipeline import contamination_hits
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return contamination_hits(train, bench, "doc_id", "text", shingle_n=4)


def q_ivf_topk_embeddings(spark, sf_dir):
    """IVF ANN probe: driver-side k-means on a bounded sample, argmax
    cell assignment, exact cosine within n_probe nearest cells —
    approximate vs brute force but exactly reproducible (content-hash
    sample + seeded k-means), oracle = a committed snapshot."""
    from protovalidate_spark.pipeline import ivf_topk, train_centroids
    e = _t(spark, sf_dir, "embeddings")
    e = e.withColumn("vec", F.transform("embedding",
                                        lambda x: x.cast("double")))
    qvec = e.orderBy("vec_id").first()["vec"]
    C = train_centroids(e, "vec", n_cells=8, sample_rows=2000)
    return ivf_topk(e, "vec_id", "vec", qvec, C, k=10, n_probe=2) \
        .select("vec_id", F.round("cosine", 4).alias("cos4"))


def q_lsh_topk_embeddings(spark, sf_dir):
    """Hyperplane-LSH ANN probe — approximate vs brute force but
    exactly reproducible (seeded planes), oracle = a committed
    snapshot."""
    from protovalidate_spark.pipeline import build_lsh_index, lsh_topk
    e = _t(spark, sf_dir, "embeddings")
    e = e.withColumn("vec", F.transform("embedding",
                                        lambda x: x.cast("double")))
    qvec = e.orderBy("vec_id").first()["vec"]
    index, hp = build_lsh_index(e, "vec_id", "vec", planes=8)
    return lsh_topk(index, hp, "vec_id", "vec", qvec, k=10)


# ---------------------------------------------------------------------------

def q_suggest_rules_orders(spark, sf_dir):
    """Constraint suggestion (dataset/suggest.py suggest_rules —
    Deequ-ConstraintSuggestion parity on the repo's own fluent DSL):
    ONE profiling agg (+ one bounded value-set agg) over orders →
    (column, rule, param, reason) rows. Oracle mode uses exact
    count_distinct; the at-scale default is HLL. Params are formatted
    cross-engine canonical (%.6f doubles, ISO timestamps), so the
    whole suggestion frame is value-hashable against plain SQL."""
    from protovalidate_spark.dataset import suggest_rules
    o = _t(spark, sf_dir, "orders")
    return suggest_rules(
        o, ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
        exact_distinct=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Dict order is the driver's execution order and the sweep
        # truncates at 50 — so the rotation policy is least-recently-
        # driver-verified first. Round-5 order: the 9 queries with NO
        # driver row in any round, then 32 of the 39 last verified in
        # r3, then the round-5 NEW ops (stats-bounds, entropy/corr/MI
        # metrics, perplexity, exemplars) and the round-5 code changes
        # (quantize contract shape, duplicate_spans de-skew,
        # embedding_drift dim path) — exactly 50. Eight r3-green
        # queries moved below the cut to make room (bool_constant,
        # int_base16, chi2_js, split_documents, stratified_sample,
        # token_count, fingerprint, curate_documents — their r3 rows
        # already count toward cumulative coverage).
        "audio_level_clips": q_audio_level_clips,
        "audio_snr_clips": q_audio_snr_clips,
        "audio_bandwidth_clips": q_audio_bandwidth_clips,
        "codec_consistency_clips": q_codec_consistency_clips,
        "curate_clips": q_curate_clips,
        "repair_audio_clips": q_repair_audio_clips,
        "standardize_audio_clips": q_standardize_audio_clips,
        "trim_audio_clips": q_trim_audio_clips,
        "psi_by_group_lineitem": q_psi_by_group_lineitem,
        "email_customer": q_email_customer,
        "uri_orders": q_uri_orders,
        "codec_rollup_clips": q_codec_rollup_clips,
        "array_embeddings": q_array_embeddings,
        "coerce_str_int16": q_coerce_str_int16,
        "time_layout_orders": q_time_layout_orders,
        "unique_salted": q_unique_salted,
        "json_props_events": q_json_props_events,
        "map_props_events": q_map_props_events,
        "map_bucket_events": q_map_bucket_events,
        "ip_customer": q_ip_customer,
        "ip_cidr_customer": q_ip_cidr_customer,
        "localized_lineitem": q_localized_lineitem,
        "uri_parts_orders": q_uri_parts_orders,
        "email_domain_customer": q_email_domain_customer,
        "duration_orders": q_duration_orders,
        "fixed_output_lineitem": q_fixed_output_lineitem,
        "time_diff_orders": q_time_diff_orders,
        "domain_suffix_customer": q_domain_suffix_customer,
        "clips_scalar_rules": q_clips_scalar_rules,
        "clips_unique": q_clips_unique,
        "clips_ref_codec": q_clips_ref_codec,
        "clips_full_audio": q_clips_full_audio,
        "clips_format_family": q_clips_format_family,
        "speech_rate_clips": q_speech_rate_clips,
        "clips_audio_features": q_clips_audio_features,
        "heavy_hitters_clips": q_heavy_hitters_clips,
        "stats_drift_lineitem": q_stats_drift_lineitem,
        "dedup_exact_documents": q_dedup_exact_documents,
        "quality_documents": q_quality_documents,
        "langid_documents": q_langid_documents,
        "stats_bounds_lineitem": q_stats_bounds_lineitem,
        "entropy_events": q_entropy_events,
        "grouped_entropy_events": q_grouped_entropy_events,
        "corr_lineitem": q_corr_lineitem,
        "mi_lineitem": q_mi_lineitem,
        "perplexity_documents": q_perplexity_documents,
        "quantize_embeddings": q_quantize_embeddings,
        "duplicate_spans_documents": q_duplicate_spans_documents,
        "embedding_drift": q_embedding_drift,
        "exemplars_lineitem": q_exemplars_lineitem,
        # below the ~50 sweep cut: r4-green + two r3-green scalar rules
        # (bool_constant_events, int_base16_customer) moved down to make
        # room — their r3 rows already count toward cumulative coverage
        "validate_lineitem": q_validate_lineitem,
        "bool_constant_events": q_bool_constant_events,
        "int_base16_customer": q_int_base16_customer,
        "chi2_js_returnflag": q_chi2_js_returnflag,
        "split_documents": q_split_documents,
        "stratified_sample_clips": q_stratified_sample_clips,
        "token_count_documents": q_token_count_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "curate_documents": q_curate_documents,
        "ann_topk_embeddings": q_ann_topk_embeddings,
        "neardup_embeddings": q_neardup_embeddings,
        "neardup_embeddings_lsh": q_neardup_embeddings_lsh,
        "minhash_neardup_documents": q_minhash_neardup_documents,
        "simhash_documents": q_simhash_documents,
        "lsh_topk_embeddings": q_lsh_topk_embeddings,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "transcript_conflict_clips": q_transcript_conflict_clips,
        "transcript_conflict_tolerant_clips":
            q_transcript_conflict_tolerant_clips,
        "transcript_conflict_content_clips":
            q_transcript_conflict_content_clips,
        "ngram_jaccard_documents": q_ngram_jaccard_documents,
        "decontaminate_documents": q_decontaminate_documents,
        "audio_dup_clips": q_audio_dup_clips,
        "audio_embed_neardup_clips": q_audio_embed_neardup_clips,
        "audio_segments_clips": q_audio_segments_clips,
        "pack_documents": q_pack_documents,
        "pack_clips": q_pack_clips,
        "vocab_topk_documents": q_vocab_topk_documents,
        "repetition_documents": q_repetition_documents,
        "gopher_quality_documents": q_gopher_quality_documents,
        "c4_quality_documents": q_c4_quality_documents,
        "pii_documents": q_pii_documents,
        "redact_pii_documents": q_redact_pii_documents,
        "remove_spans_documents": q_remove_spans_documents,
        "oov_documents": q_oov_documents,
        "reconcile_orders_lineitem": q_reconcile_orders_lineitem,
        "monotonic_lineitem": q_monotonic_lineitem,
        "volume_anomaly_events": q_volume_anomaly_events,
        "outliers_iqr_events": q_outliers_iqr_events,
        "outliers_mad_events": q_outliers_mad_events,
        "freshness_events": q_freshness_events,
        "grouped_stats_events": q_grouped_stats_events,
        "fd_events": q_fd_events,
        "calendar_gaps_orders": q_calendar_gaps_orders,
        "vector_rules_embeddings": q_vector_rules_embeddings,
        "group_size_lineitem": q_group_size_lineitem,
        "collection_lineitem": q_collection_lineitem,
        "conditional_orders": q_conditional_orders,
        "cross_column_lineitem": q_cross_column_lineitem,
        "stats_lineitem": q_stats_lineitem,
        "stats_quantiles": q_stats_quantiles,
        "unique_orders_custkey": q_unique_orders_custkey,
        "ref_customer_nation": q_ref_customer_nation,
        "hist_quantity": q_hist_quantity,
        "psi_returnflag": q_psi_returnflag,
        "ks_quantity": q_ks_quantity,
        "suggest_rules_orders": q_suggest_rules_orders,
    }


def _langid_oracle_sql() -> str:
    """The lang_id heuristic as DuckDB SQL, COMPOSED from the same
    STOPWORDS/LANG_ORDER/CHARSET_RANGES constants the Spark expression
    uses — the two sides cannot drift."""
    from protovalidate_spark.pipeline.text import (
        CHARSET_RANGES, LANG_ORDER, STOPWORDS)
    score_cols = ",\n".join(
        "                 len(list_filter(toks, x -> list_contains([{}], x)))"
        " AS s_{}".format(
            ",".join(f"'{w}'" for w in STOPWORDS[lang]), lang)
        for lang in LANG_ORDER)
    charset_cols = ",\n".join(
        "                 length(regexp_replace(text, '[^{}]', '', 'g'))"
        " AS cs_{}".format(rng, lang)
        for lang, rng in CHARSET_RANGES.items())
    best = "GREATEST({})".format(
        ", ".join(f"s_{lang}" for lang in LANG_ORDER))
    charset_cases = "\n".join(
        f"                        WHEN cs_{lang} > length(text) * 0.2"
        f" THEN '{lang}'" for lang in CHARSET_RANGES)
    stopword_cases = "\n".join(
        f"                        WHEN s_{lang} = {best} THEN '{lang}'"
        for lang in LANG_ORDER)
    return rf"""
            WITH t AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0
                          THEN []::VARCHAR[]
                          ELSE string_split_regex(lower(trim(text)), '\s+')
                     END AS toks
                FROM documents),
            s AS (
              SELECT doc_id, text,
{score_cols},
{charset_cols}
                FROM t)
            SELECT doc_id,
                   CASE
{charset_cases}
                        WHEN {best} = 0 THEN 'und'
{stopword_cases}
                        ELSE 'und' END AS lang_pred
              FROM s
        """


def oracle_sql() -> dict[str, str]:
    clips = f"read_parquet('{CLIPS_SCALAR}')"
    return {
        "validate_lineitem": """
            SELECT l_orderkey, l_linenumber, '/l_quantity' AS field_path,
                   'MAX' AS rule_id FROM lineitem WHERE l_quantity > 45
            UNION ALL
            SELECT l_orderkey, l_linenumber, '/l_quantity', 'MIN'
              FROM lineitem WHERE l_quantity < 1
            UNION ALL
            SELECT l_orderkey, l_linenumber, '/l_discount', 'MAX'
              FROM lineitem WHERE l_discount > 0.07
            UNION ALL
            SELECT l_orderkey, l_linenumber, '/l_returnflag', 'NOTALLOWED'
              FROM lineitem WHERE l_returnflag NOT IN ('A','N','R')
            UNION ALL
            SELECT l_orderkey, l_linenumber, '/l_linestatus', 'NOTALLOWED'
              FROM lineitem WHERE l_linestatus NOT IN ('F','O')
        """,
        "exemplars_lineitem": """
            WITH v AS (
                SELECT l_orderkey, l_linenumber,
                       '/l_quantity' AS field_path, 'MAX' AS rule_id
                  FROM lineitem WHERE l_quantity > 45
                UNION ALL
                SELECT l_orderkey, l_linenumber, '/l_quantity', 'MIN'
                  FROM lineitem WHERE l_quantity < 1
                UNION ALL
                SELECT l_orderkey, l_linenumber, '/l_discount', 'MAX'
                  FROM lineitem WHERE l_discount > 0.07
                UNION ALL
                SELECT l_orderkey, l_linenumber, '/l_returnflag',
                       'NOTALLOWED'
                  FROM lineitem WHERE l_returnflag NOT IN ('A','N','R')
            ),
            ranked AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY field_path, rule_id
                           ORDER BY l_orderkey ASC, l_linenumber ASC)
                           AS rn,
                       count(*) OVER (
                           PARTITION BY field_path, rule_id) AS rule_total
                  FROM v)
            SELECT l_orderkey, l_linenumber, field_path, rule_id,
                   rule_total
              FROM ranked WHERE rn <= 10
        """,
        "collection_lineitem": """
            SELECT l_orderkey, l_linenumber, '/l_quantity' AS field_path,
                   'MAX' AS rule_id, 'validation' AS error_type,
                   CAST(l_quantity AS DOUBLE) AS actual_typed
              FROM lineitem WHERE l_quantity > 45
            UNION ALL
            SELECT l_orderkey, l_linenumber, '/l_quantity', 'MIN',
                   'validation', CAST(l_quantity AS DOUBLE)
              FROM lineitem WHERE l_quantity < 1
            UNION ALL
            SELECT l_orderkey, l_linenumber, '/l_returnflag', 'NOTALLOWED',
                   'permission', CAST(NULL AS DOUBLE)
              FROM lineitem WHERE l_returnflag NOT IN ('A','N','R')
        """,
        "conditional_orders": """
            SELECT o_orderkey, '/o_orderdate' AS field_path, 'MAX' AS rule_id
              FROM orders
             WHERE o_orderstatus = 'F'
               AND o_orderdate > TIMESTAMP '1999-12-31 00:00:00'
        """,
        "cross_column_lineitem": """
            SELECT l_orderkey, l_linenumber, '/l_tax' AS field_path,
                   'RANGE' AS rule_id
              FROM lineitem WHERE NOT (l_tax <= l_discount + 0.05)
        """,
        "stats_lineitem": """
            SELECT 'l_orderkey' AS col_name, COUNT(*)::BIGINT AS n_rows,
                   (COUNT(*) - COUNT(l_orderkey)) / CAST(COUNT(*) AS DOUBLE)
                       AS null_rate,
                   CAST(MIN(l_orderkey) AS VARCHAR) AS min_s,
                   CAST(MAX(l_orderkey) AS VARCHAR) AS max_s,
                   COUNT(DISTINCT l_orderkey)::BIGINT AS distinct_cnt
              FROM lineitem
            UNION ALL
            SELECT 'l_linenumber', COUNT(*)::BIGINT,
                   (COUNT(*) - COUNT(l_linenumber)) / CAST(COUNT(*) AS DOUBLE),
                   CAST(MIN(l_linenumber) AS VARCHAR),
                   CAST(MAX(l_linenumber) AS VARCHAR),
                   COUNT(DISTINCT l_linenumber)::BIGINT
              FROM lineitem
            UNION ALL
            SELECT 'l_returnflag', COUNT(*)::BIGINT,
                   (COUNT(*) - COUNT(l_returnflag)) / CAST(COUNT(*) AS DOUBLE),
                   CAST(MIN(l_returnflag) AS VARCHAR),
                   CAST(MAX(l_returnflag) AS VARCHAR),
                   COUNT(DISTINCT l_returnflag)::BIGINT
              FROM lineitem
        """,
        "stats_quantiles": """
            SELECT 'l_quantity' AS col_name,
                   ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
                   ROUND(quantile_cont(l_quantity, 0.5), 6) AS q50,
                   ROUND(quantile_cont(l_quantity, 0.9), 6) AS q90
              FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice',
                   ROUND(quantile_cont(l_extendedprice, 0.25), 6),
                   ROUND(quantile_cont(l_extendedprice, 0.5), 6),
                   ROUND(quantile_cont(l_extendedprice, 0.9), 6)
              FROM lineitem
        """,
        "unique_orders_custkey": """
            SELECT o_orderkey, '/o_custkey' AS field_path, 'UNIQUE' AS rule_id
              FROM orders
             WHERE o_custkey IN (SELECT o_custkey FROM orders
                                 WHERE o_custkey IS NOT NULL
                                 GROUP BY 1 HAVING COUNT(*) > 1)
        """,
        "ref_customer_nation": """
            SELECT c_custkey, '/c_nationkey' AS field_path, 'REF' AS rule_id
              FROM customer
             WHERE c_nationkey IS NOT NULL
               AND c_nationkey NOT IN (SELECT n_nationkey FROM nation
                                        WHERE n_nationkey < 15)
        """,
        "hist_quantity": """
            SELECT CASE WHEN l_quantity < 0 THEN 0
                        WHEN l_quantity >= 64 THEN 33
                        ELSE FLOOR(l_quantity / 2)::BIGINT + 1 END AS bucket,
                   COUNT(*)::BIGINT AS cnt
              FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
        """,
        "psi_returnflag": """
            WITH a AS (SELECT l_returnflag v,
                              COUNT(*) / CAST((SELECT COUNT(*) FROM lineitem
                                               WHERE l_orderkey % 2 = 0) AS DOUBLE) p
                         FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
                 b AS (SELECT l_returnflag v,
                              COUNT(*) / CAST((SELECT COUNT(*) FROM lineitem
                                               WHERE l_orderkey % 2 = 1) AS DOUBLE) p
                         FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1),
                 j AS (SELECT GREATEST(COALESCE(a.p, 0), 1e-6) pa,
                              GREATEST(COALESCE(b.p, 0), 1e-6) pb
                         FROM a FULL JOIN b ON a.v = b.v)
            SELECT ROUND(SUM((pb - pa) * LN(pb / pa)), 6) AS psi FROM j
        """,
        "chi2_js_returnflag": """
            WITH a AS (SELECT l_returnflag v,
                              COUNT(*) / CAST((SELECT COUNT(*) FROM lineitem
                                               WHERE l_orderkey % 2 = 0) AS DOUBLE) p
                         FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
                 b AS (SELECT l_returnflag v,
                              COUNT(*) / CAST((SELECT COUNT(*) FROM lineitem
                                               WHERE l_orderkey % 2 = 1) AS DOUBLE) p
                         FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1),
                 j AS (SELECT COALESCE(a.p, 0) pa, COALESCE(b.p, 0) pb
                         FROM a FULL JOIN b ON a.v = b.v)
            SELECT ROUND(SUM((pb - pa) * (pb - pa)
                             / GREATEST(pa, 1e-6)), 6) AS chi2,
                   ROUND(SUM(CASE WHEN pa > 0
                                  THEN 0.5 * pa * LN(pa / ((pa + pb) / 2))
                                  ELSE 0 END
                           + CASE WHEN pb > 0
                                  THEN 0.5 * pb * LN(pb / ((pa + pb) / 2))
                                  ELSE 0 END), 6) AS js
              FROM j
        """,
        "reconcile_orders_lineitem": """
            WITH agg AS (SELECT l_orderkey AS k,
                                sum(l_extendedprice * (1 - l_discount)
                                    * (1 + l_tax)) AS s
                           FROM lineitem
                          WHERE l_orderkey IS NOT NULL
                          GROUP BY 1)
            SELECT o_orderkey,
                   CASE WHEN s IS NULL THEN 'REQUIRED'
                        ELSE 'RECONCILE' END AS rule_id
              FROM orders LEFT JOIN agg ON o_orderkey = k
             WHERE s IS NULL
                OR NOT (abs(s - o_totalprice) <= 0.0
                        OR abs(s - o_totalprice) / abs(o_totalprice)
                           <= 0.25)
        """,
        "monotonic_lineitem": """
            SELECT l_orderkey, l_linenumber, 'MONOTONIC' AS rule_id
              FROM (SELECT l_orderkey, l_linenumber, l_shipdate,
                           lag(l_shipdate) OVER (
                               PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_shipdate) AS prev
                      FROM lineitem)
             WHERE prev IS NOT NULL AND l_shipdate IS NOT NULL
               AND l_shipdate < prev
        """,
        "volume_anomaly_events": """
            WITH d AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR)
                                  AS event_date,
                              count(*) AS cnt
                         FROM events GROUP BY 1),
                 m AS (SELECT avg(cnt) AS a FROM d)
            SELECT event_date, cnt, 'DRIFT' AS rule_id
              FROM d, m
             WHERE abs(cnt - a) / a > 0.05
        """,
        "outliers_iqr_events": """
            WITH f AS (SELECT percentile_cont(0.25)
                                  WITHIN GROUP (ORDER BY value) AS q1,
                              percentile_cont(0.75)
                                  WITHIN GROUP (ORDER BY value) AS q3
                         FROM events)
            SELECT event_id, '/value' AS field_path,
                   'OUTLIER' AS rule_id, round(value, 2) AS val2
              FROM events, f
             WHERE value IS NOT NULL
               AND (value < q1 - 1.5 * (q3 - q1)
                    OR value > q3 + 1.5 * (q3 - q1))
        """,
        "fd_events": """
            WITH e AS (SELECT event_id // 10 AS shard,
                              CASE WHEN event_id % 97 = 0
                                   THEN 'x' ELSE 'y' END AS label
                         FROM events WHERE event_id IS NOT NULL)
            SELECT shard, count(DISTINCT label) AS n_values,
                   min(label) AS dep_min, max(label) AS dep_max,
                   'CONSISTENT' AS rule_id
              FROM e GROUP BY shard
            HAVING count(DISTINCT label) > 1
        """,
        "grouped_stats_events": """
            SELECT event_type, 'value' AS column, count(*) AS n_rows,
                   CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS null_rate,
                   round(min(value), 2) AS min2,
                   round(max(value), 2) AS max2,
                   count(DISTINCT value) AS distinct_n,
                   round(percentile_cont(0.5)
                         WITHIN GROUP (ORDER BY value), 4) AS q50_4
              FROM events GROUP BY event_type
        """,
        "freshness_events": """
            WITH g AS (SELECT event_type, max(ts) AS max_ts
                         FROM events WHERE ts IS NOT NULL GROUP BY 1)
            SELECT event_type,
                   strftime(max_ts, '%Y-%m-%d %H:%M:%S') AS max_ts_s,
                   '/ts' AS field_path, 'EXPIRED' AS rule_id
              FROM g
             WHERE max_ts < TIMESTAMP '2024-01-31 00:00:00'
                            - INTERVAL 30 MINUTE
        """,
        "outliers_mad_events": """
            WITH m AS (SELECT percentile_cont(0.5)
                                  WITHIN GROUP (ORDER BY value) AS med
                         FROM events),
                 d AS (SELECT percentile_cont(0.5) WITHIN GROUP (
                                  ORDER BY abs(value - m.med)) AS mad,
                              any_value(m.med) AS med
                         FROM events, m WHERE value IS NOT NULL)
            SELECT event_id, '/value' AS field_path,
                   'OUTLIER' AS rule_id, round(value, 2) AS val2
              FROM events, d
             WHERE value IS NOT NULL
               AND abs(value - med) * (0.6745 / mad) > 3.5
        """,
        "calendar_gaps_orders": """
            WITH dd AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
                          FROM orders WHERE o_orderdate IS NOT NULL),
                 b AS (SELECT min(d) AS lo, max(d) AS hi FROM dd),
                 alldays AS (SELECT CAST(unnest(generate_series(
                                 lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
                               FROM b)
            SELECT CAST(d AS VARCHAR) AS order_date,
                   'REQUIRED' AS rule_id
              FROM alldays WHERE d NOT IN (SELECT d FROM dd)
        """,
        "group_size_lineitem": """
            WITH g AS (SELECT l_orderkey, count(*) AS group_n
                         FROM lineitem WHERE l_orderkey IS NOT NULL
                        GROUP BY 1)
            SELECT l_orderkey, group_n, 'MIN' AS rule_id
              FROM g WHERE group_n < 2
            UNION ALL
            SELECT l_orderkey, group_n, 'MAX' FROM g WHERE group_n > 6
        """,
        "embedding_drift": """
            WITH dims AS (SELECT i FROM range(0, 64) t(i)),
                 base AS (SELECT i,
                                 avg(embedding[i + 1]::DOUBLE) AS mb,
                                 stddev(embedding[i + 1]::DOUBLE) AS sb
                            FROM embeddings, dims
                           WHERE vec_id % 2 = 0 GROUP BY i),
                 cur AS (SELECT i,
                                avg(CASE WHEN i = 0
                                         THEN embedding[1]::DOUBLE + 0.2
                                         ELSE embedding[i + 1]::DOUBLE
                                    END) AS mc
                           FROM embeddings, dims
                          WHERE vec_id % 2 = 1 GROUP BY i),
                 z AS (SELECT base.i,
                              abs(mc - mb) / greatest(sb, 1e-9) AS z
                         FROM base JOIN cur ON base.i = cur.i),
                 hits AS (SELECT i FROM z WHERE z > 1.0)
            SELECT '/embedding/' || i::VARCHAR AS field_path,
                   'DRIFT' AS rule_id FROM hits
            UNION ALL
            SELECT '/embedding', 'DRIFT'
             WHERE (SELECT count(*) FROM hits) / 64.0 > 0.01
        """,
        "vector_rules_embeddings": """
            WITH c AS (SELECT vec_id,
                          CASE WHEN vec_id % 7 = 0
                                 THEN list_append(embedding, 0.5)
                               WHEN vec_id % 11 = 3
                                 THEN list_transform(embedding,
                                          x -> x::DOUBLE * 3.0)
                               WHEN vec_id % 13 = 5
                                 THEN list_prepend('NaN'::DOUBLE,
                                          embedding[2:])
                               ELSE embedding END AS e
                         FROM embeddings),
                 n AS (SELECT vec_id, len(e) AS d,
                              sqrt(list_aggregate(list_transform(e,
                                  x -> x::DOUBLE * x::DOUBLE), 'sum'))
                                  AS nrm,
                              len(list_filter(e, x -> x IS NULL
                                  OR isnan(x::DOUBLE)
                                  OR isinf(x::DOUBLE))) > 0 AS badfin
                         FROM c)
            SELECT vec_id, '/embedding' AS field_path, 'TYPE' AS rule_id
              FROM n WHERE d <> 64
            UNION ALL
            SELECT vec_id, '/embedding', 'RANGE' FROM n WHERE badfin
            UNION ALL
            SELECT vec_id, '/embedding', 'MIN' FROM n
             WHERE NOT (nrm >= 0.9)
            UNION ALL
            SELECT vec_id, '/embedding', 'MAX' FROM n
             WHERE NOT (nrm <= 1.5)
        """,
        "psi_by_group_lineitem": """
            WITH d AS (SELECT (l_orderkey % 4)::VARCHAR grp,
                              CASE WHEN l_orderkey % 4 = 0
                                    AND l_returnflag = 'A' THEN 'N'
                                   ELSE l_returnflag END AS v
                         FROM lineitem),
                 g AS (SELECT grp, v, count(*) c
                         FROM d WHERE v IS NOT NULL
                        GROUP BY 1, 2),
                 gt AS (SELECT grp, sum(c) t FROM g GROUP BY 1),
                 gh AS (SELECT g.grp, g.v, g.c / gt.t::DOUBLE p
                          FROM g JOIN gt USING (grp)),
                 bh AS (SELECT v,
                               count(*) / (SELECT count(*) FROM d
                                           WHERE v IS NOT NULL)::DOUBLE p
                          FROM d WHERE v IS NOT NULL
                         GROUP BY 1),
                 keys AS (SELECT DISTINCT grp, v FROM (
                            SELECT grp, v FROM gh
                            UNION ALL
                            SELECT gt.grp, bh.v FROM gt, bh)),
                 j AS (SELECT k.grp,
                              greatest(coalesce(bh.p, 0), 1e-6) pe,
                              greatest(coalesce(gh.p, 0), 1e-6) pa
                         FROM keys k
                         LEFT JOIN bh ON k.v = bh.v
                         LEFT JOIN gh ON k.grp = gh.grp AND k.v = gh.v),
                 s AS (SELECT grp, sum((pa - pe) * ln(pa / pe)) psi
                         FROM j GROUP BY 1)
            SELECT grp, '/l_returnflag' AS field_path,
                   'DRIFT' AS rule_id, printf('psi=%.4f', psi) AS actual
              FROM s WHERE psi > 0.0001
        """,
        "ks_quantity": """
            WITH ha AS (SELECT CASE WHEN l_quantity < 0 THEN 0 WHEN l_quantity >= 64 THEN 33 ELSE FLOOR(l_quantity / 2)::BIGINT + 1 END bk,
                               COUNT(*)::DOUBLE c
                          FROM lineitem
                         WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL
                         GROUP BY 1),
                 hb AS (SELECT CASE WHEN l_quantity < 0 THEN 0 WHEN l_quantity >= 64 THEN 33 ELSE FLOOR(l_quantity / 2)::BIGINT + 1 END bk,
                               COUNT(*)::DOUBLE c
                          FROM lineitem
                         WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL
                         GROUP BY 1),
                 j AS (SELECT COALESCE(ha.bk, hb.bk) bk,
                              COALESCE(ha.c, 0) / (SELECT SUM(c) FROM ha) pa,
                              COALESCE(hb.c, 0) / (SELECT SUM(c) FROM hb) pb
                         FROM ha FULL JOIN hb ON ha.bk = hb.bk),
                 c AS (SELECT SUM(pa) OVER (ORDER BY bk) ca,
                              SUM(pb) OVER (ORDER BY bk) cb
                         FROM j)
            SELECT ROUND(MAX(ABS(ca - cb)), 6) AS ks FROM c
        """,
        "codec_rollup_clips": f"""
            SELECT codec, COUNT(*)::BIGINT AS n,
                   SUM(dur_ms)::BIGINT AS dur_total,
                   MIN(sr_hz) AS sr_min, MAX(sr_hz) AS sr_max,
                   ROUND(SUM(dur_ms) / CAST(COUNT(dur_ms) AS DOUBLE), 4)
                       AS dur_avg
              FROM {clips}
             WHERE codec IS NOT NULL
             GROUP BY codec
        """,
        "array_embeddings": """
            WITH items AS (
              SELECT vec_id, s.i,
                     CASE WHEN vec_id % 5 = 0 AND s.i = 1 THEN 9.5
                          ELSE CAST(s.x AS DOUBLE) END AS x
                FROM (SELECT vec_id,
                             unnest(list_transform(embedding,
                                                   (x, i) -> {'x': x, 'i': i})) s
                        FROM embeddings) t)
            SELECT vec_id, '/vec/' || CAST(i - 1 AS VARCHAR) AS field_path,
                   'MAX' AS rule_id
              FROM items WHERE x > 0.25
            UNION ALL
            SELECT vec_id, '/vec/' || CAST(i - 1 AS VARCHAR), 'DENIED'
              FROM items WHERE x = 9.5
            UNION ALL
            SELECT vec_id, '/vec', 'MIN_LEN' FROM embeddings
             WHERE len(embedding) < 64
        """,
        "coerce_str_int16": """
            SELECT o_orderkey, '/sval' AS field_path, 'TYPE' AS rule_id
              FROM orders
             WHERE o_orderkey % 7 = 3
                OR (o_orderkey % 7 <> 3 AND o_orderkey % 11 = 5)
        """,
        "time_layout_orders": """
            SELECT o_orderkey, '/od' AS field_path, 'TYPE' AS rule_id
              FROM orders
             WHERE o_orderkey % 5 <> 2 AND o_orderkey % 7 = 3
            UNION ALL
            SELECT o_orderkey, '/od', 'MAX' FROM orders
             WHERE (o_orderkey % 5 = 2 OR o_orderkey % 7 <> 3)
               AND o_orderdate > TIMESTAMP '1997-01-01 00:00:00'
        """,
        "unique_salted": """
            SELECT o_orderkey, '/o_custkey' AS field_path, 'UNIQUE' AS rule_id
              FROM orders
             WHERE o_custkey IN (SELECT o_custkey FROM orders
                                 WHERE o_custkey IS NOT NULL
                                 GROUP BY 1 HAVING COUNT(*) > 1)
        """,
        "json_props_events": """
            SELECT event_id, '/k' AS field_path, 'MIN' AS rule_id
              FROM events
             WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 10
        """,
        "map_props_events": """
            SELECT event_id, '/props/k' AS field_path, 'MIN' AS rule_id
              FROM events
             WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 10
        """,
        "map_bucket_events": """
            SELECT event_id,
                   'x_a=' || CAST(event_id % 7 AS VARCHAR) ||
                   CASE WHEN event_id % 3 = 0
                        THEN ',x_b=' || CAST(event_id % 5 AS VARCHAR)
                        ELSE '' END AS xs,
                   CASE WHEN event_id % 3 <> 0 AND event_id % 100 >= 50
                        THEN 'y_b=' || CAST(event_id % 5 AS VARCHAR)
                        ELSE '' END AS ys,
                   CASE WHEN event_id % 3 <> 0 AND event_id % 100 < 50
                        THEN 1 ELSE 0 END AS n_unexpected
              FROM events
        """,
        "ip_customer": """
            SELECT c_custkey, '/ip' AS field_path, 'DENIED' AS rule_id
              FROM customer WHERE c_custkey % 7 = 3
            UNION ALL
            SELECT c_custkey, '/ip', 'PATTERN' FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 = 5
            UNION ALL
            SELECT c_custkey, '/ip', 'DENIED' FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 = 5
            UNION ALL
            SELECT c_custkey, '/ip', 'DENIED' FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 <> 5
               AND c_custkey % 13 = 6
        """,
        "localized_lineitem": """
            SELECT l_orderkey, l_linenumber,
                   '/l_quantity over max: ' ||
                   CAST(l_quantity AS VARCHAR) AS msg
              FROM lineitem WHERE l_quantity > 45
        """,
        "uri_parts_orders": """
            SELECT o_orderkey, '/u/host' AS field_path,
                   'REQUIRED' AS rule_id
              FROM orders WHERE o_orderkey % 7 = 3
            UNION ALL
            SELECT o_orderkey, '/u/user', 'REQUIRED' FROM orders
             WHERE o_orderkey % 7 = 3
            UNION ALL
            SELECT o_orderkey, '/u/port', 'NOTALLOWED' FROM orders
             WHERE o_orderkey % 7 <> 3 AND o_orderkey % 11 = 5
            UNION ALL
            SELECT o_orderkey, '/u/user', 'REQUIRED' FROM orders
             WHERE o_orderkey % 7 <> 3 AND o_orderkey % 11 <> 5
               AND o_orderkey % 13 = 6
        """,
        "email_domain_customer": """
            SELECT c_custkey, '/em' AS field_path, 'NOTALLOWED' AS rule_id
              FROM customer WHERE c_custkey % 7 = 3
            UNION ALL
            SELECT c_custkey, '/em', 'PATTERN' FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 = 5
        """,
        "bool_constant_events": """
            SELECT event_id, '/flag' AS field_path, 'TYPE' AS rule_id
              FROM events WHERE event_id % 7 = 3
            UNION ALL
            SELECT event_id, '/flag', 'NOTALLOWED' FROM events
             WHERE event_id % 7 <> 3 AND event_id % 11 = 5
            UNION ALL
            SELECT event_id, '/tag', 'NOTALLOWED' FROM events
             WHERE event_id % 13 = 6
            UNION ALL
            SELECT event_id, '/ghost', 'DENIED' FROM events
             WHERE event_id % 17 = 8
        """,
        "duration_orders": """
            SELECT o_orderkey, '/secs' AS field_path, 'TYPE' AS rule_id
              FROM orders WHERE o_orderkey % 7 = 3
            UNION ALL
            SELECT o_orderkey, '/secs', 'MIN' FROM orders
             WHERE o_orderkey % 7 <> 3 AND o_orderkey % 100 < 5
            UNION ALL
            SELECT o_orderkey, '/secs', 'MAX' FROM orders
             WHERE o_orderkey % 7 <> 3 AND o_orderkey % 100 > 90
        """,
        "int_base16_customer": """
            SELECT c_custkey, '/hx' AS field_path, 'TYPE' AS rule_id
              FROM customer WHERE c_custkey % 11 = 5
            UNION ALL
            SELECT c_custkey, '/hx', 'MIN' FROM customer
             WHERE c_custkey % 11 <> 5 AND c_custkey % 300 < 16
        """,
        "fixed_output_lineitem": """
            SELECT l_orderkey,
                   printf('%.2f', round_even(l_quantity / 8.0, 2)) AS px
              FROM lineitem WHERE l_linenumber = 1
        """,
        "time_diff_orders": """
            SELECT o_orderkey, '/o_orderdate' AS field_path,
                   'MIN' AS rule_id
              FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
            UNION ALL
            SELECT o_orderkey, '/o_orderdate', 'MAX' FROM orders
             WHERE o_orderdate > TIMESTAMP '1996-12-31 00:00:00'
        """,
        "domain_suffix_customer": """
            SELECT c_custkey, '/dom' AS field_path, 'NOTALLOWED' AS rule_id
              FROM customer WHERE c_custkey % 7 = 3
            UNION ALL
            SELECT c_custkey, '/dom', 'NOTALLOWED' FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 <> 5
               AND c_custkey % 13 <> 6
        """,
        "ip_cidr_customer": """
            SELECT c_custkey, '/ip' AS field_path, 'RANGE' AS rule_id
              FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 = 5
            UNION ALL
            SELECT c_custkey, '/ip', 'RANGE' FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 <> 5
               AND c_custkey % 13 <> 6 AND c_custkey % 17 = 8
        """,
        "email_customer": """
            SELECT c_custkey, '/email' AS field_path, 'PATTERN' AS rule_id
              FROM customer WHERE c_custkey % 7 = 3
            UNION ALL
            SELECT c_custkey, '/email', 'NOTALLOWED' FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 = 5
            UNION ALL
            SELECT c_custkey, '/email', 'PATTERN' FROM customer
             WHERE c_custkey % 7 <> 3 AND c_custkey % 11 <> 5
               AND c_custkey % 13 = 6
        """,
        "uri_orders": """
            SELECT o_orderkey, '/url/scheme' AS field_path,
                   'NOTALLOWED' AS rule_id
              FROM orders WHERE o_orderkey % 7 = 3
            UNION ALL
            SELECT o_orderkey, '/url/port', 'MAX' FROM orders
             WHERE o_orderkey % 7 <> 3 AND o_orderkey % 11 = 5
            UNION ALL
            SELECT o_orderkey, '/url', 'ENCODING' FROM orders
             WHERE o_orderkey % 7 <> 3 AND o_orderkey % 11 <> 5
               AND o_orderkey % 13 = 6
            UNION ALL
            SELECT o_orderkey, '/url/query', 'MAX' FROM orders
             WHERE o_orderkey % 17 = 8
        """,
        "clips_scalar_rules": f"""
            WITH c AS (SELECT * FROM {clips})
            SELECT row_idx, '/clip_id' AS field_path, 'REQUIRED' AS rule_id
              FROM c WHERE clip_id IS NULL
            UNION ALL
            SELECT row_idx, '/clip_id', 'MIN_LEN' FROM c
             WHERE clip_id IS NOT NULL AND strlen(clip_id) < 6
            UNION ALL
            SELECT row_idx, '/clip_id', 'MAX_LEN' FROM c
             WHERE clip_id IS NOT NULL AND strlen(clip_id) > 64
            UNION ALL
            SELECT row_idx, '/clip_id', 'PATTERN' FROM c
             WHERE clip_id IS NOT NULL
               AND NOT regexp_matches(clip_id, '^clip-[0-9]{{10}}$')
            UNION ALL
            SELECT row_idx, '/sr_hz', 'REQUIRED' FROM c WHERE sr_hz IS NULL
            UNION ALL
            SELECT row_idx, '/sr_hz', 'MIN' FROM c
             WHERE sr_hz IS NOT NULL AND sr_hz < 8000
            UNION ALL
            SELECT row_idx, '/sr_hz', 'MAX' FROM c
             WHERE sr_hz IS NOT NULL AND sr_hz > 192000
            UNION ALL
            SELECT row_idx, '/sr_hz', 'NOTALLOWED' FROM c
             WHERE sr_hz IS NOT NULL
               AND sr_hz NOT IN (8000, 16000, 22050, 44100, 48000)
            UNION ALL
            SELECT row_idx, '/dur_ms', 'REQUIRED' FROM c WHERE dur_ms IS NULL
            UNION ALL
            SELECT row_idx, '/dur_ms', 'MIN_EXCLUSIVE' FROM c
             WHERE dur_ms IS NOT NULL AND dur_ms <= 0
            UNION ALL
            SELECT row_idx, '/dur_ms', 'MAX' FROM c
             WHERE dur_ms IS NOT NULL AND dur_ms > 600000
            UNION ALL
            SELECT row_idx, '/codec', 'REQUIRED' FROM c WHERE codec IS NULL
            UNION ALL
            SELECT row_idx, '/codec', 'NOTALLOWED' FROM c
             WHERE codec IS NOT NULL
               AND codec NOT IN ('wav', 'flac', 'opus', 'mp3')
            UNION ALL
            SELECT row_idx, '/transcript', 'REQUIRED' FROM c
             WHERE transcript IS NULL
            UNION ALL
            SELECT row_idx, '/transcript', 'MIN_LEN' FROM c
             WHERE transcript IS NOT NULL AND strlen(transcript) < 1
        """,
        "clips_unique": f"""
            SELECT row_idx, '/clip_id' AS field_path, 'UNIQUE' AS rule_id
              FROM {clips}
             WHERE clip_id IN (SELECT clip_id FROM {clips}
                               WHERE clip_id IS NOT NULL
                               GROUP BY 1 HAVING COUNT(*) > 1)
        """,
        "clips_ref_codec": f"""
            SELECT row_idx, '/codec' AS field_path, 'REF' AS rule_id
              FROM {clips}
             WHERE codec IS NOT NULL
               AND codec NOT IN ('wav', 'flac', 'opus', 'mp3')
        """,
        "curate_documents": r"""
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, text FROM documents
               WHERE doc_id % 10 = 0),
            f AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS nt,
                     CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                         / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS pr,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
                FROM d),
            clean AS (SELECT * FROM f WHERE nt >= 30 AND pr <= 0.05),
            dups AS (SELECT fp, MIN(doc_id) AS keeper FROM clean
                      GROUP BY fp HAVING COUNT(*) > 1)
            SELECT doc_id, '/text' AS field_path, 'MIN_LEN' AS rule_id
              FROM f WHERE nt < 30
            UNION ALL
            SELECT doc_id, '/text', 'MAX' FROM f
             WHERE nt >= 30 AND pr > 0.05
            UNION ALL
            SELECT c.doc_id, '/text', 'UNIQUE'
              FROM clean c JOIN dups g ON c.fp = g.fp
             WHERE c.doc_id <> g.keeper
        """,
        "dedup_exact_documents": """
            SELECT d.doc_id, md5(d.text) AS fingerprint, g.cnt AS group_size
              FROM documents d
              JOIN (SELECT md5(text) f, COUNT(*)::BIGINT cnt FROM documents
                    GROUP BY 1 HAVING COUNT(*) > 1) g
                ON md5(d.text) = g.f
        """,
        "fingerprint_documents": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
              FROM documents
        """,
        "quantize_embeddings": r"""
            SELECT vec_id,
                   array_to_string(
                   CASE WHEN amax > 0
                        THEN list_transform(embedding,
                             x -> CAST(round(CAST(x AS DOUBLE)
                                       / (amax / 127.0)) AS TINYINT))
                        ELSE list_transform(embedding,
                             x -> CAST(0 AS TINYINT))
                   END, ',') AS q8,
                   CASE WHEN amax > 0 THEN amax / 127.0
                        ELSE 0.0 END AS q8_scale
              FROM (SELECT vec_id, embedding,
                           CAST(list_max(list_transform(embedding,
                                y -> abs(y))) AS DOUBLE) AS amax
                      FROM embeddings)
        """,
        "pack_documents": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR length(trim(text)) = 0
                          THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END::BIGINT AS n_tokens
                FROM documents
            ), c AS (
              SELECT doc_id, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0)::BIGINT AS "offset"
                FROM t
            )
            SELECT doc_id, n_tokens, "offset",
                   ("offset" // 512)::BIGINT AS chunk_id,
                   (("offset" + greatest(n_tokens - 1, 0)) // 512)::BIGINT
                       AS chunk_end
              FROM c
        """,
        "pack_clips": f"""
            WITH t AS (
              SELECT row_idx,
                     (CASE WHEN dur_ms IS NULL OR dur_ms < 0 THEN 0
                           ELSE dur_ms END)::BIGINT AS dur_ms_w
                FROM (SELECT * FROM {clips})
            ), c AS (
              SELECT row_idx, dur_ms_w,
                     COALESCE(SUM(dur_ms_w) OVER (ORDER BY row_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0)::BIGINT AS "offset"
                FROM t
            )
            SELECT row_idx, dur_ms_w, "offset",
                   ("offset" // 30000)::BIGINT AS chunk_id,
                   (("offset" + greatest(dur_ms_w - 1, 0))
                        // 30000)::BIGINT AS chunk_end
              FROM c
        """,
        "vocab_topk_documents": r"""
            SELECT token, COUNT(*)::BIGINT AS freq
              FROM (SELECT unnest(string_split_regex(trim(text), '\s+'))
                           AS token
                      FROM documents
                     WHERE text IS NOT NULL AND length(trim(text)) > 0)
             GROUP BY token
             ORDER BY freq DESC, token
             LIMIT 100
        """,
        "token_count_documents": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+'))
                   END::BIGINT AS n_tokens
              FROM documents
        """,
        "quality_documents": r"""
            WITH f AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END::BIGINT AS n_tokens,
                     CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                         / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS pr,
                     CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[^0-9]', '', 'g'))
                         / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS dr,
                     CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                       len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> list_contains(['the','and','of','to','a','in',
                                               'is','it','that','for'], x)))
                         / CAST(len(string_split_regex(trim(text), '\s+'))
                                AS DOUBLE) END AS sr
                FROM documents)
            SELECT doc_id, n_tokens, ROUND(pr, 6) AS punct_r,
                   ROUND(dr, 6) AS digit_r, ROUND(sr, 6) AS stop_r
              FROM f
        """,
        "langid_documents": _langid_oracle_sql(),
        # naive quadratic blocking; the Spark side prefix-filters the
        # candidate set (lossless for the threshold) — identical output
        "ngram_jaccard_documents": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(regexp_replace(
                         lower(text), '[^a-z0-9\s]', ' ', 'g'),
                         '\s+', ' ', 'g')), ' ') AS t
                FROM documents WHERE text IS NOT NULL),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN list_distinct(
                       [array_to_string(t[i:i+2], ' ')
                        for i in generate_series(1, len(t) - 2)])
                     ELSE [] END AS s
                FROM toks),
            sizes AS (SELECT doc_id, len(s) AS sz FROM sh WHERE len(s) > 0),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS inter
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
            SELECT id_a, id_b, CAST(inter AS INT) AS inter,
                   CAST(sa.sz + sb.sz - inter AS INT) AS uni
              FROM cand
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
             WHERE inter * 2 >= (sa.sz + sb.sz - inter) * 1
        """,
        "decontaminate_documents": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(regexp_replace(
                         lower(text), '[^a-z0-9\s]', ' ', 'g'),
                         '\s+', ' ', 'g')), ' ') AS t
                FROM documents WHERE text IS NOT NULL),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 4 THEN list_distinct(
                       [array_to_string(t[i:i+3], ' ')
                        for i in generate_series(1, len(t) - 3)])
                     ELSE [] END AS s
                FROM toks),
            bg AS (SELECT DISTINCT unnest(s) AS g FROM sh
                    WHERE doc_id % 50 = 0),
            train AS (SELECT doc_id, unnest(s) AS g FROM sh
                       WHERE doc_id % 50 <> 0)
            SELECT train.doc_id, count(*) AS hits
              FROM train JOIN bg ON train.g = bg.g
             GROUP BY 1
        """,
        "repetition_documents": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\s+')
                     END AS w
                FROM documents),
            g AS (
              SELECT doc_id, w,
                     CASE WHEN len(w) >= 2 THEN
                       list_transform(generate_series(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i + 1])
                     ELSE CAST([] AS VARCHAR[]) END AS g2
                FROM t)
            SELECT doc_id, len(w)::BIGINT AS n_tokens,
                   ROUND(CASE WHEN len(w) > 0 THEN
                     1.0 - len(list_distinct(w))::DOUBLE / len(w)
                     ELSE 0.0 END, 6) AS dup_w,
                   ROUND(CASE WHEN len(g2) > 0 THEN
                     1.0 - len(list_distinct(g2))::DOUBLE / len(g2)
                     ELSE 0.0 END, 6) AS dup_2g,
                   ROUND(CASE WHEN len(w) > 0 THEN
                     list_sum(list_transform(w, x -> length(x)))::DOUBLE
                       / len(w)
                     ELSE 0.0 END, 6) AS mwl
              FROM g
        """,
        "gopher_quality_documents": r"""
            WITH t AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\s+')
                     END AS w
                FROM documents),
            f AS (
              SELECT doc_id,
                     len(w) AS n,
                     CASE WHEN len(w) > 0 THEN
                       1.0 - len(list_distinct(w))::DOUBLE / len(w)
                       ELSE 0.0 END AS dup_w,
                     CASE WHEN len(w) >= 3 THEN
                       1.0 - len(list_distinct(
                         list_transform(generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                         ))::DOUBLE / (len(w) - 2)
                       ELSE 0.0 END AS dup_3g,
                     CASE WHEN len(w) > 0 THEN
                       list_sum(list_transform(w, x -> length(x)))::DOUBLE
                         / len(w) ELSE 0.0 END AS mwl,
                     CASE WHEN len(w) > 0 THEN
                       len(regexp_extract_all(text,
                           '(#|\.\.\.|…)'))::DOUBLE / len(w)
                       ELSE 0.0 END AS symr
                FROM t)
            SELECT doc_id, '/text' AS field_path, 'MIN_LEN' AS rule_id,
                   'fewer than 50 tokens' AS message
              FROM f WHERE n < 50
            UNION ALL
            SELECT doc_id, '/text', 'MAX_LEN', 'more than 100000 tokens'
              FROM f WHERE n > 100000
            UNION ALL
            SELECT doc_id, '/text', 'RANGE',
                   'mean word length outside band'
              FROM f WHERE n >= 50 AND (mwl < 3.0 OR mwl > 10.0)
            UNION ALL
            SELECT doc_id, '/text', 'REPETITION',
                   'duplicate-word fraction above cap'
              FROM f WHERE dup_w > 0.5
            UNION ALL
            SELECT doc_id, '/text', 'REPETITION',
                   'duplicate-3gram fraction above cap'
              FROM f WHERE dup_3g > 0.6
            UNION ALL
            SELECT doc_id, '/text', 'MAX',
                   'symbol-to-word ratio above cap'
              FROM f WHERE symr > 0.1
        """,
        "stats_bounds_lineitem": r"""
            WITH li AS (SELECT CASE WHEN l_orderkey % 50 = 0 THEN NULL
                                    ELSE l_quantity END AS q,
                               l_returnflag, l_linestatus
                          FROM lineitem),
            s AS (SELECT count(*) AS n,
                         sum(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS qn,
                         min(q) AS qmin, max(q) AS qmax,
                         count(DISTINCT l_returnflag) AS rfd,
                         count(DISTINCT l_linestatus) AS lsd
                    FROM li)
            SELECT * FROM (
              SELECT '/l_quantity/null_rate' AS field_path,
                     'NULL' AS rule_id,
                     'null rate above maximum 0.01' AS message,
                     printf('%g', round(qn / CAST(n AS DOUBLE), 6))
                       AS actual
                FROM s WHERE qn / CAST(n AS DOUBLE) > 0.01
              UNION ALL
              SELECT '/l_quantity/min', 'MIN',
                     'observed minimum below bound 2.0', qmin::VARCHAR
                FROM s WHERE qmin < 2.0
              UNION ALL
              SELECT '/l_quantity/max', 'MAX',
                     'observed maximum above bound 40.0', qmax::VARCHAR
                FROM s WHERE qmax > 40.0
              UNION ALL
              SELECT '/l_returnflag/distinct', 'MAX',
                     'distinct count above maximum 2', rfd::VARCHAR
                FROM s WHERE rfd > 2
              UNION ALL
              SELECT '/l_linestatus/distinct', 'MIN',
                     'distinct count below minimum 2', lsd::VARCHAR
                FROM s WHERE lsd < 2
            )
        """,
        "grouped_entropy_events": r"""
            WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                              event_type::VARCHAR AS v
                         FROM events WHERE ts IS NOT NULL),
            c AS (SELECT day, v, count(*) AS c FROM e GROUP BY 1, 2)
            SELECT day, 'event_type' AS "column",
                   sum(c)::BIGINT AS n,
                   count(*)::BIGINT AS n_distinct,
                   round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6)
                     AS entropy
              FROM c GROUP BY day
        """,
        "entropy_events": r"""
            WITH m AS (
              SELECT 'event_type' AS "column", event_type::VARCHAR AS v
                FROM events
              UNION ALL
              SELECT 'user_id', user_id::VARCHAR FROM events),
            c AS (SELECT "column", v, count(*) AS c FROM m GROUP BY 1, 2)
            SELECT "column",
                   sum(c)::BIGINT AS n,
                   count(*)::BIGINT AS n_distinct,
                   round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6)
                     AS entropy
              FROM c GROUP BY "column"
        """,
        "corr_lineitem": r"""
            SELECT count(*) FILTER (WHERE l_quantity IS NOT NULL
                                      AND l_extendedprice IS NOT NULL
                   )::BIGINT AS n,
                   round(corr(l_quantity, l_extendedprice), 6) AS r
              FROM lineitem
        """,
        "mi_lineitem": r"""
            WITH b AS (SELECT l_returnflag::VARCHAR AS x,
                              l_linestatus::VARCHAR AS y
                         FROM lineitem
                        WHERE l_returnflag IS NOT NULL
                          AND l_linestatus IS NOT NULL),
            j AS (SELECT x, y, count(*) AS c_xy FROM b GROUP BY 1, 2),
            mx AS (SELECT x, sum(c_xy) AS c_x FROM j GROUP BY 1),
            my AS (SELECT y, sum(c_xy) AS c_y FROM j GROUP BY 1),
            nn AS (SELECT sum(c_xy) AS n FROM j)
            SELECT nn.n::BIGINT AS n,
                   round(sum(c_xy * ln((nn.n::DOUBLE * c_xy)
                                       / (c_x::DOUBLE * c_y)))
                         / nn.n, 6) AS mi
              FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nn
             GROUP BY nn.n
        """,
        "perplexity_documents": r"""
            WITH w AS (SELECT doc_id,
                              CASE WHEN length(trim(text)) = 0
                                   THEN CAST([] AS VARCHAR[])
                                   ELSE string_split_regex(trim(text), '\s+')
                              END AS toks
                         FROM documents),
            tok AS (SELECT unnest(toks) AS t FROM w),
            c1 AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
            v AS (SELECT count(*) AS nv FROM c1),
            bi AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
                     FROM w, unnest(generate_series(1, len(toks)-1)) AS u(i)
                    WHERE len(toks) >= 2),
            s AS (SELECT bi.doc_id, count(*) AS nb,
                         sum(ln((c2.c + 0.5) / (c1.c + 0.5 * v.nv))) AS lp
                    FROM bi
                    JOIN (SELECT w1, w2, count(*) AS c
                            FROM bi GROUP BY 1, 2) c2
                      ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
                    JOIN c1 ON bi.w1 = c1.t
                   CROSS JOIN v
                   GROUP BY bi.doc_id)
            SELECT w.doc_id,
                   coalesce(s.nb, 0)::BIGINT AS n_bigrams,
                   round(-s.lp / s.nb, 6) AS mean_nll
              FROM w LEFT JOIN s USING (doc_id)
        """,
        "oov_documents": r"""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\s+')
                     END AS toks
                FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS t FROM w),
            v AS (SELECT t FROM tok GROUP BY t
                  ORDER BY count(*) DESC, t ASC LIMIT 30),
            o AS (
              SELECT tok.doc_id,
                     count(*) AS n_tokens,
                     sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS n_oov
                FROM tok LEFT JOIN v ON tok.t = v.t
               GROUP BY tok.doc_id)
            SELECT w.doc_id,
                   coalesce(o.n_tokens, 0)::BIGINT AS n_tokens,
                   coalesce(o.n_oov, 0)::BIGINT AS n_oov,
                   CASE WHEN coalesce(o.n_tokens, 0) > 0
                        THEN o.n_oov::DOUBLE / o.n_tokens
                        ELSE 0.0 END AS oov_rate
              FROM w LEFT JOIN o ON w.doc_id = o.doc_id
        """,
        "duplicate_spans_documents": rf"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 9 = 0
                          THEN text || ' {_SPAN_INJECT}'
                          ELSE text END AS text
                FROM documents),
            t AS (
              SELECT doc_id,
                     CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(norm, '\s+') END AS w
                FROM (SELECT doc_id,
                             trim(regexp_replace(regexp_replace(lower(text),
                                 '[^a-z0-9\s]', ' ', 'g'),
                                 '\s+', ' ', 'g')) AS norm
                        FROM d)),
            g AS (
              SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len(w) - 7, 0)),
                         i -> struct_pack(pos := i - 1,
                                          gram := w[i] || ' ' || w[i+1]
                                          || ' ' || w[i+2] || ' ' || w[i+3]
                                          || ' ' || w[i+4] || ' ' || w[i+5]
                                          || ' ' || w[i+6] || ' ' || w[i+7])
                         )) AS u
                  FROM t)),
            c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            m AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram)),
            isl AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS island
                FROM m)
            SELECT doc_id,
                   min(pos)::BIGINT AS start_tok,
                   (max(pos) + 8)::BIGINT AS end_tok,
                   (max(pos) - min(pos) + 8)::BIGINT AS span_tokens,
                   count(*)::BIGINT AS n_grams
              FROM isl GROUP BY doc_id, island
        """,
        "remove_spans_documents": rf"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 9 = 0
                          THEN text || ' {_SPAN_INJECT}'
                          ELSE text END AS text
                FROM documents),
            t AS (
              SELECT doc_id,
                     CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(norm, '\s+') END AS w
                FROM (SELECT doc_id,
                             trim(regexp_replace(regexp_replace(lower(text),
                                 '[^a-z0-9\s]', ' ', 'g'),
                                 '\s+', ' ', 'g')) AS norm
                        FROM d)),
            g AS (
              SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len(w) - 7, 0)),
                         i -> struct_pack(pos := i - 1,
                                          gram := w[i] || ' ' || w[i+1]
                                          || ' ' || w[i+2] || ' ' || w[i+3]
                                          || ' ' || w[i+4] || ' ' || w[i+5]
                                          || ' ' || w[i+6] || ' ' || w[i+7])
                         )) AS u
                  FROM t)),
            c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            m AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram)),
            cov AS (SELECT DISTINCT m.doc_id, m.pos + j.i AS idx
                      FROM m, generate_series(0, 7) AS j(i)),
            tok AS (
              SELECT doc_id, u.idx AS idx, u.tk AS tk FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(w)),
                         i -> struct_pack(idx := i - 1, tk := w[i]))) AS u
                  FROM t)),
            kept AS (
              SELECT tok.doc_id, tok.idx, tok.tk
                FROM tok LEFT JOIN cov
                  ON tok.doc_id = cov.doc_id AND tok.idx = cov.idx
               WHERE cov.idx IS NULL),
            k AS (SELECT doc_id,
                         string_agg(tk, ' ' ORDER BY idx) AS clean_text,
                         count(*) AS n_kept
                    FROM kept GROUP BY doc_id)
            SELECT t.doc_id,
                   coalesce(k.clean_text, '') AS clean_text,
                   (len(t.w) - coalesce(k.n_kept, 0))::BIGINT
                     AS n_removed_tokens
              FROM t LEFT JOIN k ON t.doc_id = k.doc_id
        """,
        "c4_quality_documents": f"""
            WITH d AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                             THEN chr(10) || '{_C4_SENT}' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN chr(10) || '{_C4_LOREM}' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                             THEN chr(10) || '{_C4_BRACE}' ELSE '' END
                     || CASE WHEN doc_id % 17 = 0
                             THEN chr(10) || '{_C4_JS}' ELSE '' END
                     AS text
                FROM documents),
            f AS (
              SELECT doc_id,
                     list_transform(string_split(text, chr(10)),
                                    l -> trim(l)) AS lines,
                     len(regexp_extract_all(text, '[.!?]')) AS n_sent,
                     contains(lower(text), 'lorem ipsum') AS has_lorem,
                     contains(text, '{{') AS has_brace
                FROM d),
            g AS (
              SELECT doc_id, n_sent, has_lorem, has_brace,
                     len(lines) AS n_lines,
                     len(list_filter(lines, l ->
                       (CASE WHEN length(l) = 0 THEN 0
                             ELSE len(string_split_regex(l, '\\s+')) END) >= 3
                       AND regexp_matches(l, '[.!?\"]$'))) AS n_kept,
                     len(list_filter(lines, l ->
                       contains(lower(l), 'javascript'))) AS n_js
                FROM f)
            SELECT doc_id, '/text' AS field_path, 'MIN_LEN' AS rule_id,
                   'fewer than 3 sentences' AS message
              FROM g WHERE n_sent < 3
            UNION ALL
            SELECT doc_id, '/text', 'DENIED',
                   'contains ''lorem ipsum'' placeholder text'
              FROM g WHERE has_lorem
            UNION ALL
            SELECT doc_id, '/text', 'DENIED',
                   'contains curly brace (code/markup page)'
              FROM g WHERE has_brace
            UNION ALL
            SELECT doc_id, '/text', 'BOILERPLATE',
                   'javascript boilerplate line(s)'
              FROM g WHERE n_js > 0
            UNION ALL
            SELECT doc_id, '/text', 'MIN', 'kept-line fraction below 0.5'
              FROM g WHERE (CASE WHEN n_lines > 0
                                 THEN n_kept::DOUBLE / n_lines
                                 ELSE 0.0 END) < 0.5
        """,
        "pii_documents": rf"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN text || '{_PII_INJECT}'
                          ELSE text END AS text
                FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'
                     ))::BIGINT AS n_emails,
                   len(regexp_extract_all(text,
                     '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b'
                     ))::BIGINT AS n_ipv4,
                   len(regexp_extract_all(text,
                     '\+\d[\d()\- ]{{7,}}\d'))::BIGINT AS n_phones
              FROM d
        """,
        "redact_pii_documents": rf"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN text || '{_PII_INJECT}'
                          ELSE text END AS text
                FROM documents),
            r AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                           '[EMAIL]', 'g'),
                         '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b',
                         '[IP]', 'g'),
                       '\+\d[\d()\- ]{{7,}}\d', '[PHONE]', 'g') AS redacted
                FROM d)
            SELECT doc_id, redacted,
                   (len(regexp_extract_all(redacted,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'))
                    + len(regexp_extract_all(redacted,
                      '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b'))
                    + len(regexp_extract_all(redacted,
                      '\+\d[\d()\- ]{{7,}}\d')))::BIGINT AS residual_pii
              FROM r
        """,
        "ann_topk_embeddings": """
            WITH q AS (SELECT embedding::DOUBLE[] v FROM embeddings
                       ORDER BY vec_id LIMIT 1)
            SELECT vec_id,
                   ROUND(list_cosine_similarity(embedding::DOUBLE[],
                                                (SELECT v FROM q)), 4) AS cos4
              FROM embeddings
             ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                             (SELECT v FROM q)) DESC, vec_id
             LIMIT 10
        """,
        "neardup_embeddings": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 4) AS cos4
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]) >= 0.4
        """,
        # Deterministic non-SQL queries (fixed seeds ⇒ byte-identical
        # reruns): the oracle is a committed expected-output snapshot
        # (scripts/gen_expected_outputs.py), giving the full
        # rows+schema+hash check instead of rows-only.
        "minhash_neardup_documents": f"""
            SELECT id_a, id_b, jaccard
              FROM read_parquet('{EXPECTED_DIR}/minhash_neardup_documents.parquet')
        """,
        "simhash_documents": f"""
            SELECT id_a, id_b, hamming
              FROM read_parquet('{EXPECTED_DIR}/simhash_documents.parquet')
        """,
        "neardup_embeddings_lsh": f"""
            SELECT id_a, id_b, cos4
              FROM read_parquet('{EXPECTED_DIR}/neardup_embeddings_lsh.parquet')
        """,
        "clips_full_audio": f"""
            SELECT row_idx, field_path, rule_id
              FROM read_parquet('{EXPECTED_DIR}/clips_full_audio.parquet')
        """,
        "clips_format_family": f"""
            SELECT clip_id, decode_ok, dec_sr, dec_n, dec_dur_ms, dec_rms
              FROM read_parquet('{EXPECTED_DIR}/clips_format_family.parquet')
        """,
        "speech_rate_clips": f"""
            WITH c AS (
              SELECT row_idx, dur_ms,
                     CASE WHEN length(trim(transcript)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(transcript), '\\s+'))
                     END AS n_tok
                FROM {clips}
               WHERE transcript IS NOT NULL
                 AND length(trim(transcript)) > 0
                 AND dur_ms IS NOT NULL AND dur_ms > 0
            )
            SELECT row_idx, '/transcript' AS field_path,
                   'CONSISTENT' AS rule_id,
                   ROUND(n_tok / (dur_ms / 1000.0), 4) AS rate_wps
              FROM c
             WHERE n_tok / (dur_ms / 1000.0) < 1.0
                OR n_tok / (dur_ms / 1000.0) > 40.0
        """,
        "clips_audio_features": f"""
            SELECT clip_id, feat_ok, peak, clip_ratio, silence_ratio, zcr
              FROM read_parquet('{EXPECTED_DIR}/clips_audio_features.parquet')
        """,
        "audio_level_clips": f"""
            SELECT clip_id, field_path, rule_id, actual
              FROM read_parquet('{EXPECTED_DIR}/audio_level_clips.parquet')
        """,
        "audio_snr_clips": f"""
            SELECT clip_id, field_path, rule_id, actual
              FROM read_parquet('{EXPECTED_DIR}/audio_snr_clips.parquet')
        """,
        "audio_bandwidth_clips": f"""
            SELECT clip_id, field_path, rule_id, actual
              FROM read_parquet('{EXPECTED_DIR}/audio_bandwidth_clips.parquet')
        """,
        "codec_consistency_clips": f"""
            SELECT clip_id, field_path, rule_id, actual
              FROM read_parquet(
                '{EXPECTED_DIR}/codec_consistency_clips.parquet')
        """,
        "curate_clips": f"""
            SELECT clip_id, field_path, rule_id, actual
              FROM read_parquet('{EXPECTED_DIR}/curate_clips.parquet')
        """,
        "repair_audio_clips": f"""
            SELECT clip_id, norm_ok, gain2, dc4, peak3, rdc4, rdbfs1
              FROM read_parquet('{EXPECTED_DIR}/repair_audio_clips.parquet')
        """,
        "standardize_audio_clips": f"""
            SELECT clip_id, std_ok, src_sr, out_sr, out_dur_ms, rms4
              FROM read_parquet(
                '{EXPECTED_DIR}/standardize_audio_clips.parquet')
        """,
        "trim_audio_clips": f"""
            SELECT clip_id, trim_ok, lead_ms, tail_ms, out_dur_ms,
                   dec_dur_ms, rms4
              FROM read_parquet('{EXPECTED_DIR}/trim_audio_clips.parquet')
        """,
        "audio_dup_clips": f"""
            SELECT id, group_id, group_size
              FROM read_parquet('{EXPECTED_DIR}/audio_dup_clips.parquet')
        """,
        "transcript_conflict_clips": f"""
            WITH base AS (
              SELECT clip_id, bytes, transcript,
                     coalesce(regexp_replace(trim(lower(transcript)),
                                             '\\s+', ' ', 'g'),
                              chr(1) || '<null>') AS lbl
                FROM read_parquet('{CLIPS_LABELED}')
               WHERE bytes IS NOT NULL
            ), g AS (
              SELECT bytes, count(*) AS n, count(DISTINCT lbl) AS t,
                     min(clip_id) AS gid
                FROM base GROUP BY bytes
            )
            SELECT b.clip_id AS id, g.gid AS group_id,
                   g.n AS group_size, g.t AS n_transcripts, b.transcript
              FROM base b JOIN g ON b.bytes = g.bytes
             WHERE g.n > 1 AND g.t > 1
        """,
        "transcript_conflict_tolerant_clips": f"""
            WITH base AS (
              SELECT clip_id, bytes, transcript,
                     CASE WHEN transcript IS NOT NULL THEN
                       regexp_replace(trim(lower(transcript)),
                                      '\\s+', ' ', 'g') END AS txt,
                     coalesce(regexp_replace(trim(lower(transcript)),
                                             '\\s+', ' ', 'g'),
                              chr(1) || '<null>') AS lbl
                FROM read_parquet('{CLIPS_LABELED}')
               WHERE bytes IS NOT NULL
            ), g AS (
              SELECT bytes, count(*) AS n, count(DISTINCT lbl) AS t,
                     min(clip_id) AS gid,
                     max(CASE WHEN transcript IS NULL
                              THEN 1 ELSE 0 END) AS has_null,
                     arg_min(txt, clip_id)
                       FILTER (WHERE txt IS NOT NULL) AS ref
                FROM base GROUP BY bytes
            ), d AS (
              SELECT b.bytes,
                     max(levenshtein(b.txt, g.ref)) AS max_dist
                FROM base b JOIN g ON b.bytes = g.bytes
               WHERE b.txt IS NOT NULL GROUP BY b.bytes
            )
            SELECT b.clip_id AS id, g.gid AS group_id,
                   g.n AS group_size, g.t AS n_transcripts, b.transcript
              FROM base b
              JOIN g ON b.bytes = g.bytes
              LEFT JOIN d ON b.bytes = d.bytes
             WHERE g.n > 1
               AND ((g.has_null = 1 AND g.ref IS NOT NULL)
                    OR d.max_dist > 1)
        """,
        "transcript_conflict_content_clips": f"""
            SELECT id, group_id, group_size, n_transcripts, transcript
              FROM read_parquet(
                '{EXPECTED_DIR}/transcript_conflict_content_clips.parquet')
        """,
        "audio_embed_neardup_clips": f"""
            SELECT id_a, id_b, cos2
              FROM read_parquet('{EXPECTED_DIR}/audio_embed_neardup_clips.parquet')
        """,
        "audio_segments_clips": f"""
            SELECT clip_id, vad_ok, n_segments, speech_ms, speech_ratio4,
                   longest_gap_ms, seg0_start_ms, seg0_end_ms
              FROM read_parquet('{EXPECTED_DIR}/audio_segments_clips.parquet')
        """,
        "split_documents": (
            "SELECT doc_id, " + _split_sql_oracle() + " AS split "
            "FROM documents"
        ),
        "stratified_sample_clips": f"""
            SELECT row_idx, clip_id, codec
              FROM {clips}
             WHERE codec IS NOT NULL
               AND (('0x' || substring(md5(CAST(clip_id AS VARCHAR)
                     || 'r3'), 1, 15))::BIGINT % 1000000)
                   < CASE WHEN codec = 'wav' THEN 200000 ELSE 1000000 END
        """,
        "stats_drift_lineitem": """
            WITH base AS (
              SELECT AVG(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0 END) AS nr_q,
                     COUNT(DISTINCT l_quantity) AS d_q,
                     MIN(l_quantity) AS q_lo, MAX(l_quantity) AS q_hi,
                     AVG(CASE WHEN l_tax IS NULL THEN 1.0 ELSE 0 END) AS nr_tax,
                     COUNT(DISTINCT l_tax) AS d_tax,
                     MIN(l_tax) AS tax_lo, MAX(l_tax) AS tax_hi,
                     AVG(CASE WHEN l_returnflag IS NULL THEN 1.0 ELSE 0 END) AS nr_rf,
                     COUNT(DISTINCT l_returnflag) AS d_rf,
                     AVG(CASE WHEN l_extendedprice IS NULL THEN 1.0 ELSE 0 END) AS nr_ep,
                     COUNT(DISTINCT l_extendedprice) AS d_ep,
                     MIN(l_extendedprice) AS ep_lo, MAX(l_extendedprice) AS ep_hi
                FROM lineitem WHERE l_orderkey % 2 = 0),
                 cur AS (
              SELECT AVG(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0 END) AS nr_q,
                     COUNT(DISTINCT l_quantity * 2) AS d_q,
                     MIN(l_quantity * 2) AS q_lo, MAX(l_quantity * 2) AS q_hi,
                     AVG(CASE WHEN l_tax IS NULL THEN 1.0 ELSE 0 END) AS nr_tax,
                     COUNT(DISTINCT l_tax) AS d_tax,
                     MIN(l_tax) AS tax_lo, MAX(l_tax) AS tax_hi,
                     0.0 AS nr_rf, 1 AS d_rf,
                     AVG(CASE WHEN l_orderkey % 3 = 0 OR l_extendedprice IS NULL
                              THEN 1.0 ELSE 0 END) AS nr_ep,
                     COUNT(DISTINCT CASE WHEN l_orderkey % 3 = 0 THEN NULL
                                         ELSE l_extendedprice END) AS d_ep,
                     MIN(CASE WHEN l_orderkey % 3 = 0 THEN NULL
                              ELSE l_extendedprice END) AS ep_lo,
                     MAX(CASE WHEN l_orderkey % 3 = 0 THEN NULL
                              ELSE l_extendedprice END) AS ep_hi
                FROM lineitem WHERE l_orderkey % 2 = 1)
            SELECT '/l_quantity' AS field_path, 'DRIFT' AS rule_id
              FROM base, cur
             WHERE cur.nr_q - base.nr_q > 0.05
                OR cur.d_q > base.d_q * 2 OR cur.d_q * 2 < base.d_q
                OR cur.q_lo < base.q_lo OR cur.q_hi > base.q_hi
            UNION ALL
            SELECT '/l_tax', 'DRIFT' FROM base, cur
             WHERE cur.nr_tax - base.nr_tax > 0.05
                OR cur.d_tax > base.d_tax * 2 OR cur.d_tax * 2 < base.d_tax
                OR cur.tax_lo < base.tax_lo OR cur.tax_hi > base.tax_hi
            UNION ALL
            SELECT '/l_returnflag', 'DRIFT' FROM base, cur
             WHERE cur.nr_rf - base.nr_rf > 0.05
                OR cur.d_rf > base.d_rf * 2 OR cur.d_rf * 2 < base.d_rf
            UNION ALL
            SELECT '/l_extendedprice', 'DRIFT' FROM base, cur
             WHERE cur.nr_ep - base.nr_ep > 0.05
                OR cur.d_ep > base.d_ep * 2 OR cur.d_ep * 2 < base.d_ep
                OR cur.ep_lo < base.ep_lo OR cur.ep_hi > base.ep_hi
        """,
        "heavy_hitters_clips": f"""
            WITH stacked AS (
              SELECT 'codec' AS "column", codec AS value FROM {clips}
               WHERE codec IS NOT NULL
              UNION ALL
              SELECT 'sr_hz', CAST(sr_hz AS VARCHAR) FROM {clips}
               WHERE sr_hz IS NOT NULL
            ), counts AS (
              SELECT "column", value, COUNT(*) AS n
                FROM stacked GROUP BY 1, 2
            )
            SELECT "column", value, n, rank FROM (
              SELECT "column", value, n,
                     ROW_NUMBER() OVER (PARTITION BY "column"
                                        ORDER BY n DESC, value ASC) AS rank
                FROM counts)
             WHERE rank <= 5
        """,
        # The ANN probes are approximate vs brute force but exactly
        # reproducible: LSH planes come from RandomState(seed) and the
        # IVF centroid sample orders by a content hash (partition-
        # independent, see train_centroids), so snapshots are valid
        # oracles for them too.
        "lsh_topk_embeddings": f"""
            SELECT vec_id, cosine
              FROM read_parquet('{EXPECTED_DIR}/lsh_topk_embeddings.parquet')
        """,
        "ivf_topk_embeddings": f"""
            SELECT vec_id, cos4
              FROM read_parquet('{EXPECTED_DIR}/ivf_topk_embeddings.parquet')
        """,
        "suggest_rules_orders": """
            WITH s AS (
              SELECT COUNT(*) AS n,
                     COUNT(DISTINCT o_orderkey) AS dk,
                     MIN(o_orderkey) AS kmin, MAX(o_orderkey) AS kmax,
                     COUNT(DISTINCT o_orderstatus) AS ds,
                     MIN(strlen(o_orderstatus)) AS smin,
                     MAX(strlen(o_orderstatus)) AS smax,
                     MIN(o_totalprice) AS pmin, MAX(o_totalprice) AS pmax,
                     MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax,
                     SUM(CASE WHEN o_orderstatus SIMILAR TO '[0-9]+'
                              THEN 1 ELSE 0 END) AS sdigits
                FROM orders)
            SELECT * FROM (
              SELECT 'o_orderkey' AS "column", 'required' AS rule,
                     '' AS param,
                     printf('0 nulls in %d rows', n) AS reason FROM s
              UNION ALL
              SELECT 'o_orderkey', 'min', CAST(kmin AS VARCHAR),
                     'observed min' FROM s
              UNION ALL
              SELECT 'o_orderkey', 'max', CAST(kmax AS VARCHAR),
                     'observed max' FROM s
              UNION ALL
              SELECT 'o_orderkey', 'unique', '',
                     'distinct == rows, no nulls' FROM s WHERE dk = n
              UNION ALL
              SELECT 'o_orderstatus', 'required', '',
                     printf('0 nulls in %d rows', n) FROM s
              UNION ALL
              SELECT 'o_orderstatus', 'min_len', CAST(smin AS VARCHAR),
                     'observed octet length bounds' FROM s
              UNION ALL
              SELECT 'o_orderstatus', 'max_len', CAST(smax AS VARCHAR),
                     'observed octet length bounds' FROM s
              UNION ALL
              SELECT 'o_orderstatus', 'regex', '^[0-9]+$',
                     'all non-null values are digits' FROM s
               WHERE sdigits = n
              UNION ALL
              SELECT 'o_orderstatus', 'allowed_values',
                     (SELECT CAST(to_json(list(v ORDER BY v)) AS VARCHAR)
                        FROM (SELECT DISTINCT o_orderstatus AS v
                                FROM orders)),
                     printf('%d distinct values', ds) FROM s
               WHERE ds <= 12 AND ds <= 0.1 * n
              UNION ALL
              SELECT 'o_totalprice', 'required', '',
                     printf('0 nulls in %d rows', n) FROM s
              UNION ALL
              SELECT 'o_totalprice', 'min', printf('%.6f', pmin),
                     'observed min' FROM s
              UNION ALL
              SELECT 'o_totalprice', 'max', printf('%.6f', pmax),
                     'observed max' FROM s
              UNION ALL
              SELECT 'o_orderdate', 'required', '',
                     printf('0 nulls in %d rows', n) FROM s
              UNION ALL
              SELECT 'o_orderdate', 'min',
                     strftime(dmin, '%Y-%m-%d %H:%M:%S'),
                     'observed min' FROM s
              UNION ALL
              SELECT 'o_orderdate', 'max',
                     strftime(dmax, '%Y-%m-%d %H:%M:%S'),
                     'observed max' FROM s
            ) ORDER BY "column", rule
        """,
    }
