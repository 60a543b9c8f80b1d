"""Cross-row / cross-table integrity checks (SURVEY.md §2.9 extensions).

The reference validates one value at a time; these are the dataset-level
invariants a table-scale validator additionally needs (the Deequ-style
constraint family): fact↔dimension aggregate reconciliation, per-key
sequence monotonicity, per-partition volume anomalies, and calendar
completeness. All reuse the engine's violation row shape
(``errors.VIOLATION_STRUCT_DDL``) so their output unions cleanly with
every other check.

Scale design (10^12 rows):
- ``reconciliation_violations``: ONE shuffle on the fact side
  (``groupBy(key)`` with map-side partial aggregation — each executor
  ships one pre-combined (key, sum) pair per local key), then a join of
  the *aggregated* fact (|keys| rows, not |rows|) against the dimension.
  The aggregate output is orders of magnitude smaller than the fact
  table, so AQE picks broadcast when either side fits.
- ``monotonic_violations``: one hash-partition-by-key window — the same
  shuffle a sessionization pass pays; no global sort.
- ``volume_anomalies`` / ``calendar_gap_violations`` /
  ``freshness_violations``: slices of the shared aggregate
  (dataset/fused.py) — the per-group count, distinct dates and max
  timestamp collapse to group-cardinality rows (thousands, not
  trillions) before anything else happens; the mean/sequence/cutoff
  step runs on those.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..errors import ACTUAL_TRUNCATE, Code
from ..rules.base import violation_struct
from .fused import Check


def reconciliation_violations(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str,
    fact_expr: Column, dim_col: str,
    abs_tol: float = 0.0, rel_tol: float = 0.0,
    report_missing_fact: bool = True,
    dim_extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Aggregate reconciliation: per-key aggregate of the fact table must
    match the dimension's recorded value within ``abs_tol`` OR ``rel_tol``
    (either tolerance admitting the value passes; both 0 = exact).

    Emits one ``RECONCILE`` violation per dimension key whose fact
    aggregate falls outside tolerance, and (``report_missing_fact``) one
    ``REQUIRED`` violation per dimension key with NO fact rows at all —
    the "order with no lineitems" case, distinct from a referential
    orphan (fact row pointing at a missing dim).

    Output: (dim_key, dim_extra_cols..., expected, actual_agg,
    field_path, rule_id, message, actual).
    """
    agg = (fact.filter(F.col(fact_key).isNotNull())
               .groupBy(F.col(fact_key).alias("__k"))
               .agg(fact_expr.alias("__agg")))
    d = dim.select(F.col(dim_key), *[F.col(c) for c in dim_extra_cols],
                   F.col(dim_col).alias("__expected"))
    joined = d.join(agg, on=F.col(dim_key) == F.col("__k"), how="left")

    diff = F.abs(F.col("__agg") - F.col("__expected"))
    # try_divide: a ZERO expected value has no relative tolerance (ANSI
    # division would throw) — only the absolute tolerance can admit it
    within = (diff <= F.lit(float(abs_tol))) | F.coalesce(
        F.try_divide(diff, F.abs(F.col("__expected")))
        <= F.lit(float(rel_tol)), F.lit(False))
    mismatch = F.col("__agg").isNotNull() & ~within
    missing = F.col("__agg").isNull()

    v_mismatch = violation_struct(
        f"/{dim_col}", Code.RECONCILE,
        f"aggregate of fact {fact_key!r} does not reconcile with "
        f"{dim_col!r} within tolerance",
        F.col("__agg"))
    v_missing = violation_struct(
        f"/{dim_key}", Code.REQUIRED,
        f"no fact rows for {dim_key!r}", F.col(dim_key))

    cond = mismatch | (F.lit(bool(report_missing_fact)) & missing)
    keep = [F.col(dim_key), *[F.col(c) for c in dim_extra_cols]]
    return (joined.filter(cond)
            .select(*keep,
                    F.col("__expected").alias("expected"),
                    F.col("__agg").alias("actual_agg"),
                    F.when(mismatch, v_mismatch).otherwise(v_missing)
                     .alias("_v"))
            .select(*keep, "expected", "actual_agg", "_v.field_path",
                    "_v.rule_id", "_v.message", "_v.actual"))


def monotonic_violations(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str],
    value_col: str, direction: str = "non_decreasing",
    strict: bool = False, row_key_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-key sequence monotonicity: within each ``key_cols`` group,
    ordered by ``order_cols`` (which must be a total order inside the
    group — ties make lag() nondeterministic), ``value_col`` must be
    non-decreasing / non-increasing (``strict`` forbids equality too).

    One violation row per OUT-OF-ORDER element (the row whose value
    breaks against its predecessor). NULL values never violate (NULL
    comparisons are unknown, same as the scalar rule family); the
    first element of each group has no predecessor.

    One hash shuffle on ``key_cols``; per-group in-partition sort only.
    """
    if direction not in ("non_decreasing", "non_increasing"):
        raise ValueError(f"direction {direction!r}")
    w = (Window.partitionBy(*[F.col(c) for c in key_cols])
               .orderBy(*[F.col(c) for c in order_cols]))
    prev = F.lag(F.col(value_col)).over(w)
    cur = F.col(value_col)
    if direction == "non_decreasing":
        bad = cur <= prev if strict else cur < prev
    else:
        bad = cur >= prev if strict else cur > prev
    bad = prev.isNotNull() & cur.isNotNull() & bad
    v = violation_struct(
        f"/{value_col}", Code.MONOTONIC,
        f"{value_col!r} must be {direction}"
        + (" (strict)" if strict else "")
        + f" per {list(key_cols)} ordered by {list(order_cols)}",
        cur)
    keep = [F.col(c) for c in row_key_cols] or [
        F.col(c) for c in (*key_cols, *order_cols)]
    return (df.select(*keep, bad.alias("__bad"), v.alias("_v"))
              .filter(F.col("__bad"))
              .select(*keep, "_v.field_path", "_v.rule_id", "_v.message",
                      "_v.actual"))


def group_size_violations(
    df: DataFrame, key_cols: Sequence[str],
    min_n: Optional[int] = None, max_n: Optional[int] = None,
) -> DataFrame:
    """Per-key cardinality bounds — the 1:N relationship contract
    ("every order has 1–7 lineitems", "every clip has exactly 1
    transcript row"): one MIN/MAX violation per key whose group size
    falls outside [min_n, max_n]. NULL keys are skipped (their rows
    belong to the REQUIRED field rule). Keys entirely ABSENT cannot be
    seen here — that direction is ``reconciliation_violations``'s
    REQUIRED row against the dimension.

    One map-side-combined shuffle of (key, count) pairs; the violating
    set is proportional to bad keys, not rows.

    Output: (key_cols..., group_n, field_path, rule_id, message,
    actual)."""
    nn = df
    for c in key_cols:
        nn = nn.filter(F.col(c).isNotNull())
    counts = nn.groupBy(*[F.col(c) for c in key_cols]) \
               .agg(F.count(F.lit(1)).alias("group_n"))
    path = "/" + ",".join(key_cols)
    parts = []
    if min_n is not None:
        v = violation_struct(
            path, Code.MIN,
            f"group must have at least {min_n} rows", F.col("group_n"))
        parts.append(counts.filter(F.col("group_n") < int(min_n))
                     .select(*key_cols, "group_n", v.alias("_v")))
    if max_n is not None:
        v = violation_struct(
            path, Code.MAX,
            f"group must have at most {max_n} rows", F.col("group_n"))
        parts.append(counts.filter(F.col("group_n") > int(max_n))
                     .select(*key_cols, "group_n", v.alias("_v")))
    if not parts:
        raise ValueError("group_size_violations needs min_n or max_n")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*key_cols, "group_n", "_v.field_path", "_v.rule_id",
                      "_v.message", "_v.actual")


class Volume(Check):
    """The :func:`volume_anomalies` finder: per-group counts from the
    shared aggregate (collected at group cardinality, with their mean
    computed by Spark), gated on the driver. Group values ride as
    strings and are cast back to the group expression's type."""

    def __init__(self, group_expr: Column, group_name: str,
                 max_rel_dev: float = 0.5, min_count: Optional[int] = None):
        self.group_expr, self.group_name = group_expr, group_name
        self.max_rel_dev, self.min_count = max_rel_dev, min_count

    def columns(self, df):
        return [(self.group_name, df.select(self.group_expr).schema[0]
                 .dataType), ("cnt", "bigint")] + super().columns(df)

    def plan(self, agg):
        p = agg.scope()
        self._k, self._a = f"{p}0", (f"{p}g", f"{p}mean")
        agg.stack(self._k, self.group_expr)
        agg.per_key(F.collect_list(agg.mine(
            [self._k], F.struct("l1", "cnt"))).alias(self._a[0]))
        agg.per_key(F.avg("cnt").alias(self._a[1]))

    def findings(self, res):
        r = res.key(self._k)
        if r is None:
            return []
        mean = r[self._a[1]]
        msg = (f"group row count deviates from mean by more than "
               f"{self.max_rel_dev}"
               + (f" or falls below {self.min_count}"
                  if self.min_count is not None else ""))
        rows = []
        for e in r[self._a[0]]:
            cnt = e["cnt"]
            if abs(cnt - mean) / mean > float(self.max_rel_dev) or (
                    self.min_count is not None
                    and cnt < int(self.min_count)):
                rows.append((e["l1"], cnt, f"/{self.group_name}", Code.DRIFT,
                             msg, str(cnt)[:ACTUAL_TRUNCATE]))
        return rows


def volume_anomalies(
    df: DataFrame, group_expr: Column, group_name: str,
    max_rel_dev: float = 0.5, min_count: Optional[int] = None,
) -> DataFrame:
    """Per-partition/group row-volume anomaly: groups whose row count
    deviates from the MEAN group count by more than ``max_rel_dev``
    (relative), or falls below the absolute ``min_count`` floor — the
    "yesterday's shard is half-empty" detector, complementary to
    distribution drift (same rows, different shape).

    The count aggregate collapses the input to group-cardinality rows
    (map-side combined) before the tiny mean/compare step on the driver
    (:class:`Volume`).

    Output: (group value as ``group_name``, cnt, field_path, rule_id,
    message, actual).
    """
    return Volume(group_expr, group_name, max_rel_dev, min_count).frame(df)


class Calendar(Check):
    """The :func:`calendar_gap_violations` finder: the distinct dates
    collapse in the shared aggregate, and the missing ones are
    ``sequence(min, max)`` minus that set — computed (and formatted) by
    Spark before the collect."""

    def __init__(self, date_expr: Column, date_name: str):
        self.date_expr, self.date_name = date_expr, date_name

    def columns(self, df):
        return [(self.date_name, "date")] + super().columns(df)

    def plan(self, agg):
        p = agg.scope()
        self._k, self._a = f"{p}0", f"{p}missing"
        d = self.date_expr.cast("date")
        agg.stack(self._k, d, when=d.isNotNull())
        day = agg.mine([self._k], F.col("l1").cast("date"))
        agg.per_key(F.transform(
            F.array_except(F.sequence(F.min(day), F.max(day)),
                           F.collect_set(day)),
            lambda x: x.cast("string")).alias(self._a))

    def findings(self, res):
        return [(d, f"/{self.date_name}", Code.REQUIRED,
                 "calendar date missing between observed min and max",
                 d[:ACTUAL_TRUNCATE])
                for d in (res.key(self._k) or {}).get(self._a) or []]


def calendar_gap_violations(df: DataFrame, date_expr: Column,
                            date_name: str) -> DataFrame:
    """Calendar completeness: every date between the observed min and max
    of ``date_expr`` must be present; each missing date is one
    ``REQUIRED`` violation (the "a whole ingest day is absent" check —
    the partition-level analog of the stats-delta REQUIRED column row).

    Distinct-date collapse first (date-cardinality rows), then the
    missing dates are ``sequence(min, max)`` minus the distinct set,
    inside the same aggregate (:class:`Calendar`) — no full-table
    second pass.

    Output: (missing date as ``date_name``, field_path, rule_id,
    message, actual).
    """
    return Calendar(date_expr, date_name).frame(df)


class Freshness(Check):
    """The :func:`freshness_violations` finder: the newest timestamp per
    group (or of the table) rides the shared aggregate's stacked
    ``max(v)``; the staleness compare and the timestamp strings are
    Spark's, before the collect."""

    def __init__(self, ts_expr: Column, ts_name: str, max_age_hours: float,
                 as_of: str, group_col: Optional[str] = None):
        self.ts_expr, self.ts_name = ts_expr, ts_name
        self.max_age_hours, self.as_of = max_age_hours, as_of
        self.group_col = group_col

    def columns(self, df):
        keys = ([(self.group_col, df.schema[self.group_col].dataType)]
                if self.group_col else [])
        return keys + [("max_ts", "timestamp")] + super().columns(df)

    def plan(self, agg):
        p = agg.scope()
        self._k, self._a = f"{p}0", f"{p}stale"
        ts = self.ts_expr.cast("timestamp")
        agg.stack(self._k, F.col(self.group_col) if self.group_col else None,
                  v=ts, when=ts.isNotNull())
        cutoff = F.to_timestamp(F.lit(self.as_of)) - F.expr(
            f"INTERVAL {int(round(self.max_age_hours * 3600))} SECONDS")
        agg.per_key(F.collect_list(agg.mine(
            [self._k],
            F.when(F.col("v") < cutoff,
                   F.struct("l1", F.col("v").cast("string").alias("ts")))))
            .alias(self._a))

    def findings(self, res):
        msg = (f"newest row older than {self.max_age_hours}h before "
               f"{self.as_of}")
        return [(*([e["l1"]] if self.group_col else []), e["ts"],
                 f"/{self.ts_name}", Code.EXPIRED, msg,
                 e["ts"][:ACTUAL_TRUNCATE])
                for e in (res.key(self._k) or {}).get(self._a, [])]


def freshness_violations(df: DataFrame, ts_expr: Column, ts_name: str,
                         max_age_hours: float, as_of: str,
                         group_col: Optional[str] = None) -> DataFrame:
    """Ingestion freshness: the newest row's timestamp must be within
    ``max_age_hours`` of ``as_of`` (one ``EXPIRED`` violation when the
    whole table — or, with ``group_col``, any group/shard — has gone
    stale). The per-group form is the operational one at scale: a
    single upstream producer (one codec, one source shard) silently
    stopping is invisible to the global max but an immediate per-group
    EXPIRED row.

    ``as_of`` is an explicit timestamp string, NOT wall-clock now() —
    pinned by the caller exactly like Time.WithMinDiff pins now at
    compile (temporal.py), so runs are reproducible and resumable.

    One max() per group in the shared aggregate (:class:`Freshness`): a
    map-side-combined (group, max_ts) shuffle of group-cardinality
    rows. Groups with NO rows at all are the reconciliation/volume
    checks' finding (nothing to aggregate here).

    Output: ([group_col,] max_ts, field_path, rule_id, message, actual).
    """
    return Freshness(ts_expr, ts_name, max_age_hours, as_of,
                     group_col).frame(df)


def functional_dependency_violations(
    df: DataFrame, key_cols: Sequence[str], dep_col: str,
) -> DataFrame:
    """Functional-dependency contract: every ``key_cols`` group must
    map to exactly ONE distinct value of ``dep_col`` ("a clip_id always
    carries the same codec", "an order ships from one warehouse") —
    one CONSISTENT violation per key that maps to several. The generic
    form of the transcript-conflict gate (audio/consistency.py), for
    plain scalar columns with no normalization/tolerance semantics.

    One map-side-combined shuffle of (key, distinct-dep partials);
    min/max dep values ride along as witnesses so the violation is
    actionable without a second scan. NULL dep values are ignored
    (count_distinct semantics — a missing value is the REQUIRED rule's
    finding, not a conflicting one); NULL keys are skipped like every
    other key-wise check.

    Output: (key_cols..., n_values, dep_min, dep_max, field_path,
    rule_id, message, actual)."""
    nn = df.filter(F.col(dep_col).isNotNull())
    for c in key_cols:
        nn = nn.filter(F.col(c).isNotNull())
    agg = nn.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count_distinct(F.col(dep_col)).alias("n_values"),
        F.min(dep_col).cast("string").alias("dep_min"),
        F.max(dep_col).cast("string").alias("dep_max"))
    bad = agg.filter(F.col("n_values") > 1)
    v = violation_struct(
        f"/{dep_col}", Code.CONSISTENT,
        f"{dep_col} must be functionally determined by {list(key_cols)}",
        F.concat(F.col("n_values").cast("string"),
                 F.lit(" values, e.g. "), F.col("dep_min"),
                 F.lit(" vs "), F.col("dep_max")))
    return bad.select(*key_cols, "n_values", "dep_min", "dep_max",
                      v.alias("_v")).select(
        *key_cols, "n_values", "dep_min", "dep_max",
        "_v.field_path", "_v.rule_id", "_v.message", "_v.actual")
