"""Single-pass per-column statistics (SURVEY.md §2.9).

The reference has no dataset-level checks (it is value-at-a-time); these
reuse its error model only. One ``df.agg()`` computes null-rate, min/max,
approx-distinct (HyperLogLog++ via ``approx_count_distinct``) and quantile
sketches (Greenwald-Khanna via ``percentile_approx``) for every requested
column in a SINGLE scan — partial aggregation is map-side combined by
Catalyst, so this is one shuffle of a few hundred bytes per partition
regardless of input size (100 TB-safe).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import Code
from .fused import Check, local_frame

DEFAULT_QUANTILES = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def stats_aggs(dtypes: dict, cols: Sequence[str],
               quantiles: Sequence[float] = DEFAULT_QUANTILES,
               accuracy: int = 2500, exact_distinct: bool = False,
               rsd: float = 0.05, exact_quantiles: bool = False,
               prefix: str = "") -> list:
    """The per-column aggregation expressions behind :func:`column_stats`
    — shared with streaming.windowed_column_stats so the batch and
    per-window stats definitions can never drift apart. ``prefix``
    namespaces the aliases inside a shared aggregate."""
    aggs = [F.count(F.lit(1)).alias(f"{prefix}__n")]
    for c in cols:
        p = f"{prefix}{c}"
        base = dtypes[c].split("(")[0]
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{p}__nulls"))
        aggs.append(F.min(c).cast("string").alias(f"{p}__min"))
        aggs.append(F.max(c).cast("string").alias(f"{p}__max"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{p}__distinct"))
        else:
            aggs.append(F.approx_count_distinct(c, rsd).alias(f"{p}__distinct"))
        if base in _NUMERIC and quantiles:
            if exact_quantiles:
                aggs.append(F.percentile(
                    F.col(c).cast("double"),
                    F.array(*[F.lit(float(q)) for q in quantiles])
                ).alias(f"{p}__q"))
            else:
                aggs.append(F.percentile_approx(
                    F.col(c).cast("double"), list(quantiles), accuracy
                ).alias(f"{p}__q"))
        else:
            aggs.append(F.lit(None).cast("array<double>").alias(f"{p}__q"))
    return aggs


_STATS_FIELDS = ("column", "n_rows", "null_rate", "min", "max",
                 "approx_distinct", "quantiles")


class ColumnStats(Check):
    """Per-column stats as one slice of the shared aggregate: one row
    per column, (column, n_rows, null_rate, min, max, approx_distinct,
    quantiles)."""

    def __init__(self, cols: Optional[Sequence[str]] = None,
                 quantiles: Sequence[float] = DEFAULT_QUANTILES,
                 accuracy: int = 2500, exact_distinct: bool = False,
                 rsd: float = 0.05, exact_quantiles: bool = False):
        self.cols = list(cols or [])
        self.kw = dict(quantiles=quantiles, accuracy=accuracy,
                       exact_distinct=exact_distinct, rsd=rsd,
                       exact_quantiles=exact_quantiles)

    def columns(self, df):
        return [("column", "string"), ("n_rows", "bigint"),
                ("null_rate", "double"), ("min", "string"),
                ("max", "string"), ("approx_distinct", "bigint"),
                ("quantiles", "array<double>")]

    def plan(self, agg):
        self._cols = list(self.cols or agg.df.columns)
        self._p = agg.scope()
        agg.glob(*stats_aggs(agg.dtypes, self._cols, prefix=self._p,
                             **self.kw))

    def findings(self, res):
        g, p = res.g, self._p
        n = g[f"{p}__n"]
        return [(c, n, (g[f"{p}{c}__nulls"] / n) if n else 0.0,
                 g[f"{p}{c}__min"], g[f"{p}{c}__max"],
                 g[f"{p}{c}__distinct"], g[f"{p}{c}__q"])
                for c in self._cols]


def column_stats(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    quantiles: Sequence[float] = DEFAULT_QUANTILES,
    accuracy: int = 2500,
    exact_distinct: bool = False,
    rsd: float = 0.05,
    exact_quantiles: bool = False,
) -> DataFrame:
    """One aggregation pass → one row per column:
    (column, n_rows, null_rate, min, max, approx_distinct, quantiles).

    ``exact_distinct`` switches HLL++ to exact count(distinct) — used by the
    DuckDB oracle comparisons; default approx for scale. ``rsd`` stays at
    Spark's 0.05 default: tightening to 0.01 grows the HLL register file
    ~25× and measured 10× slower on string columns. ``exact_quantiles``
    switches the GK sketch to exact interpolated ``percentile`` (the
    quantile_cont analog) — oracle mode only; the approx path is pinned
    within tolerance of it in tests/test_dataset.py.
    """
    return ColumnStats(cols, quantiles=quantiles, accuracy=accuracy,
                       exact_distinct=exact_distinct, rsd=rsd,
                       exact_quantiles=exact_quantiles).frame(df)


def heavy_hitters(df: DataFrame, cols: Optional[Sequence[str]] = None,
                  k: int = 10) -> DataFrame:
    """Exact top-k most frequent values for ALL ``cols`` from ONE
    stacked aggregation (column, value) -> count, ranked per column
    with a fully deterministic tie-break (count DESC, value ASC).

    Scale notes: the row-side explode is collapsed by map-side partial
    aggregation to the per-partition distinct values, so shuffle volume
    is O(distinct values), not O(rows x cols). The rank window then
    sorts each column's aggregated value set on one reducer — fine for
    enum/categorical/bounded-cardinality profiling (codec, sr_hz,
    lang); for ID-like columns with ~n distinct values use
    column_stats' approx_distinct to detect that shape first and skip
    them (their "top k" is meaningless anyway). NULLs are excluded —
    null_rate is column_stats' job."""
    from pyspark.sql import Window
    cols = list(cols or df.columns)
    stacked = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(c).cast("string").alias("value"))
        for c in cols])).alias("cv")).select("cv.*")
    counts = (stacked.filter(F.col("value").isNotNull())
              .groupBy("column", "value")
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("column").orderBy(F.desc("n"), F.asc("value"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("column", "value", "n", "rank"))


# ---------------------------------------------------------------------------
# Stats-delta drift: quality-regression gates against a stats snapshot
# (the histogram-free complement to dataset/drift.py — catches null-rate
# jumps, cardinality collapse/explosion, and numeric range escapes that
# PSI on a bucketed histogram can under-report)
# ---------------------------------------------------------------------------

def stats_snapshot(df: DataFrame, cols: Optional[Sequence[str]] = None,
                   exact_distinct: bool = False,
                   entropy_cols: Sequence[str] = ()) -> dict:
    """JSON-serializable per-column stats baseline (ONE action;
    ``entropy_cols`` adds stacked value counts to the same shared
    aggregate, recording Shannon entropy for those categoricals —
    dataset/metrics.py arithmetic — so the drift check can gate on
    entropy movement). Records each
    column's Spark dtype so the drift check can flag a TYPE change
    (older snapshots without it are still accepted)."""
    dtypes = dict(df.dtypes)
    stats, ent = _stats_and_entropy(df, cols, exact_distinct, entropy_cols)
    snap = {c: {
        "n_rows": n, "null_rate": nr, "min": lo, "max": hi,
        "distinct": d, "quantiles": q, "dtype": dtypes[c],
    } for c, n, nr, lo, hi, d, q in stats}
    for c, e in ent.items():
        snap.setdefault(c, {"dtype": dtypes[c]})["entropy"] = e
    return snap


def _stats_and_entropy(df: DataFrame, cols, exact_distinct: bool,
                       entropy_cols: Sequence[str]):
    """(:class:`ColumnStats` rows, {column: entropy}) from ONE shared
    aggregate."""
    from .fused import collect
    from .metrics import Entropy
    stats = ColumnStats(cols, exact_distinct=exact_distinct)
    ent = Entropy(list(entropy_cols))
    res = collect(df, [stats, ent] if entropy_cols else [stats])
    return (stats.findings(res),
            {c: e for c, _, _, e, _ in ent.metrics(res)}
            if entropy_cols else {})


def stats_drift_violations(df: DataFrame, baseline: dict,
                           null_rate_jump: float = 0.05,
                           distinct_ratio: float = 2.0,
                           exact_distinct: bool = False,
                           report_added: bool = False,
                           entropy_jump: float = 0.5) -> DataFrame:
    """One violation row per column whose current stats regressed vs the
    snapshot (rule_id=DRIFT, row keys not applicable):

    - null_rate rose by more than ``null_rate_jump`` (absolute),
    - distinct count changed by more than ``distinct_ratio``x either way
      (cardinality collapse = a join key went constant; explosion = an
      enum column started leaking free text),
    - a numeric column's observed min/max escaped the baseline range
      (new values outside every previously seen value),
    - a column whose baseline recorded Shannon entropy (snapshot taken
      with ``entropy_cols``) moved by more than ``entropy_jump`` nats
      either way — the distribution-SHAPE regression null-rate and
      cardinality both miss (same categories, same nulls, but one value
      now dominates); its value counts ride the same aggregate.

    A baseline column MISSING from the current schema is itself a
    violation (rule_id=REQUIRED, the loudest regression of all) — it is
    reported, never silently skipped. A column whose Spark dtype
    CHANGED vs the snapshot (snapshots record it; older snapshots
    without a dtype are accepted) is rule_id=TYPE. With
    ``report_added=True``, current columns absent from the baseline are
    rule_id=UNEXPECTED — opt-in, because snapshots may deliberately
    profile a column subset (the DSL analog: ``with_unknown``).

    ONE action for all columns; thresholds are deliberately coarse
    gates, not statistics — use dataset/drift.py for distribution shape.
    """
    dtypes = dict(df.dtypes)
    cols = [c for c in baseline.keys() if c in dtypes]
    ent_cols = [c for c in cols if baseline[c].get("entropy") is not None]
    stats, cur_ent = _stats_and_entropy(df, cols, exact_distinct, ent_cols)
    cur = {r[0]: dict(zip(_STATS_FIELDS, r)) for r in stats}
    rows = [(f"/{c}", "REQUIRED",
             "baseline column missing from current schema", None)
            for c in baseline.keys() if c not in dtypes]
    if report_added:
        rows += [(f"/{c}", "UNEXPECTED",
                  "column not present in baseline snapshot", dtypes[c])
                 for c in dtypes if c not in baseline]
    for c in cols:
        b, a = baseline[c], cur[c]
        probs = []
        bt = b.get("dtype")
        if bt is not None and bt != dtypes[c]:
            # stat-vs-stat comparison across types is meaningless (a
            # string baseline min vs a numeric current min would even
            # raise in the float() range gate) — the TYPE row subsumes
            rows.append((f"/{c}", "TYPE",
                         "column type changed vs baseline snapshot",
                         f"{bt}->{dtypes[c]}"))
            continue
        if a["null_rate"] - b["null_rate"] > null_rate_jump:
            probs.append(
                f"null_rate {b['null_rate']:.4f}->{a['null_rate']:.4f}")
        bd, ad = b["distinct"], a["approx_distinct"]
        if bd is not None and ad is not None:
            # zero on either side is the loudest cardinality regression
            # (all-NULL collapse / explosion from all-NULL), not a skip
            if (bd == 0) != (ad == 0):
                probs.append(f"distinct {bd}->{ad}")
            elif bd and ad and (ad > bd * distinct_ratio
                                or ad * distinct_ratio < bd):
                probs.append(f"distinct {bd}->{ad}")
        base_type = dtypes[c].split("(")[0]
        if (base_type in _NUMERIC or base_type == "decimal") \
                and b["min"] is not None:
            try:
                escaped = (a["min"] is not None
                           and float(a["min"]) < float(b["min"])) or \
                          (a["max"] is not None
                           and float(a["max"]) > float(b["max"]))
            except (TypeError, ValueError):
                # a LEGACY (pre-dtype) snapshot of a column that has
                # since changed type: its min/max are not numbers. The
                # dtype-recording path reports this as TYPE before ever
                # reaching here; surface the same signal, don't crash.
                rows.append((f"/{c}", "TYPE",
                             "column type changed vs baseline snapshot "
                             "(legacy snapshot: stats incomparable)",
                             f"?->{dtypes[c]}"))
                escaped = False  # keep the type-independent probs
            if escaped:
                probs.append(f"range [{b['min']},{b['max']}] -> "
                             f"[{a['min']},{a['max']}]")
        be = b.get("entropy")
        ae = cur_ent.get(c)
        if be is not None and ae is not None \
                and abs(ae - be) > entropy_jump:
            probs.append(f"entropy {be:.4f}->{ae:.4f}")
        if probs:
            rows.append((f"/{c}", "DRIFT",
                         "column statistics regressed vs baseline snapshot",
                         "; ".join(probs)))
    return local_frame(df.sparkSession, rows,
                       [(c, "string") for c in ("field_path", "rule_id",
                                                "message", "actual")])


def grouped_column_stats(
    df: DataFrame, group_col: str,
    cols: Optional[Sequence[str]] = None,
    quantiles: Sequence[float] = DEFAULT_QUANTILES,
    accuracy: int = 2500,
    exact_distinct: bool = False,
    rsd: float = 0.05,
    exact_quantiles: bool = False,
) -> DataFrame:
    """Per-GROUP per-column stats — the per-shard profiling pass: one
    ``groupBy(group_col).agg(...)`` computes every column's null-rate /
    min / max / distinct / quantile sketch for every codec / source /
    ingest-day group in a SINGLE scan and a single map-side-combined
    shuffle of (group, sketches) rows. The complement of
    ``drift_by_group_violations``: that one GATES each group against a
    baseline, this one REPORTS the per-group profile (what you snapshot,
    eyeball, or feed to the stats-delta gates per shard).

    Output: one row per (group, column) —
    (group_col, column, n_rows, null_rate, min, max, approx_distinct,
    quantiles). The wide→long reshape happens AFTER aggregation on
    group-cardinality rows (explode of a per-column struct array), so
    the row-side scan is never exploded. NULL group values form their
    own group (profiling them is usually the point).
    """
    dtypes = dict(df.dtypes)
    cols = [c for c in (cols or df.columns) if c != group_col]
    aggs = stats_aggs(dtypes, cols, quantiles=quantiles, accuracy=accuracy,
                      exact_distinct=exact_distinct, rsd=rsd,
                      exact_quantiles=exact_quantiles)
    agg = df.groupBy(F.col(group_col)).agg(*aggs)
    per_col = [F.struct(
        F.lit(c).alias("column"),
        F.col(f"{c}__nulls").alias("nulls"),
        F.col(f"{c}__min").alias("min"),
        F.col(f"{c}__max").alias("max"),
        F.col(f"{c}__distinct").cast("long").alias("approx_distinct"),
        F.col(f"{c}__q").alias("quantiles")) for c in cols]
    ex = agg.select(F.col(group_col), F.col("__n").alias("n_rows"),
                    F.explode(F.array(*per_col)).alias("s"))
    return ex.select(
        group_col, "s.column", "n_rows",
        (F.col("s.nulls") / F.col("n_rows")).cast("double")
        .alias("null_rate"),
        "s.min", "s.max", "s.approx_distinct", "s.quantiles")


class StatsBounds(Check):
    """The :func:`stats_bounds_violations` finder over the shared
    aggregate (its column stats skip the unused quantile sketches)."""

    def __init__(self, specs: Sequence[dict], exact_distinct: bool = False):
        self.specs = list(specs)
        self.exact_distinct = exact_distinct

    def plan(self, agg):
        cols = [s["col"] for s in self.specs]
        missing = [c for c in cols if c not in agg.dtypes]
        if missing:
            raise ValueError(f"stats_bounds_violations: columns not in "
                             f"table: {missing}")
        bad = [s["col"] for s in self.specs
               if ("min" in s or "max" in s)
               and agg.dtypes[s["col"]].split("(")[0]
               not in _NUMERIC | {"decimal"}]
        if bad:
            raise ValueError(
                f"stats_bounds_violations: value bounds (min/max) require "
                f"numeric columns, got non-numeric: {bad} — use the DSL "
                f"string comparators for lexicographic bounds")
        self._stats = ColumnStats(cols, quantiles=(),
                                  exact_distinct=self.exact_distinct)
        self._stats.plan(agg)

    def findings(self, res):
        st = {r[0]: dict(zip(_STATS_FIELDS, r))
              for r in self._stats.findings(res)}
        rows = []
        for s in self.specs:
            c = s["col"]
            r = st[c]
            if "max_null_rate" in s and r["null_rate"] > s["max_null_rate"]:
                rows.append((f"/{c}/null_rate", Code.NULL,
                             f"null rate above maximum {s['max_null_rate']}",
                             f"{round(r['null_rate'], 6):g}"))
            d = r["approx_distinct"]
            if "min_distinct" in s and d < s["min_distinct"]:
                rows.append((f"/{c}/distinct", Code.MIN,
                             f"distinct count below minimum "
                             f"{s['min_distinct']}", str(d)))
            if "max_distinct" in s and d > s["max_distinct"]:
                rows.append((f"/{c}/distinct", Code.MAX,
                             f"distinct count above maximum "
                             f"{s['max_distinct']}", str(d)))
            if "min" in s and r["min"] is not None \
                    and float(r["min"]) < s["min"]:
                rows.append((f"/{c}/min", Code.MIN,
                             f"observed minimum below bound {s['min']}",
                             r["min"]))
            if "max" in s and r["max"] is not None \
                    and float(r["max"]) > s["max"]:
                rows.append((f"/{c}/max", Code.MAX,
                             f"observed maximum above bound {s['max']}",
                             r["max"]))
        return rows


def stats_bounds_violations(df: DataFrame, specs: Sequence[dict],
                            exact_distinct: bool = False) -> DataFrame:
    """Deequ-style ABSOLUTE column assertions over ONE ``column_stats``
    aggregation pass — "completeness ≥ 99%", "distinct count in
    [lo, hi]", "all values within [lo, hi]" as a standing contract
    needing no snapshot (``stats_drift_violations`` is the same idea
    against the table's own HISTORY). Distinct-count bounds default to
    the HLL estimate (±rsd) — pass ``exact_distinct=True`` when the
    bound is tight (and in oracle comparisons).

    Each spec: ``{"col": str}`` plus any of ``max_null_rate`` (NULL
    row, sub-path ``/col/null_rate``), ``min_distinct``/``max_distinct``
    (MIN/MAX, ``/col/distinct``), ``min``/``max`` numeric value bounds
    on the observed column min/max (MIN/MAX, ``/col/min`` and
    ``/col/max`` — note these gate the AGGREGATE, one row per breached
    table, where the row-level DSL min/max flags every offending row).
    Sub-paths keep each finding's rule id unambiguous, the audio
    feature-rule convention (``/bytes/rms_dbfs``).

    The driver loop is O(#specs) over the collected per-column stat
    rows — the table itself is touched by exactly the one agg scan."""
    return StatsBounds(specs, exact_distinct).frame(df)
