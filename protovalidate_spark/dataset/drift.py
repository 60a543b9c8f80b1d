"""Distribution-drift checks: PSI and KS statistic against a baseline
snapshot (SURVEY.md §2.9; BASELINE.json north_star).

Scale design: drift is computed on HISTOGRAMS, never raw rows, and ALL
columns' histograms come from ONE aggregation pass (round-1 ran 1-3
driver actions per column — O(columns) scans of the table). The pass
stacks (column, bucket-label) pairs row-side, group-counts them (partial
agg map-side, shuffle payload O(columns x buckets)), and ranks
categorical values with a window so the driver collects at most
``max_categories`` rows per column while per-column totals — the
denominator that also covers the pooled ``__other__`` mass — come from
the same aggregation instead of a re-scan. Numeric bounds (needed to
freeze bucket spaces) are a second single aggregation; a full
``snapshot`` is therefore exactly 2 Spark actions and
``drift_violations`` against a frozen baseline is 1
(tests/test_dataset.py pins the action counts).
"""

from __future__ import annotations

import json
import math
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import Code
from .fused import Check, collect

N_BUCKETS = 32
_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def _fix_bounds(lo: Optional[float], hi: Optional[float]) -> Tuple[float, float]:
    """Degenerate/missing bounds -> a 1-wide bucket space (all-null or
    constant columns)."""
    if lo is None or hi is None or not math.isfinite(lo) or lo >= hi:
        lo = lo if lo is not None and math.isfinite(lo) else 0.0
        hi = lo + 1.0
    return float(lo), float(hi)


def numeric_bounds(df: DataFrame, cols: Sequence[str]) -> Dict[str, Tuple[float, float]]:
    """(lo, hi) per numeric column — ONE aggregation for all of them."""
    dtypes = dict(df.dtypes)
    num = [c for c in cols if dtypes[c].split("(")[0] in _NUMERIC]
    if not num:
        return {}
    aggs = []
    for c in num:
        aggs += [F.min(F.col(c).cast("double")).alias(f"{c}__lo"),
                 F.max(F.col(c).cast("double")).alias(f"{c}__hi")]
    r = df.agg(*aggs).collect()[0]
    return {c: (r[f"{c}__lo"], r[f"{c}__hi"]) for c in num}


class Histograms:
    """Relative-frequency histograms of ``cols`` (per ``group_col`` value
    when given) as one slice of the shared aggregate — the building
    block of :class:`Drift`, planned like a check.

    Numeric columns (which must have frozen ``bounds``) bucket via
    ``width_bucket`` into labels ``b<i>``; categoricals use the string
    value, keep the top ``max_categories`` by count and pool the rest
    into ``__other__`` — the pooled mass is derived from the same
    aggregation's per-column total, not a second scan. NULL group values
    histogram under the literal label ``__null__``."""

    def __init__(self, cols: Sequence[str],
                 bounds: Optional[Dict[str, Tuple[float, float]]] = None,
                 group_col: Optional[str] = None,
                 n_buckets: int = N_BUCKETS, max_categories: int = 1000):
        self.cols = list(cols)
        self.bounds = bounds or {}
        self.group_col = group_col
        self.n_buckets = n_buckets
        self.max_categories = max_categories

    def plan(self, agg):
        p = agg.scope()
        self._keys = {f"{p}{j}": c for j, c in enumerate(self.cols)}
        self._numeric = set()
        grp = (F.coalesce(F.col(self.group_col).cast("string"),
                          F.lit("__null__"))
               if self.group_col else None)
        for k, c in self._keys.items():
            if agg.dtypes[c].split("(")[0] in _NUMERIC:
                lo, hi = _fix_bounds(*self.bounds.get(c, (None, None)))
                label = F.concat(
                    F.lit("b"),
                    F.width_bucket(F.col(c).cast("double"), F.lit(lo),
                                   F.lit(hi), F.lit(self.n_buckets))
                    .cast("bigint").cast("string"))
                # numeric labels are <= n_buckets+2: keep them all
                self._numeric.add(c)
                agg.totals(k)
            else:
                label = F.col(c)
                agg.cap(k, self.max_categories)
            # gated on the label: width_bucket is NULL for NaN too
            agg.stack(k, grp, label, when=label.isNotNull())
        self._h = f"{p}h"
        agg.per_key(F.collect_list(agg.mine(
            list(self._keys), F.struct("l1", "l2", "cnt", "t1")))
            .alias(self._h))

    def histograms(self, res) -> Dict[Optional[str], Dict[str, dict]]:
        """``{group: {col: {label: freq}}}`` (group None when ungrouped)."""
        out: Dict[Optional[str], Dict[str, dict]] = (
            {} if self.group_col else {None: {c: {} for c in self.cols}})
        for k, c in self._keys.items():
            for e in (res.key(k) or {}).get(self._h, []):
                per_col = out.setdefault(e["l1"], {c2: {} for c2 in self.cols})
                per_col[c][e["l2"]] = e["cnt"] / e["t1"]
        for per_col in out.values():
            for c in self.cols:
                if c in self._numeric:
                    continue
                rest = 1.0 - sum(per_col[c].values())
                if rest > 1e-12:
                    per_col[c]["__other__"] = rest
        return out


def histograms(df: DataFrame, cols: Sequence[str],
               bounds: Optional[Dict[str, Tuple[float, float]]] = None,
               n_buckets: int = N_BUCKETS,
               max_categories: int = 1000) -> Dict[str, Dict[str, float]]:
    """Relative-frequency histograms for ALL ``cols`` in ONE Spark action
    (see :class:`Histograms` for the labels and the category cap)."""
    h = Histograms(cols, bounds, n_buckets=n_buckets,
                   max_categories=max_categories)
    return h.histograms(collect(df, [h]))[None]


def grouped_histograms(df: DataFrame, group_col: str, cols: Sequence[str],
                       bounds: Optional[Dict[str, Tuple[float, float]]] = None,
                       n_buckets: int = N_BUCKETS,
                       max_categories: int = 1000
                       ) -> Dict[str, Dict[str, Dict[str, float]]]:
    """``{group_value: {col: {label: freq}}}`` — the same ONE-action
    stacked aggregation as :func:`histograms`, keyed additionally by
    ``group_col``. The group column must be low-cardinality (shard /
    ingest day / source / codec): the driver collects
    O(groups × cols × buckets) rows. NULL group values histogram under
    the literal label ``__null__`` (a NULL-group shard drifts too)."""
    h = Histograms(cols, bounds, group_col, n_buckets, max_categories)
    return h.histograms(collect(df, [h]))


def drift_by_group_violations(
    df: DataFrame, group_col: str, baseline: Dict[str, dict],
    psi_threshold: float = 0.2,
    ks_threshold: Optional[float] = 0.1,
) -> DataFrame:
    """Per-GROUP drift against a GLOBAL baseline snapshot — the check
    that catches one bad shard / source / ingest day whose drift the
    whole-table test dilutes below threshold. One violation row per
    (group, drifted column): ``(group, field_path, rule_id=DRIFT,
    message, actual='psi=..[,ks=..]')``. ONE Spark action (the grouped
    stacked histogram); pass ``ks_threshold=None`` to gate on PSI only."""
    return Drift(baseline, psi_threshold, ks_threshold,
                 group_col=group_col).frame(df)


def histogram(df: DataFrame, col: str, lo: Optional[float] = None,
              hi: Optional[float] = None, n_buckets: int = N_BUCKETS,
              max_categories: int = 1000) -> Dict[str, float]:
    """Single-column wrapper over :func:`histograms` (1 action with frozen
    bounds / categoricals; +1 bounds pass when numeric bounds absent)."""
    dtype = dict(df.dtypes)[col].split("(")[0]
    bounds = {}
    if dtype in _NUMERIC:
        if lo is None or hi is None:
            blo, bhi = numeric_bounds(df, [col]).get(col, (None, None))
            lo = lo if lo is not None else blo
            hi = hi if hi is not None else bhi
        bounds[col] = (lo, hi)
    return histograms(df, [col], bounds, n_buckets, max_categories)[col]


def histogram_counts(df: DataFrame, col: str, lo: float, hi: float,
                     n_buckets: int = N_BUCKETS) -> DataFrame:
    """Distributed equi-width histogram as a DataFrame (bucket, cnt) —
    the shuffle-light building block behind drift checks (bucket 0 =
    below lo, n_buckets+1 = at/above hi, PostgreSQL width_bucket
    semantics)."""
    return (df.filter(F.col(col).isNotNull())
            .groupBy(F.width_bucket(F.col(col).cast("double"),
                                    F.lit(float(lo)), F.lit(float(hi)),
                                    F.lit(n_buckets)).cast("bigint")
                     .alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def psi(expected: Dict[str, float], actual: Dict[str, float],
        eps: float = 1e-6) -> float:
    """Population Stability Index: sum((a-e) * ln(a/e)) over shared bucket
    space; missing buckets floored at eps."""
    keys = set(expected) | set(actual)
    s = 0.0
    for k in keys:
        e = max(expected.get(k, 0.0), eps)
        a = max(actual.get(k, 0.0), eps)
        s += (a - e) * math.log(a / e)
    return s


def chi2_distance(expected: Dict[str, float], actual: Dict[str, float],
                  eps: float = 1e-6) -> float:
    """Chi-square distance on relative frequencies:
    sum((a - e)^2 / max(e, eps)). This is the n-free histogram DISTANCE
    (threshold-gated like PSI), not Pearson's test statistic — the
    one-action design never materializes the actual row count here;
    multiply by n yourself if you want the test statistic."""
    keys = set(expected) | set(actual)
    s = 0.0
    for k in keys:
        e = expected.get(k, 0.0)
        a = actual.get(k, 0.0)
        # clamp the DENOMINATOR only — the numerator keeps the true
        # (a - e) gap so a brand-new category contributes a^2/eps,
        # matching both the docstring and the SQL oracle formula
        s += (a - e) * (a - e) / max(e, eps)
    return s


def js_divergence(expected: Dict[str, float], actual: Dict[str, float]) -> float:
    """Jensen-Shannon divergence (natural log, bounded [0, ln 2]) —
    symmetric and finite even when one side has empty buckets, which
    PSI only achieves via the eps floor. 0*ln(0/m) := 0."""
    keys = set(expected) | set(actual)
    s = 0.0
    for k in keys:
        e = expected.get(k, 0.0)
        a = actual.get(k, 0.0)
        m = (e + a) / 2.0
        if e > 0:
            s += 0.5 * e * math.log(e / m)
        if a > 0:
            s += 0.5 * a * math.log(a / m)
    return s


def ks_stat(expected: Dict[str, float], actual: Dict[str, float]) -> float:
    """Kolmogorov–Smirnov statistic on the bucketed CDFs (buckets ordered by
    label; exact enough for drift-gating on shared equi-width buckets)."""
    def key_order(k: str):
        if k.startswith("b") and k[1:].isdigit():
            return (0, int(k[1:]), "")
        return (1, 0, k)
    keys = sorted(set(expected) | set(actual), key=key_order)
    ce = ca = 0.0
    d = 0.0
    for k in keys:
        ce += expected.get(k, 0.0)
        ca += actual.get(k, 0.0)
        d = max(d, abs(ce - ca))
    return d


def snapshot(df: DataFrame, cols: Sequence[str]) -> Dict[str, dict]:
    """Baseline snapshot: per-column histogram + numeric bounds (the bounds
    freeze the bucket space for later comparisons). JSON-serializable.
    Exactly 2 Spark actions regardless of column count."""
    bounds = numeric_bounds(df, cols)
    fixed = {c: _fix_bounds(*b) for c, b in bounds.items()}
    hists = histograms(df, cols, fixed)
    out = {}
    for c in cols:
        lo, hi = bounds.get(c, (None, None))
        out[c] = {"lo": lo, "hi": hi, "hist": hists[c]}
    return out


def save_snapshot(snap: Dict[str, dict], path: str) -> None:
    with open(path, "w") as f:
        json.dump(snap, f)


def load_snapshot(path: str) -> Dict[str, dict]:
    with open(path) as f:
        return json.load(f)


class Drift(Check):
    """The drift finder (:func:`drift_violations`, or
    :func:`drift_by_group_violations` with ``group_col``): histograms
    from the shared aggregate, PSI/KS (and optional chi2/JS) gates
    evaluated on the driver."""

    def __init__(self, baseline: Dict[str, dict], psi_threshold: float = 0.2,
                 ks_threshold: Optional[float] = 0.1,
                 chi2_threshold: Optional[float] = None,
                 js_threshold: Optional[float] = None,
                 group_col: Optional[str] = None):
        self.baseline = baseline
        self.psi_threshold = psi_threshold
        self.ks_threshold = ks_threshold
        self.chi2_threshold = chi2_threshold
        self.js_threshold = js_threshold
        self.group_col = group_col

    def columns(self, df):
        return ([(self.group_col, "string")] if self.group_col else []) \
            + super().columns(df)

    def plan(self, agg):
        bounds = {c: _fix_bounds(s.get("lo"), s.get("hi"))
                  for c, s in self.baseline.items()
                  if agg.dtypes[c].split("(")[0] in _NUMERIC}
        self._h = Histograms(list(self.baseline), bounds, self.group_col)
        self._h.plan(agg)

    def findings(self, res):
        hists = self._h.histograms(res)
        rows = []
        for g in sorted(hists, key=lambda g: (g is not None, g)):
            for c, snap in self.baseline.items():
                cur = hists[g].get(c, {})
                p = psi(snap["hist"], cur)
                bad = p > self.psi_threshold
                actual = f"psi={p:.4f}"
                gates = [f"psi>{self.psi_threshold}"]
                if self.ks_threshold is not None:  # None: PSI-only gating
                    k = ks_stat(snap["hist"], cur)
                    bad = bad or k > self.ks_threshold
                    actual += f",ks={k:.4f}"
                    gates.append(f"ks>{self.ks_threshold}")
                if self.chi2_threshold is not None:
                    x2 = chi2_distance(snap["hist"], cur)
                    bad = bad or x2 > self.chi2_threshold
                    actual += f",chi2={x2:.4f}"
                    gates.append(f"chi2>{self.chi2_threshold}")
                if self.js_threshold is not None:
                    js = js_divergence(snap["hist"], cur)
                    bad = bad or js > self.js_threshold
                    actual += f",js={js:.4f}"
                    gates.append(f"js>{self.js_threshold}")
                if not bad:
                    continue
                if self.group_col:
                    rows.append((g, f"/{c}", Code.DRIFT,
                                 "group distribution drifts from the global "
                                 f"baseline ({' or '.join(gates)})", actual))
                else:
                    rows.append((f"/{c}", Code.DRIFT,
                                 "distribution drift exceeds thresholds "
                                 f"({' or '.join(gates)})", actual))
        return rows


def drift_violations(
    df: DataFrame, baseline: Dict[str, dict],
    psi_threshold: float = 0.2, ks_threshold: Optional[float] = 0.1,
    chi2_threshold: Optional[float] = None,
    js_threshold: Optional[float] = None,
) -> DataFrame:
    """Dataset-level violation rows (one per drifted column): field_path,
    rule_id=DRIFT, message, actual='psi=..,ks=..'. Not attributable to a
    single row — row keys are NULL. ONE Spark action for all columns
    (bucket spaces are frozen by the baseline's stored bounds).
    ``chi2_threshold``/``js_threshold`` optionally add the chi-square
    distance and Jensen-Shannon gates (computed from the SAME
    histograms — no extra action); when enabled their values join the
    ``actual`` string."""
    return Drift(baseline, psi_threshold, ks_threshold, chi2_threshold,
                 js_threshold).frame(df)
