"""Information-theoretic and dependence column metrics with bound
gates (Shannon entropy, Pearson correlation, mutual information) — the
Deequ-style dataset metrics the stats family doesn't cover.

Where ``column_stats`` judges each column's VALUES (nulls, range,
cardinality) and the drift family judges a column against ITS OWN
history, these judge a column's SHAPE and RELATIONSHIPS in one
snapshot: entropy catches a categorical collapsing to one value (a
producer pinning a field) or exploding into noise; a correlation bound
pins a relationship two numeric columns must keep (price grows with
quantity); mutual information catches categorical pairs that silently
decouple (or couple — a leak) without either marginal moving.

Scale design (10^12 rows): all three are slices of the shared aggregate
(dataset/fused.py), so a suite computes them in the same single pass
as its other table-level checks.
- Entropy: stacked (column, value) entries, ONE map-side-combined
  count (hot values collapse to a row per partition before the
  shuffle), then a per-column reduce over distinct-value rows.
  Shuffle bytes are O(distinct values), never O(rows).
- Correlation: guarded co-moments (covar_samp / stddevs) inside the
  single-row global aggregate — map-side partials, no shuffle beyond
  the 1-row exchange.
- Mutual information: stacked (x, y) pair entries, ONE count; the
  marginals and n are window sums over the tiny pair-count frame (not
  a second table scan), reduced to (n, mi) before the collect.

All three emit single-row (or row-per-column) metric frames with the
decisive float ROUNDed to 6 decimals — integer-count divisions keep
the arithmetic bit-identical across engines, and the round absorbs
sum-order/libm ulps (the psi/ks oracle convention).

Reference analog: value-at-a-time rules only (pkg/rules); dataset
metrics reuse the reference error model (violation row shape,
errors/validation_error.go:11-40) like the rest of SURVEY §2.9.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import Code
from .fused import Check, collect, local_frame


class Entropy(Check):
    """Shannon entropy (nats) of each of ``cols`` from the shared
    aggregate's stacked value counts, NULLs counted as a real category:
    ``ln(n) - sum(c*ln(c))/n`` over integer counts (algebraically
    -sum(p ln p); this form needs no second pass for n and keeps every
    term's operands integer-derived), 6-decimal round. An empty table
    scores no column."""

    def __init__(self, cols: Sequence[str],
                 min_entropy: Optional[float] = None,
                 max_entropy: Optional[float] = None):
        self.cols = list(cols)
        self.min_entropy = min_entropy
        self.max_entropy = max_entropy

    def plan(self, agg):
        p = agg.scope()
        self._keys = {f"{p}{j}": c for j, c in enumerate(self.cols)}
        for k, c in self._keys.items():
            agg.stack(k, F.col(c))
        n = F.sum("cnt")
        e = F.round(F.log(n) - F.sum(F.col("cnt") * F.log("cnt")) / n, 6)
        self._a = (f"{p}n", f"{p}nd", f"{p}e", f"{p}es")
        for col, name in zip((n, F.count(F.lit(1)), e, e.cast("string")),
                             self._a):
            agg.per_key(col.alias(name))

    def metrics(self, res) -> list:
        """(column, n, n_distinct, entropy, entropy as Spark formats it)
        per scored column."""
        out = []
        for k, c in self._keys.items():
            r = res.key(k)
            if r is not None:
                out.append((c, *(r[a] for a in self._a)))
        return out

    def bounded(self) -> "Entropy":
        """This check as a gate: at least one bound must be set."""
        if self.min_entropy is None and self.max_entropy is None:
            raise ValueError("entropy_violations: set min_entropy "
                             "and/or max_entropy")
        return self

    def findings(self, res):
        rows = []
        for c, _, _, e, es in self.metrics(res):
            if self.min_entropy is not None and e < float(self.min_entropy):
                rows.append((f"/{c}", Code.MIN,
                             f"entropy below minimum {self.min_entropy} "
                             "nats (collapsing categorical)", es))
            if self.max_entropy is not None and e > float(self.max_entropy):
                rows.append((f"/{c}", Code.MAX,
                             f"entropy above maximum {self.max_entropy} "
                             "nats (key-shaped noise)", es))
        return rows


class Correlation(Check):
    """Pearson r of two numeric columns from guarded co-moments in the
    shared global agg; ``n`` counts the pairs where both sides are
    non-NULL. A NULL r (constant column, n < 2) violates a min_r
    bound — no correlation is not evidence of the required one."""

    def __init__(self, col_x: str, col_y: str,
                 min_r: Optional[float] = None,
                 max_r: Optional[float] = None):
        self.col_x, self.col_y = col_x, col_y
        self.min_r, self.max_r = min_r, max_r

    def plan(self, agg):
        p = agg.scope()
        both = F.col(self.col_x).isNotNull() & F.col(self.col_y).isNotNull()
        # r = cov/(sx*sy) from guarded co-moments rather than F.corr: under
        # ANSI mode (Spark 4 default) corr on a zero-variance column throws
        # DIVIDE_BY_ZERO instead of returning NULL
        x = F.when(both, F.col(self.col_x).cast("double"))
        y = F.when(both, F.col(self.col_y).cast("double"))
        n = F.sum(both.cast("bigint")).cast("bigint")
        sx, sy = F.stddev_samp(x), F.stddev_samp(y)
        r = F.when((n >= 2) & (sx > 0) & (sy > 0),
                   F.round(F.covar_samp(x, y) / (sx * sy), 6))
        self._a = (f"{p}n", f"{p}r", f"{p}rs")
        agg.glob(*[col.alias(a) for col, a in
                   zip((n, r, r.cast("string")), self._a)])

    def metrics(self, res) -> tuple:
        """(n, r, r as Spark formats it)."""
        return tuple(res.g[a] for a in self._a)

    def bounded(self) -> "Correlation":
        """This check as a gate: at least one bound must be set."""
        if self.min_r is None and self.max_r is None:
            raise ValueError("correlation_violations: set min_r and/or "
                             "max_r")
        return self

    def findings(self, res):
        _, r, rs = self.metrics(res)
        path = f"/{self.col_x},{self.col_y}"
        rows = []
        if self.min_r is not None and (r is None or r < float(self.min_r)):
            rows.append((path, Code.MIN,
                         f"Pearson r below minimum {self.min_r} "
                         "(required relationship broken)",
                         "null" if rs is None else rs))
        # NaN (a NaN input) sorts above every number, as in Spark
        if self.max_r is not None and r is not None \
                and (math.isnan(r) or r > float(self.max_r)):
            rows.append((path, Code.MAX,
                         f"Pearson r above maximum {self.max_r}", rs))
        return rows


class MutualInformation(Check):
    """Mutual information (nats) between two categorical columns from
    the shared aggregate's stacked (x, y) pair counts; rows where either
    side is NULL are excluded. The marginals and n are window sums over
    the pair counts (O(distinct pairs) rows, no second scan);
    ``sum(c_xy * ln(n * c_xy / (c_x * c_y))) / n`` over integer counts,
    rounded to 6."""

    def __init__(self, col_x: str, col_y: str,
                 min_mi: Optional[float] = None,
                 max_mi: Optional[float] = None):
        self.col_x, self.col_y = col_x, col_y
        self.min_mi, self.max_mi = min_mi, max_mi

    def plan(self, agg):
        p = agg.scope()
        self._k = f"{p}0"
        x, y = F.col(self.col_x), F.col(self.col_y)
        agg.stack(self._k, x, y, when=x.isNotNull() & y.isNotNull())
        agg.marginals(self._k)
        # double casts BEFORE the products: n * c_xy at 10^12 rows
        # overflows bigint; as doubles the products stay exact (< 2^53
        # for genuine categoricals) so both engines see identical operands
        term = agg.mine([self._k], F.col("cnt") * F.log(
            (F.col("nk").cast("double") * F.col("cnt"))
            / (F.col("t1").cast("double") * F.col("t2"))))
        mi = F.round(F.sum(term) / F.first("nk"), 6)
        self._a = (f"{p}n", f"{p}mi", f"{p}mis")
        for col, a in zip((F.first("nk"), mi, mi.cast("string")), self._a):
            agg.per_key(col.alias(a))

    def metrics(self, res) -> tuple:
        """(n, mi, mi as Spark formats it); (0, None, None) when no pair
        has both sides set."""
        r = res.key(self._k)
        return (0, None, None) if r is None else tuple(r[a] for a in self._a)

    def bounded(self) -> "MutualInformation":
        """This check as a gate: at least one bound must be set."""
        if self.min_mi is None and self.max_mi is None:
            raise ValueError("mutual_information_violations: set min_mi "
                             "and/or max_mi")
        return self

    def findings(self, res):
        _, mi, mis = self.metrics(res)
        path = f"/{self.col_x},{self.col_y}"
        rows = []
        if self.min_mi is not None and (mi is None
                                        or mi < float(self.min_mi)):
            rows.append((path, Code.MIN,
                         f"mutual information below minimum "
                         f"{self.min_mi} nats (pair decoupled)",
                         "null" if mis is None else mis))
        if self.max_mi is not None and mi is not None \
                and mi > float(self.max_mi):
            rows.append((path, Code.MAX,
                         f"mutual information above maximum "
                         f"{self.max_mi} nats (leak-shaped coupling)", mis))
        return rows


def column_entropy(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Shannon entropy (nats) of each listed column's value
    distribution: ``(column, n, n_distinct, entropy)``, one row per
    column, NULLs counted as a real category (a producer pinning a
    field to NULL is exactly the collapse this catches). An empty
    table produces no rows (there is no distribution to score).

    All columns ride ONE stacked pass (:class:`Entropy`): values are
    cast to string and stacked to (column, value) entries map-side,
    counted with map-side partials, reduced per column."""
    e = Entropy(cols)
    return local_frame(
        df.sparkSession, [m[:4] for m in e.metrics(collect(df, [e]))],
        [("column", "string"), ("n", "bigint"), ("n_distinct", "bigint"),
         ("entropy", "double")])


def entropy_violations(df: DataFrame, cols: Sequence[str],
                       min_entropy: Optional[float] = None,
                       max_entropy: Optional[float] = None) -> DataFrame:
    """Columns whose entropy leaves [min_entropy, max_entropy], as
    violation rows — MIN flags a collapsing categorical (one value
    dominating), MAX an exploding one (key-like noise in a field that
    should be low-cardinality)."""
    return Entropy(cols, min_entropy, max_entropy).bounded().frame(df)


def correlation(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Pearson correlation of two numeric columns as a 1-row frame
    ``(n, r)`` — ONE aggregate scan (streaming co-moments, map-side
    partials). ``n`` counts the pairs where both sides are non-NULL
    (the pairs ``F.corr`` actually uses); ``r`` is NULL when either
    column is constant or n < 2, rounded to 6 decimals."""
    c = Correlation(col_x, col_y)
    return local_frame(df.sparkSession, [c.metrics(collect(df, [c]))[:2]],
                       [("n", "bigint"), ("r", "double")])


def correlation_violations(df: DataFrame, col_x: str, col_y: str,
                           min_r: Optional[float] = None,
                           max_r: Optional[float] = None) -> DataFrame:
    """Violation row (field_path "/col_x,col_y") when Pearson r leaves
    [min_r, max_r] — the relationship contract two numeric columns must
    keep (e.g. extendedprice must track quantity at r ≥ 0.5; a silent
    unit change on one side breaks it while every per-column stat
    stays green). A NULL r (constant column) violates a min_r bound —
    no correlation is not evidence of the required correlation."""
    return Correlation(col_x, col_y, min_r, max_r).bounded().frame(df)


def mutual_information(df: DataFrame, col_x: str,
                       col_y: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns as a
    1-row frame ``(n, mi)``; rows where either side is NULL are
    excluded (NULL-rate is column_stats' finding). MI = 0 ⇔
    independent; MI = min(H(x), H(y)) ⇔ one determines the other (the
    soft version of the functional-dependency check). ONE stacked
    ``(x, y)`` count over the table (:class:`MutualInformation`)."""
    m = MutualInformation(col_x, col_y)
    return local_frame(df.sparkSession, [m.metrics(collect(df, [m]))[:2]],
                       [("n", "bigint"), ("mi", "double")])


def mutual_information_violations(df: DataFrame, col_x: str, col_y: str,
                                  min_mi: Optional[float] = None,
                                  max_mi: Optional[float] = None
                                  ) -> DataFrame:
    """Violation row when MI(col_x; col_y) leaves [min_mi, max_mi]:
    MIN catches a pair that silently decoupled (a join key gone
    stale), MAX a pair that must stay independent coupling up (a
    target leaking into a feature)."""
    return MutualInformation(col_x, col_y, min_mi,
                             max_mi).bounded().frame(df)


def grouped_column_entropy(df: DataFrame, group_col: str,
                           cols: Sequence[str]) -> DataFrame:
    """Shannon entropy per (group, column): the segmented form of
    :func:`column_entropy` — one producer/shard/day whose categorical
    collapsed is invisible to the GLOBAL entropy while the other groups
    keep mixing (exactly the per-group freshness/drift motivation).
    Output ``(group_col, column, n, n_distinct, entropy)``; NULL groups
    are skipped (a NULL shard key is the stats family's finding).

    Same shape as the global metric with the group key prepended: ONE
    stacked melt, map-side-combined (group, column, value) counts —
    shuffle O(groups × distinct values) — then a per-(group, column)
    re-agg. Identical integer-count arithmetic, 6-decimal round."""
    pairs = []
    for c in cols:
        pairs += [F.lit(c), F.col(c).cast("string")]
    melted = (df.filter(F.col(group_col).isNotNull())
              .select(F.col(group_col).alias("__g"),
                      F.explode(F.create_map(*pairs)).alias("column", "v")))
    counts = melted.groupBy("__g", "column", "v") \
        .agg(F.count("*").alias("c"))
    per = (counts.groupBy("__g", "column")
           .agg(F.sum("c").alias("n"),
                F.count("*").alias("n_distinct"),
                F.sum(F.col("c") * F.log("c")).alias("sum_clnc")))
    return per.select(
        F.col("__g").alias(group_col), "column",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.round(F.log("n") - F.col("sum_clnc") / F.col("n"), 6)
         .alias("entropy"))


def grouped_entropy_violations(df: DataFrame, group_col: str,
                               cols: Sequence[str],
                               min_entropy: Optional[float] = None,
                               max_entropy: Optional[float] = None,
                               min_group_rows: int = 1) -> DataFrame:
    """Groups whose per-column entropy leaves the bounds, as violation
    rows with the group identity in the message (the table-level
    convention). ``min_group_rows`` skips tiny groups whose entropy is
    noise (a 2-row group can only score 0 or ln 2)."""
    if min_entropy is None and max_entropy is None:
        raise ValueError("grouped_entropy_violations: set min_entropy "
                         "and/or max_entropy")
    e = grouped_column_entropy(df, group_col, cols) \
        .filter(F.col("n") >= int(min_group_rows))
    msg_tail = (F.lit(f" [{group_col}="),
                F.col(group_col).cast("string"), F.lit("]"))
    checks = []
    if min_entropy is not None:
        checks.append(
            e.filter(F.col("entropy") < F.lit(float(min_entropy)))
             .select(F.concat(F.lit("/"), "column").alias("field_path"),
                     F.lit(Code.MIN).alias("rule_id"),
                     F.concat(F.lit(f"group entropy below minimum "
                                    f"{min_entropy} nats"), *msg_tail)
                      .alias("message"),
                     F.col("entropy").cast("string").alias("actual")))
    if max_entropy is not None:
        checks.append(
            e.filter(F.col("entropy") > F.lit(float(max_entropy)))
             .select(F.concat(F.lit("/"), "column").alias("field_path"),
                     F.lit(Code.MAX).alias("rule_id"),
                     F.concat(F.lit(f"group entropy above maximum "
                                    f"{max_entropy} nats"), *msg_tail)
                      .alias("message"),
                     F.col("entropy").cast("string").alias("actual")))
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out
