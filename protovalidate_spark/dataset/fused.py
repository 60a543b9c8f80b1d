"""One shared aggregate for the table-level checks.

Every aggregate-shaped check (column stats and stats bounds, drift,
entropy, correlation, mutual information, volume, calendar, freshness)
is a :class:`Check` that contributes to ONE :class:`Aggregate` of the
input table — Deequ's scan-sharing analyzers (Schelter et al., VLDB
2018) in this engine's terms:

* **stacked counts.** Each check stacks ``(key, l1, l2[, v])`` entries
  row-side (a drift bucket, a categorical value, a volume group, a
  calendar date, an MI pair, a freshness group). One map-side-combined
  ``groupBy(key, l1, l2)`` counts them (and keeps ``max(v)``); windows
  add per-``(key, l1)`` totals, ranks and marginals to the rows of the
  keys that ask for them (and only those); one ``groupBy(key)`` then reduces each key to the scalars (entropy,
  MI) or the small lists (capped histograms, volume groups, missing
  dates, stale groups) its check reads. Shuffle bytes are
  O(distinct labels), never O(rows).
* **one global agg.** Null counts, min/max, HLL, GK quantiles and
  co-moments for every check in one single-row aggregate.

:func:`collect` fetches both in ONE driver action (two FileScans of the
input at most; the per-key rows and the global row come back as one
union). Each check's :meth:`Check.findings` turns its part of
the collected row into finding rows on the driver; :func:`local_frame`
hands rows back to Spark as a JVM-local relation — a JSON literal
inlined over a one-row range, so no Python worker ever sees them
(``spark.createDataFrame(list)`` plans a ``Scan ExistingRDD`` over a
PythonRDD).

Strings Spark formats (rounded metrics, dates, timestamps) are cast to
string inside the aggregate, before the collect, so every ``message``
and ``actual`` is byte-identical to the per-check plans this replaces.
"""

from __future__ import annotations

import json
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOTALS, _MARGINALS = 1, 2


def _str(c: Optional[Column]) -> Column:
    return F.lit(None).cast("string") if c is None else c.cast("string")


class Aggregate:
    """The shared aggregate that every planned :class:`Check` adds to.

    Checks call :meth:`scope` once for a private prefix, then register
    stacked entries (:meth:`stack`), per-key reductions over the stacked
    counts (:meth:`per_key`; columns ``key, l1, l2, cnt, v`` plus ``t1``
    / ``rn`` on the keys given to :meth:`cap` or :meth:`totals`, and
    ``t2`` / ``nk`` on those given to :meth:`marginals`) and global
    aggregates (:meth:`glob`)."""

    def __init__(self, df: DataFrame):
        self.df = df
        self.dtypes = dict(df.dtypes)
        self._entries: List[tuple] = []
        self._per_key: List[Column] = []
        self._glob: List[Column] = []
        self._caps: Dict[str, int] = {}
        self._win: Dict[str, int] = {}  # key -> _TOTALS | _MARGINALS
        self._n = 0

    def scope(self) -> str:
        self._n += 1
        return f"__f{self._n}_"

    def stack(self, key: str, l1: Optional[Column] = None,
              l2: Optional[Column] = None, v: Optional[Column] = None,
              when: Optional[Column] = None) -> None:
        """One entry per input row under ``key`` (skipped where ``when``
        is false); ``v`` is a timestamp whose max is kept per label."""
        self._entries.append((key, l1, l2, v, when))

    def per_key(self, col: Column) -> None:
        self._per_key.append(col)

    def glob(self, *cols: Column) -> None:
        self._glob.extend(cols)

    def cap(self, key: str, n: int) -> None:
        """Keep only the ``n`` largest labels per ``(key, l1)`` (count
        desc, ``l2`` asc); ``t1`` still totals every label."""
        self._caps[key] = n
        self.totals(key)

    def totals(self, key: str) -> None:
        """Give ``key``'s rows ``t1``, their ``(key, l1)`` total."""
        self._win.setdefault(key, _TOTALS)

    def marginals(self, key: str) -> None:
        """Give ``key``'s rows ``t1``, ``t2`` (the ``(key, l2)`` total)
        and ``nk`` (the key total)."""
        self._win[key] = _MARGINALS

    @staticmethod
    def mine(keys: Sequence[str], col: Column) -> Column:
        """``col`` on the rows of ``keys`` only (NULL elsewhere)."""
        return F.when(F.col("key").isin(*keys), col)

    def _keyed(self) -> DataFrame:
        with_v = any(e[3] is not None for e in self._entries)
        structs = []
        for key, l1, l2, v, when in self._entries:
            fields = [F.lit(key).alias("key"), _str(l1).alias("l1"),
                      _str(l2).alias("l2")]
            if with_v:
                fields.append((F.lit(None) if v is None else v)
                              .cast("timestamp").alias("v"))
            if self._win:
                fields.append(F.lit(self._win.get(key, 0)).alias("w"))
            s = F.struct(*fields)
            structs.append(s if when is None else F.when(when, s))
        aggs = [F.count(F.lit(1)).alias("cnt")]
        if with_v:
            aggs.append(F.max("v").alias("v"))
        if self._win:
            # the window kind rides as an aggregate output, not a grouping
            # column: a filter on it stays above the shared count (one on
            # ``key`` would be pushed below it, into a second scan), so
            # every branch below reuses the count's exchange
            aggs.append(F.max("w").alias("w"))
        counts = (self.df.select(F.explode(F.array(*structs)).alias("p"))
                  .filter(F.col("p").isNotNull()).select("p.*")
                  .groupBy("key", "l1", "l2").agg(*aggs))
        if self._win:
            # only the keys that asked for windows pass through them: a
            # window partitioned by key alone is one serial task
            kinds = set(self._win.values())
            if len(self._win) < len({e[0] for e in self._entries}):
                kinds.add(0)
            parts = [self._windows(counts.filter(F.col("w") == w), w)
                     for w in sorted(kinds)]
            counts = parts[0]
            for p in parts[1:]:
                counts = counts.unionByName(p, allowMissingColumns=True)
        return counts.groupBy("key").agg(*self._per_key)

    def _windows(self, rows: DataFrame, kind: int) -> DataFrame:
        if not kind:
            return rows
        w1 = Window.partitionBy("key", "l1")
        cols = [F.col(c) for c in rows.columns]
        cols.append(F.sum("cnt").over(w1).alias("t1"))
        caps = self._caps if kind == _TOTALS else {}
        if caps:
            cols.append(F.row_number().over(
                w1.orderBy(F.desc("cnt"), F.col("l2"))).alias("rn"))
        if kind == _MARGINALS:
            cols += [F.sum("cnt").over(Window.partitionBy("key", "l2"))
                     .alias("t2"),
                     F.sum("cnt").over(Window.partitionBy("key"))
                     .alias("nk")]
        rows = rows.select(*cols)
        if caps:
            keep = F.lit(True)
            for k, n in caps.items():
                keep = F.when(F.col("key") == k,
                              F.col("rn") <= n).otherwise(keep)
            rows = rows.filter(keep)
        return rows

    def collect(self) -> "Result":
        """The ONE driver action: the per-key rows and the global agg
        row, unioned (the global row has no ``key``)."""
        parts = []
        if self._entries:
            parts.append(self._keyed())
        if self._glob:
            parts.append(self.df.agg(*self._glob))
        one = parts[0]
        for p in parts[1:]:
            one = one.unionByName(p, allowMissingColumns=True)
        return Result(one.collect())


class Result:
    """The collected aggregate: ``g`` maps each global alias to its
    value; :meth:`key` returns a stacked key's reduced row as a dict
    (None when the key got no entries)."""

    def __init__(self, rows):
        self.g: dict = {}
        self._keyed: dict = {}
        for r in rows:
            d = r.asDict()
            if d.get("key") is None:
                self.g = d
            else:
                self._keyed[d["key"]] = d

    def key(self, k: str):
        return self._keyed.get(k)


class Check:
    """An aggregate-shaped check: :meth:`plan` registers what it needs on
    the shared :class:`Aggregate`, :meth:`findings` turns the collected
    :class:`Result` into rows shaped like :meth:`columns`."""

    def columns(self, df: DataFrame) -> List[Tuple[str, object]]:
        return [("field_path", "string"), ("rule_id", "string"),
                ("message", "string"), ("actual", "string")]

    def plan(self, agg: Aggregate) -> None:
        raise NotImplementedError

    def findings(self, res: Result) -> list:
        raise NotImplementedError

    def frame(self, df: DataFrame) -> DataFrame:
        """This check alone: one aggregate, one action, a local frame."""
        return local_frame(df.sparkSession,
                           self.findings(collect(df, [self])),
                           self.columns(df))


def collect(df: DataFrame, checks: Sequence[Check]) -> Result:
    """Plan every check (anything with ``plan(agg)``) on one shared
    aggregate and collect it once."""
    agg = Aggregate(df)
    for c in checks:
        c.plan(agg)
    return agg.collect()


def _wire(v):
    """A cell as JSON: atomic values travel as strings and are cast
    back by Spark (exact for the integers, shortest-repr doubles incl.
    nan/inf, booleans, dates and timestamps the checks emit); lists
    stay JSON arrays."""
    if v is None or isinstance(v, (str, list)):
        return v
    return repr(v) if isinstance(v, float) else str(v)


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                columns: Sequence[Tuple[str, object]]) -> DataFrame:
    """``rows`` as a JVM-local relation with ``columns`` ((name, type)
    pairs; type a DDL string or DataType). Array columns must be
    ``array<double>``; every other column must be atomic."""
    wire = [T.StructField(f"c{i}", T.ArrayType(T.DoubleType())
                          if t == "array<double>" else T.StringType())
            for i, (_, t) in enumerate(columns)]
    payload = json.dumps([{f"c{i}": _wire(v) for i, v in enumerate(r)}
                          for r in rows])
    cells = F.from_json(F.lit(payload), T.ArrayType(T.StructType(wire)))
    return (spark.range(1, numPartitions=1).select(F.inline(cells))
            .select(*[F.col(f"c{i}").cast(t).alias(name)
                      for i, (name, t) in enumerate(columns)]))
