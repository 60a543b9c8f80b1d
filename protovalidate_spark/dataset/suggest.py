"""Constraint suggestion: profile a table once, propose a rule set.

The reference engine is declare-then-validate only — the rule set is
authored by hand (/root/reference/pkg/rules/object.go builders). At
dataset scale the standard companion feature (Deequ's
ConstraintSuggestion; Great Expectations' profiler) is the inverse:
derive a candidate rule set FROM the data, then let the operator
review/tighten it and feed it back into the same fluent DSL. This
module closes that loop natively: the suggestions compile straight
into the repo's builders (rules/base.py ComparableMixin,
rules/string.py length/regex, rules/object.py with_key), so
``apply(build_ruleset(suggest_rules(df)))`` type-checks end-to-end.

Scale shape (10^12-row lens):
  * Pass 1 is ONE aggregation over the requested columns — the same
    single-pass stats discipline as dataset/stats.py (map-side partial
    aggregation, single-row result; HLL++ for distinct by default,
    exact count_distinct only in oracle mode).
  * Pass 2 runs ONLY when some column qualified for an allowed-values
    suggestion, and only over those columns: ``collect_set`` partials
    are bounded by the low-cardinality threshold itself (a column only
    qualifies with ≤ ``low_card_max`` distinct values, so every
    partial set is ≤ that), making the second agg's state O(k) per
    partition — no quadratic blowup on a miss-estimated column.
  * No shuffles beyond the two single-row aggregation reduces; the
    scan is column-pruned to the profiled columns.

Suggested rule kinds (column-level unless noted):
  required        null count is zero
  min / max       observed numeric/timestamp bounds
  min_len/max_len observed string octet-length bounds
  allowed_values  low-cardinality value set (sorted JSON array)
  regex           every non-null value is all-digits (^[0-9]+$)
  unique          DATASET-level: distinct == rows and no nulls

Param formatting is cross-engine canonical so the suggestion frame
itself is oracle-checkable (scripts/check_contract.py): integers via
plain string cast, doubles via ``%.6f``, timestamps via
``yyyy-MM-dd HH:mm:ss`` — each reproducible in ANSI SQL.
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NUMERIC_INT = {"tinyint", "smallint", "int", "bigint"}
_NUMERIC_FLT = {"float", "double"}
_TEMPORAL = {"timestamp", "timestamp_ntz", "date"}

SUGGESTION_SCHEMA = ("column string, rule string, param string, "
                     "reason string")


def _fmt_double(c):
    return F.format_string("%.6f", c.cast("double"))


def suggest_rules(df: DataFrame, cols: Optional[Sequence[str]] = None, *,
                  low_card_max: int = 12, low_card_frac: float = 0.1,
                  exact_distinct: bool = False,
                  rsd: float = 0.05) -> DataFrame:
    """One profiling pass (plus a bounded value-set pass) → one row per
    suggested rule: (column, rule, param, reason), ordered by
    (column, rule).

    ``exact_distinct=False`` (the at-scale default) uses HLL++: the
    ``unique`` suggestion then requires the approx estimate to reach
    ``(1 - 2·rsd)·rows`` and says so in its reason; oracle mode
    (exact) requires strict equality.
    """
    dtypes = dict(df.dtypes)
    cols = list(cols or df.columns)
    for c in cols:
        if c not in dtypes:
            raise ValueError(f"no such column: {c}")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        base = dtypes[c].split("(")[0]
        aggs.append(F.sum(F.col(c).isNull().cast("long"))
                    .alias(f"{c}__nulls"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        else:
            aggs.append(F.approx_count_distinct(c, rsd)
                        .alias(f"{c}__distinct"))
        if base in _NUMERIC_INT:
            aggs += [F.min(c).cast("string").alias(f"{c}__min"),
                     F.max(c).cast("string").alias(f"{c}__max")]
        elif base in _NUMERIC_FLT or base == "decimal":
            aggs += [_fmt_double(F.min(c)).alias(f"{c}__min"),
                     _fmt_double(F.max(c)).alias(f"{c}__max")]
        elif base in _TEMPORAL:
            fmt = "yyyy-MM-dd HH:mm:ss"
            aggs += [F.date_format(F.min(c), fmt).alias(f"{c}__min"),
                     F.date_format(F.max(c), fmt).alias(f"{c}__max")]
        elif base == "string":
            aggs += [F.min(F.octet_length(c)).alias(f"{c}__minlen"),
                     F.max(F.octet_length(c)).alias(f"{c}__maxlen"),
                     F.sum(F.col(c).rlike("^[0-9]+$").cast("long"))
                      .alias(f"{c}__digits")]
    row = df.agg(*aggs).collect()[0]
    n = row["__n"]

    # which string columns get an allowed-values suggestion
    value_set_cols = []
    for c in cols:
        if dtypes[c].split("(")[0] != "string":
            continue
        d = row[f"{c}__distinct"]
        nonnull = n - row[f"{c}__nulls"]
        if d and nonnull and d <= low_card_max and d <= low_card_frac * nonnull:
            value_set_cols.append(c)
    value_sets = {}
    if value_set_cols:
        sets_row = df.agg(*[
            F.to_json(F.array_sort(F.collect_set(c)))
             .alias(c) for c in value_set_cols]).collect()[0]
        value_sets = {c: sets_row[c] for c in value_set_cols}

    out = []
    for c in cols:
        base = dtypes[c].split("(")[0]
        nulls, d = row[f"{c}__nulls"], row[f"{c}__distinct"]
        nonnull = n - nulls
        if n and nulls == 0:
            out.append((c, "required", "", f"0 nulls in {n} rows"))
        if base in _NUMERIC_INT or base in _NUMERIC_FLT \
                or base == "decimal" or base in _TEMPORAL:
            if nonnull:
                out.append((c, "min", row[f"{c}__min"], "observed min"))
                out.append((c, "max", row[f"{c}__max"], "observed max"))
        elif base == "string" and nonnull:
            out.append((c, "min_len", str(row[f"{c}__minlen"]),
                        "observed octet length bounds"))
            out.append((c, "max_len", str(row[f"{c}__maxlen"]),
                        "observed octet length bounds"))
            if row[f"{c}__digits"] == nonnull:
                out.append((c, "regex", "^[0-9]+$",
                            "all non-null values are digits"))
            if c in value_sets:
                out.append((c, "allowed_values", value_sets[c],
                            f"{d} distinct values"))
        # unique: key-like types only — a continuous float/timestamp
        # column is near-always incidentally distinct, and suggesting
        # uniqueness there would pin an accident, not a contract
        if n and nulls == 0 and (base in _NUMERIC_INT or base == "string"):
            if exact_distinct:
                if d == n:
                    out.append((c, "unique", "",
                                "distinct == rows, no nulls"))
            elif d >= (1.0 - 2.0 * rsd) * n:
                out.append((c, "unique", "",
                            "approx distinct within rsd of rows"))
    out.sort(key=lambda t: (t[0], t[1]))
    return df.sparkSession.createDataFrame(out, SUGGESTION_SCHEMA)


def build_ruleset(suggestions, dtypes: dict):
    """Compile a suggestion frame (or its collected rows) back into the
    fluent DSL: returns ``(ObjectRuleSet, unique_key_lists)`` ready for
    ValidationSuite(rules=..., unique=...). ``dtypes`` is
    ``dict(df.dtypes)`` of the table the rules will be applied to —
    param strings are parsed back to typed bounds with it."""
    from ..rules import (Bool, Float32, Float64, Int, Object, String,
                         Time)

    if isinstance(suggestions, DataFrame):
        suggestions = suggestions.collect()

    by_col: dict = {}
    unique: list = []
    for r in suggestions:
        c, rule, param = r["column"], r["rule"], r["param"]
        if rule == "unique":
            unique.append([c])
        else:
            by_col.setdefault(c, []).append((rule, param))

    def parse(base: str, param: str):
        if base in _NUMERIC_INT:
            return int(param)
        if base in _NUMERIC_FLT or base == "decimal":
            return float(param)
        if base in _TEMPORAL:
            return _dt.datetime.strptime(param, "%Y-%m-%d %H:%M:%S")
        return param

    obj = Object()
    for c, rules in by_col.items():
        base = dtypes.get(c, "string").split("(")[0]
        if base in _NUMERIC_INT:
            rs = Int(width="int64" if base == "bigint" else
                     {"tinyint": "int8", "smallint": "int16",
                      "int": "int32"}.get(base, "int64"))
        elif base == "float":
            rs = Float32()
        elif base in _NUMERIC_FLT or base == "decimal":
            rs = Float64()
        elif base in _TEMPORAL:
            rs = Time()
        elif base == "boolean":
            rs = Bool()
        else:
            rs = String()
        if "required" not in {r for r, _ in rules}:
            # no required suggestion ⇒ the profiled data had NULLs ⇒
            # the compiled set must tolerate them (with_nil), or the
            # acceptance property breaks on the profiling table itself
            rs = rs.with_nil()
        for rule, param in rules:
            if rule == "required":
                rs = rs.with_required()
            elif rule == "min":
                rs = rs.min(parse(base, param))
            elif rule == "max":
                rs = rs.max(parse(base, param))
            elif rule == "min_len":
                rs = rs.min_len(int(param))
            elif rule == "max_len":
                rs = rs.max_len(int(param))
            elif rule == "regex":
                rs = rs.regex(param)
            elif rule == "allowed_values":
                rs = rs.allowed_values(*json.loads(param))
        obj = obj.with_key(c, rs)
    return obj.with_unknown(), unique
