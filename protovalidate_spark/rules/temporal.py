"""Time / Duration rule sets.

Reference: /root/reference/pkg/rules/time/time.go (386 LoC, constructor
61-64, layout parsing 205-224), time/duration.go (482 LoC, constructor
64-66, unit handling 139-155,196-232), and the per-bound rule files
time/rule_{min,max,minexclusive,maxexclusive}.go,
time/rule_duration_*.go, time/rule_{mindiff,maxdiff}.go.

Spark mapping (SURVEY.md §2.4): TimestampType column; string→time via
``coalesce(to_timestamp(col, fmt1), ...)`` (first-match-wins layout list);
Duration = numeric column scaled by WithUnit to milliseconds.
min_diff/max_diff/expired pin "now" when the builder is called, for
deterministic plans and replays (the reference evaluates time.Until at
call time, rule_mindiff.go:19-53).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import Code, CompileError
from .base import CallDefault, ComparableMixin, MembershipMixin, Rule, RuleSet

#: ns per unit, mirroring Go time constants (duration.go WithUnit default ns)
UNIT_MS = {
    "ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
}

#: "now" when the builder is called (naive UTC); the recorded call keeps it
NOW = CallDefault(
    lambda: _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None))


@dataclass(frozen=True)
class TimeRuleSet(RuleSet, ComparableMixin, MembershipMixin):
    layouts: tuple = ()          # cumulative (time.go:134-152)
    output_layout: Optional[str] = None

    SPARK_TYPE: str = "timestamp"

    def with_layouts(self, *fmts: str) -> "TimeRuleSet":
        return self._clone(layouts=self.layouts + tuple(fmts))

    def with_output_layout(self, fmt: str) -> "TimeRuleSet":
        return self._clone(output_layout=fmt)

    def output(self, value: Column) -> Column:
        """WithOutputLayout (time/time.go:155-170): format the coerced
        timestamp on assignment."""
        if self.output_layout:
            return F.date_format(value, self.output_layout)
        return value

    def min_diff(self, delta: _dt.timedelta, now: _dt.datetime = NOW):
        """value - now >= delta (reference rule_mindiff.go:19-53). ``now`` is
        pinned when the builder is called (pass job-start) for
        deterministic plans."""
        bound = now + delta
        return self._with_rule(Rule(
            Code.MIN, lambda c: c >= F.lit(bound),
            f"value must be at least {delta} from now", conflict_key="min_diff",
            params={"delta": delta}))

    def max_diff(self, delta: _dt.timedelta, now: _dt.datetime = NOW):
        bound = now + delta
        return self._with_rule(Rule(
            Code.MAX, lambda c: c <= F.lit(bound),
            f"value must be at most {delta} from now", conflict_key="max_diff",
            params={"delta": delta}))

    def expired(self, now: _dt.datetime = NOW):
        return self._with_rule(Rule(
            Code.EXPIRED, lambda c: c >= F.lit(now),
            "value has expired", params={"now": now}))

    def coerce(self, col: Column, input_type: str):
        base_t = input_type.split("(")[0]
        if base_t in ("timestamp", "timestamp_ntz", "date"):
            return col.cast("timestamp"), F.lit(True), Code.TYPE
        if self.strict:
            raise CompileError(f"strict Time rule set applied to {input_type}")
        if base_t == "string":
            # first-match-wins over the layout list (time.go:205-224)
            fmts = self.layouts or ("yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss",
                                    "yyyy-MM-dd")
            value = F.coalesce(*[F.try_to_timestamp(col, F.lit(f)) for f in fmts])
            return value, value.isNotNull(), Code.TYPE
        if base_t in ("int", "bigint"):
            value = F.timestamp_seconds(col)
            return value, F.lit(True), Code.TYPE
        raise CompileError(f"cannot coerce {input_type} to timestamp")


@dataclass(frozen=True)
class DurationRuleSet(RuleSet, ComparableMixin, MembershipMixin):
    """Durations are carried as BIGINT **milliseconds** (the clips table's
    ``dur_ms``). ``with_unit`` scales numeric input; last unit wins
    (duration.go:139-155)."""

    unit: str = "ms"
    rounding: str = "none"

    SPARK_TYPE: str = "bigint"

    def with_unit(self, unit: str) -> "DurationRuleSet":
        if unit not in UNIT_MS:
            raise CompileError(f"unknown duration unit {unit!r}")
        return self._clone(unit=unit)

    def with_rounding(self, mode: str) -> "DurationRuleSet":
        """Rounding for unit→ms conversion remainders; most recent call
        wins (reference duration.go:158-165). Default ``none`` mirrors
        RoundingNone (rounding.go:13): a value that does not land on a
        whole millisecond is a coercion error, not silently rounded."""
        from .numeric import ROUND_FUNCS
        if mode != "none" and mode not in ROUND_FUNCS:
            raise CompileError(f"unknown rounding mode {mode!r}")
        return self._clone(rounding=mode)

    def _scale(self, raw: Column):
        """(value_ms, ok): scale a unit-denominated numeric column to
        bigint ms honoring the rounding mode (reference
        duration.go:245-275, rounding.go:10-18)."""
        from .numeric import FLOAT_INT_TOLERANCE, ROUND_FUNCS
        if self.rounding == "none":
            value = F.round(raw, 0).cast("bigint")
            ok = F.abs(raw - F.round(raw, 0)) <= FLOAT_INT_TOLERANCE
            return value, ok
        return ROUND_FUNCS[self.rounding](raw).cast("bigint"), F.lit(True)

    def _to_ms(self, v) -> float:
        if isinstance(v, _dt.timedelta):
            return v.total_seconds() * 1e3
        return float(v) * UNIT_MS[self.unit]

    # bound builders take timedelta or numbers-in-unit
    def min(self, v):
        ms = self._to_ms(v)
        return self._with_rule(Rule(
            Code.MIN, lambda c: c >= F.lit(ms).cast("double"),
            f"duration must be at least {ms} ms", conflict_key="min",
            params={"min_ms": ms}))

    def max(self, v):
        ms = self._to_ms(v)
        return self._with_rule(Rule(
            Code.MAX, lambda c: c <= F.lit(ms).cast("double"),
            f"duration must be at most {ms} ms", conflict_key="max",
            params={"max_ms": ms}))

    def min_exclusive(self, v):
        ms = self._to_ms(v)
        return self._with_rule(Rule(
            Code.MIN_EXCLUSIVE, lambda c: c > F.lit(ms).cast("double"),
            f"duration must be greater than {ms} ms", conflict_key="min",
            params={"min_ms_exclusive": ms}))

    def max_exclusive(self, v):
        ms = self._to_ms(v)
        return self._with_rule(Rule(
            Code.MAX_EXCLUSIVE, lambda c: c < F.lit(ms).cast("double"),
            f"duration must be less than {ms} ms", conflict_key="max",
            params={"max_ms_exclusive": ms}))

    def coerce(self, col: Column, input_type: str):
        base_t = input_type.split("(")[0]
        if base_t in ("tinyint", "smallint", "int", "bigint"):
            if self.unit == "ms":
                return col.cast("bigint"), F.lit(True), Code.TYPE
            value, ok = self._scale(col.cast("double") * F.lit(UNIT_MS[self.unit]))
            return value, ok, Code.TYPE
        if base_t in ("float", "double"):
            value, ok = self._scale(col * F.lit(UNIT_MS[self.unit]))
            return value, ok, Code.TYPE
        if self.strict:
            raise CompileError(f"strict Duration rule set applied to {input_type}")
        if base_t == "string":
            parsed = col.try_cast("double")
            value, ok = self._scale(parsed * F.lit(UNIT_MS[self.unit]))
            return value, parsed.isNotNull() & ok, Code.TYPE
        raise CompileError(f"cannot coerce {input_type} to duration")


def Time() -> TimeRuleSet:
    return TimeRuleSet()


def Duration() -> DurationRuleSet:
    return DurationRuleSet()
