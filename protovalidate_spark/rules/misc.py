"""Constant / Any / Interface rule sets.

Reference: constant.go:29-53,136-148 (cached singleton per value; Replaces
everything); any.go:33-36 (Any), any.go:78-83,135-137 (WithForbidden);
inerface.go:25-29,69-74,131-144 (Interface[T]().WithCast — stacked cast
functions, newest first, first non-nil wins).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any as _Any
from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import Code
from .base import Rule, RuleSet

_CONSTANT_CACHE: dict = {}


@dataclass(frozen=True)
class ConstantRuleSet(RuleSet):
    value: _Any = None

    SPARK_TYPE: str = "string"

    def _structural(self) -> "ConstantRuleSet":
        v = self.value
        return self._with_rule(Rule(
            Code.NOTALLOWED, lambda c: c == F.lit(v),
            f"value must equal {v!r}", conflict_key="constant",
            params={"value": v}))

    def coerce(self, col, input_type):
        return col, F.lit(True), Code.TYPE


def Constant(v) -> ConstantRuleSet:
    """Equality rule set; instances interned per value like the reference's
    global cache (constant.go:29-53)."""
    try:
        if v in _CONSTANT_CACHE:
            return _CONSTANT_CACHE[v]
    except TypeError:
        pass  # unhashable — no interning
    rs = ConstantRuleSet(value=v)._structural()
    try:
        _CONSTANT_CACHE[v] = rs
    except TypeError:
        pass
    return rs


@dataclass(frozen=True)
class AnyRuleSet(RuleSet):
    SPARK_TYPE: str = "any"

    def forbidden(self) -> "AnyRuleSet":
        """Any present value ⇒ DENIED (reference any.go:78-83)."""
        return self._with_rule(Rule(
            Code.DENIED, lambda c: c.isNull(),
            "value is forbidden", conflict_key="forbidden"))

    def coerce(self, col, input_type):
        return col, F.lit(True), Code.TYPE


def Any() -> AnyRuleSet:
    return AnyRuleSet(allow_nil=True)


@dataclass(frozen=True)
class InterfaceRuleSet(RuleSet):
    """``Interface[T]().WithCast(fn)`` (reference inerface.go:69-74):
    a stack of cast functions tried newest-first; the first producing a
    non-null value wins. Each cast is a Column transform
    ``(Column) -> Column`` (e.g. ``lambda c: F.try_to_timestamp(c)`` or a
    decode-UDF wrapper); the stack compiles to one ``F.coalesce``. A value
    no cast accepts ⇒ TYPE (coercion short-circuit, SURVEY.md §4)."""

    casts: tuple = ()        # newest first
    out_type: str = "string"

    SPARK_TYPE: str = "any"

    def with_cast(self, fn: Callable[[Column], Column],
                  out_type: Optional[str] = None) -> "InterfaceRuleSet":
        return self._clone(casts=(fn,) + self.casts,
                           out_type=out_type or self.out_type)

    def coerce(self, col, input_type):
        if not self.casts:
            return col, F.lit(True), Code.TYPE
        value = F.coalesce(*[fn(col) for fn in self.casts])
        return value, value.isNotNull(), Code.TYPE


def Interface() -> InterfaceRuleSet:
    return InterfaceRuleSet()
