"""String rule set (reference /root/reference/pkg/rules/string.go, 307 LoC,
plus string_rule_{min,max,minexclusive,maxexclusive,values,regex}.go and
rule_{minlen,maxlen}.go).

All rules compile to native Catalyst expressions (whole-stage codegen — the
reference is reflection-based per-value Go; this is the Spark-first
re-expression, SURVEY.md §2.3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import Code
from .base import ComparableMixin, MembershipMixin, Rule, RuleSet


@dataclass(frozen=True)
class StringRuleSet(RuleSet, ComparableMixin, MembershipMixin):
    SPARK_TYPE: str = "string"

    # Length is BYTE length to match Go ``len(string)``
    # (reference rule_minlen.go:16-23 uses len(s) on the UTF-8 string).
    def min_len(self, n: int) -> "StringRuleSet":
        return self._with_rule(Rule(
            Code.MIN_LEN, lambda c: F.octet_length(c) >= n,
            f"length must be at least {n}", conflict_key="min_len",
            params={"n": n}))

    def max_len(self, n: int) -> "StringRuleSet":
        return self._with_rule(Rule(
            Code.MAX_LEN, lambda c: F.octet_length(c) <= n,
            f"length must be at most {n}", conflict_key="max_len",
            params={"n": n}))

    def min_len_chars(self, n: int) -> "StringRuleSet":
        """Character-length variant (Spark ``length``). The ``chars``
        param tells it apart from the octet form in the rule metadata
        (same rule_id and conflict key otherwise)."""
        return self._with_rule(Rule(
            Code.MIN_LEN, lambda c: F.length(c) >= n,
            f"length must be at least {n} chars", conflict_key="min_len",
            params={"n": n, "chars": True}))

    def regex(self, pattern: str, message: str = "") -> "StringRuleSet":
        """Full-match semantics like Go ``regexp.MatchString`` is *search*;
        the reference uses MatchString (substring match,
        string_rule_regex.go:19-52). ``rlike`` is also substring-search, so
        semantics line up; anchor with ^$ for full match."""
        return self._with_rule(Rule(
            Code.PATTERN, lambda c: c.rlike(pattern),
            message or f"value must match {pattern!r}",
            params={"pattern": pattern}))

    def contains(self, s: str) -> "StringRuleSet":
        return self._with_rule(Rule(
            Code.PATTERN, lambda c: c.contains(s),
            f"value must contain {s!r}", params={"substr": s}))

    def starts_with(self, s: str) -> "StringRuleSet":
        return self._with_rule(Rule(
            Code.PATTERN, lambda c: c.startswith(s),
            f"value must start with {s!r}", params={"prefix": s}))

    def ends_with(self, s: str) -> "StringRuleSet":
        return self._with_rule(Rule(
            Code.PATTERN, lambda c: c.endswith(s),
            f"value must end with {s!r}", params={"suffix": s}))

    def coerce(self, col: Column, input_type: str):
        # int/float/bool/date → string is always lossless
        # (reference string_coerce.go:12-39).
        if input_type == "string":
            return col, F.lit(True), Code.TYPE
        if self.strict:
            return super().coerce(col, input_type)  # raises CompileError
        value = col.cast("string")
        return value, F.lit(True), Code.TYPE


def String() -> StringRuleSet:
    """Constructor mirroring ``rules.String()`` (string.go:59-61)."""
    return StringRuleSet()
