"""Rule / RuleSet core: immutable fluent builders compiled to Spark Columns.

Reference semantics reimplemented (NOT ported):
- ``Rule[T]``: one predicate + ``Replaces`` for dedup + ``String`` for debug
  (/root/reference/pkg/rules/rule.go:34-40). Here a :class:`Rule` carries a
  *predicate builder* ``(Column) -> Column`` returning True when the value
  PASSES, plus metadata (rule_id, conflict key, params, message).
- Parent-chain cloning: every ``with_*`` clones the rule set
  (/root/reference/pkg/rules/string.go:67-79). Here: builders return a new
  RuleSet instance (tuple of rules), never mutate.
- Conflict resolution / ``noConflict``: a new rule structurally prunes
  superseded ancestors (/root/reference/pkg/rules/string.go:207-242,
  int.go:68-77, conflict.go:5-10). Here: ``conflict_key`` — adding a rule
  removes any prior rule sharing the key (last-wins). min/min_exclusive
  share a key, as in the reference; allow/reject value lists are cumulative
  (string_rule_values.go:99-139) and merge instead of replace.
- Accumulate-all-errors: every rule evaluates, errors append, no
  short-circuit (string.go:182-203) — the compiled violations array holds
  one entry per failing rule.
- Coercion short-circuit: a value that fails coercion reports TYPE/RANGE and
  suppresses rule errors (string.go:149-153) — compiled as when/otherwise
  nesting, see ``compile_violations``.
- with_required / with_nil / with_strict: string.go:101-127,
  internal/util/withnil.go:13-28.
- Error customization (WithErrorMessage/Code/Meta): string.go:280-307,
  errors/error_config.go:11-40.

Recording: every builder call (a method returning a new rule set) is
recorded on its result as ``(name, args, kwargs)`` after the ROOT rule
set it started from, so rules/serde.py persists a rule set as the calls
that made it and replays them on load. One hook (``__init_subclass__``)
wraps the methods; ``_clone`` and ``_with_rule`` are the unrecorded
core every builder goes through.
"""

from __future__ import annotations

import functools
import inspect
from dataclasses import dataclass, field, replace
from typing import Any, Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import (
    ACTUAL_TRUNCATE,
    VIOLATION_ARRAY_DDL,
    Code,
    CompileError,
)

PredicateBuilder = Callable[[Column], Column]


def violation_struct(field_path, rule_id, message, actual_col: Column) -> Column:
    """One violation row: (field_path, rule_id, message, actual).

    ``field_path``/``rule_id``/``message`` may be python strings or Columns.
    ``actual`` is stringified and truncated to 50 chars
    (reference internal/util/util.go:14-20).
    """
    def lit_or_col(v):
        return v if isinstance(v, Column) else F.lit(v)

    return F.struct(
        lit_or_col(field_path).alias("field_path"),
        lit_or_col(rule_id).alias("rule_id"),
        lit_or_col(message).alias("message"),
        F.substring(actual_col.cast("string"), 1, ACTUAL_TRUNCATE).alias("actual"),
    )


def typed_empty_array() -> Column:
    return F.array().cast(VIOLATION_ARRAY_DDL)


@dataclass(frozen=True)
class Rule:
    """A single compiled-able rule (reference rule.go:34-40).

    ``predicate(col)`` must return a boolean Column that is True iff the
    (non-null, coerced) value passes. NULL semantics are handled outside
    the rule by the rule set.
    """

    rule_id: str
    predicate: PredicateBuilder
    message: str
    conflict_key: Optional[str] = None
    params: dict = field(default_factory=dict)

    def replaces(self, other: "Rule") -> bool:
        """Reference ``Rule.Replaces`` (rule.go:38, conflict.go:5-10)."""
        return self.conflict_key is not None and self.conflict_key == other.conflict_key

    def __str__(self) -> str:  # debug form, reference util.go:24-58
        args = ", ".join(repr(v) for v in self.params.values())
        return f"With{self.rule_id.title().replace('_', '')}({args})"


class CallDefault:
    """A builder default computed when the builder is called (e.g. the
    clock). The recorded call holds the computed value, so a replay
    reproduces the rule set instead of computing it again."""

    def __init__(self, make: Callable[[], Any]):
        self.make = make


#: the core every builder goes through (a rule added through it
#: directly is off the recorded path) and the record's own accessors
_UNRECORDED = frozenset({"_clone", "_with_rule", "_recording", "_record"})


def _recorded(fn):
    sig = inspect.signature(fn)
    call_defaults = {n: p.default for n, p in sig.parameters.items()
                     if isinstance(p.default, CallDefault)}

    @functools.wraps(fn)
    def builder(self, *args, **kwargs):
        if call_defaults:
            bound = sig.bind(self, *args, **kwargs)
            for n, d in call_defaults.items():
                if bound.arguments.get(n) is None:
                    bound.arguments[n] = d.make()
            args, kwargs = bound.args[1:], bound.kwargs
        out = fn(self, *args, **kwargs)
        # record on results derived from self (not on a child rule set
        # a method hands back); an outer builder overwrites the calls
        # its inner builders recorded
        if isinstance(out, RuleSet) and out is not self:
            root, calls = self._recording()
            if out.__dict__.get("_root") is root:
                out._record(root, calls + ((fn.__name__, args, kwargs),))
        return out

    builder._records = True
    return builder


def _record_builders(cls) -> None:
    for name in dir(cls):
        if name.startswith("__") or name in _UNRECORDED:
            continue
        fn = inspect.getattr_static(cls, name)
        if inspect.isfunction(fn) and not getattr(fn, "_records", False):
            setattr(cls, name, _recorded(fn))


@dataclass(frozen=True)
class RuleSet:
    """Immutable rule collection for one value (reference ruleset.go:18-24).

    Subclasses define ``SPARK_TYPE`` (target type DDL) and builder methods.
    """

    rules: tuple = ()
    required: bool = False
    allow_nil: bool = False
    strict: bool = False
    # error customization (reference string.go:280-307)
    err_message: Optional[str] = None
    err_code: Optional[str] = None
    err_meta: dict = field(default_factory=dict)

    SPARK_TYPE: str = "string"  # overridden by subclasses

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        _record_builders(cls)

    # -- recording (not fields: out of equality, repr and the
    #    constructor) ----------------------------------------------------

    def _recording(self) -> tuple:
        """(root rule set, recorded builder calls) that made this one."""
        return self.__dict__.get("_root", self), self.__dict__.get("_calls", ())

    def _record(self, root: "RuleSet", calls: tuple) -> None:
        object.__setattr__(self, "_root", root)
        object.__setattr__(self, "_calls", calls)

    # -- chaining core ------------------------------------------------------

    def _clone(self, **kw) -> "RuleSet":
        out = replace(self, **kw)
        out._record(*self._recording())
        return out

    def _with_rule(self, rule: Rule) -> "RuleSet":
        """Append a rule, pruning conflicting ancestors (noConflict,
        reference string.go:207-242)."""
        kept = tuple(r for r in self.rules if not rule.replaces(r))
        return self._clone(rules=kept + (rule,))

    # -- lifecycle builders (every type; reference string.go:101-127) -------

    def required_(self) -> "RuleSet":
        return self._clone(required=True)

    # alias matching the reference's Required()
    def with_required(self) -> "RuleSet":
        return self._clone(required=True)

    def with_nil(self) -> "RuleSet":
        return self._clone(allow_nil=True)

    def with_strict(self) -> "RuleSet":
        return self._clone(strict=True)

    def with_error_message(self, short: str, long: str = "") -> "RuleSet":
        return self._clone(err_message=short)

    def with_error_code(self, code: str) -> "RuleSet":
        return self._clone(err_code=code)

    def with_error_meta(self, **meta) -> "RuleSet":
        return self._clone(err_meta={**self.err_meta, **meta})

    def with_docs_uri(self, uri: str) -> "RuleSet":
        """Attach a documentation URI to this rule set's violations
        (reference WithDocsURI, string.go:285-307) — carried in err_meta
        and available to report-time renderers (dictionary.localize)."""
        return self.with_error_meta(docs_uri=uri)

    def with_trace_uri(self, uri: str) -> "RuleSet":
        """Attach a trace URI (reference WithTraceURI)."""
        return self.with_error_meta(trace_uri=uri)

    def with_error_callback(self, fn) -> "RuleSet":
        """Report-time violation transform ``(violations_df) -> df``
        (reference WithErrorCallback, applied at
        errors/validation_error.go:59-96). Stored in err_meta; apply via
        ``rs.err_meta['error_callback'](violations)`` after collection —
        per-row Python callbacks have no place in the distributed hot
        path."""
        return self.with_error_meta(error_callback=fn)

    def with_rule(self, rule: Rule) -> "RuleSet":
        """Attach a custom rule (reference WithRule, string.go:246-257)."""
        return self._with_rule(rule)

    def with_rule_func(
        self, fn: PredicateBuilder, rule_id: str = Code.UNKNOWN, message: str = ""
    ) -> "RuleSet":
        """Custom predicate function; never replaces (reference rule.go:43-60)."""
        return self._with_rule(
            Rule(rule_id=rule_id, predicate=fn, message=message or f"custom rule {rule_id}")
        )

    def any(self) -> "RuleSet":
        """Type-erasure no-op (reference WrapAny, wrap_any.go:32) — Python is
        dynamically typed, returns self."""
        return self

    def __str__(self) -> str:
        chain = "".join(f".{r}" for r in self.rules)
        return f"{type(self).__name__}{chain}"

    # -- compilation --------------------------------------------------------

    def coerce(self, col: Column, input_type: str):
        """Return (value_col, cast_ok_col, coerce_code).

        Default: if input type matches, identity; else try_cast with
        null-on-failure detection (lossless-checked coercion, reference
        number_coerce.go / string_coerce.go — Spark's silent cast is wrapped
        with companion predicates by subclasses).
        """
        target = self.SPARK_TYPE
        if input_type == target:
            return col, F.lit(True), Code.TYPE
        if self.strict:
            raise CompileError(
                f"strict rule set {type(self).__name__} ({target}) applied to "
                f"column of type {input_type} (reference WithStrict, "
                f"string.go:101-105)"
            )
        value = col.try_cast(target)
        return value, value.isNotNull(), Code.TYPE

    def _rule_entries(self, value: Column, field_path: str):
        """One `when(fail, violation)` per rule — all evaluate (accumulate-all,
        reference string.go:188-196)."""
        entries = []
        for r in self.rules:
            rid = self.err_code or r.rule_id
            msg = self.err_message or r.message
            entries.append(
                F.when(~F.coalesce(r.predicate(value), F.lit(False)),
                       violation_struct(field_path, rid, msg, value))
            )
        return entries

    def compile_violations(
        self, col: Column, field_path: str, input_type: Optional[str] = None,
        presence: Optional[Column] = None,
    ) -> Column:
        """Compile this rule set over one column into an
        ``array<violation>`` Column (empty array = pass).

        Semantics (reference entry point A, SURVEY.md §3):
        - NULL + required        -> [REQUIRED]   (object.go:493-500)
        - NULL + not with_nil    -> [NULL]       (errors/codes.go:29)
        - NULL + with_nil        -> []           (withnil.go:13-28)
        - coercion failure       -> [TYPE|RANGE] and rule errors suppressed
                                    (string.go:149-153)
        - else                   -> one entry per failing rule (all evaluated)
        """
        input_type = input_type or self.SPARK_TYPE
        value, cast_ok, coerce_code = self.coerce(col, input_type)

        entries = self._rule_entries(value, field_path)
        rules_arr = (
            F.array_compact(F.array(*entries)) if entries else typed_empty_array()
        )

        null_arr = (
            typed_empty_array()
            if self.allow_nil and not self.required
            else F.array(violation_struct(
                field_path,
                self.err_code or (Code.REQUIRED if self.required else Code.NULL),
                self.err_message
                or ("value is required" if self.required else "value may not be null"),
                F.lit(None),
            ))
        )

        type_arr = F.array(violation_struct(
            field_path,
            self.err_code or coerce_code,
            self.err_message or f"cannot coerce value to {self.SPARK_TYPE}",
            col,
        ))

        out = F.when(col.isNull(), null_arr).otherwise(
            F.when(~cast_ok, type_arr).otherwise(rules_arr)
        )
        if presence is not None:
            out = F.when(presence, out).otherwise(typed_empty_array())
        return out

    def output(self, value: Column) -> Column:
        """Output formatting applied by ``ObjectRuleSet.apply`` after
        coercion (reference output assignment, e.g. WithOutputLayout /
        WithFixedOutput). Default: identity."""
        return value

    def coerced(self, col: Column, input_type: str) -> Column:
        """The typed output value for ``col``: coerced where the lossless
        check passes, NULL otherwise (the reference never assigns on
        coercion failure, string.go:149-174)."""
        value, cast_ok, _ = self.coerce(col, input_type)
        return F.when(cast_ok, self.output(value)).otherwise(F.lit(None))

    def compile_predicate(self, col: Column, input_type: Optional[str] = None) -> Column:
        """Evaluate-only form (reference Evaluate, string.go:182-203):
        boolean Column, True iff value passes all rules (ignoring coercion
        and null handling beyond the standard semantics)."""
        return F.size(self.compile_violations(col, "/", input_type)) == 0


_record_builders(RuleSet)


def comparable_lit(v: Any) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


# ---------------------------------------------------------------------------
# Shared builder mixins: min/max/±exclusive + allowed/rejected values.
# Conflict keys mirror the reference's conflictType enums: WithMin replaces a
# prior WithMin AND a prior WithMinExclusive (string.go:207-242, int.go:68-77).
# ---------------------------------------------------------------------------

class ComparableMixin:
    def min(self, v):
        return self._with_rule(Rule(
            Code.MIN, lambda c: c >= comparable_lit(v),
            f"value must be at least {v!r}", conflict_key="min", params={"min": v}))

    def max(self, v):
        return self._with_rule(Rule(
            Code.MAX, lambda c: c <= comparable_lit(v),
            f"value must be at most {v!r}", conflict_key="max", params={"max": v}))

    def min_exclusive(self, v):
        return self._with_rule(Rule(
            Code.MIN_EXCLUSIVE, lambda c: c > comparable_lit(v),
            f"value must be greater than {v!r}", conflict_key="min",
            params={"min_exclusive": v}))

    def max_exclusive(self, v):
        return self._with_rule(Rule(
            Code.MAX_EXCLUSIVE, lambda c: c < comparable_lit(v),
            f"value must be less than {v!r}", conflict_key="max",
            params={"max_exclusive": v}))


class MembershipMixin:
    """Allow-lists are cumulative across calls; reject wins over allow
    (reference number_rule_values.go:99-139, string_rule_values.go:99-139).
    Compiles to Catalyst ``In``/``InSet``."""

    def allowed_values(self, *vals):
        prior = [r for r in self.rules if r.conflict_key == "allowed"]
        merged = tuple(sorted(set(
            (prior[0].params["values"] if prior else ()) + tuple(vals)
        )))
        return self._with_rule(Rule(
            Code.NOTALLOWED, lambda c: c.isin(*merged),
            f"value must be one of {list(merged)!r}"[:120],
            conflict_key="allowed", params={"values": merged}))

    def rejected_values(self, *vals):
        prior = [r for r in self.rules if r.conflict_key == "rejected"]
        merged = tuple(sorted(set(
            (prior[0].params["values"] if prior else ()) + tuple(vals)
        )))
        return self._with_rule(Rule(
            Code.DENIED, lambda c: ~c.isin(*merged),
            f"value may not be one of {list(merged)!r}"[:120],
            conflict_key="rejected", params={"values": merged}))
