"""Rule-set serialization: fluent DSL ⇄ JSON-able dicts.

The reference keeps rule sets as in-process Go values and offers only a
debug ``String()`` form (/root/reference/pkg/rules/rule.go:34-40,
internal/util/util.go:24-58). At dataset scale the standard companion
(a Deequ VerificationSuite persisted to code, a Great Expectations
suite persisted to JSON) is a DECLARATIVE artifact: author or suggest
rules once, version them beside the table contract, load them in any
job. This module closes that loop:

    doc = ruleset_to_dict(rules)          # JSON-able
    rules2 = ruleset_from_dict(doc)       # same violations output
    save_ruleset(rules, path) / load_ruleset(path)

A rule set records the builder calls that made it (rules/base.py): its
root's construction-time fields plus the outermost ``(name, args,
kwargs)`` of each call. The artifact is exactly that record — ``kind``,
the root fields and ``calls`` — and loading is ``kind(**fields)``
followed by the replayed calls, so a round-tripped rule set is built by
the same public builders as the original (pinned in tests/test_serde.py
by comparing compiled violations row-for-row). Rule-set arguments
(``with_key``, ``with_domain``, ``with_query_param``, ...) encode
recursively.

A serialized artifact never silently drops a constraint:

* a callable or Column argument (``with_rule_func``, conditional keys
  and buckets, ``with_cast``) raises ``SerdeError`` naming the builder;
* before writing, the record is replayed from its JSON form and must
  reproduce every rule's (rule_id, conflict_key, params, message), every
  field and every nested key and item set — a rule added off the
  recorded path (``_with_rule``, ``with_rule(Rule(...))``) is refused.
"""

from __future__ import annotations

import datetime as _dt
import json
from dataclasses import MISSING as _MISSING
from dataclasses import fields as _dc_fields
from dataclasses import is_dataclass
from typing import Any

from pyspark.sql import Column

from .base import Rule, RuleSet


class SerdeError(ValueError):
    pass


def _kinds():
    # late imports: serde sits beside the rule modules
    from .array_ import ArrayRuleSet
    from .binary import BinaryRuleSet
    from .boolean import BoolRuleSet
    from .map_ import MapRuleSet
    from .misc import AnyRuleSet, ConstantRuleSet
    from .net import (DomainRuleSet, EmailRuleSet, IPRuleSet, QueryRuleSet,
                      URIRuleSet)
    from .numeric import FloatRuleSet, IntRuleSet
    from .object import ObjectRuleSet
    from .string import StringRuleSet
    from .temporal import DurationRuleSet, TimeRuleSet
    from .vector import VectorRuleSet
    return {
        "string": StringRuleSet, "int": IntRuleSet, "float": FloatRuleSet,
        "bool": BoolRuleSet, "time": TimeRuleSet,
        "duration": DurationRuleSet, "binary": BinaryRuleSet,
        "any": AnyRuleSet, "constant": ConstantRuleSet,
        "array": ArrayRuleSet, "vector": VectorRuleSet,
        "object": ObjectRuleSet, "map": MapRuleSet,
        "domain": DomainRuleSet, "email": EmailRuleSet, "ip": IPRuleSet,
        "uri": URIRuleSet, "query": QueryRuleSet,
    }


# -- value encoding ---------------------------------------------------------

def _enc(v: Any):
    if isinstance(v, RuleSet):
        return {"$rules": _record_to_dict(v)}
    if isinstance(v, _dt.datetime):
        return {"$dt": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"$date": v.isoformat()}
    if isinstance(v, _dt.timedelta):
        return {"$td": v.total_seconds()}
    if isinstance(v, bytes):
        return {"$hex": v.hex()}
    if isinstance(v, (tuple, list)):
        return [_enc(x) for x in v]
    if isinstance(v, dict):
        return {k: _enc(x) for k, x in v.items()}
    if v is None or isinstance(v, (str, int, float, bool)):
        return v
    if callable(v) or isinstance(v, Column):
        raise SerdeError(f"{v!r} is code (a callable or Column)")
    raise SerdeError(f"cannot serialize value {v!r}")


def _dec(v: Any, seq=list):
    """Decode an ``_enc`` value; JSON lists become ``seq`` (rule-set
    builder arguments decode with ``tuple``: rule sets are immutable)."""
    if isinstance(v, dict):
        if "$rules" in v:
            return ruleset_from_dict(v["$rules"])
        if "$dt" in v:
            return _dt.datetime.fromisoformat(v["$dt"])
        if "$date" in v:
            return _dt.date.fromisoformat(v["$date"])
        if "$td" in v:
            return _dt.timedelta(seconds=v["$td"])
        if "$hex" in v:
            return bytes.fromhex(v["$hex"])
        return {k: _dec(x, seq) for k, x in v.items()}
    if isinstance(v, list):
        return seq(_dec(x, seq) for x in v)
    return v


def _is_default(f, v) -> bool:
    """Compare with the dataclass field's default, never truthiness: a
    zero-valued threshold (psi_threshold=0.0) is the STRICTEST gate and
    must survive the round-trip."""
    d = f.default
    if d is _MISSING and f.default_factory is not _MISSING:
        d = f.default_factory()
    if isinstance(d, tuple) and isinstance(v, (list, tuple)):
        return tuple(v) == d
    return v == d


# -- serialize --------------------------------------------------------------

def _record_to_dict(rs: RuleSet) -> dict:
    kind = next((k for k, cls in _kinds().items() if type(rs) is cls), None)
    if kind is None:
        raise SerdeError(
            f"{type(rs).__name__} has no registered serde kind "
            f"(subclassed rule sets must be registered in _kinds)")
    root, calls = rs._recording()
    out: dict = {"kind": kind}
    for f in _dc_fields(root):
        v = getattr(root, f.name)
        if _is_default(f, v):
            continue
        try:
            out[f.name] = _enc(v)
        except SerdeError as e:
            raise SerdeError(
                f"field {f.name} ({kind} rule set) cannot be "
                f"serialized: {e}") from None
    encoded = []
    for name, args, kwargs in calls:
        try:
            call: dict = {"call": name}
            if args:
                call["args"] = _enc(args)
            if kwargs:
                call["kwargs"] = _enc(kwargs)
        except SerdeError as e:
            raise SerdeError(
                f"{name} ({kind} rule set) cannot be serialized: "
                f"{e}") from None
        encoded.append(call)
    if encoded:
        out["calls"] = encoded
    return out


def _signature(v: Any):
    """What a replay must reproduce: every field, and per rule its
    (rule_id, conflict_key, params, message) — predicates are code."""
    if isinstance(v, Rule):
        return ("rule", v.rule_id, v.conflict_key, _signature(v.params),
                v.message)
    if is_dataclass(v) and not isinstance(v, type):
        return (type(v).__name__,) + tuple(
            (f.name, _signature(getattr(v, f.name))) for f in _dc_fields(v))
    if isinstance(v, (tuple, list)):
        return tuple(_signature(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted(((repr(k), _signature(x)) for k, x in v.items()),
                            key=lambda kv: kv[0]))
    if callable(v) or isinstance(v, Column):
        return "<code>"
    return v


def ruleset_to_dict(rs: RuleSet) -> dict:
    doc = _record_to_dict(rs)
    replayed = ruleset_from_dict(json.loads(json.dumps(doc)))
    if _signature(replayed) != _signature(rs):
        raise SerdeError(
            f"replaying the recorded builder calls of this "
            f"{type(rs).__name__} does not reproduce it: a rule or field "
            f"was set off the recorded builder path (e.g. _with_rule or "
            f"_clone); a JSON artifact must never silently drop a "
            f"constraint")
    return doc


# -- replay -----------------------------------------------------------------

def ruleset_from_dict(doc: dict) -> RuleSet:
    cls = _kinds().get(doc.get("kind"))
    if cls is None:
        raise SerdeError(f"unknown rule-set kind {doc.get('kind')!r}")
    if "rules" in doc:
        raise SerdeError(
            "this artifact lists rules, not recorded builder calls; "
            "rebuild the rule set and save it again")
    kw = {}
    for f in _dc_fields(cls):
        if f.name in doc:
            kw[f.name] = _dec(doc[f.name],
                              tuple if isinstance(f.default, tuple) else list)
    rs = cls(**kw)
    for call in doc.get("calls", ()):
        name = call["call"]
        builder = getattr(rs, name, None)
        if not getattr(builder, "_records", False):
            raise SerdeError(f"{name!r} is not a {doc['kind']} builder")
        rs = builder(*_dec(call.get("args", []), tuple),
                     **_dec(call.get("kwargs", {}), tuple))
    return rs


# -- file convenience -------------------------------------------------------

def save_ruleset(rs: RuleSet, path: str) -> None:
    with open(path, "w") as f:
        json.dump(ruleset_to_dict(rs), f, indent=2, sort_keys=True)


def load_ruleset(path: str) -> RuleSet:
    with open(path) as f:
        return ruleset_from_dict(json.load(f))
