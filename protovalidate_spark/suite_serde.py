"""ValidationSuite serialization: the whole table contract as ONE
JSON artifact.

rules/serde.py round-trips a RULE SET; production validation is a
SUITE — row rules plus uniqueness groups, referential dims, drift
baselines, stats bounds, metric gates, integrity specs. Deequ persists
that as a VerificationSuite in code, Great Expectations as a JSON
expectation suite; this module is the engine's equivalent:

    doc = suite_to_dict(suite, ref_paths=[...])
    save_suite(suite, "contract.json", ...)
    suite2 = load_suite("contract.json", spark)   # same violations

Non-JSON members need an explicit side channel, never guessing:

* ``refs`` hold live dim DataFrames — pass ``ref_paths`` (one parquet
  path per ref, in order) and the loader re-reads them;
* ``reconciliations`` hold a dim DataFrame AND a Column aggregate —
  pass ``reconciliation_tables`` (one {"dim_path", "fact_expr_sql"}
  per spec) and the loader rebuilds with ``spark.read.parquet`` +
  ``F.expr``;
* lambda-bearing members (``extra_object_rules``, conditional keys
  inside the rule set) raise ``SerdeError`` — an artifact must never
  silently drop a constraint (same contract as rules/serde.py).

Spec lists that are already plain dicts (stats_bounds, metrics,
outliers, monotonic, volume, freshness, label_conflicts,
embedding_drift incl. its baseline dict, drift_baseline) serialize
verbatim through the same ``_enc``/``_dec`` value codec.
"""

from __future__ import annotations

import dataclasses
import json
from typing import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .rules.serde import (SerdeError, _dec, _enc, ruleset_from_dict,
                          ruleset_to_dict)
from .suite import ValidationSuite

_PLAIN_FIELDS = (
    "row_keys", "partition_col", "salt_buckets", "psi_threshold",
    "ks_threshold", "drift_group_col", "stats_cols", "audio_features",
    "audio_vad", "audio_bandwidth", "calendar_cols",
    "max_exemplars_per_rule",
)
_SPEC_FIELDS = (
    "label_conflicts", "monotonic", "volume_specs", "freshness",
    "embedding_drift", "stats_bounds", "metrics", "outliers",
)
_DEFAULTS = {f.name: f.default for f in dataclasses.fields(ValidationSuite)}


def _is_default(name: str, v) -> bool:
    """Compare against the dataclass default, never truthiness: a
    zero-valued threshold (psi_threshold=0.0) is the STRICTEST gate and
    must survive the round-trip."""
    d = _DEFAULTS[name]
    if isinstance(d, tuple) and isinstance(v, (list, tuple)):
        return tuple(v) == d
    return v == d


def suite_to_dict(suite: ValidationSuite, *,
                  ref_paths: Sequence[str] = (),
                  reconciliation_tables: Sequence[dict] = ()) -> dict:
    if suite.extra_object_rules:
        raise SerdeError(
            "extra_object_rules carry compiled lambdas and cannot be "
            "serialized — move them into the rule set's declarative "
            "builders or re-attach them after load_suite")

    out: dict = {"rules": ruleset_to_dict(suite.rules)}
    for f in _PLAIN_FIELDS:
        v = getattr(suite, f)
        if not _is_default(f, v):
            out[f] = _enc(v)
    if suite.unique:
        out["unique"] = [list(g) for g in suite.unique]
    if suite.drift_baseline is not None:
        out["drift_baseline"] = _enc(suite.drift_baseline)

    if suite.refs:
        if len(ref_paths) != len(suite.refs):
            raise SerdeError(
                f"suite has {len(suite.refs)} refs but "
                f"{len(ref_paths)} ref_paths — the dim DataFrames "
                f"cannot be serialized; provide one parquet path per "
                f"ref, in order")
        out["refs"] = [
            {"col": col, "dim_col": dim_col, "dim_path": path}
            for (col, _dim, dim_col), path in zip(suite.refs, ref_paths)]

    if suite.reconciliations:
        if len(reconciliation_tables) != len(suite.reconciliations):
            raise SerdeError(
                f"suite has {len(suite.reconciliations)} reconciliation "
                f"specs but {len(reconciliation_tables)} "
                f"reconciliation_tables — provide one "
                f'{{"dim_path", "fact_expr_sql"}} per spec, in order')
        recs = []
        for spec, tbl in zip(suite.reconciliations, reconciliation_tables):
            plain = {k: _enc(v) for k, v in spec.items()
                     if k not in ("dim", "fact_expr")}
            plain["dim_path"] = tbl["dim_path"]
            plain["fact_expr_sql"] = tbl["fact_expr_sql"]
            recs.append(plain)
        out["reconciliations"] = recs

    for f in _SPEC_FIELDS:
        v = getattr(suite, f)
        if v:
            out[f] = _enc(list(v))
    return out


def suite_from_dict(doc: dict, spark: SparkSession) -> ValidationSuite:
    kw: dict = {"rules": ruleset_from_dict(doc["rules"])}
    for f in _PLAIN_FIELDS:
        if f in doc:
            kw[f] = _dec(doc[f])
    if "unique" in doc:
        kw["unique"] = [list(g) for g in doc["unique"]]
    if "drift_baseline" in doc:
        kw["drift_baseline"] = _dec(doc["drift_baseline"])
    if "refs" in doc:
        kw["refs"] = [
            (r["col"], spark.read.parquet(r["dim_path"]), r["dim_col"])
            for r in doc["refs"]]
    if "reconciliations" in doc:
        recs = []
        for r in doc["reconciliations"]:
            spec = {k: _dec(v) for k, v in r.items()
                    if k not in ("dim_path", "fact_expr_sql")}
            spec["dim"] = spark.read.parquet(r["dim_path"])
            spec["fact_expr"] = F.expr(r["fact_expr_sql"])
            recs.append(spec)
        kw["reconciliations"] = recs
    for f in _SPEC_FIELDS:
        if f in doc:
            kw[f] = _dec(doc[f])
    return ValidationSuite(**kw)


def save_suite(suite: ValidationSuite, path: str, **kw) -> None:
    with open(path, "w") as f:
        json.dump(suite_to_dict(suite, **kw), f, indent=2, sort_keys=True)


def load_suite(path: str, spark: SparkSession) -> ValidationSuite:
    with open(path) as f:
        return suite_from_dict(json.load(f), spark)
