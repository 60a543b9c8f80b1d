"""ValidationSuite — the full rule-set pass (FIXTURES.md §6).

Combines:
- row-level object rule set (ONE projection, whole-stage codegen; audio
  decode wired in as ONE Arrow batch stage, decoded struct computed once
  and reused — SURVEY.md §4). Each decodable bytes column gets one
  ``audio/decode.py::with_decoded`` stage whose ``fields`` follow from
  ``audio_features`` / ``audio_vad`` / ``audio_bandwidth``. With none of
  them (``fields=()``) it ships Python each row's 44-byte WAV header and
  payload length, plus the payload only for rows a Catalyst guard
  cannot prove canonical; its struct is ``ok, sr, n_samples, dur_ms``
  with no ``rms``, so a rule reading ``rms`` from it fails at analysis.
  The feature/VAD/bandwidth groups need the samples and ship whole
  payloads,
- scan-based dataset checks (uniqueness, referential, label conflicts,
  monotonicity, reconciliation, outliers) which scan the RAW input (no
  decode cost),
- aggregate-shaped table checks (stats bounds, drift and per-group
  drift, entropy / correlation / MI bounds, volume, calendar,
  freshness) and the ``with_stats`` column stats, all fed by ONE shared
  aggregate (dataset/fused.py),
- per-partition verdicts.

Scan budget at scale: row pass (1 scan incl. decode) + uniqueness
(1 scan of key column only — parquet column pruning) + referential
(1 scan of ref column only) + the shared aggregate (at most 2 scans of
the columns its checks read: one stacked count, one global agg) +
row-count agg (metadata-cheap). ``run`` fires exactly ONE driver action
— the shared aggregate's collect (outlier and embedding-drift specs
without frozen parameters add their own parameter aggs); its findings
re-enter the violation union as one JVM-local relation. Violations are
persisted (or written to a sink) so verdict aggregation never re-runs
the decode stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .audio.decode import decode_ok_rule, with_decoded
from .dataset.fused import collect, local_frame
from .dataset.referential import ref_violations
from .dataset.stats import ColumnStats
from .dataset.uniqueness import unique_violations
from .rules.binary import BinaryRuleSet
from .rules.object import ObjectRuleSet


@dataclass
class RunResult:
    violations: DataFrame        # (row keys..., part?, field_path, rule_id, message, actual)
    verdicts: DataFrame          # (part, pass, rows_scanned, violations)
    stats: Optional[DataFrame]
    # pre-cap stream when max_exemplars_per_rule > 0 (exact counts live
    # here); identical to `violations` otherwise
    violations_full: Optional[DataFrame] = None


@dataclass
class ValidationSuite:
    rules: ObjectRuleSet
    row_keys: Sequence[str] = ()
    partition_col: Optional[str] = None
    unique: Sequence[Sequence[str]] = ()             # e.g. [["clip_id"]]
    refs: Sequence[Tuple[str, DataFrame, str]] = ()  # (col, dim_df, dim_col)
    drift_baseline: Optional[Dict[str, dict]] = None
    psi_threshold: float = 0.2
    ks_threshold: float = 0.1
    # low-cardinality column to ALSO drift-check per group vs the same
    # global baseline (bad-shard detector); group rides the message
    drift_group_col: Optional[str] = None
    stats_cols: Sequence[str] = ()
    extra_object_rules: tuple = field(default_factory=tuple)
    salt_buckets: int = 0
    # bytes columns whose decode stage should ALSO emit the PCM feature
    # fields (peak/clip/silence/zcr/rms_dbfs/dc_offset) — the stage's
    # "features" group, same struct column name, so decode-consumer
    # rules are unaffected
    audio_features: Sequence[str] = ()
    # bytes columns whose decode stage should ALSO emit the energy-VAD
    # fields (segments/speech_ratio/longest_gap_ms/snr_db) — the "vad"
    # group; implies the feature fields too: EVERY audio gate on is
    # still ONE Arrow stage and ONE decode
    audio_vad: Sequence[str] = ()
    # bytes columns whose decode stage should ALSO emit the
    # effective-bandwidth fields (rolloff_hz/bandwidth_ratio — upsample
    # detection, audio/bandwidth.py) — the "bandwidth" group; implies
    # features + VAD: still ONE Arrow stage and ONE decode
    audio_bandwidth: Sequence[str] = ()
    # transcript-label conflict specs (audio/consistency.py): each dict
    # is kwargs for transcript_conflict_violations minus row_key_cols,
    # e.g. {"id_col": "clip_id", "bytes_col": "bytes",
    # "transcript_col": "transcript", "key": "exact"}
    label_conflicts: Sequence[dict] = ()
    # cross-row/cross-table integrity (dataset/integrity.py):
    # monotonic: kwargs for monotonic_violations minus df/row_key_cols
    monotonic: Sequence[dict] = ()
    # reconciliations: kwargs for reconciliation_violations minus `fact`
    # (the suite's df IS the fact side); violations ride with NULL row
    # keys, the dim key appended to the message (same group-drift style)
    reconciliations: Sequence[dict] = ()
    # volume anomaly specs: {"group_col": str, "max_rel_dev": float,
    # "min_count": Optional[int]}
    volume_specs: Sequence[dict] = ()
    # date columns whose calendar must be gap-free between min and max
    calendar_cols: Sequence[str] = ()
    # ingestion-freshness specs (dataset/integrity.py
    # freshness_violations): {"ts_col": str, "max_age_hours": float,
    # "as_of": str (pinned, never wall-clock), "group_col": Optional}
    freshness: Sequence[dict] = ()
    # embedding drift specs: {"col": str, "baseline": dict, ...} — NOTE:
    # eager (two tiny single-row agg jobs fire at plan-build time)
    embedding_drift: Sequence[dict] = ()
    # absolute stats assertions (dataset/stats.py
    # stats_bounds_violations specs: {"col", "max_null_rate",
    # "min_distinct"/"max_distinct", "min"/"max"}) — evaluated on the
    # driver from the shared aggregate's global agg (the one action)
    stats_bounds: Sequence[dict] = ()
    # information-metric bound specs (dataset/metrics.py): each dict is
    # {"kind": "entropy", "cols": [...], "min_entropy"/"max_entropy"} |
    # {"kind": "corr", "col_x", "col_y", "min_r"/"max_r"} |
    # {"kind": "mi", "col_x", "col_y", "min_mi"/"max_mi"} — table-level
    # findings, NULL row keys like the drift family
    metrics: Sequence[dict] = ()
    # robust row-level outlier specs (dataset/outliers.py): each dict is
    # kwargs for iqr_outlier_violations / mad_outlier_violations minus
    # df/row_key_cols, plus "method": "iqr" (default) | "mad". NOTE:
    # eager unless "fences"/"params" (e.g. from a baseline snapshot) is
    # supplied — the parameter agg fires at plan-build time; the flag
    # pass itself is shuffle-free
    outliers: Sequence[dict] = ()
    # >0: bound the MATERIALIZED violation rows to the k deterministically
    # smallest (by row_keys) per (field_path, rule_id) — at 10^12 rows a
    # pervasive rule would otherwise materialize billions of rows into
    # the sink. Verdict counts stay EXACT (aggregated from the pre-cap
    # stream); only RunResult.violations / the runner's parquet sink are
    # capped. Skew-immune: the rank window gets a map-side partial
    # WindowGroupLimit, shuffle ≤ P·k per rule (errors.cap_exemplars)
    max_exemplars_per_rule: int = 0

    # ------------------------------------------------------------------

    def _decodable_cols(self):
        return [k.name for k in self.rules.keys
                if isinstance(k.rule_set, BinaryRuleSet)
                and k.rule_set.decodable_codec]

    def _keep(self):
        cols = list(self.row_keys)
        if self.partition_col:
            cols.append(self.partition_col)
        return cols

    def _audio_fields(self, col: str) -> tuple:
        """The decode stage's field groups for bytes column ``col``:
        bandwidth implies VAD, VAD implies features."""
        bw = col in self.audio_bandwidth
        vad = bw or col in self.audio_vad
        feat = vad or col in self.audio_features
        return tuple(g for g, on in (("features", feat), ("vad", vad),
                                     ("bandwidth", bw)) if on)

    def row_violations(self, df: DataFrame) -> DataFrame:
        """Row-level pass: decode stage (if any) + one validation projection."""
        rules = self.rules
        work = df
        for c in self._decodable_cols():
            work = with_decoded(work, bytes_col=c, out_col=f"__dec_{c}",
                                fields=self._audio_fields(c))
            rules = rules.with_rule(decode_ok_rule(c, f"__dec_{c}"))
        for r in self.extra_object_rules:
            rules = rules.with_rule(r)
        if not rules.allow_unknown:
            rules = rules.with_unknown()  # engine-internal helper cols
        keep = self._keep()
        return rules.violations(work, row_key_cols=keep)

    def _aggregate_checks(self) -> list:
        """The aggregate-shaped checks, each with the name of the output
        column whose value the suite appends to its message."""
        from .dataset.drift import Drift
        from .dataset.integrity import Calendar, Freshness, Volume
        from .dataset.metrics import (Correlation, Entropy,
                                      MutualInformation)
        from .dataset.stats import StatsBounds
        out = []
        if self.stats_bounds:
            out.append((StatsBounds(list(self.stats_bounds)), None))
        for spec in self.metrics:
            s_ = dict(spec)
            kind = {"entropy": Entropy, "corr": Correlation,
                    "mi": MutualInformation}[s_.pop("kind")]
            out.append((kind(**s_).bounded(), None))
        for spec in self.volume_specs:
            gc = spec["group_col"]
            out.append((Volume(F.col(gc), gc,
                               max_rel_dev=spec.get("max_rel_dev", 0.5),
                               min_count=spec.get("min_count")), gc))
        for c in self.calendar_cols:
            out.append((Calendar(F.col(c), c), None))
        for spec in self.freshness:
            gc = spec.get("group_col")
            out.append((Freshness(F.col(spec["ts_col"]), spec["ts_col"],
                                  spec["max_age_hours"], spec["as_of"],
                                  group_col=gc), gc))
        if self.drift_baseline:
            out.append((Drift(self.drift_baseline, self.psi_threshold,
                              self.ks_threshold), None))
            if self.drift_group_col:
                out.append((Drift(self.drift_baseline, self.psi_threshold,
                                  self.ks_threshold,
                                  group_col=self.drift_group_col),
                            self.drift_group_col))
        return out

    def dataset_violations(self, df: DataFrame) -> list:
        return self._dataset_parts(df)[0]

    def _dataset_parts(self, df: DataFrame, stats_cols=None):
        """(dataset-level violation frames, column-stats frame or None).
        The aggregate-shaped checks and the stats share ONE aggregate of
        ``df`` — the one driver action of a suite run — and return as
        one JVM-local frame."""
        keep = self._keep()
        out = []
        for cols in self.unique:
            out.append(unique_violations(
                df, list(cols), row_key_cols=keep,
                salt_buckets=self.salt_buckets))
        for col, dim, dim_col in self.refs:
            out.append(ref_violations(df, col, dim, dim_col, row_key_cols=keep))
        for spec in self.label_conflicts:
            from .audio.consistency import transcript_conflict_violations
            out.append(transcript_conflict_violations(
                df, row_key_cols=keep, **spec))
        null_keys = [F.lit(None).cast("string").alias(k) for k in self.row_keys]
        part = ([F.lit(None).cast("date").alias(self.partition_col)]
                if self.partition_col else [])

        def _tag(v: DataFrame, label_col: Optional[str] = None) -> DataFrame:
            """Project a table-level check's rows into the suite shape:
            NULL row keys; an identifying column rides in the message."""
            msg = (F.concat(F.col("message"), F.lit(f" [{label_col}="),
                            F.col(label_col).cast("string"), F.lit("]"))
                   if label_col else F.col("message"))
            return v.select(*null_keys, *part, "field_path", "rule_id",
                            msg.alias("message"), "actual")

        for spec in self.outliers:
            from .dataset.outliers import (iqr_outlier_violations,
                                           mad_outlier_violations)
            s = dict(spec)
            fn = (mad_outlier_violations if s.pop("method", "iqr") == "mad"
                  else iqr_outlier_violations)
            out.append(fn(df, row_key_cols=keep, **s))
        for spec in self.monotonic:
            from .dataset.integrity import monotonic_violations
            out.append(monotonic_violations(df, row_key_cols=keep, **spec))
        for spec in self.reconciliations:
            from .dataset.integrity import reconciliation_violations
            rv = reconciliation_violations(df, **spec)
            out.append(_tag(rv, spec["dim_key"]))
        for spec in self.embedding_drift:
            from .dataset.embedding import embedding_drift_violations
            ev = embedding_drift_violations(
                df, spec["col"], spec["baseline"],
                z_threshold=spec.get("z_threshold", 1.0),
                max_drift_frac=spec.get("max_drift_frac", 0.1))
            out.append(_tag(ev))

        checks = self._aggregate_checks()
        stats = ColumnStats(stats_cols) if stats_cols is not None else None
        if not checks and stats is None:
            return out, None
        res = collect(df, [c for c, _ in checks] + ([stats] if stats else []))
        spark = df.sparkSession
        blank = (None,) * (len(self.row_keys) + len(part))
        rows = []
        for check, tag in checks:
            names = [n for n, _ in check.columns(df)]
            for r in check.findings(res):
                f = dict(zip(names, r))
                msg = f["message"]
                if tag:
                    label = f[tag]
                    msg = None if label is None else f"{msg} [{tag}={label}]"
                rows.append(blank + (f["field_path"], f["rule_id"], msg,
                                     f["actual"]))
        if checks:
            out.append(local_frame(
                spark, rows,
                [(k, "string") for k in self.row_keys]
                + [(self.partition_col, "date")] * len(part)
                + [(c, "string") for c in
                   ("field_path", "rule_id", "message", "actual")]))
        stats_df = (local_frame(spark, stats.findings(res), stats.columns(df))
                    if stats else None)
        return out, stats_df

    def run(self, df: DataFrame, with_stats: bool = False,
            persist: bool = True) -> RunResult:
        """One suite pass. Plan building fires ONE driver action — the
        shared aggregate of the table-level checks (and the column stats
        with ``with_stats``) — plus the parameter aggs of outlier and
        embedding-drift specs without frozen parameters; everything else
        stays lazy until the caller acts on the returned frames."""
        dparts, stats = self._dataset_parts(
            df, (list(self.stats_cols) or df.columns) if with_stats else None)
        parts = [self.row_violations(df)] + dparts
        violations = parts[0]
        for p in parts[1:]:
            violations = violations.unionByName(p.select(*violations.columns))
        if persist:
            violations = violations.persist(StorageLevel.MEMORY_AND_DISK)

        if self.partition_col:
            pc = self.partition_col
            rows = df.groupBy(pc).agg(F.count(F.lit(1)).alias("rows_scanned"))
            vio = (violations.filter(F.col(pc).isNotNull())
                   .groupBy(pc).agg(F.count(F.lit(1)).alias("violations")))
            verdicts = (
                rows.join(vio, on=pc, how="left")
                    .withColumn("violations", F.coalesce("violations", F.lit(0)))
                    .withColumn("pass", F.col("violations") == 0)
            )
        else:
            # lazy single-row verdict — no eager actions inside run()
            # (round-1 fired df.count() + violations.count() here, which
            # double-executed the decode plan when persist=False)
            rows = df.select(F.count(F.lit(1)).alias("rows_scanned"))
            vio = violations.select(F.count(F.lit(1)).alias("violations"))
            verdicts = (rows.crossJoin(vio)
                        .withColumn("pass", F.col("violations") == 0))

        out_violations = violations
        if self.max_exemplars_per_rule > 0:
            # verdicts above reference the PRE-cap (persisted) frame, so
            # their counts stay exact; only the returned rows are capped
            from .errors import cap_exemplars
            out_violations = cap_exemplars(
                violations, list(self.row_keys),
                self.max_exemplars_per_rule)
        return RunResult(out_violations, verdicts, stats,
                         violations_full=violations)
