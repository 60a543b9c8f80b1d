"""Structured Streaming validation (SURVEY.md §2.6, §3 entry point C).

The reference validates streams item-at-a-time through channels
(/root/reference/pkg/rules/slice.go:419-516: producer goroutine →
unbuffered chan → per-item Apply → output chan). Spark's analog is a
micro-batched stream: the SAME compiled rule plan (one projection; the
rules are stateless) applied via ``readStream`` → transformations →
``writeStream``. Nothing about the compilation changes — a compiled
violations column is a streaming-compatible stateless expression, decode
UDF included.

Row-level validation needs no wrapper: ``rules.violations(stream_df)``
and ``suite.row_violations(stream_df)`` run unchanged on a stream, and
:func:`write_violations_stream` is their checkpointed sink;
:func:`write_epoch` is the idempotent write of every ``foreachBatch``
sink.

Dataset-level checks need state and are therefore *windowed* on the
stream (global exact uniqueness over an unbounded stream is unbounded
state by definition):
- :func:`windowed_unique_violations` — duplicates within an event-time
  window, watermarked so state is bounded and late data is handled.
- :func:`stream_key_checks` — the exact keyed checks, one stage: ONE
  ``applyInPandasWithState`` with TTL-bounded state per key, judging
  each arriving row against its key's keeper with :class:`KeyDuplicate`
  (a repeated key) and :class:`KeyConflict` (a label unlike the keeper's).
- :func:`windowed_column_stats` — the per-column stats pass
  (``dataset/stats.py``) per event-time window: ONE stateful
  aggregation, state O(windows × columns).
- :func:`stream_window_checks` — the windowed monitors, one stage: ONE
  watermarked count per (window, check, name, label) and one
  epoch-overwrite sink that judges each closed window with the checks
  :class:`WindowDrift` (PSI/KS vs a frozen baseline snapshot),
  :class:`WindowVolume` (row count vs a pinned rate),
  :class:`WindowOutliers` (fence-breach rate vs frozen fences) and
  :class:`WindowEntropy` (categorical entropy vs pinned bounds).
  Baselines are frozen on the Spark driver, so state stays bounded at
  O(windows × checks × labels) no matter the live cardinality.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .errors import Code
from .rules.base import violation_struct


def windowed_unique_violations(
    stream_df: DataFrame, key_col: str, ts_col: str,
    window: str = "10 minutes", watermark: str = "10 minutes",
) -> DataFrame:
    """Keys seen more than once within an event-time window.

    Emits (window_start, window_end, key, dup_count, field_path, rule_id,
    message, actual). State is bounded by the watermark; at 10^12-row
    scale this is the correct streaming relaxation of the global
    uniqueness check (the batch path gives the exact answer)."""
    agg = (stream_df
           .withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"),
                    F.col(key_col))
           .agg(F.count(F.lit(1)).alias("dup_count"))
           .filter(F.col("dup_count") > 1))
    v = violation_struct(
        f"/{key_col}", Code.UNIQUE,
        f"value of {key_col!r} duplicated within {window}",
        F.col(key_col))
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col(key_col), "dup_count",
        v.alias("_v"),
    ).select("window_start", "window_end", key_col, "dup_count",
             "_v.field_path", "_v.rule_id", "_v.message", "_v.actual")


@dataclass
class KeyDuplicate:
    """Every row of a key after its keeper: rule UNIQUE, ``actual`` the
    key."""

    field_path: str
    message: str
    rule_id = Code.UNIQUE
    label = actual = None


@dataclass
class KeyConflict:
    """A row whose ``label`` Column differs from the keeper's: rule
    CONSISTENT, ``actual`` the row's ``actual`` Column. Labels compare
    as strings, and a NULL label equals only another NULL."""

    label: Column
    actual: Column
    field_path: str
    message: str
    rule_id = Code.CONSISTENT


def stream_key_checks(
    stream_df: DataFrame, key_col: str, id_col: str, checks: Sequence,
    state_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Exact cross-batch keyed checks, one stage: ONE
    ``groupBy(key_col).applyInPandasWithState`` for every check
    (:class:`KeyDuplicate`, :class:`KeyConflict`), so checks on one key
    share one state store and one checkpoint, and a key derived from a
    Python stage (``keyed_fingerprints``) runs that stage once.

    A key's keeper is the row with the smallest typed ``id_col`` value
    in the key's first micro-batch (the batch ``F.min`` keeper of
    ``audio_dup_groups`` / ``transcript_conflicts``). State per key is
    ``(first_id, seen, one keeper label per conflict check)``, dropped
    by a processing-time timeout so it stays bounded: rows further apart
    than the TTL are the batch runner's job. Append mode emits arriving
    rows only, never the rows that set the state; ``first_id`` recovers
    the group.

    NULL keys and keys starting with ``fingerprint.SENTINEL_PREFIX``
    (rows ``keyed_fingerprints`` could not fingerprint) are skipped
    inside the state function. Nothing is filtered before the groupBy:
    a filter on a key derived from a Python stage is pushed below that
    stage and runs it twice (pinned in test_streaming).

    Emits one row per offending row and check: ``(<key_col>, <id_col>,
    first_id, seen, field_path, rule_id, message, actual)``, the key and
    id cast to string; ``seen`` counts the key's rows so far."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .audio.fingerprint import SENTINEL_PREFIX

    cols = [F.col(key_col).cast("string").alias(key_col),
            F.col(id_col).cast("string").alias(id_col),
            F.col(id_col).alias("_order")]
    # plain tuples for the state function: Columns do not pickle
    specs, n_labels = [], 0
    for c in checks:
        j = None
        if c.label is not None:
            j, n_labels = n_labels, n_labels + 1
            cols += [c.label.cast("string").alias(f"_l{j}"),
                     c.actual.cast("string").alias(f"_a{j}")]
        specs.append((j, c.field_path, c.rule_id, c.message))
    out_schema = (f"{key_col} string, {id_col} string, first_id string, "
                  "seen long, field_path string, rule_id string, "
                  "message string, actual string")
    state_schema = "first_id string, seen long" + "".join(
        f", l{j} string" for j in range(n_labels))

    def judge(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        k = key[0]
        if k is None or k.startswith(SENTINEL_PREFIX):
            for _ in pdfs:  # drain the iterator per the state contract
                pass
            return
        batch = pd.concat(list(pdfs), ignore_index=True) \
            .sort_values("_order", kind="mergesort")
        if state.exists:
            first, seen, *refs = state.get
            new = batch
        else:
            first, seen = batch[id_col].iloc[0], 0
            refs = [batch[f"_l{j}"].iloc[0] for j in range(n_labels)]
            new = batch.iloc[1:]
        seen += len(batch)
        state.update((first, seen, *refs))
        state.setTimeoutDuration(state_timeout_ms)
        for j, field_path, rule_id, message in specs:
            bad = new if j is None else \
                new[[x != refs[j] for x in new[f"_l{j}"]]]
            if len(bad):
                yield pd.DataFrame({
                    key_col: k, id_col: bad[id_col], "first_id": first,
                    "seen": seen, "field_path": field_path,
                    "rule_id": rule_id, "message": message,
                    "actual": k if j is None else bad[f"_a{j}"]})

    return (stream_df.select(*cols)
            .groupBy(key_col)
            .applyInPandasWithState(
                judge, out_schema, state_schema, "append",
                GroupStateTimeout.ProcessingTimeTimeout))


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def write_epoch(batch_df: DataFrame, epoch: int, path: str) -> None:
    """A ``foreachBatch`` sink's write: ``batch_df`` as Parquet under
    ``path/__epoch=<epoch>``, overwriting only that partition.
    ``foreachBatch`` is at-least-once (a retry after a committed write
    but before the checkpoint records the epoch replays it), and the
    epoch-keyed dynamic-partition overwrite makes the replay idempotent."""
    (batch_df.withColumn("__epoch", F.lit(int(epoch)))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("__epoch").parquet(path))


def write_violations_stream(
    violations: DataFrame, path: str, checkpoint: str,
    output_mode: str = "append", trigger_available_now: bool = True,
    max_exemplars_per_rule: int = 0,
    exemplar_order_cols: Sequence[str] = (),
):
    """writeStream with checkpointing — the streaming analog of the
    batch runner's violation sink. ``availableNow`` drains the backlog
    and stops (batch-like semantics for tests and backfills); it runs
    no no-data micro-batches, so a watermarked aggregation's windows
    that only a later watermark closes are written by the next run.

    ``max_exemplars_per_rule`` > 0 bounds the rows MATERIALIZED per
    micro-batch to the k smallest (by ``exemplar_order_cols``) per
    (field_path, rule_id) — a pervasive rule firing on a hot stream
    writes k rows per batch, not its raw rate. Per-micro-batch, not
    global: a cross-batch cap would need unbounded state; the batch
    runner's cap applies when the backlog is re-validated offline.
    The cap is a batch transform, so this sink runs in ``foreachBatch``
    and writes through :func:`write_epoch`: its files carry an
    ``__epoch`` partition column, and a replayed epoch overwrites its
    own rows instead of duplicating them."""
    if max_exemplars_per_rule > 0:
        from .errors import cap_exemplars

        def _sink(batch_df: DataFrame, epoch: int) -> None:
            write_epoch(cap_exemplars(batch_df, list(exemplar_order_cols),
                                      max_exemplars_per_rule), epoch, path)

        w = (violations.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", checkpoint)
             .outputMode(output_mode))
    else:
        w = (violations.writeStream.format("parquet")
             .option("path", path)
             .option("checkpointLocation", checkpoint)
             .outputMode(output_mode))
    if not trigger_available_now:
        return w.start()
    # A stateful check's processing-time timeout asks for a no-data
    # micro-batch after every batch, so an availableNow query would
    # never drain. Its data batches still expire timed-out keys, so the
    # query starts without no-data batches (the conf is read at start).
    conf = violations.sparkSession.conf
    prior = conf.get(_NO_DATA_BATCHES, None)
    conf.set(_NO_DATA_BATCHES, "false")
    try:
        return w.trigger(availableNow=True).start()
    finally:
        if prior is None:
            conf.unset(_NO_DATA_BATCHES)
        else:
            conf.set(_NO_DATA_BATCHES, prior)


def windowed_column_stats(
    stream_df: DataFrame, cols: Sequence[str], ts_col: str,
    window: str = "10 minutes", watermark: str = "10 minutes",
    rsd: float = 0.05, quantiles: Sequence[float] = (0.5, 0.95),
    accuracy: int = 2500,
) -> DataFrame:
    """The single-pass per-column stats aggregation
    (:func:`~protovalidate_spark.dataset.stats.column_stats`) computed
    PER EVENT-TIME WINDOW on a stream: one row per (window, column) with
    n_rows, null_rate, min, max, approx_distinct (HLL++) and approx
    quantiles (GK sketch) — both sketches merge incrementally in the
    streaming state store, so state is O(open windows × columns ×
    sketch bytes), bounded by the watermark.

    Append-mode: a window's row emits exactly once, when the watermark
    passes its end. The per-column reshape is a STATELESS post-agg
    explode, so this stays a single stateful operator."""
    from .dataset.stats import stats_aggs

    # the SAME aggregation expressions as the batch column_stats —
    # imported, not re-implemented, so the streaming per-window stats
    # can never drift from the batch baseline they are compared against
    aggs = stats_aggs(dict(stream_df.dtypes), list(cols),
                      quantiles=quantiles, accuracy=accuracy, rsd=rsd)
    agg = (stream_df
           .withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"))
           .agg(*aggs))
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            (F.col(f"{c}__nulls") / F.col("__n")).alias("null_rate"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__distinct").alias("approx_distinct"),
            F.col(f"{c}__q").alias("quantiles"),
        ) for c in cols
    ]
    return (agg.select(F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"),
                       F.explode(F.array(*per_col)).alias("s"))
            .select("window_start", "window_end", "s.*"))


class WindowDrift:
    """PSI/KS drift of each baseline column per event-time window
    against a frozen baseline snapshot
    (:func:`~protovalidate_spark.dataset.drift.snapshot`).

    The bucket space is FROZEN by the snapshot: numeric columns bucket
    by ``width_bucket`` over the stored (lo, hi) into ``N_BUCKETS``;
    categorical values not in the baseline's histogram collapse to
    ``__other__`` at projection time, so state per window is
    O(columns × buckets) whatever the live cardinality. NULL values are
    left out, as in the batch histograms. The verdict reuses the batch
    PSI/KS kernels, so thresholds mean what they mean in
    :func:`~protovalidate_spark.dataset.drift.drift_violations`."""

    def __init__(self, baseline: dict, psi_threshold: float = 0.2,
                 ks_threshold: float = 0.1):
        self.baseline = baseline
        self.psi_threshold = psi_threshold
        self.ks_threshold = ks_threshold

    def entries(self, dtypes: dict):
        from .dataset.drift import N_BUCKETS, _NUMERIC, _fix_bounds

        missing = [c for c in self.baseline if c not in dtypes]
        if missing:
            raise ValueError(
                f"baseline column(s) {missing} missing from the stream "
                f"schema {sorted(dtypes)} — drop them from the baseline "
                f"snapshot or add them to the stream (batch "
                f"stats_drift_violations reports a missing column as a "
                f"REQUIRED violation; a stream cannot, since its bucket "
                f"projection is fixed at setup time)")
        out = []
        for c, snap in self.baseline.items():
            if dtypes[c].split("(")[0] in _NUMERIC:
                lo, hi = _fix_bounds(snap.get("lo"), snap.get("hi"))
                label = F.concat(
                    F.lit("b"),
                    F.width_bucket(F.col(c).cast("double"), F.lit(lo),
                                   F.lit(hi), F.lit(N_BUCKETS))
                    .cast("bigint").cast("string"))
            else:
                known = sorted(k for k in snap.get("hist", {})
                               if k != "__other__")
                val = F.col(c).cast("string")
                label = (F.when(val.isin(*known), val)
                         .otherwise(F.lit("__other__"))
                         if known else F.lit("__other__"))
            label = F.when(F.col(c).isNotNull(), label)
            out.append((c, label, label.isNotNull()))
        return out

    def rows(self, ws, we, counts: dict) -> list:
        from .dataset.drift import ks_stat, psi

        out = []
        for name, hist in sorted(counts.items()):
            total = sum(hist.values())
            actual = {k: v / total for k, v in hist.items()}
            expected = self.baseline[name]["hist"]
            p = psi(expected, actual)
            k = ks_stat(expected, actual)
            if p > self.psi_threshold or k > self.ks_threshold:
                out.append((ws, we, f"/{name}", Code.DRIFT,
                            f"distribution drift exceeds thresholds "
                            f"(psi>{self.psi_threshold} or "
                            f"ks>{self.ks_threshold}) in window",
                            f"psi={p:.4f},ks={k:.4f}"))
        return out


class WindowVolume:
    """Row count per event-time window against a PINNED expected rate
    (the "ingest fell over at 2am" detector): a DRIFT row when the count
    deviates from ``expected_per_window`` by more than ``max_rel_dev``
    (relative) or falls under the ``min_count`` floor. Unlike the batch
    check (mean over observed groups), a stream has no full set of
    sibling windows to average, so derive the rate from a batch baseline
    at the same window size. A window with ZERO rows produces no count
    at all: an absent ingest interval is the batch calendar/volume
    pass's job; a stream can only flag what arrives."""

    def __init__(self, expected_per_window: float, max_rel_dev: float = 0.5,
                 min_count: Optional[int] = None):
        self.expected = expected_per_window
        self.max_rel_dev = max_rel_dev
        self.min_count = min_count

    def entries(self, dtypes: dict):
        return [("__volume__", F.lit("rows"), None)]

    def rows(self, ws, we, counts: dict) -> list:
        cnt = sum(counts["__volume__"].values())
        rel_bad = (abs(cnt - self.expected)
                   / max(self.expected, 1e-9)) > self.max_rel_dev
        if not rel_bad and (self.min_count is None or cnt >= self.min_count):
            return []
        return [(ws, we, "/__volume__", Code.DRIFT,
                 f"window row count deviates from expected "
                 f"{self.expected:g} by more than {self.max_rel_dev}"
                 + (f" or falls below {self.min_count}"
                    if self.min_count is not None else ""),
                 str(cnt))]


class WindowOutliers:
    """Fence-breach RATE per (event-time window, column) against FROZEN
    fences: ``fences`` comes from ``iqr_fences`` over a healthy batch
    baseline, since a stream cannot derive robust quantiles over itself
    without unbounded state. A few breaches per window are what fences
    mean; the monitored regression is the rate jumping over
    ``max_rate`` (a producer started emitting garbage magnitudes)."""

    def __init__(self, fences: dict, max_rate: float = 0.01):
        self.fences = fences
        self.max_rate = max_rate

    def entries(self, dtypes: dict):
        out = []
        for c, (lo, hi, _q1, _q3) in self.fences.items():
            x = F.col(c).cast("double")
            breach = x.isNotNull() & ((x < F.lit(lo)) | (x > F.lit(hi)))
            out.append((c, breach, None))
        return out

    def rows(self, ws, we, counts: dict) -> list:
        out = []
        for c in self.fences:
            n = sum(counts[c].values())
            k = counts[c].get("true", 0)
            rate = k / n
            if rate > self.max_rate:
                out.append((ws, we, f"/{c}", Code.OUTLIER,
                            f"fence-breach rate {rate:.4f} exceeds "
                            f"{self.max_rate} ({k}/{n} rows)",
                            f"{rate:.6f}"))
        return out


class WindowEntropy:
    """Shannon entropy (nats, the batch metric's ``ln(n) -
    sum(c*ln(c))/n`` rounded to 6) of one categorical column per
    event-time window: MIN rows for a collapsing column, MAX rows for a
    category-set explosion. Derive the bounds from the batch
    ``column_entropy`` over a healthy baseline. NULL is a real category
    (a producer pinning a field to NULL is the collapse being
    monitored). State is one counter per (open window, category), so
    point this only at LOW-cardinality columns; the batch entropy MAX
    gate catches a column drifting into a key shape."""

    def __init__(self, col: str, min_entropy: Optional[float] = None,
                 max_entropy: Optional[float] = None):
        self.col = col
        self.min_entropy = min_entropy
        self.max_entropy = max_entropy

    def entries(self, dtypes: dict):
        return [(self.col, F.col(self.col), None)]

    def rows(self, ws, we, counts: dict) -> list:
        import math

        cats = list(counts[self.col].values())
        n = sum(cats)
        h = round(math.log(n) - sum(c * math.log(c) for c in cats) / n, 6)
        out = []
        if self.min_entropy is not None and h < self.min_entropy:
            out.append((ws, we, f"/{self.col}", Code.MIN,
                        f"window entropy below minimum {self.min_entropy} "
                        f"nats (collapsing categorical, "
                        f"{len(cats)} categories over {n} rows)",
                        str(h)))
        if self.max_entropy is not None and h > self.max_entropy:
            out.append((ws, we, f"/{self.col}", Code.MAX,
                        f"window entropy above maximum {self.max_entropy} "
                        f"nats (category explosion, "
                        f"{len(cats)} categories over {n} rows)",
                        str(h)))
        return out


_WINDOW_SCHEMA = ("window_start timestamp, window_end timestamp, "
                  "field_path string, rule_id string, "
                  "message string, actual string")


def stream_window_checks(
    stream_df: DataFrame, ts_col: str, checks: Sequence, out_path: str,
    checkpoint: str, window: str = "10 minutes",
    watermark: str = "10 minutes", trigger_available_now: bool = True,
):
    """Windowed monitors over a stream: ONE watermarked count per
    (event-time window, check, name, label) for every check, judged per
    closed window on the Spark driver.

    Each check (:class:`WindowDrift`, :class:`WindowVolume`,
    :class:`WindowOutliers`, :class:`WindowEntropy`) gives
    ``entries(dtypes)`` — ``(name, label Column, when Column | None)``
    triples — and ``rows(ws, we, counts)``, which turns one closed
    window's ``{name: {label: count}}`` into violation tuples. The
    entries of all checks are stacked into one exploded struct array,
    scoped by the check's index, with labels cast to string (a boolean
    label counts as ``"true"``/``"false"``); a NULL label is a real
    category, and an entry is dropped only where its ``when`` is not
    true. State is one counter per (open window, check, name, label),
    bounded by the watermark, so several checks on one stream share one
    query, one state store and one checkpoint.

    Rows ``(window_start, window_end, field_path, rule_id, message,
    actual)`` go to ``out_path`` as Parquet. Effectively-once per
    window: append mode emits a window's counts in the single
    micro-batch whose watermark closes it, and the ``foreachBatch`` sink
    writes through :func:`write_epoch`, so a replayed epoch overwrites
    its own ``__epoch=<id>`` partition."""
    dtypes = dict(stream_df.dtypes)
    entries = [
        F.struct(F.lit(i).alias("check"), F.lit(name).alias("name"),
                 label.cast("string").alias("label"),
                 (F.lit(True) if when is None else when).alias("keep"))
        for i, check in enumerate(checks)
        for name, label, when in check.entries(dtypes)]
    counts = (stream_df
              .withWatermark(ts_col, watermark)
              .select(F.col(ts_col), F.explode(F.array(*entries)).alias("e"))
              .filter(F.col("e.keep"))
              .groupBy(F.window(ts_col, window).alias("w"),
                       "e.check", "e.name", "e.label")
              .count())

    def _sink(batch_df: DataFrame, epoch: int) -> None:
        wins: dict = {}
        for r in batch_df.collect():
            (wins.setdefault(tuple(r["w"]), {})
             .setdefault(r["check"], {})
             .setdefault(r["name"], {}))[r["label"]] = r["count"]
        rows = [row for (ws, we), per_check in sorted(wins.items())
                for i, cnts in sorted(per_check.items())
                for row in checks[i].rows(ws, we, cnts)]
        if rows:
            write_epoch(batch_df.sparkSession.createDataFrame(
                rows, _WINDOW_SCHEMA).coalesce(1), epoch, out_path)

    w = (counts.writeStream.foreachBatch(_sink)
         .outputMode("append")
         .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        # Unlike write_violations_stream, no-data micro-batches stay on:
        # the last windows close only in the no-data batch that follows
        # the data batch, once the advanced watermark takes effect.
        w = w.trigger(availableNow=True)
    return w.start()
