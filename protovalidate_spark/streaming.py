"""Structured Streaming validation (SURVEY.md §2.6, §3 entry point C).

The reference validates streams item-at-a-time through channels
(/root/reference/pkg/rules/slice.go:419-516: producer goroutine →
unbuffered chan → per-item Apply → output chan). Spark's analog is a
micro-batched stream: the SAME compiled rule plan (one projection; the
rules are stateless) applied via ``readStream`` → transformations →
``writeStream``. Nothing about the compilation changes — a compiled
violations column is a streaming-compatible stateless expression, decode
UDF included.

Dataset-level checks need state and are therefore *windowed* on the
stream (global exact uniqueness over an unbounded stream is unbounded
state by definition):
- :func:`windowed_unique_violations` — duplicates within an event-time
  window, watermarked so state is bounded and late data is handled.
- :func:`windowed_column_stats` — the per-column stats pass
  (``dataset/stats.py``) per event-time window: ONE stateful
  aggregation, state O(windows × columns).
- :func:`windowed_histogram_counts` + :func:`stream_drift_violations` —
  the PSI/KS drift check (``dataset/drift.py``) per event-time window
  against a frozen baseline snapshot. Bucket spaces are frozen
  driver-side from the baseline (numeric bounds AND the categorical
  label set), so streaming state is bounded at
  O(windows × columns × buckets) no matter the live cardinality.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import Code
from .rules.base import violation_struct
from .rules.object import ObjectRuleSet


def stream_violations(stream_df: DataFrame, rules: ObjectRuleSet,
                      row_key_cols: Sequence[str] = ()) -> DataFrame:
    """Row-level violations on a streaming DataFrame — identical plan to
    the batch path (stateless projection + explode), append-mode safe."""
    return rules.violations(stream_df, row_key_cols=row_key_cols)


def stream_suite_violations(stream_df: DataFrame, suite) -> DataFrame:
    """A ValidationSuite's ROW-LEVEL pass (rules + Arrow decode stage +
    consistency rules) over a stream. The decode pandas UDF is stateless,
    so the exact batch plan runs per micro-batch; dataset-level checks
    need state → use :func:`windowed_unique_violations` or the batch
    runner over closed partitions."""
    return suite.row_violations(stream_df)


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


def stateful_unique_violations(
    stream_df: DataFrame, key_col: str,
    state_timeout_ms: int = 3_600_000,
    field_path: str = None, rule_id: str = None,
    drop_null_keys: bool = True,
    skip_key_prefix: str = None,
    emit_ids_col: str = None,
) -> DataFrame:
    """EXACT cross-batch duplicate detection via keyed state
    (``applyInPandasWithState`` — the brief's custom-stateful-operator
    path). Unlike the windowed relaxation, a key is flagged whenever it
    was EVER seen while its state lives: state is one counter per key,
    expired by a processing-time timeout so it stays bounded (the
    streaming trade-off: duplicates further apart than the TTL are the
    batch runner's job).

    Emits one row per micro-batch per key that gained duplicates:
    (key, dup_count_batch, total_seen, field_path, rule_id, message,
    actual). With ``emit_ids_col`` (for DERIVED keys — a content hash
    is not actionable by itself) the row additionally carries
    ``first_id`` (the state-remembered keeper, the batch analog's
    group_id) and ``dup_ids`` (this batch's duplicate row ids), so an
    operator can quarantine the offenders without re-deriving keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout)

    field_path = field_path or f"/{key_col}"
    rule_id = rule_id or Code.UNIQUE
    ids_part = ("first_id string, dup_ids array<string>, "
                if emit_ids_col else "")
    out_schema = (f"{key_col} string, dup_count_batch long, "
                  f"total_seen long, {ids_part}"
                  "field_path string, rule_id string, "
                  "message string, actual string")
    state_schema = ("seen long, first_id string" if emit_ids_col
                    else "seen long")

    def flag_dups(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        # sentinel keys (e.g. per-row keys minted for rows excluded
        # from dedup) are never flagged AND never create state — two
        # byte-identical excluded rows colliding on a sentinel must
        # not read as a duplicate
        if skip_key_prefix and str(key[0]).startswith(skip_key_prefix):
            for _ in pdfs:  # drain the iterator per the state contract
                pass
            return
        if emit_ids_col:
            ids = []
            for p in pdfs:
                ids.extend(str(x) for x in p[emit_ids_col])
            n = len(ids)
        else:
            n = sum(len(p) for p in pdfs)
        seen = state.get[0] if state.exists else 0
        dups = n if seen > 0 else n - 1
        total = seen + n
        if emit_ids_col:
            first = state.get[1] if state.exists else ids[0]
            state.update((total, first))
        else:
            state.update((total,))
        state.setTimeoutDuration(state_timeout_ms)
        if dups > 0:
            row = {
                key_col: [key[0]], "dup_count_batch": [dups],
                "total_seen": [total],
                "field_path": [field_path],
                "rule_id": [rule_id],
                "message": [f"value of {key_col!r} duplicated "
                            f"(stateful exact check)"],
                "actual": [str(key[0])],
            }
            if emit_ids_col:
                row["first_id"] = [first]
                row["dup_ids"] = [ids if seen > 0 else ids[1:]]
            yield pd.DataFrame(row)

    # drop_null_keys=False is for callers whose key column is DERIVED
    # from an expensive (e.g. Python-stage) projection and already
    # guaranteed non-null: the isNotNull predicate would be pushed
    # below that projection and re-instantiate the stage (no
    # cross-operator CSE — pinned in test_streaming)
    src = (stream_df.filter(F.col(key_col).isNotNull())
           if drop_null_keys else stream_df)
    return (src
            .groupBy(key_col)
            .applyInPandasWithState(
                flag_dups, out_schema, state_schema, "append",
                GroupStateTimeout.ProcessingTimeTimeout))


def streaming_audio_dup_violations(
    stream_df: DataFrame, id_col: str = "clip_id",
    bytes_col: str = "bytes", state_timeout_ms: int = 3_600_000,
    chunks: int = 4, peaks: int = 3, min_rel_mag: float = 0.1,
) -> DataFrame:
    """Cross-batch duplicate-AUDIO detection: the batch spectral
    fingerprint stage (audio/fingerprint.py — encoding-invariant
    semitone peak tokens from one Arrow decode+FFT pass) keyed per
    row, then the stateful exact check on the 16-byte content key.
    The same recording re-encoded (other rate / bit depth / gain)
    arriving in a LATER micro-batch is flagged, which byte-level or
    clip_id dedup cannot do. Undecodable rows keep their sentinel
    keys INSTEAD of being filtered — an isNotNull predicate on a key
    derived from the Python stage would be pushed below the
    projection and run the decode+FFT twice (drop_null_keys=False —
    the single Python stage is pinned in test_streaming) — and the
    sentinel prefix is skipped inside the stateful op, so
    byte-identical undecodable payloads are neither flagged nor held
    in state (pinned: repeated garbage in the test). Violation rows
    carry field_path /<bytes_col> (content identity, not id
    collision), rule_id UNIQUE, plus first_id (the state-remembered
    keeper — the batch analog's group_id) and dup_ids (this batch's
    duplicate clip ids) so the offenders are actionable without
    re-fingerprinting."""
    from .audio.fingerprint import SENTINEL_PREFIX, keyed_fingerprints

    keyed = keyed_fingerprints(stream_df, id_col, bytes_col, chunks,
                               peaks, min_rel_mag)
    return stateful_unique_violations(
        keyed.select("fp_key", "id"), "fp_key",
        state_timeout_ms=state_timeout_ms,
        field_path=f"/{bytes_col}", drop_null_keys=False,
        skip_key_prefix=SENTINEL_PREFIX, emit_ids_col="id")


def streaming_transcript_conflict_violations(
    stream_df: DataFrame, id_col: str = "clip_id",
    bytes_col: str = "bytes", transcript_col: str = "transcript",
    key: str = "content", normalize: bool = True,
    state_timeout_ms: int = 3_600_000,
    chunks: int = 4, peaks: int = 3, min_rel_mag: float = 0.1,
) -> DataFrame:
    """Cross-batch transcript-label conflict detection — the streaming
    analog of :func:`~protovalidate_spark.audio.consistency.
    transcript_conflicts` (tolerance-0 semantics): the same audio
    (byte-exact md5 key, or spectral-content key for re-encodings)
    arriving in a LATER micro-batch with a DIFFERENT transcript is
    flagged against the state-remembered reference label. Labels are
    normalized JVM-side before the stateful op (same
    ``transcript_label`` expression as batch); a NULL transcript is a
    distinct label vs real text, and an all-NULL key never conflicts.

    State per content key: (reference label, keeper id, seen count),
    TTL-bounded like every stateful check here. Divergence from batch,
    inherent to append-mode streams: only the ARRIVING conflicting rows
    are emitted — the earlier rows that set the reference cannot be
    retro-flagged; the keeper id in the row recovers the group. Edit
    tolerance is batch-only (the resumable runner's job).

    Emits (clip_id, first_id, field_path=/<transcript_col>,
    rule_id=CONSISTENT, message, actual=the arriving transcript)."""
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout)

    from .audio.consistency import transcript_label
    from .audio.fingerprint import SENTINEL_PREFIX, keyed_fingerprints

    if key == "content":
        keyed = keyed_fingerprints(stream_df, id_col, bytes_col, chunks,
                                   peaks, min_rel_mag,
                                   extra_cols=(transcript_col,))
    elif key == "exact":
        keyed = (stream_df
                 .select(F.col(id_col).alias("id"),
                         # sentinel for NULL payloads, same reason as
                         # keyed_fingerprints: no shared-NULL key group
                         F.coalesce(
                             F.md5(F.col(bytes_col)),
                             F.concat(F.lit(SENTINEL_PREFIX),
                                      F.coalesce(F.col(id_col)
                                                 .cast("string"),
                                                 F.lit("")))
                         ).alias("fp_key"),
                         F.lit(True).alias("is_content"),
                         F.col(transcript_col)))
    else:
        raise ValueError(f"key must be 'exact' or 'content', got {key!r}")
    lbl = transcript_label(F.col(transcript_col), normalize)
    rows = keyed.select("fp_key", "id",
                        F.col(transcript_col).alias("_tx"),
                        lbl.alias("_lbl"))

    out_schema = ("clip_id string, first_id string, field_path string, "
                  "rule_id string, message string, actual string")
    state_schema = "ref_label string, first_id string, seen long"
    field_path = f"/{transcript_col}"

    def flag_conflicts(group_key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if str(group_key[0]).startswith(SENTINEL_PREFIX):
            for _ in pdfs:  # drain per the state contract
                pass
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("id", kind="mergesort")
        if state.exists:
            ref_label, first_id, seen = state.get
        else:
            ref_label = batch["_lbl"].iloc[0]
            first_id = batch["id"].iloc[0]
            seen = 0
        conflicts = batch[batch["_lbl"] != ref_label]
        state.update((ref_label, first_id, seen + len(batch)))
        state.setTimeoutDuration(state_timeout_ms)
        if len(conflicts):
            yield pd.DataFrame({
                "clip_id": conflicts["id"].astype(str),
                "first_id": first_id,
                "field_path": field_path,
                "rule_id": Code.CONSISTENT,
                "message": (f"transcript conflicts with {key}-identical "
                            f"audio (keeper {first_id})"),
                "actual": conflicts["_tx"],
            })

    return (rows.groupBy("fp_key")
            .applyInPandasWithState(
                flag_conflicts, out_schema, state_schema, "append",
                GroupStateTimeout.ProcessingTimeTimeout))


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def write_violations_stream(
    violations: DataFrame, path: str, checkpoint: str,
    output_mode: str = "append", trigger_available_now: bool = True,
    fmt: str = "parquet",
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
    Implemented via ``foreachBatch`` (the cap is a batch transform), so
    exactly-once comes from the idempotent parquet epoch commit."""
    if max_exemplars_per_rule > 0:
        from .errors import cap_exemplars

        def _sink(batch_df: DataFrame, epoch: int) -> None:
            (cap_exemplars(batch_df, list(exemplar_order_cols),
                           max_exemplars_per_rule)
             .write.mode("append").format(fmt).save(path))

        w = (violations.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", checkpoint)
             .outputMode(output_mode))
    else:
        w = (violations.writeStream.format(fmt)
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


def windowed_histogram_counts(
    stream_df: DataFrame, baseline: dict, ts_col: str,
    window: str = "10 minutes", watermark: str = "10 minutes",
    n_buckets: Optional[int] = None,
) -> DataFrame:
    """Streaming stage of the drift check: per-(window, column, label)
    counts with the bucket space FROZEN by the baseline snapshot
    (:func:`~protovalidate_spark.dataset.drift.snapshot`).

    Numeric columns bucket by ``width_bucket`` over the baseline's
    stored (lo, hi); categorical values not present in the baseline's
    histogram collapse to ``__other__`` AT PROJECTION TIME — the label
    set is known driver-side, so streaming state per window is
    O(columns × buckets) regardless of live cardinality (an unbounded
    label space would otherwise be unbounded state). Same stacked
    single-aggregation shape as the batch
    :func:`~protovalidate_spark.dataset.drift.histograms` pass."""
    from .dataset.drift import N_BUCKETS, _NUMERIC, _fix_bounds

    nb = n_buckets or N_BUCKETS
    dtypes = dict(stream_df.dtypes)
    missing = [c for c in baseline if c not in dtypes]
    if missing:
        raise ValueError(
            f"baseline column(s) {missing} missing from the stream schema "
            f"{sorted(dtypes)} — drop them from the baseline snapshot or "
            f"add them to the stream (batch stats_drift_violations reports "
            f"a missing column as a REQUIRED violation; a stream cannot, "
            f"since its bucket projection is fixed at setup time)")
    entries = []
    for c in baseline:
        base = dtypes[c].split("(")[0]
        snap = baseline[c]
        if base in _NUMERIC:
            lo, hi = _fix_bounds(snap.get("lo"), snap.get("hi"))
            label = F.concat(
                F.lit("b"),
                F.width_bucket(F.col(c).cast("double"), F.lit(lo),
                               F.lit(hi), F.lit(nb))
                .cast("bigint").cast("string"))
        else:
            known = sorted(k for k in snap.get("hist", {})
                           if k != "__other__")
            val = F.col(c).cast("string")
            label = (F.when(val.isin(*known), val)
                     .otherwise(F.lit("__other__"))
                     if known else F.lit("__other__"))
        entries.append(F.struct(F.lit(c).alias("name"),
                                F.when(F.col(c).isNotNull(), label)
                                 .alias("label")))
    pairs = (stream_df
             .withWatermark(ts_col, watermark)
             .select(F.col(ts_col).alias("__ts"),
                     F.explode(F.array(*entries)).alias("p"))
             .filter(F.col("p.label").isNotNull()))
    return (pairs.groupBy(F.window("__ts", window).alias("w"),
                          F.col("p.name").alias("name"),
                          F.col("p.label").alias("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "name", "label", "cnt"))


def window_drift_rows(
    batch_rows, baseline: dict,
    psi_threshold: float = 0.2, ks_threshold: float = 0.1,
) -> list:
    """Driver-side verdict step for CLOSED windows (a ``foreachBatch``
    body): ``batch_rows`` is the collected output of
    :func:`windowed_histogram_counts` for one micro-batch — bounded at
    O(closed windows × columns × buckets). Returns one violation-shaped
    tuple per drifted (window, column):
    (window_start, window_end, field_path, rule_id, message, actual),
    reusing the batch PSI/KS kernels so thresholds and semantics are
    identical to :func:`~protovalidate_spark.dataset.drift.drift_violations`."""
    from collections import defaultdict

    from .dataset.drift import ks_stat, psi

    counts: dict = defaultdict(dict)
    for r in batch_rows:
        counts[(r["window_start"], r["window_end"], r["name"])][r["label"]] \
            = r["cnt"]
    out = []
    for (ws, we, name), hist in sorted(counts.items()):
        total = sum(hist.values())
        if not total:
            continue
        actual = {k: v / total for k, v in hist.items()}
        expected = baseline[name]["hist"]
        p = psi(expected, actual)
        k = ks_stat(expected, actual)
        if p > psi_threshold or k > ks_threshold:
            out.append((ws, we, f"/{name}", Code.DRIFT,
                        f"distribution drift exceeds thresholds "
                        f"(psi>{psi_threshold} or ks>{ks_threshold}) "
                        f"in window",
                        f"psi={p:.4f},ks={k:.4f}"))
    return out


_DRIFT_WINDOW_SCHEMA = ("window_start timestamp, window_end timestamp, "
                        "field_path string, rule_id string, "
                        "message string, actual string")


def stream_drift_violations(
    stream_df: DataFrame, baseline: dict, ts_col: str,
    out_path: str, checkpoint: str,
    window: str = "10 minutes", watermark: str = "10 minutes",
    psi_threshold: float = 0.2, ks_threshold: float = 0.1,
    trigger_available_now: bool = True,
):
    """End-to-end streaming drift monitor: watermarked windowed
    histogram aggregation (distributed, bounded state) → per-closed-
    window PSI/KS verdicts vs the frozen baseline (driver-side over the
    tiny closed-window count rows) → violation rows written to
    ``out_path`` as Parquet. Effectively-once per window: append-mode
    emits a window's counts in the single micro-batch whose watermark
    closes it, and the sink writes each epoch's rows under an
    ``__epoch=<id>`` partition OVERWRITTEN in place — foreachBatch is
    inherently at-least-once (a retry after a committed append but
    before the checkpoint records the epoch would duplicate rows), and
    the epoch-keyed dynamic-partition overwrite makes the retry
    idempotent."""
    counts = windowed_histogram_counts(
        stream_df, baseline, ts_col, window, watermark)

    def _sink(batch_df: DataFrame, epoch: int) -> None:
        rows = window_drift_rows(batch_df.collect(), baseline,
                                 psi_threshold, ks_threshold)
        if rows:
            (batch_df.sparkSession.createDataFrame(
                rows, _DRIFT_WINDOW_SCHEMA)
             .withColumn("__epoch", F.lit(int(epoch)))
             .coalesce(1).write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("__epoch").parquet(out_path))

    w = (counts.writeStream.foreachBatch(_sink)
         .outputMode("append")
         .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_volume_counts(stream_df: DataFrame, ts_col: str,
                           window: str = "10 minutes",
                           watermark: str = "10 minutes") -> DataFrame:
    """Per-window row counts (watermarked — bounded state, one count
    per open window): the streaming stage of the volume-anomaly check
    (dataset/integrity.py volume_anomalies is the batch analog)."""
    return (stream_df.withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), "cnt"))


def window_volume_rows(batch_rows, expected_per_window: float,
                       max_rel_dev: float = 0.5,
                       min_count: Optional[int] = None) -> list:
    """Driver-side verdict for CLOSED windows: one DRIFT tuple per
    window whose count deviates from ``expected_per_window`` by more
    than ``max_rel_dev`` (relative) or falls under the ``min_count``
    floor. Unlike the batch check (mean over observed groups), a stream
    needs the expected rate pinned UP FRONT — there is no full set of
    sibling windows to average; derive it from a batch baseline
    (rows/window at the same window size)."""
    out = []
    for r in sorted(batch_rows, key=lambda r: r["window_start"]):
        cnt = int(r["cnt"])
        rel_bad = (abs(cnt - expected_per_window)
                   / max(expected_per_window, 1e-9)) > max_rel_dev
        floor_bad = min_count is not None and cnt < min_count
        if rel_bad or floor_bad:
            out.append((r["window_start"], r["window_end"],
                        "/__volume__", Code.DRIFT,
                        f"window row count deviates from expected "
                        f"{expected_per_window:g} by more than "
                        f"{max_rel_dev}"
                        + (f" or falls below {min_count}"
                           if min_count is not None else ""),
                        str(cnt)))
    return out


def stream_volume_violations(
    stream_df: DataFrame, ts_col: str, out_path: str, checkpoint: str,
    expected_per_window: float, window: str = "10 minutes",
    watermark: str = "10 minutes", max_rel_dev: float = 0.5,
    min_count: Optional[int] = None, trigger_available_now: bool = True,
):
    """End-to-end streaming volume monitor (the "ingest fell over at
    2am" detector): watermarked window counts -> per-closed-window
    verdict vs the pinned expected rate -> violation rows as Parquet,
    same epoch-overwrite idempotent sink as the drift monitor. NOTE: a
    window with ZERO rows produces no aggregate row at all - an
    entirely-absent ingest interval must be caught by the batch
    calendar/volume pass over the landed table; a stream can only flag
    what arrives."""
    counts = windowed_volume_counts(stream_df, ts_col, window, watermark)

    def _sink(batch_df: DataFrame, epoch: int) -> None:
        rows = window_volume_rows(batch_df.collect(), expected_per_window,
                                  max_rel_dev, min_count)
        if rows:
            (batch_df.sparkSession.createDataFrame(
                rows, _DRIFT_WINDOW_SCHEMA)
             .withColumn("__epoch", F.lit(int(epoch)))
             .coalesce(1).write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("__epoch").parquet(out_path))

    w = (counts.writeStream.foreachBatch(_sink)
         .outputMode("append")
         .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_outlier_counts(stream_df: DataFrame, ts_col: str,
                            fences: dict, window: str = "10 minutes",
                            watermark: str = "10 minutes") -> DataFrame:
    """Per-window outlier counts per column against FROZEN fences (the
    streaming stage of dataset/outliers.py): ``fences`` comes from
    ``iqr_fences`` over a healthy batch baseline — a stream cannot
    derive robust quantiles over itself without unbounded state, and
    freezing them is the same baseline-snapshot contract the drift
    monitor uses. ONE watermarked agg (bounded state): per window, the
    row count plus each column's breach count — shuffle volume is one
    counter row per open window, never per row."""
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for c, (lo, hi, _q1, _q3) in fences.items():
        x = F.col(c).cast("double")
        breach = (x.isNotNull() & ((x < F.lit(lo)) | (x > F.lit(hi))))
        aggs.append(F.sum(breach.cast("long")).alias(f"{c}__outliers"))
    return (stream_df.withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("w"))
            .agg(*aggs)
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), "*")
            .drop("w"))


def window_outlier_rows(batch_rows, fences: dict,
                        max_rate: float = 0.01) -> list:
    """Driver-side verdict for CLOSED windows: one OUTLIER tuple per
    (window, column) whose fence-breach RATE exceeds ``max_rate``.
    A few outliers per window are normal (that is what fences mean);
    the monitored regression is the rate jumping — a producer started
    emitting garbage magnitudes."""
    out = []
    for r in sorted(batch_rows, key=lambda r: r["window_start"]):
        n = int(r["cnt"])
        if n == 0:
            continue
        for c in fences:
            k = int(r[f"{c}__outliers"])
            rate = k / n
            if rate > max_rate:
                out.append((r["window_start"], r["window_end"],
                            f"/{c}", Code.OUTLIER,
                            f"fence-breach rate {rate:.4f} exceeds "
                            f"{max_rate} ({k}/{n} rows)",
                            f"{rate:.6f}"))
    return out


def stream_outlier_violations(
    stream_df: DataFrame, ts_col: str, out_path: str, checkpoint: str,
    fences: dict, window: str = "10 minutes",
    watermark: str = "10 minutes", max_rate: float = 0.01,
    trigger_available_now: bool = True,
):
    """End-to-end streaming outlier-rate monitor: watermarked per-window
    breach counts vs frozen fences -> per-closed-window rate verdict ->
    violation rows as Parquet, same epoch-overwrite idempotent sink as
    the drift and volume monitors."""
    counts = windowed_outlier_counts(stream_df, ts_col, fences,
                                     window, watermark)

    def _sink(batch_df: DataFrame, epoch: int) -> None:
        rows = window_outlier_rows(batch_df.collect(), fences, max_rate)
        if rows:
            (batch_df.sparkSession.createDataFrame(
                rows, _DRIFT_WINDOW_SCHEMA)
             .withColumn("__epoch", F.lit(int(epoch)))
             .coalesce(1).write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("__epoch").parquet(out_path))

    w = (counts.writeStream.foreachBatch(_sink)
         .outputMode("append")
         .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_category_counts(stream_df: DataFrame, ts_col: str,
                             col: str, window: str = "10 minutes",
                             watermark: str = "10 minutes") -> DataFrame:
    """Per-window per-category counts for ONE categorical column — the
    streaming stage of dataset/metrics.py entropy monitoring. ONE
    watermarked agg; state is one counter row per (open window,
    category), so this is for genuinely LOW-cardinality columns
    (status/codec enums — the columns entropy monitoring exists for).
    A key-shaped column would grow state per distinct value; the batch
    entropy MAX gate is precisely the check that catches a column
    drifting into that shape, so run it before pointing the stream
    monitor at a column. NULL is a real category (a producer pinning a
    field to NULL is the collapse being monitored)."""
    return (stream_df.withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("w"),
                     F.col(col).cast("string").alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), "v", "cnt"))


def window_entropy_rows(batch_rows, col: str,
                        min_entropy: Optional[float] = None,
                        max_entropy: Optional[float] = None) -> list:
    """Driver-side verdict for CLOSED windows: recombine each window's
    per-category counts into Shannon entropy (nats, same
    ``ln(n) - sum(c*ln(c))/n`` arithmetic as the batch metric, rounded
    to 6) and emit MIN (collapsing categorical) / MAX (category-set
    explosion) rows. The driver sees one row per (window, category) —
    bounded by the low-cardinality contract — never raw rows."""
    import math
    from collections import defaultdict

    by_win = defaultdict(list)
    for r in batch_rows:
        by_win[(r["window_start"], r["window_end"])].append(int(r["cnt"]))
    out = []
    for (ws, we), counts in sorted(by_win.items()):
        n = sum(counts)
        if n == 0:
            continue
        h = round(math.log(n) - sum(c * math.log(c) for c in counts) / n,
                  6)
        if min_entropy is not None and h < min_entropy:
            out.append((ws, we, f"/{col}", Code.MIN,
                        f"window entropy below minimum {min_entropy} "
                        f"nats (collapsing categorical, "
                        f"{len(counts)} categories over {n} rows)",
                        str(h)))
        if max_entropy is not None and h > max_entropy:
            out.append((ws, we, f"/{col}", Code.MAX,
                        f"window entropy above maximum {max_entropy} "
                        f"nats (category explosion, "
                        f"{len(counts)} categories over {n} rows)",
                        str(h)))
    return out


def stream_entropy_violations(
    stream_df: DataFrame, ts_col: str, out_path: str, checkpoint: str,
    col: str, window: str = "10 minutes", watermark: str = "10 minutes",
    min_entropy: Optional[float] = None,
    max_entropy: Optional[float] = None, trigger_available_now: bool = True,
):
    """End-to-end streaming entropy monitor (the "status column froze /
    exploded at 2am" detector): watermarked per-window category counts
    -> per-closed-window Shannon entropy verdict vs pinned bounds ->
    violation rows as Parquet, same epoch-overwrite idempotent sink as
    the drift/volume/outlier monitors. Derive the bounds from the batch
    metric over a healthy baseline (column_entropy), the same
    baseline-snapshot contract the other monitors use."""
    counts = windowed_category_counts(stream_df, ts_col, col,
                                      window, watermark)

    def _sink(batch_df: DataFrame, epoch: int) -> None:
        rows = window_entropy_rows(batch_df.collect(), col,
                                   min_entropy, max_entropy)
        if rows:
            (batch_df.sparkSession.createDataFrame(
                rows, _DRIFT_WINDOW_SCHEMA)
             .withColumn("__epoch", F.lit(int(epoch)))
             .coalesce(1).write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("__epoch").parquet(out_path))

    w = (counts.writeStream.foreachBatch(_sink)
         .outputMode("append")
         .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
