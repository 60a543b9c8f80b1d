"""Structured Streaming validation (SURVEY.md §3 entry point C): the
compiled rule plan applied over readStream micro-batches must produce
the same violations as the batch path; windowed uniqueness is the
streaming relaxation of the global check."""

import os

import pytest
from pyspark.sql import functions as F

from protovalidate_spark import Int32, Object, String
from protovalidate_spark.streaming import (
    KeyConflict,
    KeyDuplicate,
    WindowDrift,
    WindowEntropy,
    WindowOutliers,
    WindowVolume,
    stream_key_checks,
    stream_window_checks,
    windowed_unique_violations,
    write_violations_stream,
)


def _rules():
    return (Object().with_unknown()
            .with_key("clip_id", String().with_required()
                      .regex(r"^clip-[0-9]{10}$"))
            .with_key("sr_hz", Int32().min(8000).max(192000)))


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_src"))
    rows = [
        (0, "clip-0000000001", 16000, "2026-01-01 00:00:01"),
        (1, "clip-0000000002", 4000, "2026-01-01 00:00:02"),   # sr MIN
        (2, "bad-id", 16000, "2026-01-01 00:00:03"),           # PATTERN
        (3, "clip-0000000001", 22050, "2026-01-01 00:00:04"),  # dup in window
        (4, "clip-0000000009", 44100, "2026-01-01 02:00:00"),  # later window
    ]
    df = spark.createDataFrame(
        rows, "row_idx long, clip_id string, sr_hz int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path, df


def test_stream_matches_batch(spark, stream_src, tmp_path):
    path, batch_df = stream_src
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    v = _rules().violations(stream, row_key_cols=["row_idx"])

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = write_violations_stream(v, out, ckpt)
    assert q.awaitTermination(120)

    got = {(r["row_idx"], r["field_path"], r["rule_id"])
           for r in spark.read.parquet(out).collect()}
    want = {(r["row_idx"], r["field_path"], r["rule_id"])
            for r in _rules().violations(batch_df,
                                         row_key_cols=["row_idx"]).collect()}
    assert got == want and len(want) == 2


def test_stream_resume_is_incremental(spark, stream_src, tmp_path):
    """checkpointLocation makes re-runs skip already-processed files —
    the streaming analog of the batch runner's manifest resume."""
    path, batch_df = stream_src
    out, ckpt = str(tmp_path / "o2"), str(tmp_path / "c2")
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    v = _rules().violations(stream, row_key_cols=["row_idx"])
    assert write_violations_stream(v, out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    # second run with same checkpoint: no new input ⇒ no new rows
    stream2 = spark.readStream.schema(batch_df.schema).parquet(path)
    v2 = _rules().violations(stream2, row_key_cols=["row_idx"])
    assert write_violations_stream(v2, out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() == n1


def test_windowed_unique(spark, stream_src, tmp_path):
    path, batch_df = stream_src
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    dups = windowed_unique_violations(stream, "clip_id", "ts",
                                      window="1 hour", watermark="1 hour")
    out, ckpt = str(tmp_path / "o3"), str(tmp_path / "c3")
    # append mode emits only after watermark closes a window; availableNow
    # + final watermark advance flushes the first window here
    q = (dups.writeStream.format("memory").queryName("dups")
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = spark.sql("select clip_id, dup_count, rule_id from dups").collect()
    assert len(got) == 1
    assert got[0]["clip_id"] == "clip-0000000001"
    assert got[0]["dup_count"] == 2
    assert got[0]["rule_id"] == "UNIQUE"


def test_stream_suite_row_pass_with_decode(spark, tmp_path):
    """The full row-level suite pass (incl. the Arrow decode stage and
    consistency rules) over a stream matches the batch pass."""
    from protovalidate_spark.clips import clips_suite
    from protovalidate_spark.fixtures import TINY, clips_df

    import shutil

    from protovalidate_spark.fixtures import Profile

    src = str(tmp_path / "clips_src")
    # 600 rows still hits every injection modulus (smallest hit at
    # i=485) while keeping Arrow batches small — the full-size TINY
    # payloads flaked python workers under whole-suite memory pressure
    batch = clips_df(spark, Profile(n_rows=600, dur_range_ms=400))
    batch.write.mode("overwrite").parquet(src)
    suite = clips_suite(spark)

    # one retry: the Arrow decode stage inside a streaming micro-batch
    # can hit a transient python-worker EOF under full-suite load
    for attempt in range(2):
        out, ckpt = str(tmp_path / f"o4_{attempt}"), str(tmp_path / f"c4_{attempt}")
        try:
            stream = spark.readStream.schema(batch.schema).parquet(src)
            v = suite.row_violations(stream)
            q = (v.writeStream.format("parquet").option("path", out)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(180)
            break
        except Exception:
            if attempt:
                raise
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)

    got = {(r["row_idx"], r["field_path"], r["rule_id"])
           for r in spark.read.parquet(out).collect()}
    want = {(r["row_idx"], r["field_path"], r["rule_id"])
            for r in suite.row_violations(batch).collect()}
    assert got == want and len(want) > 0


def _dup(key_col):
    return KeyDuplicate(f"/{key_col}", f"value of {key_col!r} duplicated")


def test_stateful_available_now_query_stops(spark, tmp_path):
    """A stateful check (processing-time state timeout) under the
    availableNow sink drains its backlog and terminates instead of
    running empty micro-batches forever. NULL keys are skipped inside
    the state function: two of them are not a duplicate."""
    import time

    src = str(tmp_path / "src_stop")
    spark.createDataFrame([(0, "a"), (1, "b"), (2, "a"), (3, None),
                           (4, None)], "row_idx long, clip_id string") \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("row_idx long, clip_id string") \
        .parquet(src)
    t0 = time.monotonic()
    q = write_violations_stream(
        stream_key_checks(stream, "clip_id", "row_idx", [_dup("clip_id")]),
        str(tmp_path / "o_stop"), str(tmp_path / "c_stop"))
    try:
        assert q.awaitTermination(30)
    finally:
        q.stop()
    assert time.monotonic() - t0 < 30
    assert spark.read.parquet(str(tmp_path / "o_stop")).count() == 1


def test_stateful_unique_across_batches(spark, stream_src, tmp_path):
    """applyInPandasWithState exact dedup: duplicates are caught even
    when the two arrivals land in DIFFERENT micro-batches (file drops),
    which the windowed check cannot guarantee across window boundaries."""
    path, batch_df = stream_src
    src = str(tmp_path / "src2")
    out, ckpt = str(tmp_path / "o3"), str(tmp_path / "c3")
    # drop 1: unique keys only
    batch_df.filter(F.col("row_idx") <= 2).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch_df.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    v = stream_key_checks(stream, "clip_id", "row_idx", [_dup("clip_id")])
    assert write_violations_stream(v, out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() == 0
    # drop 2: re-sends clip-0000000001 (dup of drop 1) + a fresh key
    batch_df.filter(F.col("row_idx") >= 3).coalesce(1) \
        .write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(batch_df.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    v2 = stream_key_checks(stream2, "clip_id", "row_idx", [_dup("clip_id")])
    assert write_violations_stream(v2, out, ckpt).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    got = [(r["clip_id"], r["row_idx"], r["first_id"], r["seen"],
            r["field_path"], r["rule_id"], r["actual"]) for r in rows]
    assert got == [("clip-0000000001", "3", "0", 2, "/clip_id", "UNIQUE",
                    "clip-0000000001")]


def test_stream_key_checks_typed_key_and_keeper(spark, tmp_path):
    """A non-string key is cast to string for the output (a long key
    once failed the query on the string output schema), and the keeper
    is the smallest id by TYPED order: 9 < 10 although "10" < "9" and
    10 arrives first."""
    src = str(tmp_path / "src_long")
    out, ckpt = str(tmp_path / "o_long"), str(tmp_path / "c_long")
    spark.createDataFrame([(7, 10), (7, 9), (8, 1)], "acct long, rid long") \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("acct long, rid long").parquet(src)
    v = stream_key_checks(stream, "acct", "rid", [_dup("acct")])
    assert write_violations_stream(v, out, ckpt).awaitTermination(120)
    rows = [(r["acct"], r["rid"], r["first_id"], r["seen"], r["actual"])
            for r in spark.read.parquet(out).collect()]
    assert rows == [("7", "10", "9", 2, "7")]


def test_windowed_column_stats(spark, tmp_path):
    """Per-window stats rows match a batch groupBy over the same data."""
    from protovalidate_spark.streaming import windowed_column_stats

    rows = []
    for i in range(60):   # window 1: 00:00-00:10
        rows.append((i, None if i % 5 == 0 else float(i % 20),
                     "2026-01-01 00:0%d:00" % (i % 10)))
    for i in range(40):   # window 2: 01:00-01:10
        rows.append((100 + i, float(50 + i % 4),
                     "2026-01-01 01:0%d:00" % (i % 10)))
    rows.append((999, 0.0, "2026-01-01 05:00:00"))  # sentinel closes both
    df = spark.createDataFrame(rows, "id long, v double, ts string") \
              .withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    stats = windowed_column_stats(stream, ["v"], "ts",
                                  window="10 minutes",
                                  watermark="0 seconds")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (stats.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)

    got = {r["window_start"].strftime("%H:%M"): r
           for r in spark.read.parquet(out).collect()}
    assert set(got) == {"00:00", "01:00"}
    w1, w2 = got["00:00"], got["01:00"]
    assert w1["n_rows"] == 60 and w2["n_rows"] == 40
    assert abs(w1["null_rate"] - 12 / 60) < 1e-9
    assert w2["null_rate"] == 0.0
    assert w1["min"] == "1.0" and w1["max"] == "19.0"
    assert w2["min"] == "50.0" and w2["max"] == "53.0"
    # 16 distinct non-null values in w1, 4 in w2 (HLL exact at this size)
    assert w1["approx_distinct"] == 16 and w2["approx_distinct"] == 4
    assert w2["quantiles"] is not None and 50.0 <= w2["quantiles"][0] <= 53.0


def _drift_input(spark, tmp_path):
    """(baseline snapshot, stream rows, parquet source): window 00:00
    follows the baseline, window 02:00 shifts v and brings a new codec,
    and a 09:00 sentinel row closes both."""
    import random

    from protovalidate_spark.dataset.drift import snapshot

    rng = random.Random(11)
    base_rows = [(i, rng.uniform(0.0, 100.0),
                  rng.choice(["wav", "flac", "mp3"])) for i in range(2000)]
    base = spark.createDataFrame(base_rows, "id long, v double, c string")
    snap = snapshot(base, ["v", "c"])

    rows = []
    for i in range(1000):     # window 1 ~ baseline distribution
        rows.append((i, rng.uniform(0.0, 100.0),
                     rng.choice(["wav", "flac", "mp3"]),
                     "2026-01-01 00:0%d:%02d" % (i % 10, i % 60)))
    for i in range(1000):     # window 2: v shifted, c has a NEW codec
        rows.append((5000 + i, rng.uniform(80.0, 180.0),
                     rng.choice(["opus", "opus", "wav"]),
                     "2026-01-01 02:0%d:%02d" % (i % 10, i % 60)))
    rows.append((9999, 50.0, "wav", "2026-01-01 09:00:00"))  # sentinel
    df = spark.createDataFrame(
        rows, "id long, v double, c string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    return snap, df, src


def test_stream_drift_violations(spark, tmp_path):
    """Windowed PSI/KS drift vs a frozen baseline: the shifted window is
    flagged, the matching window is not, and the streaming verdict
    agrees with the batch drift pass on the same slice."""
    from protovalidate_spark.dataset.drift import drift_violations

    snap, df, src = _drift_input(spark, tmp_path)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_window_checks(stream, "ts", [WindowDrift(snap)], out, ckpt,
                             window="10 minutes",
                             watermark="0 seconds")
    assert q.awaitTermination(120)

    got = spark.read.parquet(out).collect()
    flagged = {(r["window_start"].strftime("%H:%M"), r["field_path"])
               for r in got}
    assert all(r["rule_id"] == "DRIFT" for r in got)
    # the shifted window drifts on both columns; the matching one on none
    assert ("02:00", "/v") in flagged and ("02:00", "/c") in flagged
    assert not any(ws == "00:00" for ws, _ in flagged)

    # streaming verdict == batch drift pass over the same window slice
    w2 = df.filter(F.col("id") >= 5000).filter(F.col("id") != 9999)
    batch_flagged = {r["field_path"]
                     for r in drift_violations(w2, snap).collect()}
    assert batch_flagged == {p for ws, p in flagged if ws == "02:00"}

    # a baseline column the stream lacks refuses at setup, not per batch
    with pytest.raises(ValueError, match="missing from the stream"):
        WindowDrift({**snap, "gone": snap["v"]}).entries(dict(df.dtypes))


def test_stream_window_checks_share_one_query(spark, tmp_path):
    """All four window checks in ONE query (one aggregation, one state
    store, one checkpoint) write exactly the union of the rows of four
    single-check queries over the same input."""
    import random

    from protovalidate_spark.dataset import iqr_fences

    snap, df, src = _drift_input(spark, tmp_path)
    rng = random.Random(3)
    base = spark.createDataFrame(
        [(rng.uniform(0.0, 100.0),) for _ in range(1000)], "v double")
    checks = [WindowDrift(snap),
              WindowVolume(expected_per_window=500.0),
              WindowOutliers(iqr_fences(base, ["v"], k=1.5, exact=True)),
              WindowEntropy("c", min_entropy=0.8, max_entropy=1.05)]

    def run(name, chks):
        stream = spark.readStream.schema(df.schema).parquet(src)
        out = str(tmp_path / f"out_{name}")
        q = stream_window_checks(stream, "ts", chks, out,
                                 str(tmp_path / f"ckpt_{name}"),
                                 window="10 minutes",
                                 watermark="0 seconds")
        assert q.awaitTermination(120)
        # one stateful operator however many checks ride the query
        assert len(q.lastProgress["stateOperators"]) == 1
        return sorted(tuple(r) for r in spark.read.parquet(out)
                      .drop("__epoch").collect())

    singles = [run(str(i), [c]) for i, c in enumerate(checks)]
    assert all(singles)  # every check flags something on this input
    assert run("all", checks) == sorted(r for rows in singles for r in rows)


def test_streaming_audio_dup_across_batches(spark, tmp_path):
    """Cross-batch duplicate-AUDIO: the same sine content re-encoded
    (other rate / bit depth / gain) arriving in a LATER micro-batch is
    flagged on the spectral content key; distinct content and
    undecodable bytes are not. Also pins the single-Python-stage plan:
    a filter on the derived key would re-instantiate the decode+FFT
    stage below the key projection (no cross-operator CSE)."""
    from protovalidate_spark.audio.fingerprint import keyed_fingerprints
    from protovalidate_spark.audio.wav import synth_sine_wav

    src = str(tmp_path / "audio_src")
    out, ckpt = str(tmp_path / "audio_out"), str(tmp_path / "audio_ck")
    schema = "clip_id string, bytes binary"
    dup = [KeyDuplicate("/bytes", "audio content duplicated")]
    # drop 1: two distinct contents
    b1 = spark.createDataFrame(
        [("a1", synth_sine_wav(440, 16000, 400)),
         ("b1", synth_sine_wav(550, 16000, 400))], schema)
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    v = stream_key_checks(keyed_fingerprints(stream), "fp_key", "id", dup)
    assert write_violations_stream(v, out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() == 0
    # drop 2: 440 Hz re-encoded (8-bit, 8 kHz, half gain) + REPEATED
    # byte-identical garbage (same id + bytes -> same sentinel key;
    # must NOT read as an audio dup — sentinels are skipped in-state)
    b2 = spark.createDataFrame(
        [("a2", synth_sine_wav(440, 8000, 400, amp=0.25, fmt="pcm8")),
         ("junk", b"\x00not-a-wav"),
         ("junk", b"\x00not-a-wav")], schema)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(b1.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    v2 = stream_key_checks(keyed_fingerprints(stream2), "fp_key", "id", dup)
    assert write_violations_stream(v2, out, ckpt).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["seen"], r["field_path"], r["rule_id"], r["actual"]) \
        == (2, "/bytes", "UNIQUE", r["fp_key"])
    # actionable ids: the keeper from batch 1's state + this batch's dup
    assert (r["first_id"], r["id"]) == ("a1", "a2")

    # plan pin (batch equivalent of the streaming projection, single
    # source — a union holds one Python node per branch): the
    # keyed->select path must hold ONE ArrowEvalPython node, while an
    # isNotNull filter on the derived key duplicates the stage
    good = keyed_fingerprints(b1).select("fp_key")
    plan = good._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    bad = keyed_fingerprints(b1).select("fp_key") \
        .filter(F.col("fp_key").isNotNull())
    plan2 = bad._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("ArrowEvalPython") == 2  # the trap, demonstrated


def test_stateful_unique_emit_ids(spark, stream_src, tmp_path):
    """Each violation row names its key's keeper (the smallest id, from
    the state) and its own row id, one row per duplicate row."""
    path, batch_df = stream_src
    src = str(tmp_path / "src_ids")
    out, ckpt = str(tmp_path / "oi"), str(tmp_path / "ci")
    keyed = batch_df.select(
        "clip_id", F.col("row_idx").cast("string").alias("rid"))
    keyed.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(keyed.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    v = stream_key_checks(stream, "clip_id", "rid", [_dup("clip_id")])
    assert write_violations_stream(v, out, ckpt).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    # fixture: clip-0000000001 appears at row_idx 0 and 3 (same batch)
    assert len(rows) == 1
    r = rows[0]
    assert r["clip_id"] == "clip-0000000001"
    assert (r["first_id"], r["rid"], r["seen"]) == ("0", "3", 2)


def _tx_conflict():
    from protovalidate_spark.audio.consistency import transcript_label
    return KeyConflict(transcript_label(F.col("transcript")),
                       F.col("transcript"), "/transcript",
                       "transcript conflicts with identical audio")


def test_streaming_transcript_conflict_across_batches(spark, tmp_path):
    """Cross-batch transcript-label conflict: the same audio content
    re-encoded in a LATER micro-batch with a DIFFERENT transcript is
    flagged against the state-remembered reference label; a matching
    (formatting-only different) label, distinct content, and garbage
    payloads are not. Batch-internal conflicts flag too."""
    from protovalidate_spark.audio.fingerprint import keyed_fingerprints
    from protovalidate_spark.audio.wav import synth_sine_wav

    src = str(tmp_path / "tx_src")
    out, ckpt = str(tmp_path / "tx_out"), str(tmp_path / "tx_ck")
    schema = "clip_id string, bytes binary, transcript string"

    def checks(stream):
        keyed = keyed_fingerprints(stream, extra_cols=("transcript",))
        return stream_key_checks(keyed, "fp_key", "id", [_tx_conflict()])

    # drop 1: references — also one batch-INTERNAL conflict (c1 vs c2)
    b1 = spark.createDataFrame(
        [("a1", synth_sine_wav(440, 16000, 400), "the cat sat"),
         ("b1", synth_sine_wav(550, 16000, 400), "other words"),
         ("c1", synth_sine_wav(660, 16000, 400), "first label"),
         ("c2", synth_sine_wav(660, 8000, 400, amp=0.3, fmt="pcm8"),
          "second label")], schema)
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    assert write_violations_stream(checks(stream), out, ckpt) \
        .awaitTermination(120)
    rows = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert sorted(rows) == ["c2"]          # batch-internal conflict
    assert rows["c2"]["first_id"] == "c1"
    # drop 2: a re-encoded 440 Hz with a conflicting label (flag), a
    # re-encoded 550 Hz whose label differs only in formatting (no
    # flag), distinct new content (no flag), garbage (no flag)
    b2 = spark.createDataFrame(
        [("a2", synth_sine_wav(440, 8000, 400, amp=0.25, fmt="pcm8"),
          "the dog sat"),
         ("b2", synth_sine_wav(550, 44100, 400, amp=0.2, fmt="float32"),
          "  OTHER   Words "),
         ("d1", synth_sine_wav(880, 16000, 400), "fresh content"),
         ("junk", b"\x00not-a-wav", "junk label")], schema)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(b1.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    assert write_violations_stream(checks(stream2), out, ckpt) \
        .awaitTermination(120)
    rows = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert sorted(rows) == ["a2", "c2"]
    r = rows["a2"]
    assert (r["first_id"], r["field_path"], r["rule_id"], r["actual"]) \
        == ("a1", "/transcript", "CONSISTENT", "the dog sat")


def test_streaming_transcript_conflict_exact_null_label(spark, tmp_path):
    """Exact (md5) key + NULL-label semantics: byte-identical rows where
    one transcript is NULL and the reference is real text flag the NULL
    row; NULL-bytes rows have a NULL key and never flag each other."""
    from protovalidate_spark.audio.wav import synth_sine_wav

    src = str(tmp_path / "tx2_src")
    out, ckpt = str(tmp_path / "tx2_out"), str(tmp_path / "tx2_ck")
    schema = "clip_id string, bytes binary, transcript string"

    def checks(stream):
        keyed = stream.withColumn("md5", F.md5("bytes"))
        return stream_key_checks(keyed, "md5", "clip_id", [_tx_conflict()])

    wav = synth_sine_wav(440, 16000, 400)
    b1 = spark.createDataFrame(
        [("a1", wav, "hello"), ("n1", None, "ghost one")], schema)
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    assert write_violations_stream(checks(stream), out, ckpt) \
        .awaitTermination(120)
    assert spark.read.parquet(out).count() == 0
    b2 = spark.createDataFrame(
        [("a2", wav, None), ("n2", None, "ghost two")], schema)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(b1.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    assert write_violations_stream(checks(stream2), out, ckpt) \
        .awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["clip_id"], r["first_id"], r["rule_id"]) \
        == ("a2", "a1", "CONSISTENT")
    assert r["actual"] is None


def test_stream_key_checks_share_one_stage(spark, tmp_path, capsys):
    """Duplicate + conflict on one fingerprinted stream: one decode+FFT
    Python stage and one state operator serve both checks, and a
    re-encoded clip with a new transcript flags under each."""
    from protovalidate_spark.audio.fingerprint import keyed_fingerprints
    from protovalidate_spark.audio.wav import synth_sine_wav

    src = str(tmp_path / "both_src")
    out, ckpt = str(tmp_path / "both_out"), str(tmp_path / "both_ck")
    spark.createDataFrame(
        [("a1", synth_sine_wav(440, 16000, 400), "the cat sat"),
         ("a2", synth_sine_wav(440, 8000, 400, amp=0.25, fmt="pcm8"),
          "the dog sat"),
         ("b1", synth_sine_wav(550, 16000, 400), "other words")],
        "clip_id string, bytes binary, transcript string") \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream \
        .schema("clip_id string, bytes binary, transcript string") \
        .parquet(src)
    keyed = keyed_fingerprints(stream, extra_cols=("transcript",))
    v = stream_key_checks(keyed, "fp_key", "id", [
        KeyDuplicate("/bytes", "audio content duplicated"), _tx_conflict()])
    q = write_violations_stream(v, out, ckpt)
    assert q.awaitTermination(120)
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    rows = sorted((r["id"], r["first_id"], r["field_path"], r["rule_id"])
                  for r in spark.read.parquet(out).collect())
    assert rows == [("a2", "a1", "/bytes", "UNIQUE"),
                    ("a2", "a1", "/transcript", "CONSISTENT")]


def test_stream_volume_violations(spark, tmp_path):
    """Windowed volume monitor vs a pinned expected rate: the starved
    window and the flooded window flag DRIFT; the on-rate window
    passes; the sentinel-open window never emits."""
    rows = []
    for i in range(100):      # window 00:00 — on rate (100/expected 100)
        rows.append((i, "2026-01-01 00:0%d:%02d" % (i % 10, i % 60)))
    for i in range(30):       # window 01:00 — starved (30)
        rows.append((1000 + i, "2026-01-01 01:0%d:%02d" % (i % 10, i % 60)))
    for i in range(200):      # window 02:00 — flooded (200)
        rows.append((2000 + i, "2026-01-01 02:0%d:%02d" % (i % 10, i % 60)))
    rows.append((9999, "2026-01-01 09:00:00"))  # sentinel keeps 02 closed
    df = spark.createDataFrame(rows, "id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_window_checks(stream, "ts",
                             [WindowVolume(expected_per_window=100.0,
                                           max_rel_dev=0.5)],
                             out, ckpt, window="10 minutes",
                             watermark="0 seconds")
    assert q.awaitTermination(120)

    got = spark.read.parquet(out).collect()
    flagged = {(r["window_start"].strftime("%H:%M"), r["actual"])
               for r in got}
    assert all(r["rule_id"] == "DRIFT"
               and r["field_path"] == "/__volume__" for r in got)
    assert flagged == {("01:00", "30"), ("02:00", "200")}


def test_stream_outlier_violations(spark, tmp_path):
    """Windowed outlier-rate monitor vs FROZEN fences (from a healthy
    batch baseline): the poisoned window's breach rate flags OUTLIER,
    the healthy window's background rate stays under max_rate."""
    from protovalidate_spark.dataset import iqr_fences

    base = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "value double")
    fences = iqr_fences(base, ["value"], k=1.5, exact=True)

    rows = []
    for i in range(100):      # window 00:00 — healthy (1 mild breach)
        v = 5000.0 if i == 0 else float(i % 100)
        rows.append((v, "2026-01-01 00:0%d:%02d" % (i % 10, i % 60)))
    for i in range(100):      # window 01:00 — poisoned (20% breaches)
        v = 9999.0 if i % 5 == 0 else float(i % 100)
        rows.append((v, "2026-01-01 01:0%d:%02d" % (i % 10, i % 60)))
    rows.append((1.0, "2026-01-01 09:00:00"))   # sentinel closes 01:00
    df = spark.createDataFrame(rows, "value double, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_window_checks(stream, "ts",
                             [WindowOutliers(fences, max_rate=0.05)],
                             out, ckpt, window="10 minutes",
                             watermark="0 seconds")
    assert q.awaitTermination(120)

    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    r = got[0]
    assert r["rule_id"] == "OUTLIER" and r["field_path"] == "/value"
    assert r["window_start"].strftime("%H:%M") == "01:00"
    assert abs(float(r["actual"]) - 0.2) < 1e-9


def test_stream_sink_caps_exemplars_per_rule(spark, tmp_path):
    """max_exemplars_per_rule on the streaming sink bounds each
    micro-batch's materialized rows per (field_path, rule_id) to the k
    smallest by the order key."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "src_cap")
    rows = [(i, f"clip-{i:010d}", 4000) for i in range(20)]  # all sr MIN
    df = spark.createDataFrame(rows, "row_idx long, clip_id string, sr_hz int")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    stream = spark.readStream.schema(df.schema).parquet(path)
    v = _rules().violations(stream, row_key_cols=["row_idx"])
    out, ckpt = str(tmp_path / "o_cap"), str(tmp_path / "c_cap")
    assert write_violations_stream(v, out, ckpt, max_exemplars_per_rule=3,
                            exemplar_order_cols=["row_idx"]
                            ).awaitTermination(120)
    got = sorted(r["row_idx"] for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 2]  # the 3 smallest of 20 MIN violations


def test_write_epoch_replay_writes_rows_once(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed epoch written again
    through write_epoch overwrites its own __epoch partition, so each
    row reads back once and other epochs are left alone."""
    from protovalidate_spark.streaming import write_epoch

    out = str(tmp_path / "epochs")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    write_epoch(df, 0, out)
    write_epoch(df.filter("k = 1"), 1, out)
    write_epoch(df, 0, out)  # the replay of epoch 0
    got = sorted((r["k"], r["v"], r["__epoch"])
                 for r in spark.read.parquet(out).collect())
    assert got == [(1, "a", 0), (1, "a", 1), (2, "b", 0)]


def test_stream_job_summary_is_last_line(spark, tmp_path):
    """``jobs/stream_clips.py`` with stderr merged into stdout ends on
    its JSON summary line, after its violations-by-rule table."""
    import json
    import subprocess
    import sys

    from protovalidate_spark.fixtures import Profile, write_clips

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    table, out = str(tmp_path / "table"), str(tmp_path / "out")
    write_clips(spark, table, Profile(n_rows=2, dur_range_ms=400))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "stream_clips.py"),
         "--table", table, "--out", out],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        env=env, timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:]
    assert "\r" not in proc.stdout   # no console progress bar
    last = [ln for ln in proc.stdout.split("\n") if ln.strip()][-1]
    assert json.loads(last)["mode"] == "streaming-availableNow"


def test_stream_entropy_violations(spark, tmp_path):
    """Windowed entropy monitor vs pinned bounds from a healthy batch
    baseline: the collapsed window (one category) flags MIN, the
    healthy window's mixed categories pass, a half-NULL window counts
    NULL as a category and passes, and the verdict value equals the
    batch column_entropy arithmetic."""
    import math

    rows = []
    for i in range(100):      # window 00:00 — healthy (4 categories)
        rows.append((f"s{i % 4}", "2026-01-01 00:0%d:%02d"
                     % (i % 10, i % 60)))
    for i in range(100):      # window 01:00 — collapsed (pinned value)
        rows.append(("stuck", "2026-01-01 01:0%d:%02d"
                     % (i % 10, i % 60)))
    for i in range(100):      # window 02:00 — half NULL: NULL is a real
        # category, so H = ln 2 passes; dropping NULLs would read H = 0
        rows.append((None if i % 2 else "s1", "2026-01-01 02:0%d:%02d"
                     % (i % 10, i % 60)))
    rows.append(("s0", "2026-01-01 09:00:00"))  # sentinel closes 02:00
    df = spark.createDataFrame(rows, "status string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "src_ent")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out, ckpt = str(tmp_path / "out_ent"), str(tmp_path / "ckpt_ent")
    q = stream_window_checks(stream, "ts",
                             [WindowEntropy("status", min_entropy=0.5)],
                             out, ckpt, window="10 minutes",
                             watermark="0 seconds")
    assert q.awaitTermination(120)

    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    r = got[0]
    assert r["rule_id"] == "MIN" and r["field_path"] == "/status"
    assert r["window_start"].strftime("%H:%M") == "01:00"
    assert float(r["actual"]) == 0.0          # one category: H = 0
    # healthy window would have scored ln(4) — over the bound
    assert math.log(4) > 0.5
