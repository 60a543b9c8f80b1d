"""Effective-bandwidth estimation + upsample-detection rule
(audio/bandwidth.py): spectral rolloff vs the container's Nyquist —
catches clips whose declared sr_hz over-promises the actual content
band (upsampled / telephony-band audio in a wideband container)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from protovalidate_spark import Object
from protovalidate_spark.audio.bandwidth import (
    _bandwidth_frame, bandwidth_rule, rolloff_hz,
)
from protovalidate_spark.audio.decode import _decode_series, with_decoded
from protovalidate_spark.audio.wav import synth_sine_wav, synth_wav


def _noise(sr, dur_s, seed=7, amp=0.3):
    rng = np.random.default_rng(seed)
    return amp * rng.standard_normal(int(sr * dur_s)).clip(-1, 1)


def _lowpass_sines(sr, dur_s, freqs, amp=0.25):
    t = np.arange(int(sr * dur_s)) / sr
    x = sum(np.sin(2 * np.pi * f * t + 0.1 * i)
            for i, f in enumerate(freqs))
    return amp * x / max(len(freqs), 1)


def test_rolloff_pure_tone():
    sr = 16000
    x = _lowpass_sines(sr, 0.5, [1000.0], amp=0.5)
    hz, ratio = rolloff_hz(x, sr)
    # 99% of a pure tone's power sits in the tone's bin neighborhood
    assert 900 < hz < 1200
    assert ratio == pytest.approx(hz / 8000.0)


def test_rolloff_fullband_noise_near_one():
    sr = 16000
    hz, ratio = rolloff_hz(_noise(sr, 0.5), sr)
    assert ratio > 0.9


def test_rolloff_bandlimited_content_low():
    # content ideally-resampled from 4 kHz true rate: nothing above 2 kHz
    sr = 16000
    x = _lowpass_sines(sr, 0.5, [400.0, 900.0, 1500.0, 1900.0])
    hz, ratio = rolloff_hz(x, sr)
    assert hz < 2200 and ratio < 0.3


def test_rolloff_short_clip_zero_padded():
    sr = 16000
    x = _lowpass_sines(sr, 0.05, [1000.0], amp=0.5)  # 800 samples < n_fft
    hz, ratio = rolloff_hz(x, sr)
    assert 700 < hz < 1600  # leakage widens the padded estimate


def test_rolloff_empty_and_silent_nan():
    hz, ratio = rolloff_hz(np.zeros(0), 16000)
    assert np.isnan(hz) and np.isnan(ratio)
    hz, ratio = rolloff_hz(np.zeros(4000), 16000)
    assert np.isnan(hz) and np.isnan(ratio)


def test_bandwidth_frame_batch():
    sr = 16000
    bs = pd.Series([
        synth_wav(_noise(sr, 0.3), sr),
        synth_wav(_lowpass_sines(sr, 0.3, [500.0, 1100.0]), sr),
        b"not audio",
        None,
    ], dtype=object)
    dec = _decode_series(bs, want_pcm=True)
    out = pd.concat([dec, _bandwidth_frame(dec, rolloff=0.99, n_fft=2048)],
                    axis=1)
    assert out["ok"].tolist() == [True, True, False, False]
    assert out["bandwidth_ratio"][0] > 0.9
    assert out["bandwidth_ratio"][1] < 0.3
    assert np.isnan(out["bandwidth_ratio"][2])


def test_bandwidth_rule_violations(spark):
    sr = 16000
    rows = [
        ("fullband", synth_wav(_noise(sr, 0.3), sr)),
        ("upsampled", synth_wav(
            _lowpass_sines(sr, 0.3, [400.0, 900.0, 1500.0]), sr)),
        ("narrowband", synth_wav(_lowpass_sines(sr, 0.3, [800.0]), sr)),
        ("silent", synth_sine_wav(440.0, sr, 300, amp=0.0)),
        ("garbage", b"not audio"),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    bw = with_decoded(df, fields=("bandwidth",))
    rs = Object().with_unknown().with_rule(bandwidth_rule(min_ratio=0.5))
    v = rs.violations(bw, row_key_cols=["clip_id"])
    flagged = {r["clip_id"] for r in v.collect()}
    # silent + garbage are NOT judged (other rules' findings)
    assert flagged == {"upsampled", "narrowband"}
    row = v.filter(F.col("clip_id") == "narrowband").collect()[0]
    assert row["rule_id"] == "CONSISTENT"
    assert row["field_path"] == "/bytes/bandwidth_ratio"
    assert float(row["actual"]) < 0.2


def test_fused_full_audio_bandwidth(spark):
    """The bandwidth group rides the single fused Arrow stage: one
    ArrowEvalPython in the plan, bandwidth fields present, every
    other field identical to the stage without it."""
    sr = 16000
    rows = [("a", synth_wav(_noise(sr, 0.3), sr)),
            ("b", synth_wav(_lowpass_sines(sr, 0.3, [700.0]), sr)),
            ("c", b"junk")]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    fused = with_decoded(df, fields=("features", "vad", "bandwidth"))
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    got = {r["clip_id"]: r["_decoded"] for r in fused.collect()}
    assert got["a"]["bandwidth_ratio"] > 0.9
    assert got["b"]["bandwidth_ratio"] < 0.3
    assert got["c"]["bandwidth_ratio"] is None
    base = {r["clip_id"]: r["_decoded"] for r in
            with_decoded(df, fields=("features", "vad")).collect()}
    for cid in ("a", "b", "c"):
        for f in base[cid].asDict():
            assert got[cid][f] == base[cid][f] or (
                got[cid][f] != got[cid][f] and base[cid][f] != base[cid][f])


def test_bandwidth_rule_composes_with_ruleset(spark):
    """The rule is an ordinary ObjectRule: it stacks with scalar rules
    in one rule set and its violation shares the violation row shape."""
    from protovalidate_spark import Int
    sr = 16000
    rows = [("x", synth_wav(_lowpass_sines(sr, 0.3, [600.0]), sr), 99)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, n int")
    bw = with_decoded(df, fields=("bandwidth",))
    rs = (Object().with_unknown()
          .with_key("n", Int().max(10))
          .with_rule(bandwidth_rule(min_ratio=0.5)))
    v = rs.violations(bw, row_key_cols=["clip_id"]).collect()
    assert {r["rule_id"] for r in v} == {"MAX", "CONSISTENT"}


def test_clips_suite_bandwidth_flag(spark):
    """clips_suite(bandwidth_checks=True): the gate rides the fused
    stage (ONE ArrowEvalPython in the row pass) and flags the synth
    tone clips (narrowband by construction) as CONSISTENT on
    /bytes/bandwidth_ratio; the default suite emits none."""
    import datetime

    from protovalidate_spark.clips import clips_suite
    from protovalidate_spark.fixtures import TINY, clips_df
    # plan pin on a synth-free frame: clips_df itself synthesizes bytes
    # through a pandas UDF, which shows as a second, unrelated
    # ArrowEvalPython unless the fixture is persisted first (same
    # pattern as test_audio_features' suite plan pins)
    plain = spark.createDataFrame(
        [(1, "clip-0000000001", synth_sine_wav(440.0, 16000, 100), 16000,
          100, "wav", "some words", datetime.date(2026, 1, 1))],
        "row_idx long, clip_id string, bytes binary, sr_hz int, "
        "dur_ms int, codec string, transcript string, part_date date")
    suite = clips_suite(spark, bandwidth_checks=True)
    plan = suite.row_violations(plain) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1

    df = clips_df(spark, TINY).limit(200).persist()
    df.count()
    rv = suite.row_violations(df)
    bw = rv.filter(F.col("field_path") == "/bytes/bandwidth_ratio")
    assert bw.count() > 0
    assert {r["rule_id"] for r in bw.collect()} == {"CONSISTENT"}
    base = clips_suite(spark).row_violations(df)
    assert base.filter(
        F.col("field_path") == "/bytes/bandwidth_ratio").count() == 0
    df.unpersist()
