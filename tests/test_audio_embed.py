"""Spectral audio embeddings (audio/embed.py) + energy VAD segmentation
(audio/segments.py): kernel invariants, the fused Arrow stage, and
composition with the engine's existing vector family."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from protovalidate_spark.audio.embed import (
    audio_embedding,
    audio_embeddings_frame,
    with_audio_embedding,
)
from protovalidate_spark.audio.decode import _decode_series, with_decoded
from protovalidate_spark.audio.segments import (
    max_gap_rule,
    segment_pcm,
    speech_presence_rule,
)
from protovalidate_spark.audio.wav import (
    decode_wav,
    synth_sine_wav,
    synth_wav,
)


def _pcm(b):
    d = decode_wav(b, want_pcm=True)
    assert d.ok
    return d.pcm, d.sr


def _cos(a, b):
    return float(np.dot(a, b)
                 / (np.linalg.norm(a) * np.linalg.norm(b) + 1e-12))


# ---------------------------------------------------------------- kernel

def test_embedding_invariant_across_encodings():
    """Same content re-encoded (format / sample rate / gain) must stay
    near cosine 1; different content must separate."""
    base = audio_embedding(*_pcm(synth_sine_wav(440.0, 16000, 400, 0.5)))
    for b in (synth_sine_wav(440.0, 8000, 400, 0.5, fmt="pcm8"),
              synth_sine_wav(440.0, 44100, 400, 0.25, fmt="float32"),
              synth_sine_wav(440.0, 16000, 400, 0.7, fmt="alaw")):
        assert _cos(base, audio_embedding(*_pcm(b))) > 0.98
    other = audio_embedding(*_pcm(synth_sine_wav(1100.0, 16000, 400, 0.5)))
    assert _cos(base, other) < 0.7


def test_embedding_gain_invariance_exact():
    x, sr = _pcm(synth_sine_wav(330.0, 16000, 200, 0.5))
    a = audio_embedding(x, sr)
    b = audio_embedding(x * 0.1, sr)
    assert _cos(a, b) > 0.9999


def test_embedding_edge_inputs():
    assert not audio_embedding(np.array([]), 16000).any()
    assert not audio_embedding(np.zeros(16000, dtype=np.float32), 16000).any()
    v = audio_embedding(*_pcm(synth_sine_wav(440.0, 16000, 100, 0.5)),
                        chunks=3, bands=8)
    assert v.shape == (24,) and v.dtype == np.float32
    assert abs(float(np.dot(v, v)) - 1.0) < 1e-5


# ------------------------------------------------------------ Arrow stage

def test_with_audio_embedding_stage(spark):
    rows = [("a", synth_sine_wav(440.0, 16000, 200, 0.5)),
            ("b", synth_sine_wav(440.0, 8000, 200, 0.4, fmt="mulaw")),
            ("c", synth_sine_wav(990.0, 16000, 200, 0.5)),
            ("silent", synth_sine_wav(440.0, 16000, 200, 0.0)),
            ("bad", b"not a wav"), ("nul", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {r["clip_id"]: r["_aemb"]
           for r in with_audio_embedding(df).collect()}
    assert got["bad"] is None and got["nul"] is None
    assert not any(got["silent"])          # zero vector, not NULL
    assert _cos(np.array(got["a"]), np.array(got["b"])) > 0.98
    assert _cos(np.array(got["a"]), np.array(got["c"])) < 0.7

    frame = audio_embeddings_frame(df)
    assert {r["id"] for r in frame.collect()} == {"a", "b", "c"}
    # the content filter must not re-instantiate the Python stage
    # (FRESH frame: an executed AQE plan prints Final+Initial sections
    # and double-counts nodes)
    plan = (audio_embeddings_frame(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("ArrowEvalPython") == 1, plan


def test_embeddings_compose_with_near_dup_family(spark):
    """audio embeddings feed embedding_near_dups UNCHANGED — the same
    recording across encodings lands in one near-dup pair set."""
    from protovalidate_spark.pipeline.dedup import embedding_near_dups
    rows = []
    for k in range(6):
        freq = 300.0 * 2 ** (k / 2.0)
        rows.append((f"c{k}a", synth_sine_wav(freq, 16000, 300, 0.5)))
        rows.append((f"c{k}b",
                     synth_sine_wav(freq, 8000, 300, 0.3, fmt="pcm8")))
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    emb = audio_embeddings_frame(df)
    pairs = embedding_near_dups(emb, "id", "embedding", threshold=0.95,
                                brute_force=True)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(f"c{k}a", f"c{k}b") for k in range(6)}


# ------------------------------------------------------------------- VAD

def _tone_silence_pcm(sr=16000, pattern=((300, True), (200, False),
                                         (300, True))):
    parts = []
    for dur_ms, active in pattern:
        n = int(sr * dur_ms / 1000)
        t = np.arange(n) / sr
        parts.append(0.5 * np.sin(2 * np.pi * 440.0 * t)
                     if active else np.zeros(n))
    return np.concatenate(parts), sr


def test_segment_pcm_basic():
    x, sr = _tone_silence_pcm()
    segs = segment_pcm(x, sr, frame_ms=20, hangover_frames=2)
    assert len(segs) == 2
    (s1, e1), (s2, e2) = segs
    assert abs(s1 - 0) <= 20 and abs(e1 - 300) <= 40
    assert abs(s2 - 500) <= 40 and abs(e2 - 800) <= 40


def test_segment_pcm_hangover_bridges_short_gap():
    x, sr = _tone_silence_pcm(pattern=((200, True), (40, False),
                                       (200, True)))
    assert len(segment_pcm(x, sr, frame_ms=20, hangover_frames=2)) == 1
    assert len(segment_pcm(x, sr, frame_ms=20, hangover_frames=0)) == 2


def test_segment_pcm_drops_clicks_and_silence():
    x, sr = _tone_silence_pcm(pattern=((20, True), (400, False)))
    assert segment_pcm(x, sr, frame_ms=20, min_speech_frames=2) == []
    assert segment_pcm(np.zeros(8000), 16000) == []
    assert segment_pcm(np.array([]), 16000) == []


def test_vad_group_stage_and_rules(spark):
    x, sr = _tone_silence_pcm()                      # 300 on / 200 off / 300 on
    mostly_silent, _ = _tone_silence_pcm(pattern=((40, True), (760, False)))
    rows = [("talky", synth_wav(x, sr)),
            ("holey", synth_wav(mostly_silent, sr)),
            ("bad", b"nope"), ("nul", None)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    seg = with_decoded(df, fields=("vad",), vad_threshold_rms=0.01)
    got = {r["clip_id"]: r["_decoded"] for r in seg.collect()}
    assert got["bad"]["ok"] is False and got["bad"]["speech_ms"] is None
    t = got["talky"]
    assert t["n_segments"] == 2 and 0.6 <= t["speech_ratio"] <= 0.9
    assert 160 <= t["longest_gap_ms"] <= 240
    h = got["holey"]
    assert h["speech_ratio"] < 0.1 and h["longest_gap_ms"] >= 700

    from protovalidate_spark import Object
    rs = (Object().with_unknown()
          .with_rule(speech_presence_rule(min_ratio=0.2))
          .with_rule(max_gap_rule(max_gap_ms=500)))
    v = rs.violations(seg, row_key_cols=["clip_id"]).collect()
    got_v = {(r["clip_id"], r["field_path"], r["rule_id"]) for r in v}
    assert got_v == {("holey", "/bytes/speech_ratio", "MIN"),
                     ("holey", "/bytes/longest_gap_ms", "MAX")}
    # ONE fused Arrow stage end-to-end (fresh frame: AQE plan-toString
    # double-counts after execution)
    plan = (with_decoded(df, fields=("vad",))._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("ArrowEvalPython") == 1, plan


def test_segments_tail_frame_counts_real_samples():
    """A loud tail shorter than one frame must still register (RMS over
    real samples, not zero padding)."""
    sr = 16000
    n = int(sr * 0.105)                      # 105 ms: 5 full + 1/4 frame
    t = np.arange(n) / sr
    x = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    segs = segment_pcm(x, sr, frame_ms=20, min_speech_frames=2)
    assert len(segs) == 1 and segs[0][1] >= 100


def test_vad_snr_estimate():
    import numpy as np

    from protovalidate_spark.audio.segments import _segments_series
    from protovalidate_spark.audio.wav import synth_wav
    import pandas as pd
    sr = 16000

    def clip(speech_amp, noise_amp, fmt="pcm16"):
        n = int(sr * 0.3)
        t = np.arange(n) / sr
        speech = speech_amp * np.sin(2 * np.pi * 330.0 * t)
        noise = np.full(n, noise_amp)
        return synth_wav(np.concatenate([speech, noise]), sr, fmt=fmt)

    rows = pd.Series([
        clip(0.5, 0.005),                  # clean: ~37 dB
        clip(0.02, 0.009),                 # marginal: ~3.9 dB
        synth_wav(0.5 * np.sin(2 * np.pi * 330.0 *
                               np.arange(4800) / sr), sr),  # all speech
        synth_wav(np.zeros(4800), sr),     # all silent
        b"garbage",
    ], dtype=object)
    out = _segments_series(_decode_series(rows, want_pcm=True), frame_ms=20,
                           threshold_rms=0.01, hangover_frames=2,
                           min_speech_frames=2)
    snr = out["snr_db"]
    assert abs(snr[0] - 20 * np.log10((0.5 / np.sqrt(2)) / 0.005)) < 0.2
    assert abs(snr[1] - 20 * np.log10((0.02 / np.sqrt(2)) / 0.009)) < 0.3
    assert pd.isna(snr[2])   # no noise reference
    assert pd.isna(snr[3])   # no speech
    assert pd.isna(snr[4])   # undecodable


def test_min_snr_rule(spark):
    import numpy as np

    from protovalidate_spark import Object
    from protovalidate_spark.audio import min_snr_rule
    from protovalidate_spark.audio.wav import synth_wav
    sr = 16000
    n = int(sr * 0.3)
    t = np.arange(n) / sr

    def clip(speech_amp, noise_amp):
        return synth_wav(np.concatenate(
            [speech_amp * np.sin(2 * np.pi * 330.0 * t),
             np.full(n, noise_amp)]), sr)

    rows = [("clean", clip(0.5, 0.005)),
            ("noisy", clip(0.02, 0.009)),
            ("tone_only", synth_wav(0.5 * np.sin(2 * np.pi * 330.0 * t), sr)),
            ("bad", b"nope")]
    df = with_decoded(
        spark.createDataFrame(rows, "clip_id string, bytes binary"),
        fields=("vad",))
    rs = Object().with_unknown().with_rule(min_snr_rule(min_db=10.0))
    v = {r["clip_id"] for r in
         rs.violations(df, row_key_cols=["clip_id"]).collect()}
    # only the measurable low-SNR clip fails; no-noise-reference and
    # undecodable clips are other rules' findings
    assert v == {"noisy"}
