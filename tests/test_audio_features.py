"""Audio feature extraction (peak/clipping/silence/ZCR) + audio/transcript
speech-rate consistency — training-data quality gates over decoded PCM."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from protovalidate_spark.audio.decode import _decode_series, with_decoded
from protovalidate_spark.audio.features import (
    _features_series, clipping_rule, silence_rule, speech_rate_rule,
)
from protovalidate_spark.audio.wav import synth_sine_wav


def _features(bs, **kw):
    """Decode a batch, then run the feature kernel on it (what the
    ``features`` group of the decode stage computes)."""
    defaults = dict(frame_ms=20, silence_rms=0.01, clip_level=0.999)
    defaults.update(kw)
    dec = _decode_series(pd.Series(bs, dtype=object), want_pcm=True)
    return pd.concat([dec, _features_series(dec, **defaults)], axis=1)


def _feat(b, **kw):
    return _features([b], **kw).iloc[0]


def test_clean_sine_features():
    f = _feat(synth_sine_wav(440.0, 16000, 500, amp=0.9))
    assert f["ok"]
    assert abs(f["peak"] - 0.9) < 0.01
    assert f["clip_ratio"] == 0.0
    assert f["silence_ratio"] == 0.0
    # sine crosses zero 2*freq times/sec -> 2*440/16000 per sample
    assert abs(f["zcr"] - 2 * 440 / 16000) < 0.005


def test_clipped_sine_detected():
    # amp 1.5 clips at the int16 rails; |1.5 sin| >= 0.999 fraction is
    # 1 - (2/pi) asin(0.999/1.5) ~= 0.535
    f = _feat(synth_sine_wav(440.0, 16000, 500, amp=1.5))
    assert f["ok"] and abs(f["peak"] - 32767 / 32768) < 1e-4
    assert 0.45 < f["clip_ratio"] < 0.62
    assert f["silence_ratio"] == 0.0


def test_silent_clip_detected():
    f = _feat(synth_sine_wav(440.0, 16000, 500, amp=0.0))
    assert f["ok"] and f["peak"] == 0.0 and f["silence_ratio"] == 1.0
    # constant zero never sign-crosses
    assert f["zcr"] == 0.0


def test_partial_silence_ratio():
    # 100ms tone + 100ms digital silence appended as one data chunk
    tone = synth_sine_wav(440.0, 8000, 100, amp=0.5)
    import struct
    n_sil = 8000 * 100 // 1000
    body = bytearray(tone) + b"\x00\x00" * n_sil
    (dsize,) = struct.unpack_from("<I", body, 40)
    struct.pack_into("<I", body, 40, dsize + 2 * n_sil)
    struct.pack_into("<I", body, 4, len(body) - 8)
    f = _feat(bytes(body))
    assert f["ok"]
    assert 0.4 < f["silence_ratio"] < 0.6


def test_undecodable_gives_nulls():
    out = _features([b"garbage", None])
    assert not out["ok"].any()
    assert out[["peak", "clip_ratio", "silence_ratio", "zcr"]].isna().all().all()


def test_features_group_spark(spark):
    rows = [("clean", synth_sine_wav(300.0, 8000, 250, amp=0.5)),
            ("clipped", synth_sine_wav(300.0, 8000, 250, amp=2.0)),
            ("silent", synth_sine_wav(300.0, 8000, 250, amp=0.0)),
            ("bad", b"nope")]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    out = {r["clip_id"]: r for r in
           with_decoded(df, fields=("features",))
           .select("clip_id", "_decoded.*").collect()}
    assert out["clean"]["ok"] and out["clean"]["clip_ratio"] == 0.0
    assert out["clipped"]["clip_ratio"] > 0.3
    assert out["silent"]["silence_ratio"] == 1.0
    assert not out["bad"]["ok"] and out["bad"]["peak"] is None


def test_feature_rules_flag_violations(spark):
    from protovalidate_spark import Object
    rows = [("clean", synth_sine_wav(300.0, 8000, 250, amp=0.5)),
            ("clipped", synth_sine_wav(300.0, 8000, 250, amp=2.0)),
            ("silent", synth_sine_wav(300.0, 8000, 250, amp=0.0)),
            ("bad", b"nope")]
    df = with_decoded(
        spark.createDataFrame(rows, "clip_id string, bytes binary"),
        fields=("features",))
    rs = (Object().with_unknown()
          .with_rule(clipping_rule(max_ratio=0.01))
          .with_rule(silence_rule(max_ratio=0.9)))
    v = rs.violations(df, row_key_cols=["clip_id"])
    got = {(r["clip_id"], r["field_path"]) for r in v.collect()}
    # undecodable rows are NOT judged by feature rules (DECODE's job)
    assert got == {("clipped", "/bytes/clip_ratio"),
                   ("silent", "/bytes/silence_ratio")}


def test_speech_rate_rule(spark):
    from protovalidate_spark import Object
    rows = [
        ("ok", "five words in two seconds", 2000),      # 2.5 wps
        ("fast", " ".join(["w"] * 40), 1000),           # 40 wps
        ("slow", "two words", 30000),                   # 0.067 wps
        ("empty", "", 1000),                            # not judged
        ("null_t", None, 1000),                         # not judged
        ("zero_d", "some words here", 0),               # not judged
    ]
    df = spark.createDataFrame(rows, "clip_id string, transcript string, dur_ms int")
    rs = Object().with_unknown().with_rule(
        speech_rate_rule(min_wps=0.4, max_wps=8.0))
    v = rs.violations(df, row_key_cols=["clip_id"])
    got = {r["clip_id"]: r for r in v.collect()}
    assert set(got) == {"fast", "slow"}
    assert got["fast"]["rule_id"] == "CONSISTENT"
    assert got["fast"]["actual"] == "40.0"
    assert got["slow"]["field_path"] == "/transcript"


def test_features_single_arrow_stage(spark):
    """ONE ArrowEvalPython stage: decode + features fused — the plan
    property that keeps the 10^12-row pass at one Python round-trip."""
    df = spark.createDataFrame(
        [(synth_sine_wav(300.0, 8000, 100),)], "bytes binary")
    plan = with_decoded(df, fields=("features",)).select(
        "_decoded.clip_ratio", "_decoded.zcr")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_clips_suite_audio_checks(spark, tiny_clips):
    """audio_checks=True adds the three quality rules without changing
    the baseline 27 violations — and the fused decode+features stage
    keeps the row pass at ONE ArrowEvalPython."""
    from protovalidate_spark.clips import clips_suite
    base = clips_suite(spark).run(tiny_clips, persist=False)
    full = clips_suite(spark, audio_checks=True).run(tiny_clips, persist=False)
    nb, nf = base.violations.count(), full.violations.count()
    assert nb == 27
    extra = (full.violations
             .filter(F.col("field_path").isin(
                 "/bytes/clip_ratio", "/bytes/silence_ratio"))
             .count())
    rate = full.violations.filter(
        (F.col("field_path") == "/transcript")
        & (F.col("rule_id") == "CONSISTENT")).count()
    # every violation beyond the baseline is one of the three new rules
    assert nf == nb + extra + rate
    # plan check on a synth-free frame (tiny_clips itself synthesizes
    # bytes through a pandas UDF, which would show as a second
    # ArrowEvalPython that has nothing to do with the decode stage)
    import datetime
    plain = spark.createDataFrame(
        [(1, "clip-0000000001", synth_sine_wav(440.0, 16000, 100), 16000,
          100, "wav", "some words", datetime.date(2026, 1, 1))],
        "row_idx long, clip_id string, bytes binary, sr_hz int, "
        "dur_ms int, codec string, transcript string, part_date date")
    plan = clips_suite(spark, audio_checks=True).row_violations(plain) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_level_and_dc_features():
    # sine RMS = amp/sqrt(2) -> 20*log10(0.5/sqrt(2)) = -9.03 dBFS
    f = _feat(synth_sine_wav(440.0, 16000, 500, amp=0.5))
    assert abs(f["rms_dbfs"] - 20 * np.log10(0.5 / np.sqrt(2))) < 0.05
    assert abs(f["dc_offset"]) < 1e-3
    s = _feat(synth_sine_wav(440.0, 16000, 500, amp=0.0))
    assert s["rms_dbfs"] == -200.0 and s["dc_offset"] == 0.0
    bad = _feat(b"garbage")
    assert not bad["ok"] and np.isnan(bad["rms_dbfs"]) \
        and np.isnan(bad["dc_offset"])


def test_dc_offset_detected():
    from protovalidate_spark.audio.wav import synth_wav
    t = np.arange(4000) / 8000.0
    x = 0.25 * np.sin(2 * np.pi * 300.0 * t) + 0.1
    f = _feat(synth_wav(x, 8000, fmt="pcm16"))
    assert f["ok"] and abs(f["dc_offset"] - 0.1) < 0.005


def test_level_rules_flag_violations(spark):
    from protovalidate_spark import Object
    from protovalidate_spark.audio.features import dc_offset_rule, quiet_rule
    from protovalidate_spark.audio.wav import synth_wav
    t = np.arange(2000) / 8000.0
    biased = synth_wav(0.25 * np.sin(2 * np.pi * 300.0 * t) + 0.15, 8000)
    rows = [("ok", synth_sine_wav(300.0, 8000, 250, amp=0.5)),
            ("faint", synth_sine_wav(300.0, 8000, 250, amp=0.002)),
            ("biased", biased),
            ("bad", b"nope")]
    df = with_decoded(
        spark.createDataFrame(rows, "clip_id string, bytes binary"),
        fields=("features",))
    rs = (Object().with_unknown()
          .with_rule(quiet_rule(min_dbfs=-45.0))
          .with_rule(dc_offset_rule(max_abs=0.02)))
    v = rs.violations(df, row_key_cols=["clip_id"])
    got = {(r["clip_id"], r["field_path"], r["rule_id"]) for r in v.collect()}
    # undecodable rows are NOT judged (DECODE's finding); fully-silent
    # clips DO fail quiet_rule via the SILENCE_DBFS floor — covered by
    # the "faint" case here, floor case asserted in the feature test
    assert got == {("faint", "/bytes/rms_dbfs", "MIN"),
                   ("biased", "/bytes/dc_offset", "MAX")}


ALL_FIELDS = ("rms", "pcm", "features", "vad", "bandwidth")


@pytest.fixture(scope="module")
def stage_rows(spark):
    """A clean tone, a silent clip, a garbage payload and a NULL (25
    copies each in one partition, so one Arrow stream's fixed framing
    does not swamp the per-row transfer), plus the stage's struct with
    every field group on (the reference)."""
    rows = [("clean", synth_sine_wav(300.0, 8000, 250, amp=0.5)),
            ("silent", synth_sine_wav(300.0, 8000, 250, amp=0.0)),
            ("bad", b"nope"),
            ("null", None)]
    df = spark.createDataFrame(rows * 25, "clip_id string, bytes binary") \
        .coalesce(1)
    ref = {r["clip_id"]: r["_decoded"].asDict() for r in
           with_decoded(df, fields=ALL_FIELDS).collect()}
    return df, ref


def _same(a, b):
    return a == b or (a != a and b != b)    # NaN == NaN


@pytest.mark.parametrize("fields", [
    (), ("rms",), ("pcm",), ("features",), ("vad",), ("bandwidth",),
    ALL_FIELDS], ids=lambda f: "+".join(f) or "header")
def test_decoded_fields_are_independent(stage_rows, fields):
    """ONE Arrow stage for every ``fields`` set: the struct is the header
    fields plus the requested groups in fixed order (a payload group
    brings rms), each shared field equals the all-groups value (a
    group's values do not depend on the other groups present), and only
    ``fields=()`` keeps the transfer at a header per row."""
    from test_plans import _python_data_sent

    from protovalidate_spark.audio.decode import (FIELD_GROUPS,
                                                  HEADER_FIELDS, HEADER_LEN)
    df, ref = stage_rows
    out = with_decoded(df, fields=fields)
    got = [(r["clip_id"], r["_decoded"].asDict()) for r in out.collect()]
    groups = [g for g in FIELD_GROUPS
              if g in fields or (g == "rms" and fields)]
    want = [f.name for f in HEADER_FIELDS] + [
        f.name for g in groups for f in FIELD_GROUPS[g]]
    for cid, row in got:
        assert list(row) == want, (cid, list(row))
        for f, v in row.items():
            assert _same(v, ref[cid][f]), (cid, f, v, ref[cid][f])
    [sent] = _python_data_sent(out)    # one Arrow stage
    # per row: the header, its length, Arrow offsets and validity, plus
    # the payload of the one row the canonical guard rejects (garbage)
    header_bound = len(got) * (HEADER_LEN + 32) + 25 * len(b"nope")
    assert (sent <= header_bound) == (fields == ()), (fields, sent)


def test_vad_suite_struct_carries_features(spark):
    """audio_vad alone still brings the feature fields (VAD implies
    features): a rule reading a feature and a VAD field analyses."""
    import datetime

    from protovalidate_spark.clips import clips_rules
    from protovalidate_spark.rules.object import ObjectRule
    from protovalidate_spark.suite import ValidationSuite
    plain = spark.createDataFrame(
        [(1, "clip-0000000001", synth_sine_wav(440.0, 16000, 100), 16000,
          100, "wav", "some words", datetime.date(2026, 1, 1))],
        "row_idx long, clip_id string, bytes binary, sr_hz int, "
        "dur_ms int, codec string, transcript string, part_date date")
    suite = ValidationSuite(
        rules=clips_rules(), row_keys=("row_idx", "clip_id"),
        audio_vad=("bytes",),
        extra_object_rules=(ObjectRule(
            rule_id="MAX", message="peak", field_path="/bytes/peak",
            predicate=lambda get: get("__dec_bytes")["peak"]
            <= get("__dec_bytes")["speech_ratio"] + 1),))
    assert suite._audio_fields("bytes") == ("features", "vad")
    suite.row_violations(plain).schema   # analysis only, no action


def test_clips_suite_all_audio_flags_one_stage(spark, tiny_clips):
    """level_checks + vad_checks compose on top of audio_checks: the
    baseline 27 violations stay a subset, every extra row belongs to one
    of the eight audio-gate paths, and the row pass is STILL one
    ArrowEvalPython (with_decoded)."""
    import datetime

    from protovalidate_spark.clips import clips_suite
    full = clips_suite(spark, audio_checks=True, level_checks=True,
                       vad_checks=True).run(tiny_clips, persist=False)
    base = clips_suite(spark).run(tiny_clips, persist=False)
    nb, nf = base.violations.count(), full.violations.count()
    assert nb == 27
    new_paths = ("/bytes/clip_ratio", "/bytes/silence_ratio",
                 "/bytes/rms_dbfs", "/bytes/dc_offset",
                 "/bytes/speech_ratio", "/bytes/longest_gap_ms",
                 "/bytes/snr_db")
    extra = full.violations.filter(F.col("field_path").isin(*new_paths)) \
        .count()
    rate = full.violations.filter(
        (F.col("field_path") == "/transcript")
        & (F.col("rule_id") == "CONSISTENT")).count()
    assert nf == nb + extra + rate
    plain = spark.createDataFrame(
        [(1, "clip-0000000001", synth_sine_wav(440.0, 16000, 100), 16000,
          100, "wav", "some words", datetime.date(2026, 1, 1))],
        "row_idx long, clip_id string, bytes binary, sr_hz int, "
        "dur_ms int, codec string, transcript string, part_date date")
    plan = clips_suite(spark, audio_checks=True, level_checks=True,
                       vad_checks=True).row_violations(plain) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_normalize_pcm_kernel():
    from protovalidate_spark.audio.repair import normalize_pcm
    t = np.arange(4000) / 8000.0
    x = 0.2 * np.sin(2 * np.pi * 300.0 * t) + 0.1
    fixed, gain_db, dc = normalize_pcm(x)
    assert abs(dc - 0.1) < 1e-9
    assert abs(np.abs(fixed).max() - 0.95) < 1e-9
    assert abs(fixed.mean()) < 1e-9
    # gain cap: a 1e-4 peak asks for ~79 dB, gets exactly 30
    faint, g2, _ = normalize_pcm(1e-4 * np.sin(2 * np.pi * 300.0 * t),
                                 max_gain_db=30.0)
    assert abs(g2 - 30.0) < 1e-9
    assert abs(np.abs(faint).max() - 1e-4 * 10 ** 1.5) < 1e-7
    # all-zero passthrough
    z, gz, dz = normalize_pcm(np.zeros(100))
    assert gz == 0.0 and dz == 0.0 and not z.any()


def test_with_normalized_audio_repairs_gates(spark):
    from protovalidate_spark.audio import with_normalized_audio
    from protovalidate_spark.audio.wav import synth_wav
    t = np.arange(4000) / 8000.0
    rows = [
        ("biased_faint", synth_wav(
            0.004 * np.sin(2 * np.pi * 300.0 * t) + 0.05, 8000)),
        ("ok", synth_sine_wav(300.0, 8000, 250, amp=0.5)),
        ("bad", b"nope"),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    norm = with_normalized_audio(df)
    # repaired bytes decode through the UNMODIFIED pipeline and pass
    # the very gates that flagged the original
    feats = with_decoded(
        norm.select("clip_id", F.col("_norm")["ok"].alias("norm_ok"),
                    F.col("_norm")["gain_db"].alias("gain_db"),
                    F.col("_norm")["bytes"].alias("bytes")),
        fields=("features",))
    r = {x["clip_id"]: x for x in
         feats.select("clip_id", "norm_ok", "gain_db", "_decoded.*")
         .collect()}
    bf = r["biased_faint"]
    assert bf["norm_ok"] and abs(bf["dc_offset"]) < 1e-3
    assert bf["rms_dbfs"] > -45.0           # quiet_rule now passes
    # the 30 dB gain cap binds before the 0.95 target: 0.004 * 10^1.5
    assert abs(bf["peak"] - 0.004 * 10 ** 1.5) < 0.005
    assert abs(bf["gain_db"] - 30.0) < 1e-6
    # already-healthy audio is only rescaled to the target peak
    assert abs(r["ok"]["peak"] - 0.95) < 0.01
    assert not r["bad"]["norm_ok"] and r["bad"]["peak"] is None
    # idempotence once the target is reached: re-normalizing applies
    # ~0 dB to the at-target clip; the gain-capped clip takes the
    # REMAINING 47.5-30 = 17.5 dB on the second pass (per-pass cap)
    again = with_normalized_audio(
        norm.select("clip_id", F.col("_norm")["bytes"].alias("bytes")))
    g2 = {x["clip_id"]: x["g"] for x in again.select(
        "clip_id", F.col("_norm")["gain_db"].alias("g")).collect()
        if x["g"] is not None}
    assert abs(g2["ok"]) < 0.05
    assert abs(g2["biased_faint"] - 17.5) < 0.1


def test_resample_kernel():
    from protovalidate_spark.audio.repair import resample_linear
    sr, target = 44100, 16000
    t = np.arange(int(sr * 0.5)) / sr
    x = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    y = resample_linear(x, sr, target)
    assert abs(y.size - int(round(x.size * target / sr))) == 0
    # tone frequency preserved: compare against the ideal 16k sine
    ty = np.arange(y.size) / target
    ref = 0.5 * np.sin(2 * np.pi * 440.0 * ty)
    err = np.sqrt(np.mean((y - ref) ** 2))
    assert err < 0.01                      # linear-interp error ~ -40 dB
    # same-rate passthrough is the identity
    assert resample_linear(x, sr, sr) is x


def test_with_standardized_audio(spark):
    from protovalidate_spark.audio import (with_decoded,
                                           with_standardized_audio)
    rows = [("a44k", synth_sine_wav(440.0, 44100, 300, amp=0.5,
                                    fmt="float32")),
            ("a8k_mulaw", synth_sine_wav(300.0, 8000, 250, amp=0.4,
                                         fmt="mulaw")),
            ("already", synth_sine_wav(500.0, 16000, 200, amp=0.3)),
            ("bad", b"nope")]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    std = with_standardized_audio(df, target_sr=16000, fmt="pcm16")
    dec = with_decoded(
        std.select("clip_id",
                   F.col("_std")["ok"].alias("std_ok"),
                   F.col("_std")["src_sr"].alias("src_sr"),
                   F.col("_std")["src_dur_ms"].alias("src_dur_ms"),
                   F.col("_std")["bytes"].alias("bytes")),
        out_col="_dec")
    r = {x["clip_id"]: x for x in
         dec.select("clip_id", "std_ok", "src_sr", "src_dur_ms",
                    "_dec.*").collect()}
    # every standardized clip decodes at the target rate with the
    # source duration preserved
    for cid in ("a44k", "a8k_mulaw", "already"):
        assert r[cid]["std_ok"] and r[cid]["sr"] == 16000
        assert abs(r[cid]["dur_ms"] - r[cid]["src_dur_ms"]) <= 1
    assert r["a44k"]["src_sr"] == 44100
    assert abs(r["a44k"]["rms"] - 0.5 / np.sqrt(2)) < 0.01
    # undecodable: NULL standardized bytes, which the decoder reports
    # as a failed decode (ok=false, zeroed fields)
    assert not r["bad"]["std_ok"] and not r["bad"]["ok"]


def test_trim_silence_kernel():
    from protovalidate_spark.audio.repair import trim_silence_pcm
    sr = 8000
    tone = 0.5 * np.sin(2 * np.pi * 300.0 * np.arange(sr // 2) / sr)
    x = np.concatenate([np.zeros(sr // 4), tone, np.zeros(sr // 2)])
    y, lead, tail = trim_silence_pcm(x, sr, pad_ms=0)
    # 250 ms leading and 500 ms trailing silence removed (frame-quantized)
    assert abs(lead - 250.0) <= 10.0 and abs(tail - 500.0) <= 10.0
    assert abs(y.size - tone.size) <= 2 * sr // 100
    # pad keeps context on both sides
    y2, lead2, tail2 = trim_silence_pcm(x, sr, pad_ms=50)
    assert y2.size - y.size >= int(0.09 * sr)
    assert lead2 < lead and tail2 < tail
    # all-silent trims to nothing, reporting the full duration as lead
    z, lz, tz = trim_silence_pcm(np.zeros(sr), sr)
    assert z.size == 0 and abs(lz - 1000.0) < 1e-9 and tz == 0.0
    # interior silence untouched
    gap = np.concatenate([tone, np.zeros(sr // 4), tone])
    g, _, _ = trim_silence_pcm(gap, sr, pad_ms=0)
    assert g.size >= gap.size - 2 * sr // 100


def test_normalize_pcm_rms_mode():
    from protovalidate_spark.audio.repair import normalize_pcm
    t = np.arange(8000) / 8000.0
    x = 0.05 * np.sin(2 * np.pi * 300.0 * t)
    fixed, gain_db, _ = normalize_pcm(x, target_rms_dbfs=-20.0)
    rms = float(np.sqrt(np.mean(fixed ** 2)))
    assert abs(20 * np.log10(rms) - (-20.0)) < 0.01
    # peak ceiling: a sine asked to hit -3 dBFS RMS would clip;
    # the peak cap wins instead
    loud, _, _ = normalize_pcm(x, target_peak=0.95, target_rms_dbfs=-3.0)
    assert abs(np.abs(loud).max() - 0.95) < 1e-9


def test_with_trimmed_audio(spark):
    from protovalidate_spark.audio import with_decoded, with_trimmed_audio
    from protovalidate_spark.audio.wav import synth_wav
    sr = 8000
    tone = 0.5 * np.sin(2 * np.pi * 300.0 * np.arange(sr // 2) / sr)
    padded = np.concatenate([np.zeros(sr // 4), tone, np.zeros(sr // 2)])
    rows = [("padded", synth_wav(padded, sr)),
            ("tight", synth_wav(tone, sr)),
            ("silent", synth_wav(np.zeros(sr), sr)),
            ("bad", b"nope")]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    tr = with_trimmed_audio(df, pad_ms=0)
    dec = with_decoded(
        tr.select("clip_id",
                  F.col("_trim")["ok"].alias("trim_ok"),
                  F.col("_trim")["lead_ms"].alias("lead_ms"),
                  F.col("_trim")["out_dur_ms"].alias("out_dur_ms"),
                  F.col("_trim")["bytes"].alias("bytes")),
        out_col="_dec")
    r = {x["clip_id"]: x for x in
         dec.select("clip_id", "trim_ok", "lead_ms", "out_dur_ms",
                    "_dec.*").collect()}
    assert r["padded"]["trim_ok"] and abs(r["padded"]["lead_ms"] - 250) <= 10
    assert abs(r["padded"]["out_dur_ms"] - 500) <= 20
    # trimmed bytes decode through the unmodified pipeline
    assert r["padded"]["ok"] and r["padded"]["sr"] == sr
    assert abs(r["padded"]["dur_ms"] - r["padded"]["out_dur_ms"]) <= 1
    # already-tight input loses (almost) nothing
    assert r["tight"]["out_dur_ms"] >= 490
    # all-silent trims to a 0-sample WAV
    assert r["silent"]["trim_ok"] and r["silent"]["out_dur_ms"] == 0
    assert not r["bad"]["trim_ok"]
