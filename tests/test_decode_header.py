"""The suite's header-only decode stage (audio/decode.py
``with_decoded(fields=())``): Python gets each row's 44-byte header and
length, plus the payload only where the Catalyst guard cannot prove the
header canonical. Over an adversarial matrix its (ok, sr, n_samples,
dur_ms) must equal the whole-payload decode, and the guard must imply
the kernel's canonical mask."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from protovalidate_spark.audio.decode import (HEADER_LEN, _decode_parts,
                                              _parse_headers,
                                              canonical_guard, with_decoded)
from protovalidate_spark.audio.wav import decode_wav, synth_sine_wav, synth_wav

FIELDS = ("ok", "sr", "n_samples", "dur_ms")
FMTS = ["pcm8", "pcm16", "pcm24", "pcm32", "float32", "float64", "alaw",
        "mulaw"]


def _with_data_size(b, n):
    b = bytearray(b)
    struct.pack_into("<I", b, 40, n)
    return bytes(b)


def _matrix():
    """(label, payload) cases: every canonical format, the layouts the
    header alone cannot settle, and malformed payloads."""
    base = synth_sine_wav(440.0, 16000, 50)
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    list_chunk = (base[:4] + struct.pack("<I", len(base) - 8 + len(extra))
                  + base[8:36] + extra + base[36:])
    trailing = base + synth_sine_wav(880.0, 16000, 3)[36:]
    sr0 = bytearray(base)
    struct.pack_into("<I", sr0, 24, 0)
    odd = _with_data_size(base + b"\0", len(base) - HEADER_LEN + 1)
    cases = [(f"{f}_{sr}", synth_sine_wav(300.0, sr, 40 + k, fmt=f))
             for f in FMTS for k, sr in enumerate((8000, 22050))]
    cases += [(f"{f}_ext", synth_sine_wav(300.0, 16000, 30, fmt=f,
                                          extensible=True)) for f in FMTS]
    cases += [
        # a data size with a byte >= 0xC0 (a UTF-8 lead byte):
        # 50,000 B = 50 C3 00 00 little-endian
        ("pcm8_big", synth_sine_wav(300.0, 8000, 6250, fmt="pcm8")),
        ("list_chunk", list_chunk),
        ("trailing_chunk", trailing),
        ("stereo", synth_wav(np.zeros((400, 2)), 16000)),
        ("sr0", bytes(sr0)),
        ("odd_size", odd),
        ("odd_size_short", base[:-1]),
        ("truncated", base[:len(base) // 2]),
        ("overclaimed", _with_data_size(base, 10 * len(base))),
        ("header_only", base[:HEADER_LEN]),
        ("under_44", base[:43]),
        ("empty", b""),
        ("garbage", b"definitely not a riff container, not at all!!" * 2),
        ("null", None),
    ]
    return cases


@pytest.fixture(scope="module")
def decoded(spark):
    cases = _matrix()
    df = spark.createDataFrame(cases, "label string, bytes binary")
    hdr = with_decoded(df, out_col="h", fields=())
    both = with_decoded(hdr, out_col="f").withColumn(
        "guard", canonical_guard(F.col("bytes")))
    rows = {r["label"]: r for r in both.collect()}
    return cases, rows


def test_header_stage_equals_full_decode(decoded):
    cases, rows = decoded
    for label, b in cases:
        r = rows[label]
        ref = decode_wav(b)
        want = (ref.ok, ref.sr, ref.n_samples, ref.dur_ms)
        assert tuple(r["h"][f] for f in FIELDS) == want, label
        assert tuple(r["f"][f] for f in FIELDS) == want, label
    assert "rms" not in rows[cases[0][0]]["h"].asDict()


def test_guard_implies_canonical_mask(decoded):
    cases, rows = decoded
    bufs = np.array([b for _, b in cases], dtype=object)
    lens = np.array([0 if b is None else len(b) for b in bufs])
    canon = _parse_headers(bufs, lens).canonical
    guard = np.array([rows[label]["guard"] for label, _ in cases])
    assert guard.dtype == bool  # never NULL
    assert not (guard & ~canon).any(), \
        [label for (label, _), g, c in zip(cases, guard, canon) if g and not c]
    # and it is exact here: every canonical case skips its payload
    assert (guard == canon).all(), \
        [label for (label, _), g, c in zip(cases, guard, canon) if g != c]
    assert canon.sum() == 2 * len(FMTS) + 1


def test_kernel_needs_payload_only_off_the_fast_path():
    cases = _matrix()
    bufs = np.array([b for _, b in cases], dtype=object)
    lens = np.array([0 if b is None else len(b) for b in bufs])
    canon = _parse_headers(bufs, lens).canonical
    hdrs = np.array([None if b is None else b[:HEADER_LEN] for b in bufs],
                    dtype=object)
    body = np.where(canon, None, bufs)
    got = _decode_parts(hdrs, lens, body, want_rms=False)
    full = _decode_parts(bufs, lens, bufs)
    assert list(got.columns) == list(FIELDS)
    for f in FIELDS:
        assert (got[f].to_numpy() == full[f].to_numpy()).all(), f
    # a non-canonical row whose payload was not shipped is an error,
    # not a silent ok=false
    with pytest.raises(ValueError, match="no payload"):
        _decode_parts(hdrs, lens, [None] * len(hdrs), want_rms=False)


def test_rule_reading_rms_fails_at_analysis(spark, tiny_clips):
    from pyspark.errors import AnalysisException

    from protovalidate_spark.clips import clips_suite
    from protovalidate_spark.rules.object import ObjectRule
    suite = clips_suite(spark)
    suite.extra_object_rules += (ObjectRule(
        rule_id="RMS", predicate=lambda get: get("__dec_bytes")["rms"] > 0,
        message="rms", field_path="/bytes"),)
    with pytest.raises(AnalysisException):
        suite.row_violations(tiny_clips).schema
