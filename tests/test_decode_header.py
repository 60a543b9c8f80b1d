"""The suite's header-only decode stage (audio/decode.py
``with_decoded(fields=())``): Python gets each row's 44-byte header and
length, plus the payload only where the Catalyst guard cannot prove the
header canonical. Over an adversarial matrix its (ok, sr, n_samples,
dur_ms) must equal the whole-payload decode, and the guard must imply
the kernel's canonical mask. Its Catalyst twin ``header_struct`` must
equal it wherever ``header_undecided`` leaves no row to Python."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from protovalidate_spark.audio.decode import (HEADER_LEN, _decode_parts,
                                              _parse_headers,
                                              canonical_guard, header_struct,
                                              header_undecided, with_decoded)
from protovalidate_spark.audio.wav import (_FMT_BITS, decode_wav,
                                           synth_sine_wav, synth_wav)

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


def _overflow():
    """Canonical headers whose sr or dur_ms leave int32: the kernel's
    casts wrap them (sr 0xFFFFFFF0 reads -16)."""
    neg_sr = bytearray(synth_sine_wav(300.0, 16000, 5))
    struct.pack_into("<I", neg_sr, 24, 0xFFFFFFF0)
    long_dur = bytearray(synth_wav(np.zeros(2_200_000), 8000, fmt="pcm8"))
    struct.pack_into("<I", long_dur, 24, 1)   # dur_ms 2.2e9 > 2**31
    return [("sr_overflow", bytes(neg_sr)), ("dur_overflow", bytes(long_dur))]


def _mutations(n=2000, seed=7):
    """Seeded header mutations of short canonical clips: random bytes in
    the header fields, random (fmt, bits) pairs and sample rates with the
    data size kept exact (so many still pass the guard), truncations and
    appended bytes."""
    rng = np.random.default_rng(seed)
    bases = [synth_sine_wav(300.0, 8000, 5 + k, fmt=f)
             for k, f in enumerate(FMTS)]
    pairs = [(c, b) for c, bits in _FMT_BITS.items() for b in bits]
    hot = [0, 3, 8, 11, 12, 16, 17, 20, 21, 22, 23, 24, 25, 26, 27, 34, 35,
           36, 40, 41, 42, 43]
    out = []
    for i in range(n):
        b = bytearray(bases[rng.integers(len(bases))])
        kind = rng.integers(4)
        if kind == 0:       # random bytes in the header fields
            for pos in rng.choice(hot, size=rng.integers(1, 4)):
                b[pos] = rng.integers(256)
        elif kind == 1:     # any admissible format, any rate, exact size
            code, bits = pairs[rng.integers(len(pairs))]
            struct.pack_into("<HH", b, 20, code, 1)
            struct.pack_into("<H", b, 34, bits)
            struct.pack_into("<I", b, 24, int(rng.choice(
                [rng.integers(1, 1 << 32), rng.integers(1, 64),
                 (1 << 32) - rng.integers(1, 64)])))
            body = len(b) - HEADER_LEN
            del b[HEADER_LEN + body - body % max(bits >> 3, 1):]
            struct.pack_into("<I", b, 40, len(b) - HEADER_LEN)
        elif kind == 2:     # truncate or extend
            cut = int(rng.integers(0, len(b) + 8))
            b = b[:cut] if cut <= len(b) else b + bytes(rng.integers(
                0, 256, size=cut - len(b), dtype=np.uint8))
        else:               # a size field off by a little
            struct.pack_into("<I", b, 40,
                             max(len(b) - HEADER_LEN
                                 + int(rng.integers(-3, 4)), 0))
        out.append((f"mut{i}", bytes(b)))
    return out


def test_catalyst_header_equals_python_stage(spark):
    cases = _matrix() + _overflow() + _mutations()
    df = spark.createDataFrame(cases, "label string, bytes binary")
    rows = (with_decoded(df, out_col="py", fields=())
            .select("label", "py",
                    header_struct("bytes").alias("cat"),
                    header_undecided("bytes").alias("undecided"),
                    canonical_guard("bytes").alias("guard"))
            .collect())
    rows = {r["label"]: r for r in rows}
    assert len(rows) == len(cases)
    decided = 0
    for label, b in cases:
        r = rows[label]
        tagged = (b is not None and len(b) >= HEADER_LEN
                  and b[:4] == b"RIFF" and b[8:12] == b"WAVE")
        assert r["undecided"] == (tagged and not r["guard"]), label
        if r["undecided"]:
            continue
        decided += 1
        assert tuple(r["cat"]) == tuple(r["py"][f] for f in FIELDS), label
    assert tuple(rows["sr_overflow"]["cat"])[:2] == (True, -16)
    assert rows["dur_overflow"]["cat"]["dur_ms"] == 2_200_000_000 - 2**32
    # the mutations reach guard rows with arbitrary rates and formats
    assert sum(rows[lb]["guard"] for lb, _ in _mutations()) > 300
    assert decided > len(cases) // 3
