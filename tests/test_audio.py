"""Audio stage: WAV synth/decode round-trip, SNR invariant (BASELINE.json
input_hint: decoded-PCM allclose at SNR≥30dB + transcript equality),
Arrow decode UDF, consistency rules."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from protovalidate_spark.audio import (
    decode_bytes, decode_wav, snr_db, synth_sine_wav, with_decoded,
)


def test_wav_round_trip():
    b = synth_sine_wav(440, 16000, 1000)
    d = decode_wav(b, want_pcm=True)
    assert d.ok and d.sr == 16000 and d.n_samples == 16000 and d.dur_ms == 1000
    # PCM matches the generator sine at SNR >= 30 dB (quantization only)
    t = np.arange(16000) / 16000.0
    ref = 0.5 * np.sin(2 * np.pi * 440 * t)
    assert snr_db(ref, d.pcm) >= 30.0
    assert abs(d.rms - 0.5 / np.sqrt(2)) < 1e-3


def test_wav_zero_duration():
    b = synth_sine_wav(440, 16000, 0)
    d = decode_wav(b)
    assert d.ok and d.n_samples == 0 and d.dur_ms == 0


def test_decode_rejects_garbage():
    assert not decode_wav(b"not a wav at all" * 4).ok
    assert not decode_wav(None).ok
    assert not decode_wav(b"RIFF\x00\x00\x00\x00WAVE").ok
    # truncated payload
    b = synth_sine_wav(440, 8000, 100)
    assert not decode_wav(b[: len(b) // 2]).ok


def test_compressed_codecs_are_stubbed():
    with pytest.raises(NotImplementedError):
        decode_bytes(b"x", "flac")


def test_decode_udf_batch(spark):
    rows = [(synth_sine_wav(300, 8000, 250),), (b"garbage",), (None,)]
    df = spark.createDataFrame(rows, "bytes binary")
    out = with_decoded(df).select("_decoded.*").collect()
    assert [r["ok"] for r in out] == [True, False, False]
    assert out[0]["sr"] == 8000 and out[0]["dur_ms"] == 250


def test_decode_udf_pcm_snr(spark):
    # per-row invariant through the FULL Spark path (Arrow batch round-trip)
    b = synth_sine_wav(440, 16000, 500)
    df = spark.createDataFrame([(b,)], "bytes binary")
    pcm = np.array(
        with_decoded(df, fields=("pcm",)).select("_decoded.pcm").collect()[0][0],
        dtype=np.float64)
    t = np.arange(8000) / 16000.0
    ref = 0.5 * np.sin(2 * np.pi * 440 * t)
    assert snr_db(ref, pcm) >= 30.0


def test_transcript_round_trip(spark, tiny_clips):
    # transcript equality vs the pure-Python generator (input_hint)
    from protovalidate_spark.fixtures import TINY, py_row
    rows = {r["row_idx"]: r["transcript"]
            for r in tiny_clips.select("row_idx", "transcript").collect()}
    for i in list(rows)[:300]:
        assert rows[i] == py_row(i, TINY)["transcript"]


def test_fixture_pcm_snr_invariant(spark, tiny_clips):
    # decoded PCM of clean fixture rows ≈ generator sine at SNR≥30dB
    from protovalidate_spark.fixtures import TINY, py_row
    sample = (tiny_clips.filter(F.col("bytes").isNotNull())
              .limit(20).select("row_idx", "bytes").collect())
    checked = 0
    for r in sample:
        meta = py_row(r["row_idx"], TINY)
        if meta["bytes_mode"] != 0:
            continue
        d = decode_wav(bytes(r["bytes"]), want_pcm=True)
        assert d.ok
        n = d.n_samples
        t = np.arange(n) / meta["gen_sr"]
        ref = 0.5 * np.sin(2 * np.pi * meta["freq"] * t)
        assert snr_db(ref, d.pcm) >= 30.0
        checked += 1
    assert checked > 0


def test_soundfile_dispatch_when_present(monkeypatch):
    """decode_bytes routes compressed codecs through soundfile when the
    module is importable (here: a deterministic fake), with the same
    Decoded shape and mono-only rule as the WAV path; decode failures
    are ok=False, not exceptions."""
    import numpy as np

    import protovalidate_spark.audio.wav as wavmod

    class FakeSF:
        @staticmethod
        def read(bio, dtype, always_2d):
            payload = bio.read()
            if payload == b"stereo":
                return np.zeros((10, 2), dtype=np.float32), 16000
            if payload == b"broken":
                raise RuntimeError("corrupt stream")
            n = 1600
            x = np.full((n, 1), 0.5, dtype=np.float32)
            return x, 16000

    monkeypatch.setattr(wavmod, "_SF_CACHE", FakeSF)
    d = wavmod.decode_bytes(b"fakeflac", "flac")
    assert d.ok and d.sr == 16000 and d.n_samples == 1600
    assert d.dur_ms == 100 and abs(d.rms - 0.5) < 1e-6
    assert not wavmod.decode_bytes(b"stereo", "flac").ok   # mono-only
    assert not wavmod.decode_bytes(b"broken", "mp3").ok    # ok=False
    pcm = wavmod.decode_bytes(b"fakeflac", "opus", want_pcm=True).pcm
    assert pcm is not None and len(pcm) == 1600

    monkeypatch.setattr(wavmod, "_SF_CACHE", False)  # lib absent → stub
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        wavmod.decode_bytes(b"x", "flac")


def test_soundfile_real_library_roundtrip():
    """Exercises the REAL soundfile path when the library is installed
    (skipped in this container)."""
    import pytest as _pytest
    sf = _pytest.importorskip("soundfile")
    import io

    import numpy as np

    import protovalidate_spark.audio.wav as wavmod
    sr, n = 16000, 800
    x = (0.25 * np.sin(2 * np.pi * 440 * np.arange(n) / sr)).astype(
        np.float32)
    buf = io.BytesIO()
    sf.write(buf, x, sr, format="FLAC")
    d = wavmod.decode_bytes(buf.getvalue(), "flac", want_pcm=True)
    assert d.ok and d.sr == sr and d.n_samples == n
    assert wavmod.snr_db(x, d.pcm) >= 30.0


def test_batch_decoder_matches_chunk_walker_on_noncanonical():
    """The vectorized header parse only handles the canonical 44-byte
    layout; a WAV with an extra chunk before `data` must fall back to
    the exact chunk-walking parser and still decode."""
    import struct

    import pandas as pd

    from protovalidate_spark.audio.decode import _decode_series
    from protovalidate_spark.audio.wav import decode_wav, synth_sine_wav

    std = synth_sine_wav(440.0, 16000, 100)
    # splice a LIST chunk between fmt and data
    head, data_chunk = std[:36], std[36:]
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    odd = (head[:4] + struct.pack("<I", len(std) - 8 + len(extra))
           + head[8:] + extra + data_chunk)
    out = _decode_series(pd.Series([std, odd, None, b"junk"]), False)
    assert out["ok"].tolist() == [True, True, False, False]
    ref = decode_wav(odd)
    assert out["sr"][1] == ref.sr == 16000
    assert out["n_samples"][1] == ref.n_samples
    assert abs(out["rms"][1] - ref.rms) < 1e-9


def test_batch_decoder_trailing_data_chunk_matches_walker():
    """A file with a canonical 44-byte prefix PLUS a second data chunk
    after the first must match the chunk walker (whose later-data-chunk-
    wins rule applies) — the fast path must reject it as non-canonical
    (round-2 ADVICE: `44+dsize <= len` let the fast path decode the
    FIRST chunk while the walker decodes the LAST)."""
    import struct

    import pandas as pd

    from protovalidate_spark.audio.decode import _decode_series
    from protovalidate_spark.audio.wav import decode_wav, synth_sine_wav

    first = synth_sine_wav(440.0, 16000, 100)   # canonical prefix
    second = synth_sine_wav(880.0, 16000, 3)    # tiny later data chunk
    tail = second[36:]                          # its data chunk only
    spliced = (first[:4] + struct.pack("<I", len(first) - 8 + len(tail))
               + first[8:] + tail)
    out = _decode_series(pd.Series([spliced], dtype=object), False)
    ref = decode_wav(spliced)
    assert (bool(out["ok"][0]), int(out["sr"][0]), int(out["n_samples"][0]),
            int(out["dur_ms"][0])) == (ref.ok, ref.sr, ref.n_samples, ref.dur_ms)
    assert abs(float(out["rms"][0]) - ref.rms) < 1e-9


def test_batch_decoder_fuzz_matches_chunk_walker():
    """400 adversarial payloads (valid, byte-corrupted, truncated,
    size-field-overclaimed, NULL, random garbage): the vectorized batch
    decoder must agree field-for-field with the exact chunk-walking
    parser on every one."""
    import random
    import struct

    import pandas as pd

    from protovalidate_spark.audio.decode import _decode_series
    from protovalidate_spark.audio.wav import decode_wav, synth_sine_wav

    rnd = random.Random(7)
    all_fmts = ["pcm8", "pcm16", "pcm24", "pcm32", "float32", "float64",
                "mulaw", "alaw"]
    cases = []
    for _ in range(400):
        k = rnd.random()
        if k < 0.25:
            cases.append(synth_sine_wav(100 + rnd.random() * 5000,
                                        rnd.choice([8000, 16000, 44100]),
                                        rnd.randint(1, 300),
                                        fmt=rnd.choice(all_fmts),
                                        extensible=rnd.random() < 0.3))
        elif k < 0.45:
            b = bytearray(synth_sine_wav(440, 16000, 50))
            for _ in range(rnd.randint(1, 4)):
                b[rnd.randrange(len(b))] = rnd.getrandbits(8)
            cases.append(bytes(b))
        elif k < 0.6:
            b = synth_sine_wav(440, 16000, 80)
            cases.append(b[:rnd.randrange(len(b))])
        elif k < 0.7:
            b = bytearray(synth_sine_wav(440, 16000, 30))
            struct.pack_into("<I", b, 40, len(b) * 4)  # overclaimed data
            cases.append(bytes(b))
        elif k < 0.8:
            cases.append(None)
        else:
            cases.append(bytes(rnd.getrandbits(8)
                               for _ in range(rnd.randrange(0, 200))))

    out = _decode_series(pd.Series(cases, dtype=object), False)
    for i, b in enumerate(cases):
        ref = decode_wav(b)
        assert (bool(out["ok"][i]), int(out["sr"][i]),
                int(out["n_samples"][i]), int(out["dur_ms"][i])) == \
            (ref.ok, ref.sr, ref.n_samples, ref.dur_ms), i
        assert abs(float(out["rms"][i]) - ref.rms) < 1e-9, i


# ---------------------------------------------------------------------------
# Full uncompressed WAV format family (PCM 8/24/32, IEEE float, G.711,
# EXTENSIBLE wrapper) — pure-numpy decode paths in wav.py
# ---------------------------------------------------------------------------

_FMT_MATRIX = ["pcm8", "pcm16", "pcm24", "pcm32", "float32", "float64",
               "mulaw", "alaw"]


@pytest.mark.parametrize("fmt", _FMT_MATRIX)
@pytest.mark.parametrize("extensible", [False, True])
def test_wav_format_family_snr(fmt, extensible):
    """Every uncompressed format round-trips above the 30 dB SNR gate
    (BASELINE.json input_hint), with correct header-derived fields,
    both as a plain fmt chunk and under the EXTENSIBLE wrapper."""
    sr, dur = 16000, 200
    b = synth_sine_wav(440.0, sr, dur, 0.5, fmt=fmt, extensible=extensible)
    d = decode_wav(b, want_pcm=True)
    assert d.ok and d.sr == sr and d.dur_ms == dur
    n = sr * dur // 1000
    assert d.n_samples == n
    t = np.arange(n) / sr
    ref = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    assert snr_db(ref, d.pcm) >= 30.0
    assert abs(d.rms - 0.5 / np.sqrt(2)) < 0.005


def test_wav_format_bits_mismatch_rejected():
    """A format label with bits outside its admissible set ⇒ ok=False
    (G.711 is 8-bit only; PCM admits 8/16/24/32; float 32/64)."""
    import struct
    b = bytearray(synth_sine_wav(440.0, 8000, 50, fmt="pcm16"))
    struct.pack_into("<H", b, 20, 7)  # label it mu-law, keep bits=16
    assert not decode_wav(bytes(b)).ok
    struct.pack_into("<H", b, 20, 3)  # IEEE float with bits=16
    assert not decode_wav(bytes(b)).ok
    # PCM with bits=12: fmt back to 1 (channels untouched at 1), the
    # bits field lives at offset 34 — not offset 22, which is channels
    struct.pack_into("<H", b, 20, 1)
    struct.pack_into("<H", b, 34, 12)
    assert not decode_wav(bytes(b)).ok


def test_wav_data_not_multiple_of_sample_rejected():
    import struct
    b = bytearray(synth_sine_wav(440.0, 8000, 50, fmt="pcm32"))
    # shrink the data chunk by 2 bytes: no longer a whole number of
    # 4-byte samples (file stays self-consistent: truncate buffer too)
    (dsize,) = struct.unpack_from("<I", b, 40)
    struct.pack_into("<I", b, 40, dsize - 2)
    struct.pack_into("<I", b, 4, len(b) - 8 - 2)
    assert not decode_wav(bytes(b[:-2])).ok


def test_extensible_truncated_fmt_rejected():
    """EXTENSIBLE fmt chunk shorter than the 40-byte body (no SubFormat
    GUID to read) ⇒ ok=False."""
    import struct
    b = bytearray(synth_sine_wav(440.0, 8000, 50, fmt="pcm16"))
    struct.pack_into("<H", b, 20, 0xFFFE)  # EXTENSIBLE label, 16-byte body
    assert not decode_wav(bytes(b)).ok


def test_g711_tables_match_reference_points():
    """Spot-check the vectorized G.711 expansion against published
    reference values (mu-law 0xFF -> 0, 0x7F -> min step; A-law 0xD5 ->
    +8/32768 smallest positive magnitude at byte 0x55^0x80... use known
    anchor points computed from the ITU-T formulas)."""
    from protovalidate_spark.audio.wav import _g711_table
    mu = _g711_table("mulaw")
    # 0xFF is +0 in mu-law; 0x7F is -0
    assert mu[0xFF] == 0.0 and mu[0x7F] == 0.0
    # 0x80 decodes to the largest negative magnitude (32124 in int16 scale)
    assert abs(mu[0x00] - (-32124.0 / 32768.0)) < 1e-6
    assert abs(mu[0x80] - (32124.0 / 32768.0)) < 1e-6
    al = _g711_table("alaw")
    # A-law sign bit SET (after the 0x55 toggle) means POSITIVE
    # (CCITT alaw2linear): byte 0xD5 -> a=0x80 -> smallest positive +8
    assert abs(al[0xD5] - 8.0 / 32768.0) < 1e-9
    assert abs(al[0x55] + 8.0 / 32768.0) < 1e-9
    # A-law max magnitude is 32256 in int16 scale
    assert abs(al.min() + 32256.0 / 32768.0) < 1e-6
    assert abs(al.max() - 32256.0 / 32768.0) < 1e-6
    # decode table is symmetric: every positive value has its negative
    assert np.allclose(np.sort(al[al > 0]), np.sort(-al[al < 0]))
    assert np.allclose(np.sort(mu[mu > 0]), np.sort(-mu[mu < 0]))


def test_batch_decoder_delegates_format_family(spark):
    """Every uncompressed format flows through the ONE Arrow decode
    stage: canonical single-data-chunk layouts take the vectorized fast
    path for ALL (fmt, bits) combinations (not just PCM16); EXTENSIBLE
    wrappers and multi-chunk layouts delegate to the exact walker —
    either way the batch output is field-identical to the walker
    (pinned by the fuzz test above)."""
    rows = [(f, synth_sine_wav(330.0, 8000, 125, 0.4, fmt=f))
            for f in _FMT_MATRIX]
    df = spark.createDataFrame(rows, "fmt string, bytes binary")
    out = {r["fmt"]: r for r in
           with_decoded(df).select("fmt", "_decoded.*").collect()}
    for f in _FMT_MATRIX:
        r = out[f]
        assert r["ok"] and r["sr"] == 8000 and r["dur_ms"] == 125, f
        assert r["n_samples"] == 1000, f
        assert abs(r["rms"] - 0.4 / np.sqrt(2)) < 0.005, f


# ---------------------------------------------------------------------------
# Spectral fingerprint / duplicate-audio detection
# ---------------------------------------------------------------------------

def test_spectral_tokens_invariant_across_encodings():
    """The same sine content re-encoded (format, rate, depth, gain,
    EXTENSIBLE wrapping) must produce identical token sets; content a
    semitone apart must not."""
    from protovalidate_spark.audio.fingerprint import spectral_tokens
    from protovalidate_spark.audio.wav import decode_bytes, synth_sine_wav

    def toks(b):
        d = decode_bytes(b, "wav", True)
        assert d.ok
        return list(spectral_tokens(d.pcm, d.sr))

    base = toks(synth_sine_wav(440.0, 8000, 400, 0.5, fmt="pcm16"))
    assert base, "sine must produce tokens"
    for fmt, sr, amp, ext in [("pcm8", 16000, 0.4, False),
                              ("float32", 44100, 0.25, False),
                              ("alaw", 8000, 0.6, False),
                              ("mulaw", 22050, 0.5, False),
                              ("pcm24", 16000, 0.5, True)]:
        b = synth_sine_wav(440.0, sr, 400, amp, fmt=fmt, extensible=ext)
        assert toks(b) == base, (fmt, sr)
    up = toks(synth_sine_wav(440.0 * 2 ** (1 / 12), 8000, 400, 0.5))
    assert up != base
    # G.711 / 8-bit quantization noise must not mint extra tokens
    assert len(base) == 4  # one dominant peak per chunk


def test_spectral_tokens_edge_inputs():
    from protovalidate_spark.audio.fingerprint import spectral_tokens
    import numpy as np
    assert spectral_tokens(np.array([], dtype=np.float32), 8000).size == 0
    assert spectral_tokens(np.zeros(8000, dtype=np.float32), 8000).size == 0
    assert spectral_tokens(np.ones(1, dtype=np.float32), 8000).size == 0


def test_audio_dup_groups(spark):
    """Re-encodings group; distinct content and undecodable rows do
    not; the dup-key join-back is a broadcast (scale shape)."""
    from protovalidate_spark.audio import audio_dup_groups
    from protovalidate_spark.audio.wav import synth_sine_wav

    rows = [
        ("a0", synth_sine_wav(440.0, 8000, 400, 0.5, fmt="pcm16")),
        ("a1", synth_sine_wav(440.0, 44100, 400, 0.3, fmt="float32")),
        ("a2", synth_sine_wav(440.0, 8000, 400, 0.6, fmt="alaw")),
        ("b0", synth_sine_wav(660.0, 16000, 400, 0.5, fmt="pcm16")),
        ("c0", synth_sine_wav(523.25, 8000, 400, 0.5, fmt="pcm16")),
        ("c1", synth_sine_wav(523.25, 16000, 400, 0.5, fmt="pcm8")),
        ("bad", b"RIFF not audio"),
        ("nul", None),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    out = audio_dup_groups(df, "clip_id", "bytes")
    got = {(r["id"], r["group_id"], r["group_size"]) for r in out.collect()}
    assert got == {("a0", "a0", 3), ("a1", "a0", 3), ("a2", "a0", 3),
                   ("c0", "c0", 2), ("c1", "c0", 2)}
    plan = audio_dup_groups(df, "clip_id", "bytes") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1  # ONE decode+FFT stage
    assert "Join" not in plan  # window grouping, no self-join re-decode
    assert plan.count("Exchange") == 1  # one shuffle on the 16-byte key


def test_multichannel_wav_policy():
    """Multi-channel WAV: invalid by default (validation stance for a
    mono table), decodable via per-frame channel-mean downmix."""
    import numpy as np
    from protovalidate_spark.audio.wav import decode_wav, snr_db, synth_wav
    sr = 8000
    t = np.arange(sr // 2) / sr
    left = 0.5 * np.sin(2 * np.pi * 300.0 * t)
    right = 0.3 * np.sin(2 * np.pi * 300.0 * t)
    stereo = synth_wav(np.stack([left, right], axis=1), sr)
    # default: stereo is a failed decode
    assert not decode_wav(stereo).ok
    # downmix: frames counted once, PCM = channel mean
    d = decode_wav(stereo, want_pcm=True, downmix=True)
    assert d.ok and d.sr == sr and d.n_samples == left.size
    assert abs(d.dur_ms - 500) <= 1
    assert snr_db((left + right) / 2.0, d.pcm) >= 30.0
    # mono behavior unchanged through the same synth entry
    mono = synth_wav(left, sr)
    m = decode_wav(mono, want_pcm=True)
    assert m.ok and m.n_samples == left.size
    # 4-channel float32 via the generic path
    quad = synth_wav(np.stack([left, right, left, right], axis=1), sr,
                     fmt="float32")
    q = decode_wav(quad, want_pcm=True, downmix=True)
    assert q.ok and q.n_samples == left.size
    assert snr_db((left + right) / 2.0, q.pcm) >= 30.0


def test_multichannel_batch_stage(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from protovalidate_spark.audio import with_decoded
    from protovalidate_spark.audio.wav import synth_wav
    sr = 8000
    t = np.arange(sr // 4) / sr
    tone = 0.5 * np.sin(2 * np.pi * 300.0 * t)
    rows = [("mono", synth_wav(tone, sr)),
            ("stereo", synth_wav(np.stack([tone, tone], axis=1), sr)),
            ("bad", b"nope")]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    strict = {r["clip_id"]: r for r in
              with_decoded(df).select("clip_id", "_decoded.*").collect()}
    assert strict["mono"]["ok"] and not strict["stereo"]["ok"]
    mixed = {r["clip_id"]: r for r in
             with_decoded(df, downmix=True)
             .select("clip_id", "_decoded.*").collect()}
    assert mixed["stereo"]["ok"] and mixed["stereo"]["sr"] == sr
    assert abs(mixed["stereo"]["dur_ms"] - 250) <= 1
    assert not mixed["bad"]["ok"]
