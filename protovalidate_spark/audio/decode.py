"""Arrow-batched audio decode stage.

The reference's extension point for opaque values is
``Interface[T]().WithCast(fn)`` / ``WithRuleFunc``
(reference pkg/rules/inerface.go:69-74, rule.go:43-60) — a custom
decode validated per value. Here that becomes ONE vectorized pandas UDF
(Arrow batch transfer, no per-row Python dispatch — BASELINE.json
input_hint), producing a decoded struct that is computed once and reused
by every downstream consistency rule (SURVEY.md §4 "decode once into a
struct column").

:func:`with_decoded` is the package's one validation-stage UDF. Its
``fields`` pick the struct's groups after ``ok, sr, n_samples,
dur_ms``: ``rms``, ``pcm``, ``features`` (features.py), ``vad``
(segments.py) and ``bandwidth`` (bandwidth.py). One pandas UDF decodes
each Arrow batch once with :func:`_decode_parts` and runs the requested
group kernels over that decoded frame.

What the stage ships to Python follows from ``fields`` alone:

- ``fields=()`` (the suite's plain decode stage) ships the 44-byte
  header and the payload length per row, plus the payload only for the
  rows that :func:`canonical_guard` cannot prove canonical (extra
  chunks, EXTENSIBLE, multi-channel, malformed). ``ok``, ``sr``,
  ``n_samples`` and ``dur_ms`` of a canonical WAV follow from its
  header and length alone; the struct carries no ``rms``.
- any other ``fields`` ships the whole payload: ``rms`` and the samples
  need it. The re-encoding stages (repair, fingerprints, embeddings)
  decode whole payloads with :func:`_decode_series`.

The header fields also have a Catalyst form built from the same byte
table as the guard: :func:`header_struct` is ``with_decoded(fields=())``
on every row that :func:`header_undecided` leaves out, i.e. every row
but the RIFF/WAVE-tagged ones the guard rejects. A suite run counts
those rows in its shared aggregate and, where there are none, reads the
header struct with no Python stage at all.
"""

from __future__ import annotations

import functools
import re
import struct
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..errors import Code
from ..rules.object import ObjectRule
from .bandwidth import BANDWIDTH_FIELDS, _bandwidth_frame, bandwidth_rule
from .features import (FEATURE_FIELDS, _features_series, clipping_rule,
                       dc_offset_rule, quiet_rule, silence_rule,
                       speech_rate_rule)
from .segments import (VAD_FIELDS, _segments_series, max_gap_rule,
                       min_snr_rule, speech_presence_rule)
from .wav import (_DATA, _FMT, _FMT_BITS, _RIFF, _WAVE, _samples_to_float,
                  decode_bytes)

# Programmatic DataTypes (not DDL strings): pandas_udf must be creatable on
# executors at module import where no SparkSession exists to parse DDL.
# Every decoded struct starts with these; the groups follow in FIELD_GROUPS
# order.
HEADER_FIELDS = [
    T.StructField("ok", T.BooleanType()),
    T.StructField("sr", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("dur_ms", T.IntegerType()),
]

#: the ``fields`` groups of :func:`with_decoded`, in struct order
FIELD_GROUPS = {
    "rms": [T.StructField("rms", T.DoubleType())],
    "pcm": [T.StructField("pcm", T.ArrayType(T.FloatType()))],
    "features": FEATURE_FIELDS,
    "vad": VAD_FIELDS,
    "bandwidth": BANDWIDTH_FIELDS,
}

HEADER_LEN = 44  # RIFF + WAVE + 16-byte fmt chunk + data chunk header

# fixed bytes of a canonical header, (offset, value): RIFF/WAVE/fmt tags,
# fmt chunk size 16, one channel, data tag — the numpy mask and the
# Catalyst guard both test exactly these
_CANONICAL_BYTES = ((0, _RIFF), (8, _WAVE + _FMT), (16, struct.pack("<I", 16)),
                    (22, struct.pack("<H", 1)), (36, _DATA))

_LE32 = np.array([1, 1 << 8, 1 << 16, 1 << 24], dtype=np.int64)


class _Headers(NamedTuple):
    has_hdr: np.ndarray     # payload is at least HEADER_LEN bytes
    canonical: np.ndarray   # fields below are exact from the header alone
    sr: np.ndarray
    audio_fmt: np.ndarray
    bits: np.ndarray
    bytes_per: np.ndarray
    dsize: np.ndarray


def _parse_headers(hdrs, lens: np.ndarray) -> _Headers:
    """ONE vectorized header parse for a whole Arrow batch: the first
    44 bytes of every row gathered into an (n, 44) uint8 matrix, field
    extraction as column arithmetic. ``hdrs`` items are whole payloads
    or their 44-byte prefixes; ``lens`` are the payload lengths."""
    n_rows = len(hdrs)
    has_hdr = lens >= HEADER_LEN
    H = np.zeros((n_rows, HEADER_LEN), dtype=np.uint8)
    for i in np.nonzero(has_hdr)[0]:
        H[i] = np.frombuffer(hdrs[i], dtype=np.uint8, count=HEADER_LEN)

    sr = H[:, 24:28].astype(np.int64) @ _LE32
    audio_fmt = H[:, 20].astype(np.int64) + (H[:, 21].astype(np.int64) << 8)
    bits = H[:, 34].astype(np.int64) + (H[:, 35].astype(np.int64) << 8)
    dsize = H[:, 40:44].astype(np.int64) @ _LE32
    # (fmt, bits) admissibility + bytes-per-sample, vectorized over the
    # same table wav.py uses — every uncompressed format (PCM 8/16/24/32,
    # float 32/64, G.711) is canonical when the chunk layout is the
    # 44-byte one; EXTENSIBLE (fmt_size 40) and multi-chunk layouts are
    # not, and take the exact walker
    fmt_ok = np.zeros(n_rows, dtype=bool)
    for code, allowed in _FMT_BITS.items():
        fmt_ok |= (audio_fmt == code) & np.isin(bits, allowed)
    bytes_per = np.maximum(bits >> 3, 1)
    canonical = has_hdr & fmt_ok & (sr > 0) & (dsize % bytes_per == 0)
    for off, tag in _CANONICAL_BYTES:
        canonical &= (H[:, off:off + len(tag)]
                      == np.frombuffer(tag, np.uint8)).all(axis=1)
    # equality (not <=): a canonical 44-byte prefix followed by MORE chunks
    # must take the exact chunk walker, whose later-data-chunk-wins rule
    # would otherwise diverge from this first-data-chunk fast path
    canonical &= HEADER_LEN + dsize == lens
    return _Headers(has_hdr, canonical, sr, audio_fmt, bits, bytes_per, dsize)


def _decode_parts(hdrs, lens: np.ndarray, body, want_rms: bool = True,
                  want_pcm: bool = False,
                  downmix: bool = False) -> pd.DataFrame:
    """The WAV kernel. ``hdrs``: per-row payloads or 44-byte header
    prefixes; ``lens``: payload lengths; ``body``: per-row whole
    payloads (None where not shipped).

    Canonical rows take ok/sr/n_samples/dur_ms from the header matrix;
    their payload is read only for ``rms``/``pcm`` (zero-copy int16
    views + one BLAS dot each for PCM16). Every other row with a header
    takes the exact chunk-walking parser in wav.py over its payload,
    which must then be shipped."""
    n_rows = len(hdrs)
    h = _parse_headers(hdrs, lens)
    canonical = h.canonical
    ok = canonical.copy()
    n_samp = np.where(canonical, h.dsize // h.bytes_per, 0)
    sr_out = np.where(canonical, h.sr, 0).astype(np.int64)
    dur = np.zeros(n_rows, dtype=np.int64)
    dur[canonical] = np.round(
        n_samp[canonical] * 1000.0 / h.sr[canonical]).astype(np.int64)
    rms = np.zeros(n_rows, dtype=np.float64)
    pcm = [None] * n_rows if want_pcm else None

    if want_rms or want_pcm:
        is_pcm16 = canonical & (h.audio_fmt == 1) & (h.bits == 16)
        for i in np.nonzero(is_pcm16)[0]:
            n = int(n_samp[i])
            if n:
                x16 = np.frombuffer(body[i], dtype="<i2", count=n,
                                    offset=HEADER_LEN)
                x = x16.astype(np.float32)
                rms[i] = float(np.sqrt(np.dot(x, x) / n) / 32768.0)
                if want_pcm:
                    pcm[i] = x / np.float32(32768.0)
            elif want_pcm:
                pcm[i] = np.array([], dtype=np.float32)
        for i in np.nonzero(canonical & ~is_pcm16)[0]:
            x = _samples_to_float(body[i][HEADER_LEN:], int(h.audio_fmt[i]),
                                  int(h.bits[i]))
            n = int(x.size)
            rms[i] = float(np.sqrt(np.dot(x, x) / n)) if n else 0.0
            if want_pcm:
                pcm[i] = x

    # exact fallback for non-canonical-but-maybe-valid layouts
    # (multi-channel input lands here too: the canonical fast path is
    # channels==1, and the walker honors the downmix policy)
    for i in np.nonzero(h.has_hdr & ~canonical)[0]:
        if body[i] is None:
            raise ValueError(
                f"row {i}: non-canonical WAV header but no payload shipped")
        d = decode_bytes(bytes(body[i]), "wav", want_pcm, downmix)
        ok[i] = d.ok
        sr_out[i], n_samp[i], dur[i], rms[i] = d.sr, d.n_samples, d.dur_ms, d.rms
        if want_pcm:
            pcm[i] = d.pcm

    out = pd.DataFrame({"ok": ok, "sr": sr_out.astype(np.int32),
                        "n_samples": n_samp.astype(np.int64),
                        "dur_ms": dur.astype(np.int32)})
    if want_rms:
        out["rms"] = rms
    if want_pcm:
        out["pcm"] = pcm
    return out


def _decode_series(bs: pd.Series, want_pcm: bool,
                   downmix: bool = False) -> pd.DataFrame:
    """Whole-payload decode of an Arrow batch (ok/sr/n_samples/dur_ms/
    rms, plus pcm with ``want_pcm``)."""
    bufs = bs.to_numpy()
    lens = np.fromiter((0 if b is None else len(b) for b in bufs),
                       dtype=np.int64, count=len(bufs))
    return _decode_parts(bufs, lens, bufs, want_pcm=want_pcm,
                         downmix=downmix)


def _field_groups(fields) -> tuple:
    """``fields`` in struct order; a payload group brings ``rms``."""
    unknown = set(fields) - set(FIELD_GROUPS)
    if unknown:
        raise ValueError(f"unknown decoded field groups {sorted(unknown)}; "
                         f"choose from {list(FIELD_GROUPS)}")
    return tuple(g for g in FIELD_GROUPS
                 if g in fields or (g == "rms" and fields))


def with_decoded(df: DataFrame, bytes_col: str = "bytes",
                 out_col: str = "_decoded", fields=("rms",),
                 downmix: bool = False, frame_ms: int = 20,
                 silence_rms: float = 0.01, clip_level: float = 0.999,
                 vad_threshold_rms: float = 0.01, hangover_frames: int = 2,
                 min_speech_frames: int = 2, rolloff: float = 0.99,
                 n_fft: int = 2048) -> DataFrame:
    """Append the decoded struct column from ONE Arrow-batched stage.

    The struct is ``ok, sr, n_samples, dur_ms`` followed by the
    requested ``fields`` groups in :data:`FIELD_GROUPS` order: ``rms``,
    ``pcm`` (float32 samples), ``features`` (features.py: peak, clipping,
    silence, ZCR, level, DC offset; ``frame_ms``, ``silence_rms``,
    ``clip_level``), ``vad`` (segments.py: energy-VAD spans and SNR;
    ``frame_ms``, ``vad_threshold_rms``, ``hangover_frames``,
    ``min_speech_frames``) and ``bandwidth`` (bandwidth.py: spectral
    rolloff; ``rolloff``, ``n_fft``). Any payload group also brings
    ``rms``. Every group is computed from the same decoded batch.

    ``fields=()`` ships each row's 44-byte header and length, plus the
    payload only where :func:`canonical_guard` fails; any other value
    ships every payload. ``downmix=True`` additionally accepts
    multi-channel WAV via per-frame channel-mean downmix (default:
    multi-channel is a DECODE violation — the validation stance for a
    mono table)."""
    groups = _field_groups(fields)
    want_pcm = bool(set(groups) - {"rms"})
    kernels = {
        "features": lambda d: _features_series(d, frame_ms, silence_rms,
                                               clip_level),
        "vad": lambda d: _segments_series(d, frame_ms, vad_threshold_rms,
                                          hangover_frames, min_speech_frames),
        "bandwidth": lambda d: _bandwidth_frame(d, rolloff, n_fft),
    }
    run = [kernels[g] for g in groups if g in kernels]
    fields_out = HEADER_FIELDS + [f for g in groups for f in FIELD_GROUPS[g]]
    base = [f.name for f in HEADER_FIELDS] + [
        f.name for g in ("rms", "pcm") if g in groups for f in FIELD_GROUPS[g]]

    def decode_stage(*cols: pd.Series) -> pd.DataFrame:
        if len(cols) == 1:   # whole payloads
            dec = _decode_series(cols[0], want_pcm, downmix)
        else:                # header, length, payload where the guard fails
            hdr, n, body = cols
            dec = _decode_parts(hdr.to_numpy(),
                                n.fillna(0).to_numpy(dtype=np.int64),
                                body.to_numpy(), want_rms=False,
                                downmix=downmix)
        return pd.concat([dec[base]] + [k(dec) for k in run], axis=1)

    b = F.col(bytes_col)
    args = ((b,) if groups else
            (F.substring(b, 1, HEADER_LEN), F.length(b),
             F.when(~canonical_guard(bytes_col), b)))
    udf = pandas_udf(decode_stage, T.StructType(fields_out))
    return df.withColumn(out_col, udf(*args))


def _le_uint(b: str, offset: int, n: int) -> str:
    """SQL for the little-endian unsigned int of ``n`` bytes at 0-based
    ``offset`` of binary ``b``. Byte pairs of the hex string are
    reordered: ``reverse`` on binary goes through a UTF-8 string cast
    and reorders multi-byte sequences as units, so it misreads bytes of
    0xC0 and above."""
    hx = f"hex(substring({b}, {offset + 1}, {n}))"
    pairs = ", ".join(f"substring({hx}, {2 * k + 1}, 2)"
                      for k in reversed(range(n)))
    return f"CAST(conv(concat({pairs}), 16, 10) AS BIGINT)"


def _binary_sql(raw: bytes) -> str:
    return f"X'{raw.hex().upper()}'"


def _quoted(name: str) -> str:
    return (name if re.fullmatch(r"\w+(\.\w+)*|`[^`]+`", name)
            else "`" + name.replace("`", "``") + "`")


def _name(b: str | Column) -> str:
    return b if isinstance(b, str) else b._jc.toString()


def _int32(x: str) -> str:
    """SQL for BIGINT ``x`` wrapped to INT, as numpy's
    ``astype(np.int32)`` does (a plain ANSI cast fails on overflow)."""
    return f"CAST(shiftright(shiftleft({x}, 32), 32) AS INT)"


@functools.lru_cache(maxsize=None)
def _guard_sql(name: str) -> str:
    b = _quoted(name)
    bits, dsize = _le_uint(b, 34, 2), _le_uint(b, 40, 4)
    pairs = ", ".join(_binary_sql(struct.pack("<HH", code, nb))
                      for code, allowed in _FMT_BITS.items() for nb in allowed)
    conds = [f"concat(substring({b}, 21, 2), substring({b}, 35, 2)) "
             f"IN ({pairs})"]
    conds += [f"substring({b}, {off + 1}, {len(tag)}) = {_binary_sql(tag)}"
              for off, tag in _CANONICAL_BYTES]
    conds += [f"substring({b}, 25, 4) != {_binary_sql(bytes(4))}",  # sr > 0
              f"{dsize} + {HEADER_LEN} = length({b})",
              f"{dsize} % greatest(shiftright({bits}, 3), 1) = 0"]
    return "coalesce(" + " AND ".join(f"({c})" for c in conds) + ", false)"


def canonical_guard(b: str | Column) -> Column:
    """Catalyst twin of the kernel's canonical mask: true only for rows
    whose header alone gives exact ok/sr/n_samples/dur_ms (never NULL).
    Built from the same byte table, ``_FMT_BITS`` pairs and size
    equalities as :func:`_parse_headers`. ``b`` is the bytes column's
    name or a plain column reference to it; its SQL text is built once
    per name and parsed by one ``F.expr``."""
    return F.expr(_guard_sql(_name(b)))


@functools.lru_cache(maxsize=None)
def _undecided_sql(name: str) -> str:
    b = _quoted(name)
    return (f"coalesce(substring({b}, 1, 4) = {_binary_sql(_RIFF)} "
            f"AND substring({b}, 9, 4) = {_binary_sql(_WAVE)} "
            f"AND length({b}) >= {HEADER_LEN}, false) "
            f"AND NOT {_guard_sql(name)}")


@functools.lru_cache(maxsize=None)
def _struct_sql(name: str) -> str:
    b = _quoted(name)
    sr = _le_uint(b, 24, 4)
    n = (f"({_le_uint(b, 40, 4)} div "
         f"greatest(shiftright({_le_uint(b, 34, 2)}, 3), 1))")
    # n * 1000.0 / sr in float64, rounded half-even like np.round
    dur = f"CAST(bround(CAST({n} * 1000 AS DOUBLE) / {sr}, 0) AS BIGINT)"
    return (f"CASE WHEN {_guard_sql(name)} THEN named_struct('ok', true, "
            f"'sr', {_int32(sr)}, 'n_samples', {n}, "
            f"'dur_ms', {_int32(dur)}) ELSE named_struct('ok', false, "
            f"'sr', 0, 'n_samples', 0L, 'dur_ms', 0) END")


def header_undecided(b: str | Column) -> Column:
    """True exactly for the payloads that only the exact chunk walker
    decodes: RIFF/WAVE-tagged, at least ``HEADER_LEN`` bytes, and not
    :func:`canonical_guard`. Every other row's ``ok, sr, n_samples,
    dur_ms`` is :func:`header_struct`'s: NULL, short and untagged
    payloads fail :func:`decode_wav` before it walks."""
    return F.expr(_undecided_sql(_name(b)))


def header_struct(b: str | Column) -> Column:
    """Catalyst twin of ``with_decoded(fields=())``: ``ok, sr,
    n_samples, dur_ms`` from the header on :func:`canonical_guard` rows,
    ``(false, 0, 0, 0)`` elsewhere. Equal to the Python stage on every
    row where :func:`header_undecided` is false, overflow included
    (``sr`` and ``dur_ms`` wrap to int32 as the kernel's casts do)."""
    return F.expr(_struct_sql(_name(b)))


# ---------------------------------------------------------------------------
# Consistency rules over the decoded struct (object rules; FIXTURES.md §6)
# ---------------------------------------------------------------------------

def decode_ok_rule(bytes_col: str = "bytes", decoded_col: str = "_decoded") -> ObjectRule:
    """bytes must decode (DECODE). NULL bytes are reported by the
    Binary().required() field rule, not here."""
    return ObjectRule(
        rule_id=Code.DECODE,
        predicate=lambda get: get(bytes_col).isNull() | get(decoded_col)["ok"],
        message="payload is not a decodable audio container",
        field_path=f"/{bytes_col}",
        actual=lambda get: F.substring(F.hex(get(bytes_col)), 1, 50),
    )


def sr_consistency_rule(sr_col: str = "sr_hz", decoded_col: str = "_decoded") -> ObjectRule:
    """Column sr_hz must equal decoded header sample rate (CONSISTENT)."""
    return ObjectRule(
        rule_id=Code.CONSISTENT,
        predicate=lambda get: (~F.coalesce(get(decoded_col)["ok"], F.lit(False)))
        | (get(sr_col) == get(decoded_col)["sr"]),
        message="sr_hz does not match decoded sample rate",
        field_path=f"/{sr_col}",
        actual=lambda get: F.concat(get(sr_col).cast("string"), F.lit("!="),
                                    get(decoded_col)["sr"].cast("string")),
    )


def dur_consistency_rule(dur_col: str = "dur_ms", decoded_col: str = "_decoded",
                         tolerance_ms: int = 10) -> ObjectRule:
    """Column dur_ms must match decoded duration within tolerance."""
    return ObjectRule(
        rule_id=Code.CONSISTENT,
        predicate=lambda get: (~F.coalesce(get(decoded_col)["ok"], F.lit(False)))
        | (F.abs(get(dur_col) - get(decoded_col)["dur_ms"]) <= tolerance_ms),
        message=f"dur_ms does not match decoded duration (±{tolerance_ms}ms)",
        field_path=f"/{dur_col}",
        actual=lambda get: F.concat(get(dur_col).cast("string"), F.lit("!="),
                                    get(decoded_col)["dur_ms"].cast("string")),
    )


#: a suite's audio gates: name -> (rule factory, the ``with_decoded``
#: field groups it reads; None: no decode, so its spec has no ``col``)
GATES = {
    "sr_consistency": (sr_consistency_rule, ()),
    "dur_consistency": (dur_consistency_rule, ()),
    "clipping": (clipping_rule, ("features",)),
    "silence": (silence_rule, ("features",)),
    "quiet": (quiet_rule, ("features",)),
    "dc_offset": (dc_offset_rule, ("features",)),
    "speech_rate": (speech_rate_rule, None),
    "speech_presence": (speech_presence_rule, ("vad",)),
    "max_gap": (max_gap_rule, ("vad",)),
    "min_snr": (min_snr_rule, ("vad",)),
    "bandwidth": (bandwidth_rule, ("bandwidth",)),
}
