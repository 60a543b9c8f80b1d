"""Per-clip PCM feature extraction + audio/transcript consistency rules.

A training-data pipeline over audio wants more than "does it decode":
clipping detection, silence screening, and a transcript-vs-duration
plausibility check are the standard first-pass quality gates. Peak /
clipping ratio / silence ratio / zero-crossing rate are computed from
the decoded PCM as the ``features`` group of the one decode stage
(``decode.with_decoded(fields=("features",))`` — no second decode, no
per-row Python dispatch); speech rate is a pure JVM column expression over
(transcript, dur_ms), no decode needed at all.

Reference analog: these compose like any other rule-builder output —
the feature struct is a column, so ``Float64().max(0.01)`` style rules
apply to its fields, and the violation rows carry the same
(field_path, rule_id, actual) shape as every other rule in the engine
(reference pkg/rules/rule.go:43-60 WithRuleFunc custom checks).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import Code
from ..rules.object import ObjectRule

#: the ``features`` group of ``with_decoded``'s struct
FEATURE_FIELDS = [T.StructField(name, T.DoubleType()) for name in (
    "peak", "clip_ratio", "silence_ratio", "zcr", "rms_dbfs", "dc_offset")]

# all-zero PCM has no finite dBFS; a fixed floor keeps the column typed
# double (no NULL/-inf special case in rules) and sits far below any
# real recording (16-bit quantization noise alone is ~-96 dBFS)
SILENCE_DBFS = -200.0


def _features_series(dec: pd.DataFrame, frame_ms: int, silence_rms: float,
                     clip_level: float) -> pd.DataFrame:
    """One numpy pass per clip of a decoded batch (``_decode_parts``
    with ``want_pcm``): peak, clipping ratio (|x| at/above full scale),
    silence ratio (fraction of frame_ms frames under silence_rms),
    zero-crossing rate, integrated level and DC offset. Undecodable
    rows -> null features."""
    n_rows = len(dec)
    ok = dec["ok"].to_numpy()
    peak = np.full(n_rows, np.nan)
    clip_r = np.full(n_rows, np.nan)
    sil_r = np.full(n_rows, np.nan)
    zcr = np.full(n_rows, np.nan)
    dbfs = np.full(n_rows, np.nan)
    dc = np.full(n_rows, np.nan)
    for i in np.nonzero(ok)[0]:
        x = dec["pcm"][i]
        sr = int(dec["sr"][i])
        n = x.size
        if n == 0:
            peak[i] = clip_r[i] = sil_r[i] = zcr[i] = dc[i] = 0.0
            dbfs[i] = SILENCE_DBFS
            continue
        ax = np.abs(x)
        peak[i] = float(ax.max())
        clip_r[i] = float(np.count_nonzero(ax >= clip_level) / n)
        zcr[i] = float(np.count_nonzero(x[1:] * x[:-1] < 0) / max(n - 1, 1))
        # integrated level + DC bias from the same float64 accumulation
        # the decoder's RMS uses (decode.py) — dBFS re full scale 1.0
        x64 = x.astype(np.float64)
        rms = float(np.sqrt(np.dot(x64, x64) / n))
        dbfs[i] = 20.0 * np.log10(rms) if rms > 0.0 else SILENCE_DBFS
        dc[i] = float(x64.mean())
        flen = max(int(sr * frame_ms / 1000), 1)
        nf = n // flen
        if nf:
            frames = x[:nf * flen].reshape(nf, flen).astype(np.float64)
            frms = np.sqrt(np.einsum("ij,ij->i", frames, frames) / flen)
            sil_r[i] = float(np.count_nonzero(frms < silence_rms) / nf)
        else:  # clip shorter than one frame: all-or-nothing
            rms = float(np.sqrt(np.dot(x.astype(np.float64), x) / n))
            sil_r[i] = 1.0 if rms < silence_rms else 0.0
    return pd.DataFrame({"peak": peak, "clip_ratio": clip_r,
                         "silence_ratio": sil_r, "zcr": zcr,
                         "rms_dbfs": dbfs, "dc_offset": dc})


def clipping_rule(bytes_col: str = "bytes", feat_col: str = "_decoded",
                  max_ratio: float = 0.01) -> ObjectRule:
    """Clipped-sample ratio must stay under max_ratio (MAX). Only
    decodable clips are judged — DECODE reports the rest.

    Note: clip_level is an absolute full-scale threshold. G.711
    mu-law/A-law saturate at ~0.980/0.984 of int16 full scale, below
    the 0.999 default — for telephony tables pass
    ``with_decoded(..., fields=("features",), clip_level=0.97)``.
    Unsigned PCM8 is asymmetric: the positive rail is 127/128 = 0.9922
    (only the -1.0 negative rail clears 0.999), so for 8-bit tables use
    ``clip_level=0.99`` to count both rails."""
    return ObjectRule(
        rule_id=Code.MAX,
        predicate=lambda get: (~F.coalesce(get(feat_col)["ok"], F.lit(False)))
        | (get(feat_col)["clip_ratio"] <= max_ratio),
        message=f"clipped-sample ratio exceeds {max_ratio}",
        field_path=f"/{bytes_col}/clip_ratio",
        actual=lambda get: F.round(get(feat_col)["clip_ratio"], 6).cast("string"),
    )


def silence_rule(bytes_col: str = "bytes", feat_col: str = "_decoded",
                 max_ratio: float = 0.9) -> ObjectRule:
    """Mostly-silent clips (silent-frame ratio above max_ratio) fail MAX."""
    return ObjectRule(
        rule_id=Code.MAX,
        predicate=lambda get: (~F.coalesce(get(feat_col)["ok"], F.lit(False)))
        | (get(feat_col)["silence_ratio"] <= max_ratio),
        message=f"silent-frame ratio exceeds {max_ratio}",
        field_path=f"/{bytes_col}/silence_ratio",
        actual=lambda get: F.round(get(feat_col)["silence_ratio"], 6).cast("string"),
    )


def quiet_rule(bytes_col: str = "bytes", feat_col: str = "_decoded",
               min_dbfs: float = -45.0) -> ObjectRule:
    """Integrated RMS level must reach min_dbfs (MIN) — a near-inaudible
    recording is a capture failure even when it isn't digitally silent,
    and gain-starved clips poison loudness-sensitive training.
    All-zero PCM reports the SILENCE_DBFS floor (-200), so fully-silent
    clips fail this rule too (silence_rule additionally localizes
    per-frame silence). Loud clips are clipping_rule's finding."""
    return ObjectRule(
        rule_id=Code.MIN,
        predicate=lambda get: (~F.coalesce(get(feat_col)["ok"], F.lit(False)))
        | (get(feat_col)["rms_dbfs"] >= min_dbfs),
        message=f"integrated level below {min_dbfs} dBFS",
        field_path=f"/{bytes_col}/rms_dbfs",
        actual=lambda get: F.round(get(feat_col)["rms_dbfs"], 2).cast("string"),
    )


def dc_offset_rule(bytes_col: str = "bytes", feat_col: str = "_decoded",
                   max_abs: float = 0.02) -> ObjectRule:
    """Mean sample value must stay within ±max_abs of zero (MAX) — a DC
    bias flags a broken capture chain (mic preamp / ADC coupling) and
    wastes headroom; it also skews energy-based VAD and any feature
    computed from raw sample moments."""
    return ObjectRule(
        rule_id=Code.MAX,
        predicate=lambda get: (~F.coalesce(get(feat_col)["ok"], F.lit(False)))
        | (F.abs(get(feat_col)["dc_offset"]) <= max_abs),
        message=f"DC offset magnitude exceeds {max_abs}",
        field_path=f"/{bytes_col}/dc_offset",
        actual=lambda get: F.round(get(feat_col)["dc_offset"], 6).cast("string"),
    )


def speech_rate(transcript_col: Column, dur_col: Column) -> Column:
    """Whitespace tokens per second — pure JVM expression, THE same
    token definition as pipeline.text.token_count (imported, not
    re-implemented, so the two can never drift apart; SQL-oracle
    parity rides on that single definition)."""
    from ..pipeline.text import token_count
    # try_divide: NULL (not an ANSI error) on dur<=0 rows — those are the
    # MIN_EXCLUSIVE rule's findings, and `actual` must stay evaluable
    return F.try_divide(token_count(transcript_col).cast("double"),
                        dur_col.cast("double") / F.lit(1000.0))


def speech_rate_rule(transcript_col: str = "transcript",
                     dur_col: str = "dur_ms", min_wps: float = 0.4,
                     max_wps: float = 8.0) -> ObjectRule:
    """Transcript/duration plausibility (CONSISTENT): a real speech clip
    carries roughly 0.4-8 words per second; a 2-word transcript on a
    60-second clip (or an essay on a 300 ms clip) is a pairing error.
    NULL transcript / non-positive duration are the REQUIRED /
    MIN_EXCLUSIVE rules' findings, not this one's."""
    def pred(get):
        rate = speech_rate(get(transcript_col), get(dur_col))
        judged = (get(transcript_col).isNotNull()
                  & (F.length(F.trim(get(transcript_col))) > 0)
                  & get(dur_col).isNotNull() & (get(dur_col) > 0))
        return (~judged) | ((rate >= min_wps) & (rate <= max_wps))

    return ObjectRule(
        rule_id=Code.CONSISTENT,
        predicate=pred,
        message=f"speech rate outside [{min_wps}, {max_wps}] words/sec",
        field_path=f"/{transcript_col}",
        actual=lambda get: F.round(
            speech_rate(get(transcript_col), get(dur_col)), 4).cast("string"),
    )
