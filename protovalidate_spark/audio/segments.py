"""Energy-based voice-activity segmentation (VAD) over decoded PCM.

A speech training pipeline needs more than a whole-clip silence ratio
(features.py): it wants WHERE the speech is — per-clip active segments
for cropping / windowing, plus derived gates (too little speech, one
giant silence hole, clip is nothing but leading/trailing dead air).
The segmenter is the standard energy VAD: frame RMS against a
threshold, short gaps bridged (hangover), too-short bursts dropped.
Deterministic, pure numpy, and computed as the ``vad`` group of the one
decode stage (``decode.with_decoded(fields=("vad",))``) — no second
decode, no per-row Python dispatch.

Rule composition mirrors the engine's shape everywhere else: the
segment struct is a column, so MIN/MAX-style rules read its fields and
violation rows carry the same (field_path, rule_id, actual) triple
(reference pkg/rules/rule.go:43-60 WithRuleFunc custom checks).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import Code
from ..rules.object import ObjectRule

#: the ``vad`` group of ``with_decoded``'s struct
VAD_FIELDS = [
    T.StructField("segments", T.ArrayType(T.StructType([
        T.StructField("start_ms", T.IntegerType()),
        T.StructField("end_ms", T.IntegerType()),
    ]))),
    T.StructField("speech_ms", T.IntegerType()),
    T.StructField("speech_ratio", T.DoubleType()),
    T.StructField("n_segments", T.IntegerType()),
    T.StructField("longest_gap_ms", T.IntegerType()),
    T.StructField("snr_db", T.DoubleType()),
]

# digital-silence noise frames would make the SNR ratio infinite; the
# cap keeps the column finite and far above any real acoustic SNR
MAX_SNR_DB = 120.0


def frame_snr_db(rms: np.ndarray, active: np.ndarray):
    """VAD-based SNR estimate from per-frame RMS + the RAW (pre-bridging)
    activity mask: speech level = RMS over active frames, noise floor =
    RMS over inactive frames, 20·log10 of the ratio capped at
    MAX_SNR_DB. None when either side is empty (all-speech or all-noise
    clips have no in-clip noise reference — speech_presence_rule and
    silence gates judge those shapes)."""
    if not active.any() or active.all():
        return None
    sp = float(np.sqrt(np.mean(rms[active] ** 2)))
    nz = float(np.sqrt(np.mean(rms[~active] ** 2)))
    if sp <= 0.0:
        return 0.0
    return float(min(20.0 * np.log10(sp / max(nz, 1e-10)), MAX_SNR_DB))


def segment_pcm(x: np.ndarray, sr: int, frame_ms: int = 20,
                threshold_rms: float = 0.01, hangover_frames: int = 2,
                min_speech_frames: int = 2, return_frames: bool = False):
    """Active (start_ms, end_ms) spans of one PCM clip.

    Frame RMS >= threshold marks a frame active; inactive gaps of at
    most ``hangover_frames`` between active frames are bridged (speech
    pauses are not segment boundaries); active runs shorter than
    ``min_speech_frames`` are dropped (clicks are not speech). End is
    exclusive, in ms from clip start; the tail partial frame counts as
    a full frame for span arithmetic so end_ms never exceeds a rounded
    frame grid. With ``return_frames`` the per-frame RMS and RAW
    activity mask come back too: ``(spans, rms, active)`` — the SNR
    estimator's inputs, from the same single frame pass."""
    n = x.size
    if n == 0 or sr <= 0:
        return ([], np.array([]), np.array([], dtype=bool)) \
            if return_frames else []
    flen = max(int(sr * frame_ms / 1000), 1)
    nf = (n + flen - 1) // flen
    pad = nf * flen - n
    xx = np.concatenate([x.astype(np.float64),
                         np.zeros(pad)]) if pad else x.astype(np.float64)
    frames = xx.reshape(nf, flen)
    # tail frame RMS over its REAL sample count, not the zero padding
    counts = np.full(nf, flen, dtype=np.float64)
    if pad:
        counts[-1] = flen - pad
    rms = np.sqrt(np.einsum("ij,ij->i", frames, frames) / counts)
    active = rms >= threshold_rms
    if not active.any():
        return ([], rms, active) if return_frames else []
    # bridge short gaps: an inactive run strictly between active frames
    # with length <= hangover stays active
    idx = np.nonzero(active)[0]
    bridged = active.copy()
    gaps = np.diff(idx) - 1
    for k in np.nonzero((gaps > 0) & (gaps <= hangover_frames))[0]:
        bridged[idx[k] + 1:idx[k + 1]] = True
    # run-length encode bridged activity
    edges = np.diff(bridged.astype(np.int8))
    starts = list(np.nonzero(edges == 1)[0] + 1)
    ends = list(np.nonzero(edges == -1)[0] + 1)
    if bridged[0]:
        starts.insert(0, 0)
    if bridged[-1]:
        ends.append(nf)
    out = []
    for s, e in zip(starts, ends):
        if e - s >= min_speech_frames:
            out.append((int(s * frame_ms),
                        int(min(e * frame_ms, n * 1000 // sr))))
    return (out, rms, active) if return_frames else out


def _segments_series(dec: pd.DataFrame, frame_ms: int,
                     threshold_rms: float, hangover_frames: int,
                     min_speech_frames: int) -> pd.DataFrame:
    """VAD spans, speech share, longest gap and SNR per clip of a decoded
    batch (``_decode_parts`` with ``want_pcm``); snr_db is speech-frame
    RMS vs noise-frame RMS from the same frame pass, NULL when the clip
    has no noise reference. Undecodable rows -> null fields."""
    ok = dec["ok"].to_numpy()
    n_rows = len(dec)
    segs = [None] * n_rows
    speech_ms = [None] * n_rows
    ratio = np.full(n_rows, np.nan)
    nseg = [None] * n_rows
    gap = [None] * n_rows
    snr = [None] * n_rows
    for i in np.nonzero(ok)[0]:
        spans, rms, active = segment_pcm(
            dec["pcm"][i], int(dec["sr"][i]), frame_ms, threshold_rms,
            hangover_frames, min_speech_frames, return_frames=True)
        snr[i] = frame_snr_db(rms, active)
        segs[i] = [{"start_ms": s, "end_ms": e} for s, e in spans]
        sp = sum(e - s for s, e in spans)
        dur = int(dec["dur_ms"][i])
        speech_ms[i] = sp
        ratio[i] = sp / dur if dur > 0 else 0.0
        nseg[i] = len(spans)
        # longest inactive span, INCLUDING lead-in and tail-out
        marks = [0] + [v for s, e in spans for v in (s, e)] + [dur]
        gap[i] = max((marks[j + 1] - marks[j]
                      for j in range(0, len(marks), 2)), default=dur)
    return pd.DataFrame({
        "segments": segs,
        "speech_ms": pd.array(speech_ms, dtype="Int32"),
        "speech_ratio": ratio,
        "n_segments": pd.array(nseg, dtype="Int32"),
        "longest_gap_ms": pd.array(gap, dtype="Int32"),
        "snr_db": pd.array(snr, dtype="float64")})


def speech_presence_rule(bytes_col: str = "bytes", decoded_col: str = "_decoded",
                         min_ratio: float = 0.1) -> ObjectRule:
    """Speech-activity ratio must reach min_ratio (MIN). Only decodable
    clips are judged — DECODE reports the rest."""
    return ObjectRule(
        rule_id=Code.MIN,
        predicate=lambda get: (~F.coalesce(get(decoded_col)["ok"], F.lit(False)))
        | (get(decoded_col)["speech_ratio"] >= min_ratio),
        message=f"speech-activity ratio below {min_ratio}",
        field_path=f"/{bytes_col}/speech_ratio",
        actual=lambda get: F.round(get(decoded_col)["speech_ratio"], 6)
        .cast("string"),
    )


def min_snr_rule(bytes_col: str = "bytes", decoded_col: str = "_decoded",
                 min_db: float = 10.0) -> ObjectRule:
    """VAD-estimated SNR must reach min_db (MIN) — a recording whose
    speech barely clears its own noise floor is a capture-quality
    failure ASR training data screens out. Judged only when the clip is
    decodable AND has both speech and noise frames (a NULL snr_db means
    no in-clip noise reference — all-speech or all-silent clips are the
    speech_presence/silence gates' findings, not this one's)."""
    return ObjectRule(
        rule_id=Code.MIN,
        predicate=lambda get: (~F.coalesce(get(decoded_col)["ok"], F.lit(False)))
        | get(decoded_col)["snr_db"].isNull()
        | (get(decoded_col)["snr_db"] >= min_db),
        message=f"VAD-estimated SNR below {min_db} dB",
        field_path=f"/{bytes_col}/snr_db",
        actual=lambda get: F.round(get(decoded_col)["snr_db"], 2).cast("string"),
    )


def max_gap_rule(bytes_col: str = "bytes", decoded_col: str = "_decoded",
                 max_gap_ms: int = 5000) -> ObjectRule:
    """No silent hole (incl. lead-in/tail-out) may exceed max_gap_ms
    (MAX) — a transcriptless dead-air stretch is a pairing smell."""
    return ObjectRule(
        rule_id=Code.MAX,
        predicate=lambda get: (~F.coalesce(get(decoded_col)["ok"], F.lit(False)))
        | (get(decoded_col)["longest_gap_ms"] <= max_gap_ms),
        message=f"longest silent gap exceeds {max_gap_ms} ms",
        field_path=f"/{bytes_col}/longest_gap_ms",
        actual=lambda get: get(decoded_col)["longest_gap_ms"].cast("string"),
    )
