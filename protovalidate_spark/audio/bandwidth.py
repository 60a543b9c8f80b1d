"""Effective-bandwidth estimation + upsample-detection rule.

A clip whose container claims ``sr_hz`` but whose spectrum carries no
energy above a fraction of Nyquist was upsampled from a lower true rate
(or recorded through a telephony band and re-wrapped at a higher rate).
The container metadata is internally consistent — decode, sr/dur
consistency, and level gates all pass — yet the audio is NOT what the
sample rate promises, and models trained on it learn the band-limit
artifact. This is the standard "effective bandwidth" gate an
ASR-dataset curation pass runs after decode.

Spectral rolloff here is the frequency below which ``rolloff`` (default
0.99) of total spectral power sits, computed from a Welch-style average
of non-overlapping Hann-windowed ``n_fft`` frames — one rfft per frame,
bounded work per clip regardless of clip length, computed as the
``bandwidth`` group of the one decode stage
(``decode.with_decoded(fields=("bandwidth",))``, no per-row Python
dispatch). ``bandwidth_ratio = rolloff_hz / (sr/2)`` is the
judged quantity: a proper full-band recording lands near 1.0; content
ideally-resampled from sr/2 lands near 0.5; telephony-band content in a
16 kHz container lands near 0.2.

Rule semantics mirror the engine's other consistency gates (reference
pkg/rules/rule.go:43-60 WithRuleFunc): only rows that can be judged are
judged — undecodable clips are DECODE's finding, (near-)silent clips
are the silence/quiet rules' findings (a silent clip has no spectrum to
measure), clips shorter than one analysis frame carry too few samples
for a stable estimate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import Code
from ..rules.object import ObjectRule

#: the ``bandwidth`` group of ``with_decoded``'s struct
BANDWIDTH_FIELDS = [T.StructField("rolloff_hz", T.DoubleType()),
                    T.StructField("bandwidth_ratio", T.DoubleType())]

#: clips with integrated RMS below this have no measurable content
#: spectrum — only a codec noise floor (G.711 A-law encodes digital
#: silence as ~2.4e-4 RMS of quantization noise, which would otherwise
#: read as "band-limited content"); the bandwidth rule leaves them to
#: the silence/quiet gates (-60 dBFS here vs quiet_rule's -45 default)
MIN_JUDGED_RMS = 1e-3


def rolloff_hz(x: np.ndarray, sr: int, rolloff: float = 0.99,
               n_fft: int = 2048):
    """(rolloff_hz, bandwidth_ratio) for one PCM clip, or (nan, nan)
    when the clip is empty/zero-energy. Welch average of non-overlapping
    Hann frames; a clip shorter than ``n_fft`` is analyzed as one
    zero-padded frame (frequency resolution still sr/n_fft)."""
    n = int(x.size)
    if n == 0:
        return float("nan"), float("nan")
    x64 = x.astype(np.float64)
    if n < n_fft:
        frames = np.zeros((1, n_fft))
        frames[0, :n] = x64
    else:
        nf = n // n_fft
        frames = x64[:nf * n_fft].reshape(nf, n_fft)
    win = np.hanning(n_fft)
    spec = np.abs(np.fft.rfft(frames * win, axis=1))
    power = np.mean(spec * spec, axis=0)  # Welch average, one vector
    total = float(power.sum())
    if total <= 0.0:
        return float("nan"), float("nan")
    cum = np.cumsum(power)
    k = int(np.searchsorted(cum, rolloff * total))
    hz = k * sr / float(n_fft)
    nyq = sr / 2.0
    return float(hz), float(min(hz / nyq, 1.0)) if nyq > 0 else float("nan")


def _bandwidth_frame(dec: pd.DataFrame, rolloff: float,
                     n_fft: int) -> pd.DataFrame:
    """Per-clip rolloff/ratio of a decoded batch (``_decode_parts`` with
    ``want_pcm``); undecodable rows -> null fields."""
    n_rows = len(dec)
    roll = np.full(n_rows, np.nan)
    ratio = np.full(n_rows, np.nan)
    for i in np.nonzero(dec["ok"].to_numpy())[0]:
        roll[i], ratio[i] = rolloff_hz(dec["pcm"][i], int(dec["sr"][i]),
                                       rolloff, n_fft)
    return pd.DataFrame({"rolloff_hz": roll, "bandwidth_ratio": ratio})


def bandwidth_rule(bytes_col: str = "bytes", bw_col: str = "_decoded",
                   min_ratio: float = 0.5,
                   min_rms: float = MIN_JUDGED_RMS) -> ObjectRule:
    """Effective bandwidth must reach ``min_ratio`` of Nyquist
    (CONSISTENT): content band-limited to well under the container's
    sample rate means the clip was upsampled or band-restricted — the
    declared sr_hz over-promises. Undecodable rows are DECODE's
    finding; rows under ``min_rms`` are the silence/quiet gates'."""
    def pred(get):
        judged = (F.coalesce(get(bw_col)["ok"], F.lit(False))
                  & (get(bw_col)["rms"] >= min_rms)
                  & ~F.isnan(get(bw_col)["bandwidth_ratio"]))
        return (~judged) | (get(bw_col)["bandwidth_ratio"] >= min_ratio)

    return ObjectRule(
        rule_id=Code.CONSISTENT,
        predicate=pred,
        message=f"effective bandwidth below {min_ratio} of Nyquist "
                "(upsampled or band-limited content)",
        field_path=f"/{bytes_col}/bandwidth_ratio",
        actual=lambda get: F.round(
            get(bw_col)["bandwidth_ratio"], 4).cast("string"),
    )
