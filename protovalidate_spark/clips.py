"""The flagship audio-clips validation suite (FIXTURES.md §6;
BASELINE.json north_star): the full rule-set pass over the
(clip_id, bytes, sr_hz, dur_ms, codec, transcript, part_date) table.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from .audio.decode import dur_consistency_rule, sr_consistency_rule
from .fixtures import codecs_dim
from .rules import Binary, Int32, Object, String
from .suite import ValidationSuite

ALLOWED_CODECS = ("flac", "mp3", "opus", "wav")


def clips_rules():
    """FIXTURES.md §6 rule set, built with the fluent DSL."""
    return (
        Object()
        .with_key("clip_id", String().with_required().min_len(6).max_len(64)
                  .regex(r"^clip-[0-9]{10}$"))
        .with_key("bytes", Binary().with_required().decodable("wav"))
        .with_key("sr_hz", Int32().with_required().min(8000).max(192000)
                  .allowed_values(8000, 16000, 22050, 44100, 48000))
        .with_key("dur_ms", Int32().with_required().min_exclusive(0).max(600_000))
        .with_key("codec", String().with_required().allowed_values(*ALLOWED_CODECS))
        .with_key("transcript", String().with_required().min_len(1))
        .with_unknown()
    )


def clips_suite(spark: SparkSession,
                drift_baseline: Optional[Dict[str, dict]] = None,
                dim: Optional[DataFrame] = None,
                salt_buckets: int = 0,
                audio_checks: bool = False,
                level_checks: bool = False,
                vad_checks: bool = False,
                bandwidth_checks: bool = False,
                label_conflicts: bool = False) -> ValidationSuite:
    """``audio_checks=True`` adds the PCM quality gates (clipping ratio,
    silence ratio) and the transcript speech-rate consistency rule; the
    feature fields ride the SAME decode stage (its ``features`` group),
    so the scan and Python round-trip budget is unchanged.
    ``level_checks=True`` adds the capture-chain gates (integrated RMS
    level, DC offset) on the same feature fields. ``vad_checks=True``
    adds the energy-VAD gates (speech presence, max silent gap,
    VAD-estimated min SNR) — the ``vad`` group; with every flag on it is
    STILL one Arrow stage and one decode (``audio/decode.py::
    with_decoded``). ``bandwidth_checks=True`` adds the
    effective-bandwidth / upsample-detection gate (audio/bandwidth.py:
    spectral rolloff vs the container's Nyquist) — the ``bandwidth``
    group of the same stage. With no audio flag the stage ships headers,
    not payloads. NOTE: the deterministic test fixture synthesizes pure
    tones, which ARE narrowband — on the fixture this gate flags most
    decodable clips by design; it is meant for real recorded speech.
    ``label_conflicts=True`` adds the byte-exact transcript-conflict
    dataset check (audio/consistency.py): byte-identical clips whose
    transcripts disagree emit CONSISTENT violation rows."""
    extra = [
        sr_consistency_rule("sr_hz", "__dec_bytes"),
        dur_consistency_rule("dur_ms", "__dec_bytes", tolerance_ms=10),
    ]
    features = ()
    vad = ()
    if audio_checks:
        from .audio.features import (clipping_rule, silence_rule,
                                     speech_rate_rule)
        features = ("bytes",)
        extra += [clipping_rule("bytes", "__dec_bytes"),
                  silence_rule("bytes", "__dec_bytes"),
                  speech_rate_rule("transcript", "dur_ms")]
    if level_checks:
        from .audio.features import dc_offset_rule, quiet_rule
        features = ("bytes",)
        extra += [quiet_rule("bytes", "__dec_bytes"),
                  dc_offset_rule("bytes", "__dec_bytes")]
    if vad_checks:
        from .audio.segments import (max_gap_rule, min_snr_rule,
                                     speech_presence_rule)
        vad = ("bytes",)
        extra += [speech_presence_rule("bytes", "__dec_bytes"),
                  max_gap_rule("bytes", "__dec_bytes"),
                  min_snr_rule("bytes", "__dec_bytes")]
    bw = ()
    if bandwidth_checks:
        from .audio.bandwidth import bandwidth_rule
        bw = ("bytes",)
        extra += [bandwidth_rule("bytes", "__dec_bytes")]
    return ValidationSuite(
        rules=clips_rules(),
        row_keys=("row_idx", "clip_id"),
        partition_col="part_date",
        unique=[("clip_id",)],
        refs=[("codec", dim if dim is not None else codecs_dim(spark), "codec")],
        drift_baseline=drift_baseline,
        stats_cols=("clip_id", "sr_hz", "dur_ms", "codec", "transcript"),
        extra_object_rules=tuple(extra),
        salt_buckets=salt_buckets,
        audio_features=features,
        audio_vad=vad,
        audio_bandwidth=bw,
        label_conflicts=(({"id_col": "clip_id", "bytes_col": "bytes",
                           "transcript_col": "transcript",
                           "key": "exact"},)
                         if label_conflicts else ()),
    )
