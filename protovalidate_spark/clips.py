"""The flagship audio-clips validation suite (FIXTURES.md §6;
BASELINE.json north_star): the full rule-set pass over the
(clip_id, bytes, sr_hz, dur_ms, codec, transcript, part_date) table.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession

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
    """The flagship suite. Its ``audio_gates`` (audio/decode.py
    ``GATES``) always hold ``sr_consistency`` and ``dur_consistency``;
    ``audio_checks`` adds clipping, silence and speech_rate,
    ``level_checks`` quiet and dc_offset, ``vad_checks``
    speech_presence, max_gap and min_snr, and ``bandwidth_checks``
    bandwidth. ``label_conflicts=True`` adds the byte-exact
    transcript-conflict dataset check (audio/consistency.py)."""
    gates = ["sr_consistency", "dur_consistency"]
    if audio_checks:
        gates += ["clipping", "silence", "speech_rate"]
    if level_checks:
        gates += ["quiet", "dc_offset"]
    if vad_checks:
        gates += ["speech_presence", "max_gap", "min_snr"]
    if bandwidth_checks:
        gates += ["bandwidth"]
    return ValidationSuite(
        rules=clips_rules(),
        row_keys=("row_idx", "clip_id"),
        partition_col="part_date",
        unique=[("clip_id",)],
        refs=[("codec", dim if dim is not None else codecs_dim(spark), "codec")],
        drift_baseline=drift_baseline,
        stats_cols=("clip_id", "sr_hz", "dur_ms", "codec", "transcript"),
        salt_buckets=salt_buckets,
        audio_gates=tuple({"gate": g} if g == "speech_rate"
                          else {"gate": g, "col": "bytes"} for g in gates),
        label_conflicts=(({"id_col": "clip_id", "bytes_col": "bytes",
                           "transcript_col": "transcript",
                           "key": "exact"},)
                         if label_conflicts else ()),
    )
