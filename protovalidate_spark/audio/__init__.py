from .wav import (  # noqa: F401
    Decoded,
    decode_bytes,
    decode_wav,
    snr_db,
    synth_sine_wav,
    synth_wav,
)
from .embed import (  # noqa: F401
    audio_embedding,
    audio_embeddings_frame,
    with_audio_embedding,
)
from .segments import (  # noqa: F401
    frame_snr_db,
    max_gap_rule,
    min_snr_rule,
    segment_pcm,
    speech_presence_rule,
)
from .consistency import (  # noqa: F401
    transcript_conflict_violations,
    transcript_conflicts,
    transcript_label,
)
from .fingerprint import (  # noqa: F401
    audio_dup_groups,
    fingerprint_key,
    spectral_tokens,
    with_fingerprint,
)
from .bandwidth import (  # noqa: F401
    bandwidth_rule,
    rolloff_hz,
)
from .container import (  # noqa: F401
    CODEC_FORMATS,
    codec_consistency_rule,
    container_format,
    with_container_format,
)
from .decode import (  # noqa: F401
    decode_ok_rule,
    dur_consistency_rule,
    sr_consistency_rule,
    with_decoded,
)
from .features import (  # noqa: F401
    clipping_rule,
    dc_offset_rule,
    quiet_rule,
    silence_rule,
    speech_rate,
    speech_rate_rule,
)
from .repair import (  # noqa: F401
    normalize_pcm,
    resample_linear,
    trim_silence_pcm,
    with_normalized_audio,
    with_standardized_audio,
    with_trimmed_audio,
)
