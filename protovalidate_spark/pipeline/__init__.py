from .text import (  # noqa: F401
    bigram_logprob, c4_clean_text, c4_line_features,
    c4_quality_violations, fingerprint, gopher_quality_violations, lang_id,
    normalize_text, oov_rate, oov_violations, perplexity_violations,
    pii_counts, punct_ratio,
    quality_features, quality_score, redact_pii, with_redacted_text,
    repetition_features, stopword_ratio,
    token_count, tokens, vocab_topk,
)
from .packing import pack_offsets  # noqa: F401
from .dedup import (  # noqa: F401
    connected_components, contamination_hits,
    duplicate_span_violations, duplicate_spans, remove_duplicate_spans,
    embedding_near_dups, exact_duplicates,
    jaccard_pairs, minhash_from_hashes, minhash_lsh_candidates,
    ngram_jaccard_dedup, prefix_jaccard_pairs,
    shingle_hashes, simhash_near_dups, word_shingles,
)
from .similarity import (  # noqa: F401
    band_planes, build_lsh_index, cosine_topk, hyperplane_signatures,
    ivf_assign, ivf_topk, lsh_topk, quantize_embeddings, read_ivf_probe,
    read_lsh_probe, train_centroids, write_ivf_index, write_lsh_index,
)
from .curate import curate_clips, curate_documents  # noqa: F401
