"""Text-analysis operators for training-data pipelines (driver brief:
language-ID, quality scoring, token counting, document fingerprinting).

All hot-path expressions are JVM-side built-ins (whole-stage codegen) —
no Python UDFs. At 100 TB these are pure map stages: no shuffle, fully
pushdown-friendly.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import Code

# Minimal stopword sets per language for the n-gram/stopword heuristic.
STOPWORDS: Dict[str, Sequence[str]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "para", "con", "que"),
    "it": ("il", "la", "di", "che", "e", "un", "una", "per", "con", "non"),
    "pt": ("o", "a", "de", "que", "e", "do", "da", "em", "um", "para"),
    "nl": ("de", "het", "een", "en", "van", "is", "dat", "op", "te", "niet"),
    "sv": ("och", "att", "det", "som", "är", "på", "av", "inte", "jag", "har"),
    "da": ("og", "jeg", "det", "at", "til", "er", "som", "på", "ikke", "med"),
    "pl": ("nie", "się", "jest", "na", "do", "że", "co", "jak", "ale", "tak"),
    "tr": ("bir", "ve", "bu", "için", "ile", "ne", "gibi", "çok", "ama", "daha"),
    "id": ("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini",
           "dari", "akan"),
}

#: Stopword-language tie-break order (first listed wins on equal counts)
#: — the oracle SQL composes its CASE chain from this same tuple. New
#: languages append at the END so they only claim a document by
#: strictly out-scoring every earlier language.
LANG_ORDER: Sequence[str] = ("en", "de", "fr", "es", "it", "pt", "nl",
                             "sv", "da", "pl", "tr", "id")

#: Script-based branches, checked BEFORE stopwords in this order (ja
#: before zh: Japanese text carries kanji, but kana are unique to it).
#: Values are regex char-class bodies of LITERAL range chars, shared
#: verbatim by the Spark expression and the DuckDB oracle.
CHARSET_RANGES: Dict[str, str] = {
    "ja": "぀-ヿ",   # hiragana + katakana
    "ko": "가-힣",   # hangul syllables
    "zh": "一-鿿",   # CJK unified ideographs
    "ru": "Ѐ-ӿ",   # Cyrillic
    "ar": "؀-ۿ",   # Arabic
    "hi": "ऀ-ॿ",   # Devanagari
    "el": "Ͱ-Ͽ",   # Greek
    "he": "֐-׿",   # Hebrew
    "th": "฀-๿",   # Thai
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    t = F.split(F.trim(col), r"\s+")
    return F.when(F.length(F.trim(col)) == 0, F.array().cast("array<string>")) \
            .otherwise(t)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(col) > 0,
                  F.length(stripped) / F.length(col)).otherwise(F.lit(0.0))


def digit_ratio(col: Column) -> Column:
    return F.when(F.length(col) > 0,
                  F.length(F.regexp_replace(col, r"[^0-9]", "")) / F.length(col)
                  ).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(col))
    sw = F.lit(list(STOPWORDS[lang]))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One projection appending the standard quality-feature columns."""
    c = F.col(text_col)
    toks = tokens(c)
    return df.withColumns({
        "n_chars_q": F.length(c),
        "n_tokens": F.size(toks),
        "avg_token_len": F.when(
            F.size(toks) > 0,
            F.aggregate(toks, F.lit(0).cast("long"),
                        lambda acc, t: acc + F.length(t)) / F.size(toks)
        ).otherwise(F.lit(0.0)),
        "punct_ratio": punct_ratio(c),
        "digit_ratio": digit_ratio(c),
        "stopword_ratio_en": stopword_ratio(c, "en"),
    })


def quality_score(df: DataFrame, text_col: str = "text",
                  out_col: str = "quality") -> DataFrame:
    """Heuristic quality in [0,1]: penalize empty/short, high punctuation,
    high digit share; reward stopword presence (fluency proxy)."""
    d = quality_features(df, text_col)
    score = (
        F.least(F.col("n_tokens") / 20.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.2
        + (1.0 - F.least(F.col("digit_ratio") * 4, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio_en") * 5, F.lit(1.0)) * 0.2
    )
    return d.withColumn(out_col, F.round(score, 6))


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "lang_pred") -> DataFrame:
    """Stopword/charset language heuristic, pure Column expressions —
    an honest n-gram-free placeholder, not a trained model. Script
    branches first (``CHARSET_RANGES`` order: kana → hangul → CJK →
    Cyrillic → Arabic → Devanagari → Greek → Hebrew → Thai; a script
    wins when >20% of characters fall in its range); otherwise argmax
    of per-language stopword hit counts over ``LANG_ORDER`` (first
    listed wins ties); 'und' when nothing matches. The DuckDB oracle
    composes the identical CASE chain from these same constants."""
    # Leaves are composed as SQL strings and parsed JVM-side with ONE
    # F.expr call each: the Column-combinator form made len(stopwords) x
    # languages py4j round-trips just to build the plan (~3s of driver
    # wall time per call at 12 languages, before any data moved).
    tc = f"`{text_col}`"
    toks = rf"split(trim(lower({tc})), '\\s+')"
    scores = {}
    for lang in LANG_ORDER:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        # empty/whitespace-only text: split yields [''] and no stopword
        # is '', so the score is 0 — identical to the tokens() guard
        scores[lang] = F.expr(
            f"size(filter({toks}, t -> array_contains(array({words}), t)))")

    # ASCII fast path: every script range is non-ASCII, and a string is
    # pure ASCII iff its UTF-8 byte length equals its char length — one
    # cheap byte-op guard short-circuits all nine regex scans for the
    # (dominant) ASCII rows. AND short-circuits in codegen; results are
    # identical, so the committed oracle CASE chain is unchanged.
    pred = None
    for lang, rng in CHARSET_RANGES.items():
        cond = F.expr(
            f"octet_length({tc}) != length({tc}) AND "
            f"length(regexp_replace({tc}, '[^{rng}]', '')) > "
            f"length({tc}) * 0.2")
        pred = F.when(cond, F.lit(lang)) if pred is None \
            else pred.when(cond, F.lit(lang))
    # Two projections, not one: inlining each score into the CASE chain
    # (13 occurrences x 12 lambda subtrees) made Catalyst ANALYSIS the
    # bottleneck (~2.5s per plan). Scores are analyzed once here; the
    # CASE references cheap attribute refs, and CollapseProject keeps
    # them separate because re-inlining would duplicate non-cheap exprs.
    stage = df.select("*", *[scores[lang].alias(f"__langid_s_{lang}")
                             for lang in LANG_ORDER])
    refs = {lang: F.col(f"__langid_s_{lang}") for lang in LANG_ORDER}
    best = F.greatest(*refs.values())
    for lang in LANG_ORDER:  # deterministic tie-break: LANG_ORDER
        pred = pred.when((best > 0) & (refs[lang] == best), F.lit(lang))
    pred = pred.otherwise(F.lit("und"))
    return (stage.withColumn(out_col, pred)
            .drop(*[f"__langid_s_{lang}" for lang in LANG_ORDER]))


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition signals, pure JVM map-only expressions
    (the standard "remove boilerplate / degenerate text" gates a
    training-data pipeline runs before dedup):

    - ``n_tokens`` — whitespace tokens;
    - ``dup_word_frac`` — 1 - distinct/total tokens (word-level
      repetition; 0 for empty docs);
    - ``dup_2gram_frac`` / ``dup_3gram_frac`` — same at n-gram level
      (catches loops/boilerplate the word level misses);
    - ``mean_word_len`` — characters per token (degenerate text sits
      far from the ~4-6 natural-language band);
    - ``symbol_word_ratio`` — '#'/ellipsis occurrences per token
      (Gopher's symbol gate);
    - ``max_line_frac`` — longest line's share of characters (1.0 for
      single-line docs; boilerplate pages repeat one long line).

    At 100 TB: no shuffle, no UDF — one whole-stage-codegen projection,
    fully pushdown-friendly. The DuckDB oracle composes the identical
    arithmetic from list functions (test parity + contract query)."""
    c = F.col(text_col)
    toks = tokens(c)
    n = F.size(toks)

    def dup_frac(arr):
        m = F.size(arr)
        return F.when(m > 0, 1.0 - F.size(F.array_distinct(arr)) / m) \
                .otherwise(F.lit(0.0))

    def ngrams(k):
        # zip_with over shifted slices, NOT transform(slice(toks, i, k))
        # over an index sequence: the slice-per-index form copies the
        # token array O(n) times per doc (measured 6.6x slower on the
        # sf0.1 corpus). zip_with pads the shorter side with NULL and
        # concat null-propagates, so padded tails drop in the filter.
        out = toks
        for j in range(1, k):
            shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
            out = F.zip_with(out, shifted,
                             lambda a, b: F.concat(a, F.lit(" "), b))
        return F.filter(out, lambda x: x.isNotNull()) if k > 1 else out

    total_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0),
        lambda acc, v: acc + v)
    lines = F.split(c, r"\n")
    max_line = F.array_max(F.transform(lines, F.length))
    n_sym = F.size(F.regexp_extract_all(c, F.lit(r"(#|\.\.\.|…)"), 0))
    return df.select(
        "*",
        n.cast("bigint").alias("n_tokens"),
        dup_frac(toks).alias("dup_word_frac"),
        dup_frac(ngrams(2)).alias("dup_2gram_frac"),
        dup_frac(ngrams(3)).alias("dup_3gram_frac"),
        F.when(n > 0, total_chars / n).otherwise(F.lit(0.0))
         .alias("mean_word_len"),
        F.when(n > 0, n_sym / n).otherwise(F.lit(0.0))
         .alias("symbol_word_ratio"),
        F.when(F.length(c) > 0, max_line / F.length(c))
         .otherwise(F.lit(0.0)).alias("max_line_frac"),
    )


def gopher_quality_violations(df: DataFrame, id_col: str,
                              text_col: str = "text",
                              min_tokens: int = 50,
                              max_tokens: int = 100_000,
                              min_mean_word_len: float = 3.0,
                              max_mean_word_len: float = 10.0,
                              max_dup_word_frac: float = 0.5,
                              max_dup_3gram_frac: float = 0.6,
                              max_symbol_word_ratio: float = 0.1) -> DataFrame:
    """Gopher-rule quality gates as violation rows (field_path, rule_id
    matching the engine's error shape): doc-length band, mean-word-length
    band, word/3-gram repetition caps, symbol ratio cap. Thresholds
    default to the published Gopher ranges; every gate is one boolean
    over the :func:`repetition_features` projection."""
    f = repetition_features(df, text_col)
    gates = [
        (F.col("n_tokens") < min_tokens, Code.MIN_LEN,
         f"fewer than {min_tokens} tokens"),
        (F.col("n_tokens") > max_tokens, Code.MAX_LEN,
         f"more than {max_tokens} tokens"),
        ((F.col("n_tokens") >= min_tokens)
         & ((F.col("mean_word_len") < min_mean_word_len)
            | (F.col("mean_word_len") > max_mean_word_len)), Code.RANGE,
         "mean word length outside band"),
        (F.col("dup_word_frac") > max_dup_word_frac, "REPETITION",
         "duplicate-word fraction above cap"),
        (F.col("dup_3gram_frac") > max_dup_3gram_frac, "REPETITION",
         "duplicate-3gram fraction above cap"),
        (F.col("symbol_word_ratio") > max_symbol_word_ratio, Code.MAX,
         "symbol-to-word ratio above cap"),
    ]
    parts = []
    for cond, code, msg in gates:
        parts.append(f.filter(F.coalesce(cond, F.lit(False))).select(
            F.col(id_col),
            F.lit(f"/{text_col}").alias("field_path"),
            F.lit(code).alias("rule_id"),
            F.lit(msg).alias("message")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# C4's terminal-punctuation line filter (Raffel et al. 2020 §2.2): a
# retained line must end in . ! ? or a closing quote
_C4_TERMINAL_RE = r'[.!?"]$'


def _line_words(line: Column) -> Column:
    # split('') yields [''] (size 1), so empty lines need the explicit 0
    return F.when(F.length(line) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(line, r"\s+")))


def c4_line_features(df: DataFrame, text_col: str = "text",
                     min_line_words: int = 3) -> DataFrame:
    """C4-style line-level page signals (the boilerplate screen that runs
    BEFORE Gopher's token-level gates), pure JVM map-only expressions:

    - ``n_lines`` / ``n_kept_lines`` / ``kept_line_frac`` — lines that
      survive C4's line filter (>= min_line_words words AND terminal
      punctuation); boilerplate nav/footer pages keep almost none;
    - ``n_sentences`` — terminal-punctuation marks in the page (C4
      drops pages with too few sentences);
    - ``has_lorem`` — 'lorem ipsum' placeholder text;
    - ``has_brace`` — '{' (code/markup leaking into prose);
    - ``n_js_lines`` — lines mentioning 'javascript' (cookie/JS-notice
      boilerplate; C4 drops the line, the violation gate flags the page).

    At 100 TB: no shuffle, no UDF — one whole-stage-codegen projection.
    The DuckDB oracle composes identical arithmetic from list functions
    (contract query c4_quality_documents)."""
    c = F.col(text_col)
    lines = F.transform(F.split(c, r"\n"), lambda l: F.trim(l))
    n_lines = F.size(lines)
    kept = F.filter(lines, lambda l: (_line_words(l) >= min_line_words)
                    & l.rlike(_C4_TERMINAL_RE))
    js = F.filter(lines, lambda l: F.lower(l).contains("javascript"))
    return df.select(
        "*",
        n_lines.cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept_lines"),
        F.when(n_lines > 0, F.size(kept).cast("double") / n_lines)
         .otherwise(F.lit(0.0)).alias("kept_line_frac"),
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]"), 0))
         .cast("bigint").alias("n_sentences"),
        F.coalesce(F.lower(c).contains("lorem ipsum"), F.lit(False))
         .alias("has_lorem"),
        F.coalesce(c.contains("{"), F.lit(False)).alias("has_brace"),
        F.size(js).cast("bigint").alias("n_js_lines"),
    )


def c4_clean_text(col: Column, min_line_words: int = 3) -> Column:
    """The C4 line-filtering TRANSFORM (the cleaning op, not the gate):
    keep only trimmed lines with >= min_line_words words that end in
    terminal punctuation and don't mention 'javascript'; rejoin with
    newlines. Empty string when nothing survives — pair with
    ``c4_quality_violations`` to drop such pages."""
    lines = F.transform(F.split(col, r"\n"), lambda l: F.trim(l))
    kept = F.filter(lines, lambda l: (_line_words(l) >= min_line_words)
                    & l.rlike(_C4_TERMINAL_RE)
                    & ~F.lower(l).contains("javascript"))
    return F.array_join(kept, "\n")


def c4_quality_violations(df: DataFrame, id_col: str,
                          text_col: str = "text",
                          min_sentences: int = 3,
                          min_line_words: int = 3,
                          min_kept_line_frac: float = 0.0) -> DataFrame:
    """C4-rule page gates as violation rows (same error shape as every
    rule in the engine): sentence-count floor, 'lorem ipsum' and
    curly-brace page drops, javascript-line flagging, and (opt-in via
    min_kept_line_frac > 0) a floor on the fraction of lines surviving
    the C4 line filter. Thresholds default to the published C4 rules."""
    f = c4_line_features(df, text_col, min_line_words)
    gates = [
        (F.col("n_sentences") < min_sentences, Code.MIN_LEN,
         f"fewer than {min_sentences} sentences"),
        (F.col("has_lorem"), Code.DENIED,
         "contains 'lorem ipsum' placeholder text"),
        (F.col("has_brace"), Code.DENIED,
         "contains curly brace (code/markup page)"),
        (F.col("n_js_lines") > 0, "BOILERPLATE",
         "javascript boilerplate line(s)"),
    ]
    if min_kept_line_frac > 0.0:
        gates.append((F.col("kept_line_frac") < min_kept_line_frac,
                      Code.MIN,
                      f"kept-line fraction below {min_kept_line_frac}"))
    parts = []
    for cond, code, msg in gates:
        parts.append(f.filter(F.coalesce(cond, F.lit(False))).select(
            F.col(id_col),
            F.lit(f"/{text_col}").alias("field_path"),
            F.lit(code).alias("rule_id"),
            F.lit(msg).alias("message")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PII_PATTERNS = {
    # shared verbatim with the DuckDB oracle (Java regex ∩ RE2 syntax)
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "n_phones": r"\+\d[\d()\- ]{7,}\d",
}


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII pattern counts (emails, IPv4 literals,
    international-format phone numbers) — the scrub-before-training
    scan. Pure ``regexp_extract_all`` projections (map-only, no UDF);
    patterns are deliberately in the Java-regex ∩ RE2 subset so the
    DuckDB oracle runs them verbatim. Detection counts only — redaction
    would be one ``regexp_replace`` per column with the same patterns."""
    c = F.col(text_col)
    return df.select(
        "*",
        *[F.size(F.regexp_extract_all(c, F.lit(pat), 0))
          .cast("bigint").alias(name)
          for name, pat in _PII_PATTERNS.items()])


#: replacement tokens for redaction — bracketed uppercase markers, the
#: C4/Dolma-style scrub convention (greppable, tokenizer-stable)
_PII_REDACTIONS = {
    "n_emails": "[EMAIL]",
    "n_ipv4": "[IP]",
    "n_phones": "[PHONE]",
}


def redact_pii(col: Column) -> Column:
    """Scrub PII in place: each detected span replaced by its bracketed
    marker ([EMAIL]/[IP]/[PHONE]) — one chained ``regexp_replace`` per
    pattern, the SAME patterns ``pii_counts`` detects with (imported,
    not re-stated, so detect and scrub can never drift apart). Pure
    JVM, map-only; order matters only for phones-vs-IPs overlap and is
    fixed (emails, then IPs, then phones) so output is deterministic."""
    out = col
    for name in ("n_emails", "n_ipv4", "n_phones"):
        out = F.regexp_replace(out, _PII_PATTERNS[name],
                               _PII_REDACTIONS[name])
    return out


def with_redacted_text(df: DataFrame, text_col: str = "text",
                       out_col: str = "text_redacted") -> DataFrame:
    """Append the scrubbed text column; pair with ``pii_counts`` to
    assert the scrub converged (counts on the redacted column are 0)."""
    return df.withColumn(out_col, redact_pii(F.col(text_col)))


def normalize_text(col: Column) -> Column:
    """Dedup normalization: lowercase, strip non-alphanumerics, squeeze
    whitespace."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", " "), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text
    (matches ANSI md5 → DuckDB-verifiable)."""
    return F.md5(normalize_text(col))


def oov_rate(df: DataFrame, id_col: str, vocab: DataFrame,
             text_col: str = "text",
             token_col: str = "token") -> DataFrame:
    """Per-document out-of-vocabulary token fraction against a
    vocabulary table (typically :func:`vocab_topk` output — the two
    share the ``tokens()`` definition, so coverage is measured in the
    vocabulary's own token space): ``(id, n_tokens, n_oov, oov_rate)``,
    zero-token docs reporting rate 0.0. A high OOV rate flags docs the
    tokenizer will shred into rare pieces — wrong language, encoding
    damage, or domain mismatch.

    Scale shape: the token explode is map-only; the vocab side is
    DISTINCT + broadcast (a training vocabulary is 10^4-10^6 rows — MBs
    next to the corpus), membership = BroadcastHashJoin, per-doc re-agg
    groups on the id (map-side partials). Same explode+broadcast shape
    as contamination_hits."""
    base = df.select(F.col(id_col),
                     token_count(F.col(text_col)).cast("bigint")
                     .alias("n_tokens"))
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("__t"))
    v = (vocab.select(F.col(token_col).alias("__t")).distinct()
         .withColumn("__in", F.lit(1)))
    oov = (toks.join(F.broadcast(v), "__t", "left")
           .groupBy(id_col)
           .agg(F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                .cast("bigint").alias("n_oov")))
    return (base.join(oov, id_col, "left")
            .select(id_col, "n_tokens",
                    F.coalesce("n_oov", F.lit(0)).cast("bigint")
                    .alias("n_oov"),
                    F.when(F.col("n_tokens") > 0,
                           F.coalesce("n_oov", F.lit(0))
                           / F.col("n_tokens"))
                    .otherwise(F.lit(0.0)).alias("oov_rate")))


def oov_violations(df: DataFrame, id_col: str, vocab: DataFrame,
                   text_col: str = "text", token_col: str = "token",
                   max_rate: float = 0.5) -> DataFrame:
    """Docs whose OOV fraction exceeds ``max_rate``, as violation rows
    (MAX) — the doc-level gate over :func:`oov_rate`."""
    r = oov_rate(df, id_col, vocab, text_col, token_col)
    return (r.filter(F.col("oov_rate") > max_rate)
            .select(F.col(id_col),
                    F.lit(f"/{text_col}").alias("field_path"),
                    F.lit(Code.MAX).alias("rule_id"),
                    F.round("oov_rate", 6).cast("string").alias("actual")))


def vocab_topk(df: DataFrame, text_col: str = "text",
               k: int = 100) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent whitespace tokens as
    ``(token, freq)``, tie-broken by token ascending so the result is
    a deterministic SET (a tie at the k-th rank cannot flip rows).

    Scale shape: explode is map-only; the groupBy count does map-side
    partial aggregation (one row per distinct token per partition
    reaches the shuffle); the top-k is ``orderBy(...).limit(k)``, which
    Spark executes as TakeOrderedAndProject — a per-partition heap of k
    rows and a driver merge, NOT a global sort shuffle. Tokenization is
    ``tokens()`` (pipeline/text.py), the same expression the
    token_count_documents oracle pins, so an external engine's split
    agrees exactly."""
    return (df.select(F.explode(tokens(F.col(text_col))).alias("token"))
              .groupBy("token").agg(F.count("*").alias("freq"))
              .orderBy(F.desc("freq"), F.asc("token"))
              .limit(k))


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per adjacent token pair ``(id, w1, w2)``. The pair
    assembly is an ``arrays_zip`` of two slices of the SAME materialized
    token array — map-only JVM, one tokenizer eval per row, no
    positional explode+self-join. Docs with <2 tokens contribute no
    rows (guarded: ``slice`` with a negative length would error)."""
    w = tokens(F.col(text_col))
    pairs = F.when(
        F.size(w) >= 2,
        F.arrays_zip(F.slice(w, 1, F.size(w) - 1).alias("w1"),
                     F.slice(w, 2, F.size(w) - 1).alias("w2")),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return (df.select(F.col(id_col), F.explode(pairs).alias("b"))
              .select(id_col, F.col("b.w1").alias("w1"),
                      F.col("b.w2").alias("w2")))


def bigram_logprob(df: DataFrame, id_col: str, text_col: str = "text",
                   k: float = 0.5) -> DataFrame:
    """CCNet-style language-model quality signal (Wenzek et al. 2020
    filter corpora by LM perplexity): train an add-k-smoothed bigram LM
    on the corpus ITSELF, then score every document by the mean
    negative log-likelihood of its adjacent token pairs —
    ``(id, n_bigrams, mean_nll)`` with ``mean_nll`` rounded to 6
    decimals (log-perplexity, natural log; lower = more typical of the
    corpus). Gibberish, wrong-language and encoding-damaged docs score
    high because their token transitions never occur elsewhere; no
    external model needed, which keeps the op engine-portable and the
    oracle exact. Docs with <2 tokens report ``n_bigrams = 0`` and NULL
    ``mean_nll`` (no transitions to judge — a length gate's job, not
    this one's).

    Arithmetic (mirrored verbatim by the DuckDB oracle):
    ``lp(w1,w2) = ln((c2(w1,w2) + k) / (c1(w1) + k*V))`` with integer
    corpus counts ``c2``/``c1``, vocabulary size ``V`` and exactly-
    representable ``k`` — every division sees bit-identical operands in
    both engines, and the 6-decimal round of the per-doc MEAN absorbs
    sum-order and libm-ulp noise (~1e-15) with ~1e-8/doc flip odds.

    Scale shape: pair assembly is map-only (arrays_zip of two slices);
    ``c1``/``c2`` are map-side-combined groupBy counts (one row per
    distinct token/pair per partition reaches the shuffle — hot tokens
    like "the" collapse BEFORE shuffling); V is a 1-row broadcast
    cross-join; the count frames join back to the pair frame on token
    keys, where a hot bigram is a skewed JOIN key, not a skewed agg —
    AQE skew-join splits it; the per-doc re-agg is map-side-combined on
    the id. Nothing touches the driver."""
    bi = _doc_bigrams(df, id_col, text_col)
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("t"))
    c1 = tok.groupBy("t").agg(F.count("*").alias("c1"))
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    vocab_n = c1.agg(F.count("*").alias("V"))
    scored = (bi.join(c2, ["w1", "w2"])
                .join(c1.withColumnRenamed("t", "w1"), "w1")
                .crossJoin(F.broadcast(vocab_n))
                .select(F.col(id_col),
                        F.log((F.col("c2") + F.lit(k))
                              / (F.col("c1") + F.lit(k) * F.col("V")))
                         .alias("lp")))
    per_doc = (scored.groupBy(id_col)
               .agg(F.count("*").alias("n_bigrams"),
                    F.sum("lp").alias("sum_lp")))
    base = df.select(id_col)
    return (base.join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
                     .alias("n_bigrams"),
                    F.round(-F.col("sum_lp") / F.col("n_bigrams"), 6)
                     .alias("mean_nll")))


def perplexity_violations(df: DataFrame, id_col: str,
                          text_col: str = "text", k: float = 0.5,
                          max_nll: float = 8.0) -> DataFrame:
    """Docs whose corpus-LM mean negative log-likelihood exceeds
    ``max_nll`` (log-perplexity gate over :func:`bigram_logprob`), as
    violation rows (MAX) — the CCNet-style junk filter. Zero-bigram
    docs pass (NULL compares false), mirroring oov_violations'
    treatment of empty docs."""
    r = bigram_logprob(df, id_col, text_col, k)
    return (r.filter(F.col("mean_nll") > max_nll)
            .select(F.col(id_col),
                    F.lit(f"/{text_col}").alias("field_path"),
                    F.lit(Code.MAX).alias("rule_id"),
                    F.col("mean_nll").cast("string").alias("actual")))
