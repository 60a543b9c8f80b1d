"""End-to-end document curation: quality gates + exact dedup + optional
near-dup removal, with drops reported through the ENGINE'S violation
model (field_path, rule_id, message, actual) — the training-data
pipeline and the validation engine share one error vocabulary, so a
curation run's drop report reads exactly like a rule-set violation
report (SURVEY.md §2.9 error shape; driver brief: dedup/quality as
first-class pipeline components).

Scale design: quality gates are pure JVM column expressions (one
projection); exact dedup is the fingerprint groupBy with a broadcast
join-back of the (tiny) duplicate-group set; near-dup drops reuse the
bucketed MinHash-LSH path. The keep policy is deterministic
(keep-smallest-id), so curation is idempotent and re-runnable per
partition.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components, ngram_jaccard_dedup
from .text import normalize_text, punct_ratio, token_count


def _viol(id_col: str, id_val: Column, path: str, rule_id: str,
          message: str, actual: Column) -> list:
    return [id_val.alias(id_col), F.lit(path).alias("field_path"),
            F.lit(rule_id).alias("rule_id"), F.lit(message).alias("message"),
            F.substring(actual.cast("string"), 1, 50).alias("actual")]


def curate_documents(
    df: DataFrame, id_col: str, text_col: str,
    min_tokens: int = 10, max_punct_ratio: float = 0.30,
    near_dup: bool = False, jaccard_threshold: float = 0.85,
    shingle_n: int = 3, keeper_score=None, max_nll=None,
) -> Tuple[DataFrame, DataFrame]:
    """(kept, dropped) — dropped carries one violation row per reason:

    - ``MIN_LEN``  /text: fewer than ``min_tokens`` whitespace tokens
    - ``MAX``      /text: punctuation ratio above ``max_punct_ratio``
    - ``MAX``      /text: corpus-LM mean NLL above ``max_nll`` — the
      opt-in CCNet-style perplexity gate (text.py bigram_logprob; the
      LM trains on the FULL input corpus, so the gate is deterministic
      and self-contained); only length/punct-passing docs are scored
      against it, like the punct gate
    - ``UNIQUE``   /text: exact duplicate of a kept (smaller-id) doc
    - ``DUPLICATE``/text: near-duplicate (verified Jaccard ≥ threshold)
      of a kept doc — only when ``near_dup=True``

    A document appears in ``kept`` iff it produced NO violation. Quality
    gates are evaluated first; only quality-passing docs participate in
    dedup (a dropped doc cannot crowd out its duplicates).

    ``keeper_score``: optional numeric Column expression (evaluated over
    ``df``'s columns) switching the keep policy from smallest-id to
    BEST-QUALITY — within each duplicate group (exact fingerprint group
    and near-dup component alike) the highest-scoring copy survives,
    ties broken by smallest id, so the policy stays deterministic and
    idempotent. A longer copy of a near-dup pair, or the copy with
    richer metadata, is usually the one worth keeping."""
    tid = F.col(id_col)
    txt = F.col(text_col)

    def _best(score_col, ident):
        # argmax(score) with smallest-id tie-break via lexicographic
        # struct MIN over (-score, id) — one expression, no window
        return F.min(F.struct((-score_col).alias("s"),
                              ident.alias("i")))["i"]

    n_tok = token_count(txt)
    p_ratio = punct_ratio(txt)
    quality_v = df.filter(n_tok < min_tokens).select(*_viol(
        id_col, tid, f"/{text_col}", "MIN_LEN",
        f"document has fewer than {min_tokens} tokens", n_tok))
    quality_v = quality_v.unionByName(
        df.filter((n_tok >= min_tokens) & (p_ratio > max_punct_ratio))
          .select(*_viol(id_col, tid, f"/{text_col}", "MAX",
                         f"punctuation ratio above {max_punct_ratio}",
                         F.round(p_ratio, 4))))

    clean = df.filter((n_tok >= min_tokens) & (p_ratio <= max_punct_ratio))

    if max_nll is not None:
        from .text import bigram_logprob
        high = (bigram_logprob(df, id_col, text_col)
                .filter(F.col("mean_nll") > float(max_nll))
                .select(F.col(id_col).alias("__pid"), "mean_nll"))
        quality_v = quality_v.unionByName(
            clean.join(high, clean[id_col] == F.col("__pid"))
                 .select(*_viol(id_col, tid, f"/{text_col}", "MAX",
                                f"corpus-LM mean NLL above {max_nll}",
                                F.round(F.col("mean_nll"), 4))))
        clean = clean.join(high, clean[id_col] == F.col("__pid"),
                           "left_anti")

    # exact dedup among quality-passing docs: keep the smallest id per
    # fingerprint group (deterministic); duplicate groups are tiny vs
    # the corpus ⇒ broadcast the keeper map back
    fp = F.md5(normalize_text(txt))
    score = (F.coalesce(keeper_score.cast("double"),
                        F.lit(float("-inf")))
             if keeper_score is not None else None)
    with_fp = clean.select(
        tid.alias("__id"), fp.alias("__fp"),
        *([score.alias("__score")] if score is not None else []))
    keepers = (with_fp.groupBy("__fp")
               .agg((F.min("__id") if score is None
                     else _best(F.col("__score"), F.col("__id")))
                    .alias("__keep"),
                    F.count(F.lit(1)).alias("__n"))
               .filter(F.col("__n") > 1))
    exact_v = (with_fp.join(F.broadcast(keepers), "__fp")
               .filter(F.col("__id") != F.col("__keep"))
               .select(*_viol(id_col, F.col("__id"), f"/{text_col}",
                              "UNIQUE",
                              "exact duplicate of a kept document",
                              F.col("__keep"))))

    dropped = quality_v.unionByName(exact_v)

    if near_dup:
        already = dropped.select(F.col(id_col).alias("__gone")).distinct()
        survivors = clean.join(
            already, clean[id_col] == F.col("__gone"), "left_anti")
        pairs = ngram_jaccard_dedup(survivors, id_col, text_col,
                                    shingle_n=shingle_n,
                                    threshold=jaccard_threshold)
        # keep-smallest-id policy, resolved TRANSITIVELY: connected
        # components over the verified-pair graph, one smallest-id
        # representative per cluster. (Pair-greedy dropping over-removed
        # chains a~b, b~c and could report a dropped doc as the 'kept'
        # keeper — round-2 ADVICE/VERDICT.) The representative always
        # survives: components only contain quality+exact survivors.
        comp = connected_components(pairs)
        if score is not None:
            # re-elect each component's representative by quality: the
            # min-label rep is only a cluster LABEL; the keeper is the
            # best-scoring member (smallest-id tie-break). Components
            # are tiny vs the corpus ⇒ broadcast the rep map.
            # comp (dup-cluster members) is the tiny side — broadcast IT
            # and probe the corpus-sized score frame map-side
            members = with_fp.select("__id", "__score").join(
                F.broadcast(comp), "__id")
            best = (members.groupBy("__rep")
                    .agg(_best(F.col("__score"), F.col("__id"))
                         .alias("__keep2")))
            comp = (comp.join(F.broadcast(best), "__rep")
                    .select("__id", F.col("__keep2").alias("__rep")))
        near_v = (comp.filter(F.col("__id") != F.col("__rep"))
                  .select(*_viol(id_col, F.col("__id"), f"/{text_col}",
                                 "DUPLICATE",
                                 "near-duplicate of a kept document",
                                 F.col("__rep"))))
        dropped = dropped.unionByName(near_v)

    gone = dropped.select(F.col(id_col).alias("__gone")).distinct()
    kept = df.join(gone, df[id_col] == F.col("__gone"), "left_anti")
    return kept, dropped


def curate_clips(
    df: DataFrame, id_col: str = "clip_id", bytes_col: str = "bytes",
    transcript_col: str = "transcript",
    max_clip_ratio: float = 0.01, max_silence_ratio: float = 0.9,
    min_dbfs: Optional[float] = None,
    content_dedup: bool = True, label_conflicts: bool = True,
    chunks: int = 4, peaks: int = 3, min_rel_mag: float = 0.1,
    materialize: bool = True,
) -> Tuple[DataFrame, DataFrame]:
    """(kept, dropped) for AUDIO clips — the audio analog of
    :func:`curate_documents`: decode/quality gates → duplicate-audio
    removal (spectral content key, keep-smallest-id) → transcript-label
    conflict drops, reported through the engine's violation shape.

    Violation rows (one per reason; a clip may appear under several):

    - ``DECODE``     /bytes: undecodable (or NULL) payload
    - ``MAX``        /bytes/clip_ratio | /bytes/silence_ratio: quality
    - ``MIN``        /bytes/rms_dbfs: gain-starved (only when
      ``min_dbfs`` is set)
    - ``UNIQUE``     /bytes: content-duplicate of a kept (smaller-id)
      clip — only when ``content_dedup``
    - ``CONSISTENT`` /transcript: the clip's audio-content group
      carries conflicting labels; the WHOLE group drops (neither label
      can be trusted without review) — only when ``label_conflicts``

    A clip appears in ``kept`` iff it produced NO violation. Quality
    gates run first; only quality-passing clips participate in
    dedup/conflicts (a dropped clip cannot crowd out its duplicates).

    Scale shape: THREE Arrow stage instances total, independent of the
    gate count — the decode stage with its ``features`` group
    (``with_decoded(fields=("features",))``) evaluated under the
    violation projection and under the clean-side filter (caching the
    corpus to merge those two would store every payload byte; decoding
    twice is the right trade at scale), and ONE decode+FFT fingerprint
    stage whose single fp_key window shuffle feeds BOTH the dup groups
    and the conflict test. Each stage's violations are assembled as ONE
    array-of-structs projection + explode (the engine's own violation
    pattern) — a union-of-filtered-branches here would re-instantiate
    the pandas UDF once per gate (Catalyst has no cross-branch CSE;
    observed 18 ArrowEvalPython stages before this shape). ``dropped``
    is eagerly localCheckpoint'ed so the kept-side anti-join and every
    downstream read reuse the materialized result instead of replaying
    the decode stages (same pattern as ngram_jaccard_dedup)."""
    from ..audio.consistency import transcript_label
    from ..audio.decode import with_decoded
    from ..audio.fingerprint import keyed_fingerprints

    tid = F.col(id_col)

    def vstruct(path, rid, msg, actual):
        return F.struct(
            F.lit(path).alias("field_path"), F.lit(rid).alias("rule_id"),
            F.lit(msg).alias("message"),
            F.substring(actual.cast("string"), 1, 50).alias("actual"))

    feats = with_decoded(df, bytes_col=bytes_col, out_col="__af",
                         fields=("features",))
    ok = F.coalesce(F.col("__af")["ok"], F.lit(False))
    clip_r = F.col("__af")["clip_ratio"]
    sil_r = F.col("__af")["silence_ratio"]
    dbfs = F.col("__af")["rms_dbfs"]

    gates = [(clip_r > max_clip_ratio, f"/{bytes_col}/clip_ratio", "MAX",
              f"clipped-sample ratio above {max_clip_ratio}",
              F.round(clip_r, 6)),
             (sil_r > max_silence_ratio, f"/{bytes_col}/silence_ratio",
              "MAX", f"silent-frame ratio above {max_silence_ratio}",
              F.round(sil_r, 6))]
    if min_dbfs is not None:
        gates.append((dbfs < min_dbfs, f"/{bytes_col}/rms_dbfs", "MIN",
                      f"integrated level below {min_dbfs} dBFS",
                      F.round(dbfs, 2)))
    arr = F.array_compact(F.array(
        F.when(~ok, vstruct(f"/{bytes_col}", "DECODE",
                            "payload failed to decode",
                            F.lit(None).cast("string"))),
        *[F.when(ok & cond, vstruct(path, rid, msg, actual))
          for cond, path, rid, msg, actual in gates]))
    quality_v = (feats.select(tid.alias(id_col), F.explode(arr).alias("__v"))
                 .select(id_col, "__v.field_path", "__v.rule_id",
                         "__v.message", "__v.actual"))

    pass_quality = ok
    for cond, *_rest in gates:
        pass_quality = pass_quality & ~cond
    clean = feats.filter(pass_quality).select(*df.columns)

    dropped = quality_v
    if content_dedup or label_conflicts:
        from pyspark.sql import Window
        kf = keyed_fingerprints(clean, id_col, bytes_col, chunks, peaks,
                                min_rel_mag, extra_cols=(transcript_col,))
        w = Window.partitionBy("fp_key")
        lbl = transcript_label(F.col(transcript_col))
        # transcript_label sentinels NULL, so collect_set counts a
        # missing label as its own distinct label (NULL-vs-text groups
        # conflict, all-NULL groups don't — same semantics as
        # transcript_conflicts)
        marked = (kf.withColumn("__gs", F.count(F.lit(1)).over(w))
                  .withColumn("__gid", F.min("id").over(w))
                  .withColumn("__ntr", F.size(F.collect_set(lbl).over(w)))
                  .filter((F.col("__gs") > 1) & F.col("is_content")))
        parts = []
        if content_dedup:
            parts.append(F.when(
                F.col("id") != F.col("__gid"),
                vstruct(f"/{bytes_col}", "UNIQUE",
                        "audio-content duplicate of a kept clip",
                        F.col("__gid"))))
        if label_conflicts:
            parts.append(F.when(
                F.col("__ntr") > 1,
                vstruct(f"/{transcript_col}", "CONSISTENT",
                        "conflicting transcripts within one "
                        "audio-content group", F.col("__gid"))))
        marr = F.array_compact(F.array(*parts))
        dedup_v = (marked.select(F.col("id").alias(id_col),
                                 F.explode(marr).alias("__v"))
                   .select(id_col, "__v.field_path", "__v.rule_id",
                           "__v.message", "__v.actual"))
        dropped = dropped.unionByName(dedup_v)

    if materialize:
        dropped = dropped.localCheckpoint(eager=True)
    gone = dropped.select(tid.alias("__gone")).distinct()
    kept = df.join(gone, df[id_col] == F.col("__gone"), "left_anti")
    return kept, dropped
