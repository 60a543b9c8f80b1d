"""Property-based tests (hypothesis): for random inputs, the compiled
Catalyst plan must emit exactly the violation codes a pure-Python
evaluation of the reference semantics produces (SURVEY.md §1.2, §3A:
null/required/nil → coercion lossless-check → accumulate-all rules)."""

import re

from hypothesis import assume, example, given, settings, strategies as st
from pyspark.sql import functions as F

from protovalidate_spark import Code, Int32, Object, String

I32 = (-(2**31), 2**31 - 1)


def py_int32_codes(v, lo, hi, allowed):
    """Pure-Python oracle for Int32().min(lo).max(hi).allowed_values(...)
    over a string-typed input column (string→int coercion path)."""
    if v is None:
        return [Code.NULL]
    try:
        n = int(v)
    except ValueError:
        return [Code.TYPE]
    if not (I32[0] <= n <= I32[1]):
        return [Code.TYPE]
    out = []
    if n < lo:
        out.append(Code.MIN)
    if n > hi:
        out.append(Code.MAX)
    if allowed and n not in allowed:
        out.append(Code.NOTALLOWED)
    return sorted(out)


def py_string_codes(v, min_len, max_len, pattern):
    if v is None:
        return [Code.NULL]
    out = []
    b = len(v.encode("utf-8"))  # Go len() = bytes
    if b < min_len:
        out.append(Code.MIN_LEN)
    if b > max_len:
        out.append(Code.MAX_LEN)
    if not re.search(pattern, v):  # Java rlike = unanchored find
        out.append(Code.PATTERN)
    return sorted(out)


int_strings = st.one_of(
    st.none(),
    st.integers(-(2**40), 2**40).map(str),
    st.text(alphabet="0123456789-x ", max_size=8),
)


@settings(max_examples=6, deadline=None)
@given(vals=st.lists(int_strings, min_size=1, max_size=60),
       lo=st.integers(-100, 0), hi=st.integers(1, 100),
       allowed=st.one_of(st.just(()), st.lists(
           st.integers(-50, 50), min_size=1, max_size=5).map(tuple)))
def test_int32_coercion_property(spark, vals, lo, hi, allowed):
    rs = Int32().min(lo).max(hi)
    if allowed:
        rs = rs.allowed_values(*allowed)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, v string")
    got_rows = df.select("i", rs.compile_violations(
        F.col("v"), "/v", "string").alias("e")).collect()
    got = {r["i"]: sorted(x["rule_id"] for x in r["e"]) for r in got_rows}
    want = {i: py_int32_codes(v, lo, hi, allowed) for i, v in enumerate(vals)}
    assert got == want


texts = st.one_of(st.none(), st.text(max_size=12))


@settings(max_examples=6, deadline=None)
@given(vals=st.lists(texts, min_size=1, max_size=60),
       min_len=st.integers(0, 4), max_len=st.integers(5, 10))
def test_string_rules_property(spark, vals, min_len, max_len):
    pattern = "[a-z]"
    rs = String().min_len(min_len).max_len(max_len).regex(pattern)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, v string")
    got_rows = df.select("i", rs.compile_violations(
        F.col("v"), "/v", "string").alias("e")).collect()
    got = {r["i"]: sorted(x["rule_id"] for x in r["e"]) for r in got_rows}
    want = {i: py_string_codes(v, min_len, max_len, pattern)
            for i, v in enumerate(vals)}
    assert got == want


@settings(max_examples=4, deadline=None)
@given(rows=st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 20)),
              st.one_of(st.none(), st.integers(0, 20))),
    min_size=1, max_size=40))
def test_object_required_nil_property(spark, rows):
    """required vs with_nil vs default-NULL semantics across two columns."""
    rs = (Object().with_unknown()
          .with_key("a", Int32().with_required().min(5))
          .with_key("b", Int32().with_nil().max(10)))
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(rows)],
                               "i long, a int, b int")
    got_rows = df.select("i", rs.compile_violations_column(df).alias("e")).collect()
    got = {r["i"]: sorted((x["field_path"], x["rule_id"]) for x in r["e"])
           for r in got_rows}
    want = {}
    for i, (a, b) in enumerate(rows):
        w = []
        if a is None:
            w.append(("/a", Code.REQUIRED))
        elif a < 5:
            w.append(("/a", Code.MIN))
        if b is not None and b > 10:
            w.append(("/b", Code.MAX))
        want[i] = sorted(w)
    assert got == want


# ---- round-2 surfaces ------------------------------------------------------

@given(st.lists(st.one_of(
    st.ip_addresses(v=4).map(str),
    st.ip_addresses(v=6).map(str),
    st.text(alphabet="0123456789abcdef:.", min_size=1, max_size=30),
), min_size=1, max_size=12))
@settings(max_examples=12, deadline=None)
def test_ip_pair_matches_ipaddress_property(spark, vals):
    """The 128-bit (hi, lo) normalization must agree bit-for-bit with
    stdlib ipaddress for every parseable input (v4 mapped at ::ffff:),
    and be NULL exactly when ipaddress rejects the string."""
    import ipaddress
    from protovalidate_spark.rules.net import (
        _int128_pair, _parse_ip_128, ip_to_pair)
    df = spark.createDataFrame([(v,) for v in vals], "ip string")
    got = df.select("ip", ip_to_pair(F.col("ip")).alias("p")).collect()
    for r in got:
        try:
            want = _int128_pair(_parse_ip_128(r["ip"]))
        except ValueError:
            want = (None, None)
        assert (r["p"]["hi"], r["p"]["lo"]) == want, r["ip"]


@given(st.lists(st.integers(min_value=-10**7, max_value=10**7),
                min_size=1, max_size=20),
       st.sampled_from(["down", "up", "half_up", "half_even"]))
@settings(max_examples=10, deadline=None)
def test_duration_rounding_property(spark, vals, mode):
    """Duration unit scaling honors each rounding mode exactly like a
    pure-Python evaluation of the reference's rounding table."""
    from protovalidate_spark import Duration
    rs = Duration().with_unit("us").with_rounding(mode)
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [r["o"] for r in
           df.select(rs.coerced(F.col("v"), "bigint").alias("o"),
                     "v").orderBy("v").collect()]

    # exact BigDecimal semantics on the very double Spark computes
    # (v * 1e-3): decimal.Decimal(float) is the exact binary expansion,
    # so ties and near-ties resolve identically with no epsilon games
    from decimal import (ROUND_CEILING, ROUND_FLOOR, ROUND_HALF_EVEN,
                         ROUND_HALF_UP, Decimal)
    dec_mode = {"down": ROUND_FLOOR, "up": ROUND_CEILING,
                "half_up": ROUND_HALF_UP, "half_even": ROUND_HALF_EVEN}[mode]

    def py_round(ms):
        return int(Decimal(ms).quantize(Decimal(1), rounding=dec_mode))

    want = [py_round(v * 1e-3) for v in sorted(vals)]
    assert got == want


@given(st.integers(min_value=0, max_value=2**63 - 1))
@settings(max_examples=50, deadline=None)
def test_swar_popcount_property(n):
    import numpy as np
    from protovalidate_spark.pipeline.dedup import _popcount64
    assert int(_popcount64(np.array([n], dtype=np.uint64))[0]) == bin(n).count("1")


@settings(max_examples=5, deadline=None)
@given(counts=st.lists(st.integers(min_value=0, max_value=5000),
                       min_size=1, max_size=40),
       window=st.integers(min_value=1, max_value=4096),
       parts=st.integers(min_value=1, max_value=7))
def test_pack_offsets_is_the_serial_prefix_sum(spark, counts, window,
                                               parts):
    """For ANY token counts, window size and partition count, the
    distributed two-level prefix sum must equal the serial scan:
    offsets strictly reconstruct (offset[i] = offset[i-1] + n[i-1] in
    id order), chunk ids are the floor divisions, and the total is
    order-independent of partitioning."""
    from protovalidate_spark.pipeline import pack_offsets

    df = spark.createDataFrame(
        [(i, int(n)) for i, n in enumerate(counts)], "k long, n long")
    got = {r["k"]: (r["offset"], r["chunk_id"], r["chunk_end"])
           for r in pack_offsets(df.repartition(parts), "k",
                                 token_count_col="n",
                                 window_tokens=window,
                                 partitions=parts).collect()}
    off = 0
    for i, n in enumerate(counts):
        assert got[i] == (off, off // window,
                          (off + max(n - 1, 0)) // window), i
        off += n


@settings(max_examples=5, deadline=None)
@given(vecs=st.lists(
    st.lists(st.floats(min_value=-1e6, max_value=1e6,
                       allow_nan=False, allow_infinity=False,
                       width=32),
             min_size=0, max_size=24),
    min_size=1, max_size=30))
def test_quantize_embeddings_invariants(spark, vecs):
    """For ANY finite float vectors: q in [-127, 127], dequantization
    error within scale/2 (+ float slack), zero/empty vectors -> zeros
    with scale 0, and the componentwise max always hits |q| = 127."""
    from protovalidate_spark.pipeline import quantize_embeddings

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "k long, emb array<double>")
    out = {r["k"]: (r["emb"], r["q8"], r["q8_scale"])
           for r in quantize_embeddings(df, "emb").collect()}
    for i, v in enumerate(vecs):
        emb, q, s = out[i]
        if not v or max(abs(x) for x in v) == 0.0:
            assert q == [0] * len(v) and s == 0.0
            continue
        assert s > 0 and all(-127 <= c <= 127 for c in q)
        assert max(abs(c) for c in q) == 127
        for x, c in zip(emb, q):
            assert abs(x - c * s) <= s / 2 * (1 + 1e-9) + 1e-12


@settings(max_examples=60, deadline=None)
@given(
    sig=st.lists(st.floats(min_value=-1.0, max_value=1.0, width=32,
                           allow_nan=False), min_size=0, max_size=400),
    lead=st.integers(min_value=0, max_value=300),
    tail=st.integers(min_value=0, max_value=300),
)
def test_trim_silence_properties(sig, lead, tail):
    """Kernel invariants for arbitrary signals: (1) trim removes only
    edges — the kept span is a contiguous slice; (2) every above-
    threshold frame survives (pad 0); (3) re-trimming a trimmed signal
    at the same settings removes at most one frame of slop
    (idempotence up to frame quantization)."""
    import numpy as np
    from protovalidate_spark.audio.repair import trim_silence_pcm
    sr, frame_ms = 1000, 10  # 10-sample frames
    x = np.concatenate([np.zeros(lead), np.asarray(sig, dtype=np.float64),
                        np.zeros(tail)])
    y, lead_ms, tail_ms = trim_silence_pcm(x, sr, threshold_dbfs=-40.0,
                                           pad_ms=0, frame_ms=frame_ms)
    lo = int(round(lead_ms * sr / 1000.0))
    assert np.array_equal(y, x[lo:lo + y.size])          # contiguous slice
    cut = int(round((lead_ms + tail_ms) * sr / 1000.0))
    assert cut + y.size == x.size                        # nothing invented
    # every above-threshold frame is inside the kept span
    flen = sr * frame_ms // 1000
    thr = 10.0 ** (-40.0 / 20.0)
    n_frames = (x.size + flen - 1) // flen
    padded = np.zeros(n_frames * flen)
    padded[:x.size] = x
    rms = np.sqrt((padded.reshape(n_frames, flen) ** 2).mean(axis=1))
    active = np.nonzero(rms > thr)[0]
    if active.size:
        assert lo <= active[0] * flen
        assert lo + y.size >= (active[-1] + 1) * flen - (flen - 1)
        # idempotence: a second trim removes at most one frame per edge
        y2, l2, t2 = trim_silence_pcm(y, sr, threshold_dbfs=-40.0,
                                      pad_ms=0, frame_ms=frame_ms)
        assert l2 * sr / 1000.0 <= flen and t2 * sr / 1000.0 <= flen
    else:
        assert y.size == 0


@settings(max_examples=60, deadline=None)
@given(
    frames=st.integers(min_value=0, max_value=200),
    channels=st.integers(min_value=1, max_value=6),
    fmt=st.sampled_from(["pcm16", "float32", "float64"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_multichannel_downmix_roundtrip_property(frames, channels, fmt,
                                                 seed):
    """synth(frames×ch) → decode(downmix) must return the per-frame
    channel mean at SNR≥30dB, with duration counted in frames, for any
    channel count and supported sample format."""
    import numpy as np
    from protovalidate_spark.audio.wav import decode_wav, snr_db, synth_wav
    rng = np.random.RandomState(seed)
    x = (rng.rand(frames, channels) * 1.6 - 0.8)
    b = synth_wav(x, 8000, fmt=fmt)
    d = decode_wav(b, want_pcm=True, downmix=(channels > 1))
    assert d.ok and d.n_samples == frames
    if frames:
        ref = x.mean(axis=1)
        if float(np.abs(ref).max()) > 1e-3:  # SNR defined away from zero
            assert snr_db(ref, d.pcm) >= 30.0


def _py_iqr_flags(vals, k=1.5):
    """Pure-Python oracle for the IQR fence flag set: numpy 'linear'
    percentile interpolation == Spark's exact percentile formula
    (lower + frac*(higher-lower))."""
    import numpy as np
    xs = np.array([v for v in vals if v is not None], dtype=np.float64)
    if xs.size == 0:
        return set()
    q1, q3 = np.percentile(xs, [25, 75], method="linear")
    lo, hi = q1 - k * (q3 - q1), q3 + k * (q3 - q1)
    return {i for i, v in enumerate(vals)
            if v is not None and (v < lo or v > hi)}


@settings(max_examples=5, deadline=None)
@given(vals=st.lists(st.one_of(st.none(),
                               st.integers(-1000, 1000).map(float)),
                     min_size=2, max_size=40),
       a=st.sampled_from([0.5, 2.0, 10.0]),
       b=st.sampled_from([-5.0, 0.0, 7.0]))
def test_iqr_outliers_match_python_oracle_and_affine_invariant(
        spark, vals, a, b):
    """The Spark exact-IQR flag set equals the pure-Python oracle, and
    is invariant under positive affine maps x -> a*x + b (fences are
    order statistics, so they transform with the data). Exact-in-
    float64 inputs (ints, dyadic a, int b) keep both properties sharp."""
    from protovalidate_spark.dataset.outliers import iqr_outlier_violations
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id int, x double")
    got = {r["id"] for r in iqr_outlier_violations(
        df, ["x"], row_key_cols=["id"], exact=True).collect()}
    assert got == _py_iqr_flags(vals)

    tdf = spark.createDataFrame(
        [(i, None if v is None else a * v + b) for i, v in rows],
        "id int, x double")
    got_t = {r["id"] for r in iqr_outlier_violations(
        tdf, ["x"], row_key_cols=["id"], exact=True).collect()}
    assert got_t == got


@settings(max_examples=5, deadline=None)
@given(vals=st.lists(st.integers(-1000, 1000).map(float),
                     min_size=2, max_size=40))
def test_mad_outliers_match_python_oracle(spark, vals):
    """Spark exact-MAD flags == pure-Python oracle (same 0.6745
    constant, same exact-median interpolation); degenerate MAD==0
    columns produce NO flags on both sides."""
    import numpy as np

    from protovalidate_spark.dataset.outliers import mad_outlier_violations
    xs = np.array(vals, dtype=np.float64)
    med = float(np.percentile(xs, 50, method="linear"))
    mad = float(np.percentile(np.abs(xs - med), 50, method="linear"))
    expect = set() if mad <= 0 else {
        i for i, v in enumerate(vals)
        if abs(v - med) * (0.6745 / mad) > 3.5}
    df = spark.createDataFrame(list(enumerate(vals)), "id int, x double")
    got = {r["id"] for r in mad_outlier_violations(
        df, ["x"], row_key_cols=["id"], k=3.5, exact=True).collect()}
    assert got == expect


@given(st.lists(st.tuples(st.integers(0, 500),
                          st.sampled_from(["/a", "/b", "/c"]),
                          st.sampled_from(["MIN", "MAX"])),
                min_size=1, max_size=80),
       st.integers(1, 6), st.integers(1, 5))
@settings(max_examples=20, deadline=None)
def test_cap_exemplars_is_exact_per_rule_topk(spark, rows, k, nparts):
    """cap_exemplars == the python top-k per (field_path, rule_id) by
    the order key, for any k and any input partitioning. Duplicate
    order keys within a rule are allowed here — the SET of kept order
    keys (the semantics the sink exposes) must still match the oracle's
    smallest-k multiset as a set-with-counts."""
    from collections import Counter
    from protovalidate_spark.errors import cap_exemplars
    df = spark.createDataFrame(
        rows, "row_idx long, field_path string, rule_id string")
    got = Counter(
        (r["field_path"], r["rule_id"], r["row_idx"])
        for r in cap_exemplars(df.repartition(nparts),
                               ["row_idx"], k).collect())
    # python oracle: per rule, the k smallest by (row_idx) — ties kept
    # in arbitrary-but-counted multiplicity
    by_rule = {}
    for idx, fp, rid in rows:
        by_rule.setdefault((fp, rid), []).append(idx)
    want = Counter()
    for (fp, rid), idxs in by_rule.items():
        for idx in sorted(idxs)[:k]:
            want[(fp, rid, idx)] += 1
    assert got == want


@settings(max_examples=5, deadline=None)
@given(labels=st.lists(st.integers(min_value=0, max_value=4),
                       min_size=2, max_size=40),
       seed=st.integers(min_value=0, max_value=9))
def test_entropy_relabel_invariance_property(spark, labels, seed):
    """Entropy depends only on the count MULTISET: renaming every
    category (any injective relabeling) must not change it, and it must
    equal the pure-Python Shannon formula."""
    import math
    from collections import Counter

    from protovalidate_spark.dataset import column_entropy

    df = spark.createDataFrame(
        [(f"c{v}", f"renamed_{(v * 7 + seed) % 31}") for v in labels],
        "a string, b string")
    got = {r["column"]: r["entropy"]
           for r in column_entropy(df, ["a", "b"]).collect()}
    n = len(labels)
    c = Counter(labels)
    want = round(-sum(v / n * math.log(v / n) for v in c.values()), 6)
    assert got["a"] == want
    assert got["b"] == want  # injective relabel: same multiset


@settings(max_examples=5, deadline=None)
@given(pairs=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 3)),
                      min_size=2, max_size=40))
def test_mutual_information_symmetry_property(spark, pairs):
    """MI(x;y) == MI(y;x) exactly (the formula is symmetric and both
    orders round identically), and MI >= 0 up to the 6-decimal round."""
    from protovalidate_spark.dataset import mutual_information

    df = spark.createDataFrame(
        [(f"x{a}", f"y{b}") for a, b in pairs], "x string, y string")
    m_xy = mutual_information(df, "x", "y").collect()[0]
    m_yx = mutual_information(df, "y", "x").collect()[0]
    assert m_xy["mi"] == m_yx["mi"] and m_xy["n"] == m_yx["n"]
    assert m_xy["mi"] >= -1e-6


@settings(max_examples=5, deadline=None)
@given(vals=st.lists(
    st.tuples(st.floats(-100, 100, allow_nan=False),
              st.floats(-100, 100, allow_nan=False)),
    min_size=3, max_size=40),
    a=st.floats(0.5, 10), b=st.floats(-5, 5))
# x + 1 rounds every x to 1.0: the shifted column is constant, r is NULL
@example(vals=[(0.0, 0.0), (0.0, 0.0), (1.1754943508222875e-38, 1.0)],
         a=1.0, b=1.0)
# a 1e-15 spread shifted by 1 keeps a few ulps: r drifts to ~0.998
@example(vals=[(0.0, 0.0), (1e-15, 1.0), (2e-15, 2.0)], a=1.0, b=1.0)
def test_correlation_affine_invariance_property(spark, vals, a, b):
    """Pearson r is invariant under positive affine maps of either
    column (r(ax+b, y) == r(x, y)) and sign-flips under negative a —
    up to the 6-decimal round and co-moment float noise. A mapped
    column with one distinct value has r = NULL; one whose spread the
    map rounds to a few ulps of its magnitude is not drawn."""
    from protovalidate_spark.dataset import correlation

    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in vals], "x double, y double")
    base = correlation(df, "x", "y").collect()[0]["r"]
    pos = correlation(
        df.withColumn("x", F.col("x") * float(a) + float(b)),
        "x", "y").collect()[0]["r"]
    neg = correlation(
        df.withColumn("x", F.col("x") * float(-a)),
        "x", "y").collect()[0]["r"]
    if base is None:
        assert pos is None and neg is None
        return
    xs = [float(x) for x, _ in vals]
    for r, col, want in ((pos, [x * float(a) + float(b) for x in xs], base),
                         (neg, [x * float(-a) for x in xs], -base)):
        if len(set(col)) == 1:
            assert r is None
            continue
        assume(max(col) - min(col) > 1e-9 * max(abs(v) for v in col))
        assert abs(r - want) <= 2e-5


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(
    st.tuples(st.one_of(st.none(), st.sampled_from("ab")),
              st.one_of(st.none(), st.integers(0, 2))),
    min_size=1, max_size=40),
    salt=st.sampled_from([0, 3]))
def test_duplicate_keys_null_semantics_property(spark, rows, salt):
    """Multi-column uniqueness follows SQL UNIQUE: a row whose key has a
    NULL in ANY column never takes part in a duplicate group (NULL is
    not equal to NULL), with or without salting. Oracle: pandas
    groupby over the rows whose key columns are all non-null."""
    import pandas as pd

    from protovalidate_spark.dataset.uniqueness import duplicate_keys
    pdf = pd.DataFrame(rows, columns=["k1", "k2"])
    full = pdf.dropna(subset=["k1", "k2"])
    counts = full.groupby(["k1", "k2"]).size()
    want = {(k1, int(k2), int(n)) for (k1, k2), n in counts.items()
            if n > 1}
    df = spark.createDataFrame(rows, "k1 string, k2 int")
    got = {(r["k1"], r["k2"], r["dup_count"])
           for r in duplicate_keys(df, ["k1", "k2"], salt).collect()}
    assert got == want
