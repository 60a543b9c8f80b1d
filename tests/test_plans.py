"""Physical-plan regression tests — the scale-readiness properties the
engine claims (SURVEY.md §4) asserted against `.explain` output:

- ONE Arrow decode stage per pass (guards the InferFiltersFromGenerate
  double-evaluation regression fixed in rules/object.py), and none in a
  suite run whose shared aggregate proves every header,
- broadcast anti-join for referential checks (zero fact-side shuffle),
- two-phase aggregation for uniqueness (map-side partials),
- parquet column pruning: key-only checks must not read ``bytes``.
"""

from protovalidate_spark.clips import clips_suite
from protovalidate_spark.dataset import ref_violations, unique_violations


import pytest


@pytest.fixture(scope="module")
def clips_path(tiny_table):
    return tiny_table


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_row_pass_has_single_decode_stage(spark, clips_path):
    df = spark.read.parquet(clips_path)
    plan = _plan(clips_suite(spark).row_violations(df))
    assert plan.count("ArrowEvalPython") == 1, (
        "decode UDF must run exactly once per row — a second "
        "ArrowEvalPython means an optimizer rule duplicated the "
        "violations expression (see rules/object.py violations())")


def _python_data_sent(df):
    """``pythonDataSent`` of every ArrowEvalPython node in the executed
    plan of ``df`` (read after ``df``'s own action ran; AQE wrappers and
    query stages unwrapped)."""
    out = []

    def walk(node):
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        if "ArrowEvalPython" in name:
            out.append(node.metrics().apply("pythonDataSent").value())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_row_pass_ships_headers_not_payloads(spark, clips_path):
    """The suite's plain decode stage sends Python a 44-byte header and
    a length per row, plus the payload only of rows the canonical guard
    rejects — not every clip's bytes."""
    from pyspark.sql import functions as F

    from protovalidate_spark.audio.decode import HEADER_LEN, canonical_guard
    df = spark.read.parquet(clips_path)
    rv = clips_suite(spark).row_violations(df)
    rv.collect()
    [sent] = _python_data_sent(rv)
    n, total, shipped = df.agg(
        F.count(F.lit(1)), F.sum(F.length("bytes")),
        F.sum(F.when(~canonical_guard(F.col("bytes")),
                     F.length("bytes")))).first()
    per_row = HEADER_LEN + 32   # + Arrow offsets, the length, validity
    assert sent <= n * per_row + (shipped or 0), (sent, n)
    assert (shipped or 0) < total / 100   # the fixture is mostly canonical


def test_run_proves_headers_without_python(spark, clips_path, tmp_path):
    """``run()``'s shared aggregate finds no TINY payload that only the
    exact chunk walker decodes, so its row pass reads every header from
    Catalyst and starts no Python worker. One clip with a LIST chunk
    brings the Python header stage back. Either way the rows equal the
    Python-stage pass (``row_violations`` plus ``dataset_violations``)."""
    import struct
    from collections import Counter

    df = spark.read.parquet(clips_path)
    r = df.orderBy("row_idx").first().asDict()
    b = r["bytes"]
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    r.update(row_idx=10**9, clip_id="clip-9999999999",
             bytes=(b[:4] + struct.pack("<I", len(b) - 8 + len(extra))
                    + b[8:36] + extra + b[36:]))
    # the fixture's layout: one small file per part_date
    df.unionByName(spark.createDataFrame(
        [tuple(r[c] for c in df.columns)], df.schema)
    ).repartition("part_date").write.partitionBy("part_date").parquet(
        str(tmp_path / "listed"))
    listed = spark.read.parquet(str(tmp_path / "listed"))
    for frame, stages in ((df, 0), (listed, 1)):
        suite = clips_suite(spark)
        res = suite.run(frame, with_stats=True, persist=False)
        got = Counter(tuple(x) for x in res.violations_full.collect())
        plan = _plan(res.violations_full).split("== Initial Plan ==")[0]
        assert plan.count("ArrowEvalPython") == stages, plan
        want = Counter(tuple(x) for p in [suite.row_violations(frame),
                                          *suite.dataset_violations(frame)]
                       for x in p.collect())
        assert got == want and sum(got.values()) > 0


def test_referential_is_broadcast_anti_join(spark, clips_path):
    df = spark.read.parquet(clips_path)
    dim = spark.createDataFrame([("wav",), ("mp3",)], "codec string")
    plan = _plan(ref_violations(df, "codec", dim, "codec",
                                row_key_cols=["row_idx"]))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan  # no fact-side shuffle


def test_unique_has_partial_aggregation(spark, clips_path):
    df = spark.read.parquet(clips_path)
    plan = _plan(unique_violations(df, ["clip_id"], row_key_cols=["row_idx"]))
    # partial + final HashAggregate pair around one shuffle of counts
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan  # dup-keys join-back is broadcast


def test_key_checks_prune_bytes_column(spark, clips_path):
    df = spark.read.parquet(clips_path)
    plan = _plan(unique_violations(df, ["clip_id"], row_key_cols=["row_idx"]))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and all("bytes" not in l for l in scan), (
        "uniqueness reads only the key/row-key columns; scanning the "
        "audio payload would multiply the check's I/O by ~1000x")


def test_histogram_is_single_shuffle(spark, clips_path):
    # the drift building block: partial-agg'd groupBy(bucket) — the only
    # shuffle payload is (bucket, cnt), O(buckets) per partition
    from protovalidate_spark.dataset import histogram_counts
    df = spark.read.parquet(clips_path)
    plan = _plan(histogram_counts(df, "dur_ms", 0, 2000, 32))
    assert plan.count("Exchange") <= 1


def test_rule_queries_are_shuffle_free(spark):
    """Row-level rule-set queries (net/map/duration — including the
    round-2 additions) must compile to a pure projection + explode: no
    Exchange anywhere. At 100 TB a stray shuffle here would dominate
    the whole pass."""
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    for name in ["uri_orders", "uri_parts_orders", "ip_cidr_customer",
                 "map_bucket_events", "duration_orders",
                 "int_base16_customer", "bool_constant_events",
                 "domain_suffix_customer"]:
        plan = _plan(qs[name](spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, f"{name} shuffles"


def test_lsh_neardup_plan_shape(spark):
    """The sorted-run bucket verify (pipeline/dedup._grouped_run_map)
    must compile to: one hash Exchange on the (band,bucket) key + one
    in-partition sort + ONE MapInPandas (not per-group FlatMapGroups),
    and one more Exchange only for the tiny pair-level dedup agg. An
    extra exchange or a re-evaluated signature stage here multiplies
    the dominant shuffle at 100 TB."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from protovalidate_spark.pipeline import embedding_near_dups
    rng = np.random.RandomState(3)
    X = rng.randn(300, 16)
    import tempfile
    path = tempfile.mktemp(suffix=".parquet")
    vecs = pa.FixedSizeListArray.from_arrays(
        pa.array(X.reshape(-1)), 16).cast(pa.list_(pa.float64()))
    pq.write_table(pa.table(
        {"vec_id": pa.array([f"v{i}" for i in range(300)]), "vec": vecs}),
        path)
    df = spark.read.parquet(path)
    pairs = embedding_near_dups(df, "vec_id", "vec", threshold=0.9,
                                planes=8, seed=11, bands=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan  # the per-group slow path
    assert plan.count("ArrowEvalPython") == 1   # signature kernel once
    # exchanges: bucket repartition, pair-dedup agg, (optional) initial
    # round-robin spread of the single-file input — never more
    assert plan.count("Exchange") <= 3


def test_duplicate_spans_plan_shape(spark):
    """duplicate_spans must count grams via two-phase partial
    aggregation (map-side combine collapses hot grams BEFORE any
    shuffle) and join the small filtered gram set back — NEVER a
    count-over-window on the raw gram key, which lands a corpus-hot
    gram in one window partition (the round-4 skew flag). The only
    Window left is the per-doc island merge, which shuffles just the
    duplicated positions. The gram explode appears on both join
    branches by design (map-only re-scan beats caching the exploded
    frame at corpus scale)."""
    from protovalidate_spark.pipeline import duplicate_spans
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f x y")],
        "doc_id int, text string")
    plan = duplicate_spans(df, "doc_id", "text", k=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan          # map-side combine on g
    assert plan.count("Window") == 1        # island merge only
    assert plan.count("Generate") == 2      # both join branches, by design
    # the tokenizer regex runs ONCE per row per branch — the projected
    # __toks column is never inlined back into the per-index lambda
    assert plan.count("split(") <= 2
    # exchanges: gram-count agg, join re-shuffle(s), island window —
    # bounded; the window never sees the raw gram key
    assert plan.count("Exchange") <= 4


def test_reconciliation_partial_agg_and_small_join(spark, clips_path):
    """Reconciliation shuffles the fact side ONCE with map-side partial
    sums; the join runs on the collapsed (key, sum) aggregate, never on
    raw fact rows."""
    from pyspark.sql import functions as F
    from protovalidate_spark.dataset import reconciliation_violations
    fact = spark.range(1000).select(
        (F.col("id") % 100).alias("k"), F.lit(1.0).alias("amt"))
    dim = spark.range(100).select(F.col("id").alias("dk"),
                                  F.lit(10.0).alias("total"))
    plan = _plan(reconciliation_violations(
        fact, dim, "k", "dk", F.sum("amt"), "total"))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_monotonic_is_single_key_shuffle(spark):
    """Monotonicity = one hash partitioning on the key + in-partition
    sort; no global sort, no second exchange."""
    from protovalidate_spark.dataset import monotonic_violations
    from pyspark.sql import functions as F
    df = spark.range(1000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("pos"),
        (F.col("id") * 7 % 13).alias("v"))
    plan = _plan(monotonic_violations(df, ["k"], ["pos"], "v",
                                      row_key_cols=["k", "pos"]))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()  # no global sort


def test_volume_calendar_collapse_before_compare(spark, monkeypatch):
    """Volume/calendar checks aggregate to group cardinality FIRST; the
    mean and the missing-date sequence are computed on those rows inside
    the shared aggregate — no join, never a fact-side shuffle — and the
    findings come back as a JVM-local frame."""
    from pyspark.sql import functions as F
    from protovalidate_spark.dataset import (calendar_gap_violations,
                                             volume_anomalies)
    df = spark.range(1000).select(
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 20).cast("int")).alias("d"))
    cls = type(df)
    collected = []
    orig = cls.collect

    def record(self, *a, **k):
        collected.append(self)
        return orig(self, *a, **k)
    monkeypatch.setattr(cls, "collect", record)
    for v in (volume_anomalies(df, F.col("d"), "d", 0.5),
              calendar_gap_violations(df, F.col("d"), "d")):
        agg = _plan(collected.pop())
        assert agg.count("HashAggregate") >= 2    # map-side partials
        assert "Join" not in agg
        assert "ExistingRDD" not in _plan(v)


def test_embedding_snapshot_is_single_row_agg(spark):
    """The embedding moment pass is ONE stacked aggregation — no
    explode (Generate) node anywhere in the plan."""
    from pyspark.sql import functions as F
    from protovalidate_spark.dataset.embedding import embedding_dim
    df = spark.range(100).select(
        F.array(F.rand(1), F.rand(2), F.rand(3)).alias("v"))
    # reproduce the snapshot's agg plan without collecting
    d = 3
    aggs = []
    for i in range(d):
        x = F.get(F.col("v"), i).cast("double")
        aggs += [F.avg(x).alias(f"m{i}"), F.stddev(x).alias(f"s{i}")]
    plan = _plan(df.agg(*aggs))
    assert "Generate" not in plan                 # no explode
    assert plan.count("Exchange") <= 1            # single-row reduce
    assert embedding_dim(df, "v") == 3


def test_cap_exemplars_has_mapside_group_limit(spark):
    """The exemplar cap must get a PARTIAL WindowGroupLimit before the
    exchange (SPARK-37099): each map partition ships at most k rows per
    rule, so a pervasive rule's shuffle volume is P·k — never its raw
    violation count. Non-constant rule keys so nothing constant-folds."""
    from pyspark.sql import functions as F
    from protovalidate_spark.errors import cap_exemplars
    df = spark.range(1000).select(
        F.col("id").alias("row_idx"),
        F.concat(F.lit("/p"), (F.col("id") % 3).cast("string"))
         .alias("field_path"),
        F.lit("MIN").alias("rule_id"))
    plan = _plan(cap_exemplars(df, ["row_idx"], 5))
    partial = plan.index("WindowGroupLimit")
    assert "Partial" in plan[partial:plan.index("\n", partial)] or \
           ", Partial" in plan[plan.rindex("WindowGroupLimit"):]
    # the partial limit sits BELOW (after, in explain order) the exchange
    assert plan.index("Exchange") < plan.rindex("WindowGroupLimit")
