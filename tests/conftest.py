import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    from protovalidate_spark.conf import apply_recommended
    b = (
        SparkSession.builder.master("local[8]")
        .appName("protovalidate-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    )
    s = apply_recommended(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def no_streaming_query_left_active():
    """Fail any test that leaves a streaming query running: it would
    keep executors busy for every test after it."""
    yield
    s = SparkSession.getActiveSession()
    if s is None:
        return
    active = s.streams.active
    for q in active:
        q.stop()
    assert not active, (
        f"test left {len(active)} streaming queries active: "
        f"{[q.name or str(q.id) for q in active]}")


@pytest.fixture(scope="session")
def tiny_table(spark, tmp_path_factory):
    """The TINY profile written ONCE as a part_date-partitioned parquet
    table, shared read-only (tests that rewrite or append to a table
    write their own)."""
    from protovalidate_spark.fixtures import TINY, write_clips
    return write_clips(spark, str(tmp_path_factory.mktemp("tiny_table")),
                       TINY)


@pytest.fixture(scope="session")
def tiny_clips(spark):
    from protovalidate_spark.fixtures import TINY, clips_df
    df = clips_df(spark, TINY).persist()
    df.count()
    yield df
    df.unpersist()


def assert_codes(df_violations, expected_triples):
    """MustApply/MustNotApply analog (reference
    pkg/testhelpers/util.go:50-125): compare the full set of
    (row key, field_path, rule_id) triples."""
    got = {(r[0], r["field_path"], r["rule_id"]) for r in df_violations.collect()}
    assert got == set(expected_triples), (
        f"missing={set(expected_triples) - got} extra={got - set(expected_triples)}")
