"""Source seam (sources.py): catalog-table vs partitioned-Parquet
resolution used by the checkpointed runner (Iceberg slots in via the
same functions when its runtime is on the classpath)."""

import pytest
from pyspark.errors import AnalysisException

from protovalidate_spark.sources import (
    is_catalog_table,
    read_partition,
    read_table,
    table_partitions,
    table_snapshot_id,
)


def test_parquet_dir_source(spark, tiny_table):
    path = tiny_table

    assert not is_catalog_table(spark, path)
    assert read_table(spark, path).count() == 2080
    parts = table_partitions(spark, path)
    assert len(parts) == 16 and parts[0] == "2026-01-01"
    assert table_snapshot_id(spark, path).startswith("snap-")
    p0 = read_partition(spark, path, "part_date", parts[0])
    assert p0.count() > 0 and "part_date" in p0.columns
    assert read_partition(spark, path, "part_date", "1999-01-01") is None


def test_catalog_table_source(spark):
    spark.createDataFrame([(1, "a")], "id long, s string") \
        .createOrReplaceTempView("pv_src_tbl")
    try:
        assert is_catalog_table(spark, "pv_src_tbl")
        assert read_table(spark, "pv_src_tbl").count() == 1
    finally:
        spark.catalog.dropTempView("pv_src_tbl")


class _FakeSession:
    """Stands in for a SparkSession whose catalog calls fail with
    ``exc`` (the source seam's fallbacks must catch only the analysis
    errors a non-Iceberg table raises)."""

    def __init__(self, exc, exists=True):
        self.exc, self.exists = exc, exists
        self.catalog = self
        self.queries = []

    def tableExists(self, ref):
        if not self.exists:
            raise self.exc
        return True

    def sql(self, q):
        self.queries.append(q)
        if len(self.queries) == 1:
            raise self.exc
        return self

    def collect(self):
        return [("part_date=2026-01-01",)]


def test_expected_catalog_errors_are_logged(caplog):
    with caplog.at_level("INFO", logger="protovalidate_spark.sources"):
        assert not is_catalog_table(
            _FakeSession(AnalysisException("bad name"), exists=False), "t")
        assert table_partitions(
            _FakeSession(AnalysisException("no .partitions")), "t") == \
            ["2026-01-01"]
        assert table_snapshot_id(
            _FakeSession(AnalysisException("no .snapshots")), "t") == \
            "table-t"
    for msg in ("bad name", "no .partitions", "no .snapshots"):
        assert msg in caplog.text


def test_unexpected_catalog_errors_propagate():
    boom = RuntimeError("catalog down")
    with pytest.raises(RuntimeError):
        is_catalog_table(_FakeSession(boom, exists=False), "t")
    with pytest.raises(RuntimeError):
        table_partitions(_FakeSession(boom), "t")
    with pytest.raises(RuntimeError):
        table_snapshot_id(_FakeSession(boom), "t")
