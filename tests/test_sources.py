"""Source seam (sources.py): catalog-table vs partitioned-Parquet
resolution used by the checkpointed runner (Iceberg slots in via the
same functions when its runtime is on the classpath)."""

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
