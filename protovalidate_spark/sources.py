"""Table sources: Iceberg-first, partitioned-Parquet fallback.

BASELINE.json targets Iceberg tables of audio clip + transcript pairs.
This container ships no Iceberg runtime jars, so the engine is written
against a small source seam:

- :func:`read_table` — catalog table (``db.table`` via ``spark.table``,
  Iceberg included when the runtime is on the classpath) or a
  directory-partitioned Parquet path (the fixture layout, which mirrors
  an Iceberg partition spec ``part_date=...``).
- :func:`table_partitions` — partition values: from Iceberg's
  ``<table>.partitions`` metadata table when available, else directory
  listing. The checkpoint runner keys its manifest on these.
- :func:`table_snapshot_id` — Iceberg ``snapshot_id`` for lineage when
  available, else a content-derived surrogate (table mtime).

On a real deployment (``--packages org.apache.iceberg:iceberg-spark-
runtime-...``), nothing else changes: scans get snapshot isolation,
partition pruning from manifests instead of directory names, and the
runner's (snapshot_id, file_list) lineage comes from the metadata
tables.
"""

from __future__ import annotations

import logging
import os
from typing import List, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)


def is_catalog_table(spark: SparkSession, ref: str) -> bool:
    if os.path.sep in ref or os.path.exists(ref):
        return False
    try:
        return spark.catalog.tableExists(ref)
    except AnalysisException as e:  # not a parseable identifier
        log.warning("%r is not a catalog table: %s", ref, e)
        return False


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """``ref`` = catalog identifier (Iceberg/hive) or Parquet directory."""
    if is_catalog_table(spark, ref):
        return spark.table(ref)
    return spark.read.parquet(ref)


def table_partitions(spark: SparkSession, ref: str,
                     partition_col: str = "part_date") -> List[str]:
    """Partition values for the resume manifest."""
    if is_catalog_table(spark, ref):
        try:  # Iceberg metadata table
            rows = spark.sql(
                f"SELECT partition.{partition_col} AS p "
                f"FROM {ref}.partitions").collect()
            return sorted(str(r["p"]) for r in rows)
        except AnalysisException as e:  # not Iceberg: no .partitions
            log.info("no partitions metadata table for %s: %s", ref, e)
            rows = spark.sql(f"SHOW PARTITIONS {ref}").collect()
            return sorted(r[0].split("=", 1)[1] for r in rows)
    vals = []
    for name in sorted(os.listdir(ref)):
        if name.startswith(f"{partition_col}="):
            vals.append(name.split("=", 1)[1])
    return vals


def table_snapshot_id(spark: SparkSession, ref: str) -> str:
    """Lineage snapshot id: Iceberg current snapshot when available,
    else an mtime surrogate (directory fixtures)."""
    if is_catalog_table(spark, ref):
        try:
            r = spark.sql(
                f"SELECT snapshot_id FROM {ref}.snapshots "
                f"ORDER BY committed_at DESC LIMIT 1").collect()
            if r:
                return str(r[0]["snapshot_id"])
        except AnalysisException as e:  # not Iceberg: no .snapshots
            log.info("no snapshots metadata table for %s: %s", ref, e)
        return f"table-{ref}"
    return f"snap-{int(os.path.getmtime(ref))}"


def read_partition(spark: SparkSession, ref: str, partition_col: str,
                   value: str) -> Optional[DataFrame]:
    """One partition's rows (partition-pruned scan)."""
    if is_catalog_table(spark, ref):
        return spark.table(ref).where(f"{partition_col} = '{value}'")
    from pyspark.sql import functions as F
    path = os.path.join(ref, f"{partition_col}={value}")
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path).withColumn(
        partition_col, F.lit(value).cast("date"))


def read_partition_files(spark: SparkSession, files, partition_col: str,
                         value: str) -> DataFrame:
    """A subset of one partition's data files (append-delta resume reads
    only the files added since the recorded lineage). Same partition-
    column reconstruction as :func:`read_partition`."""
    from pyspark.sql import functions as F
    return spark.read.parquet(*files).withColumn(
        partition_col, F.lit(value).cast("date"))
