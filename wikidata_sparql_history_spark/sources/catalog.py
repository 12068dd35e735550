"""Table catalog abstraction (SURVEY.md §2.1 S3/S4/S7/S8).

Production target is Iceberg (`writeTo(...).createOrReplace()` on a
configured catalog — atomic snapshot commits give us exactly-once
stage outputs and incremental reads). The sandbox has no Iceberg
runtime jar, so the same contract is provided over parquet
directories with an atomic-enough protocol: write to the final path,
rely on Spark's _SUCCESS marker for completeness, and treat a
directory without _SUCCESS as absent (crash-consistent resume).

The reference analog is the RocksDB store + triple-progress.txt
resume counter (RocksTripleLoader.java:65-90): our unit of resume is
a whole stage output table (coarser but idempotent — re-running a
stage overwrites, never duplicates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_table(
    df: DataFrame,
    path: str,
    sort_by: list[str] | None = None,
) -> None:
    """Write a stage output. `sort_by` = within-partition sort so
    parquet min/max stats support data skipping (the analog of the
    reference's sorted RocksDB key order, RocksStore.java:224-245).
    """
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    df.write.mode("overwrite").parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
