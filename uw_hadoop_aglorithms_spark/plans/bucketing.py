"""Bucketed table layout: shuffle-free co-located joins (SCALING.md).

At 100 TB the dominant cost of the q2/q4/q7-shaped joins is shuffling
the fact tables on the join key every query. Bucketing pays that shuffle
ONCE at write time: both sides stored pre-hashed into the same number of
buckets on the key, so Catalyst plans a sort-merge join with NO Exchange
on either side. This module wraps the write/read pattern (Spark
bucketing rides the session catalog, so bucketed data lives as a saved
table, not a bare path).

The reference's analog is `PartitionGraph` + NonSplitable inputs to keep
partitioning stable across jobs (reference MapReduce/PageRank/
PartitionGraph.java:110-133) — hand-rolled bucketing with none of the
planner integration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.sources.indexes import drop_managed_table

DEFAULT_BUCKETS = 8


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
) -> None:
    """Persist `df` bucketed+sorted by `key` as a catalog table, or
    append it to an EXISTING table with the same spec (mode="append",
    the growth step of a persisted index): new rows hash into the same
    bucket layout, so future joins stay exchange-free without
    rewriting history. Spark refuses a spec mismatch on append.

    Both sides of a future join must use the SAME bucket count for the
    exchange-free plan."""
    if mode == "overwrite":
        drop_managed_table(df.sparkSession, table_name)
    (
        # pre-cluster rows into their bucket before writing (round 12):
        # bucketBy emits one file per (task, bucket), so an N-partition
        # frame writes up to N×buckets fragments; repartitioning on the
        # key to `buckets` partitions aligns tasks with buckets (same
        # Murmur3 hash both places) and lands ONE file per bucket per
        # write. Same rows, same bucket spec, fewer files and commit ops.
        df.repartition(buckets, F.col(key))
        .write.mode(mode)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed catalog tables on `key` — planner emits a
    sort-merge join with no Exchange (asserted in tests/test_bucketing.py)."""
    return spark.table(left_table).join(spark.table(right_table), key)
