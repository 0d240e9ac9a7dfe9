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

from uw_hadoop_aglorithms_spark.sources.sinks import drop_managed_table

DEFAULT_BUCKETS = 8


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Persist `df` bucketed+sorted by `key` as a catalog table.

    Both sides of a future join must use the SAME bucket count for the
    exchange-free plan."""
    drop_managed_table(df.sparkSession, table_name)
    (
        # pre-cluster rows into their bucket before writing (round 12):
        # bucketBy emits one file per (task, bucket), so an N-partition
        # frame writes up to N×buckets fragments; repartitioning on the
        # key to `buckets` partitions aligns tasks with buckets (same
        # Murmur3 hash both places) and lands ONE file per bucket — the
        # _write_cells file-count discipline applied to bucketed tables.
        # Same rows, same bucket spec, fewer files and commit ops.
        df.repartition(buckets, F.col(key))
        .write.mode("overwrite")
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


def append_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Append rows to an EXISTING bucketed table with the same spec —
    the growth step of a persisted index (dedup.extend_neardup_index):
    new rows hash into the same bucket layout, so future joins stay
    exchange-free without rewriting history. The bucket spec must match
    the table's (Spark refuses a mismatch, which is the guard)."""
    (
        # same pre-clustering as write_bucketed: one file per bucket per
        # append instead of |tasks|×|buckets| fragments
        df.repartition(buckets, F.col(key))
        .write.mode("append")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)
    )
