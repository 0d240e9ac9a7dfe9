"""Persisted similarity indexes: one owner for their tables.

The reference hash-partitions its inverted index in one writer and opens
the matching partition in one reader (reference MapReduce/Inverted
Index/BuildInvertedIndexCompressed.java:146-151,200,
BooleanRetrievalCompressed.java:142-143). Here every table name, layout,
tombstone, compaction and teardown of the four persisted indexes is
decided in this module; dedup, similarity and streaming.runner only say
WHAT rows to store. All four families share one lifecycle: write
(overwrite) → write (append) → retract (tombstone append) → compact
(generation rewrite).

Reads go through the session passed in; writes go through the written
frame's own session — a streaming micro-batch's cloned session must see
its own appends (a session only invalidates ITS OWN cached relation of
an appended table).
"""

from __future__ import annotations

import os
import shutil
import threading
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Cells of the IVF coarse quantizer (similarity.IVF_NLIST): the
#: pre-write repartition of every cell-partitioned table.
CELLS = 8

#: Layout of a table partitioned by `cell` (see Family.tables).
BY_CELL = None


@dataclass(frozen=True)
class Family:
    """The tables one index family keeps under a prefix. `tables` maps
    each index table to its layout: a bucket key, or BY_CELL. `key` is
    the id column its OWN tombstone table `tomb` retracts: a compaction
    applies-and-drops only its family's retractions, so compacting one
    index under a shared prefix never resurrects ids retracted from
    another. `frozen` tables hold trained quantizers; `side` tables
    belong to the family's callers (the streaming ingest log)."""

    tables: dict[str, str | None]
    key: str
    tomb: str
    frozen: tuple[str, ...] = ()
    side: tuple[str, ...] = ()


FAMILIES = {
    "neardup": Family(
        {"bands": "h1", "hsets": "doc_id"}, "doc_id", "tombstones",
        side=("ingest_log",),
    ),
    "span": Family({"grams": "gh"}, "doc_id", "grams_tombstones"),
    "ann": Family(
        {"cells": BY_CELL}, "vec_id", "cells_tombstones", frozen=("centroids",)
    ),
    "pq": Family(
        {"pqcodes": BY_CELL}, "vec_id", "pqcodes_tombstones",
        frozen=("centroids", "pqcb"),
    ),
}

#: index table -> its family (only frozen tables are shared)
_OWNER = {t: fam for fam in FAMILIES.values() for t in fam.tables}


def table_name(prefix: str, name: str) -> str:
    return f"{prefix}_{name}"


def drop_managed_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS `name`, then remove its warehouse location:
    an orphaned location from a previous session (in-memory catalog)
    blocks managed-table creation under the same name."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)


def _write_table(
    df: DataFrame, table: str, key: str | None, mode: str, buckets=None
) -> None:
    """The one writer per layout. Both pre-cluster rows on the layout
    key, so a build or an ingest append lands ONE file per bucket or
    cell instead of |tasks|×|buckets| fragments (measured: the
    un-clustered cell save wrote ≤256 files for 8 cells and doubled the
    member's wall-clock)."""
    if key is not BY_CELL:
        from uw_hadoop_aglorithms_spark.plans import bucketing

        bucketing.write_bucketed(
            df, table, key, buckets or bucketing.DEFAULT_BUCKETS, mode
        )
        return
    if mode == "overwrite":
        drop_managed_table(df.sparkSession, table)
    (
        df.repartition(CELLS, F.col("cell"))
        .write.mode(mode)
        .partitionBy("cell")
        .format("parquet")
        .saveAsTable(table)
    )


def write(df: DataFrame, prefix: str, name: str, mode: str = "overwrite") -> None:
    """Build (overwrite) or extend (append) index table `name` in its
    family's layout; an append must match the table's bucket spec or
    partition column (Spark refuses a mismatch, which is the guard)."""
    _write_table(df, table_name(prefix, name), _OWNER[name].tables[name], mode)


def save_frozen(df: DataFrame, prefix: str, name: str) -> None:
    """Persist a FROZEN quantizer table. Doubles roundtrip parquet
    exactly, so later assignments bit-match build-time ones."""
    table = table_name(prefix, name)
    drop_managed_table(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)


def retract(spark: SparkSession, family: str, prefix: str, ids) -> None:
    """Append ids (an iterable, or a DataFrame with the family's id
    column) to the family's tombstone table: O(|retractions|), logical
    immediately and physical at the family's next compaction."""
    fam = FAMILIES[family]
    if isinstance(ids, DataFrame):
        ids = ids.select(F.col(fam.key).cast("long").alias(fam.key))
    else:
        ids = spark.createDataFrame([(int(i),) for i in ids], f"{fam.key} long")
    ids.write.mode("append").format("parquet").saveAsTable(
        table_name(prefix, fam.tomb)
    )


def live(spark: SparkSession, prefix: str, name: str) -> DataFrame:
    """Index table `name` minus the ids retracted from ITS family: a
    BROADCAST anti-join against the family's tombstones (map-side, so
    bucket-local joins/aggregations and partition pruning survive).
    Reads the raw table when nothing was ever retracted."""
    fam = _OWNER[name]
    df = spark.table(table_name(prefix, name))
    tomb = table_name(prefix, fam.tomb)
    if spark.catalog.tableExists(tomb):
        df = df.join(F.broadcast(spark.table(tomb)), fam.key, "left_anti")
    return df


def compact(
    spark: SparkSession, family: str, prefix: str, buckets: int | None = None
) -> None:
    """Rewrite each table's live rows ONCE into a `__gen` generation
    through the layout's writer, drop the old table and rename the
    generation in — the session-catalog form of a lake format's
    rewrite-then-commit — then drop the applied tombstones. Between
    compactions queries stay correct via the tombstone anti-join."""
    fam = FAMILIES[family]
    for name, key in fam.tables.items():
        table = table_name(prefix, name)
        gen = f"{table}__gen"
        _write_table(live(spark, prefix, name), gen, key, "overwrite", buckets)
        spark.sql(f"DROP TABLE {table}")
        spark.sql(f"ALTER TABLE {gen} RENAME TO {table}")
        if key is BY_CELL:
            # renaming a PARTITIONED managed table leaves the catalog's
            # per-partition locations pointing at the old path
            # (observed: the renamed table scans to 0 rows)
            spark.sql(f"ALTER TABLE {table} RECOVER PARTITIONS")
    drop_managed_table(spark, table_name(prefix, fam.tomb))


def drop_index(spark: SparkSession, family: str, prefix: str) -> None:
    """Drop every table the family can create under `prefix` — index,
    `__gen` scratch of an interrupted compaction, tombstone, frozen and
    side tables — with their warehouse locations."""
    fam = FAMILIES[family]
    for name in (
        *fam.tables, *(f"{t}__gen" for t in fam.tables), fam.tomb,
        *fam.frozen, *fam.side,
    ):
        drop_managed_table(spark, table_name(prefix, name))


@contextmanager
def scoped_index(spark: SparkSession, family: str, stem: str) -> Iterator[str]:
    """A prefix unique to this process and thread for a scratch index;
    every table of it is dropped on exit, also when the body raises."""
    prefix = f"{stem}_{os.getpid()}_{threading.get_ident()}"
    try:
        yield prefix
    finally:
        drop_index(spark, family, prefix)
