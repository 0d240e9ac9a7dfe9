"""The benchmark's workloads: named lists of operations, each checked
against a DuckDB oracle.

An operation is a registered ``__spark_entry__.queries()`` key or a
direct call into a layer's public functions. The streaming layer has a
single registered key (``stream_batch_equiv``: eight concurrent streams,
~25 s per call at this input size, too long to repeat inside one run),
so dedup_stream_lake calls one runner function instead, with the shuffle
scoping that key applies, and checks it against the matching variant
rows of the registered ``stream_batch_equiv`` oracle. The lake
operation writes, upserts into and re-reads a date-partitioned lake
through ``sources.lake``; its oracle is the source table with the same
update applied.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

#: Workload name -> operation names. See README.md for why each was chosen.
WORKLOADS: dict[str, list[str]] = {
    "tpch_relational": [
        "q1", "q3", "q5", "semi_anti_join", "cube_revenue", "asof_last_order",
    ],
    "dedup_stream_lake": ["ngram_pairs", "stream_window", "lake_upsert"],
}

STREAM_COLS = ["variant", "window_start", "doc_id", "digest", "n"]
NGRAM_COLS = ["algo", "id_a", "id_b", "score"]
EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
#: lake_upsert re-crawls the events before this instant: value + 1.
UPSERT_BEFORE = "2024-01-04 00:00:00"


@dataclass
class Op:
    """One benchmarked operation.

    ``build(spark, sf_dir)`` returns a DataFrame (it may run eager work,
    such as a whole stream, before returning); ``fetch(df)`` collects it
    as ``(columns, rows)``; ``oracle_sql`` runs in DuckDB over the same
    input tables; ``cleanup(spark)`` runs after the timers stop."""

    name: str
    build: Callable
    oracle_sql: str
    fetch: Callable = None
    cleanup: Callable | None = None

    def __post_init__(self):
        if self.fetch is None:
            self.fetch = lambda df: (df.columns, [tuple(r) for r in df.collect()])


class LayerOps:
    """Operations that call the streaming and lake layers directly.

    The stream's replay directory is an immutable input, built on first
    use (so the first pass pays for it, as a one-shot job would) and
    reused by later passes; checkpoints, memory-sink views and lakes
    are per-call scratch removed by ``cleanup``."""

    def __init__(self, scratch: str):
        os.makedirs(scratch, exist_ok=True)
        self.scratch = scratch
        self.replay: str | None = None
        self.calls = 0

    def _fresh(self, tag: str) -> str:
        self.calls += 1
        return os.path.join(self.scratch, f"{tag}_{self.calls}")

    def _clear(self, spark, view: str | None = None) -> None:
        if view:
            spark.catalog.dropTempView(view)
        for name in os.listdir(self.scratch):
            if name != "replay":
                shutil.rmtree(os.path.join(self.scratch, name), ignore_errors=True)

    def stream_window(self, spark, sf_dir: str):
        """Complete-mode 60-min tumbling counts over the scrambled
        replay: 12 micro-batches with state, WAL and commit logs."""
        from uw_hadoop_aglorithms_spark.streaming import runner

        if self.replay is None:
            self.replay = runner.prepare_replay_dir(
                spark, sf_dir, os.path.join(self.scratch, "replay"), order="scrambled"
            )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        # the state-partition scoping suites.stream_batch_equiv applies
        spark.conf.set(
            "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_STREAM_PARTS", "1")
        )
        try:
            df = runner.stream_event_count(
                spark, self.replay, self._fresh("ckpt"), query_name="perfbench_window_mem"
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return df

    def lake_upsert(self, spark, sf_dir: str):
        """Write events as a date-partitioned lake, MERGE a re-crawl of
        its first three days, and read the lake back."""
        from pyspark.sql import functions as F

        from uw_hadoop_aglorithms_spark.sources import lake
        from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

        events = Catalog(spark, sf_dir).events
        path = self._fresh("lake")
        lake.write_date_partitioned(events, path)
        recrawl = events.where(
            F.expr(f"ts < TIMESTAMP_NTZ '{UPSERT_BEFORE}'")
        ).withColumn("value", F.col("value") + F.lit(1.0))
        lake.merge_into_lake(spark, path, recrawl)
        return lake.read_lake(spark, path).select(*EVENT_COLS)

    def ops(self, oracles: dict[str, str]) -> dict[str, Op]:
        from uw_hadoop_aglorithms_spark.operators import dedup

        def window_rows(df):
            return STREAM_COLS, [
                ("window", r.window_start, None, None, int(r.cnt)) for r in df.collect()
            ]

        upsert_cols = ", ".join(
            f"CASE WHEN ts < TIMESTAMP '{UPSERT_BEFORE}' THEN value + 1.0 ELSE value END"
            " AS value" if c == "value" else c
            for c in EVENT_COLS
        )

        def ngram_rows(df):
            return NGRAM_COLS, [
                ("ngram", int(r.doc_a), int(r.doc_b), float(r.jaccard)) for r in df.collect()
            ]

        return {
            "ngram_pairs": Op(
                "ngram_pairs", dedup.ngram_jaccard_pairs,
                f"SELECT * FROM ({oracles['neardup_pairs']}) WHERE algo = 'ngram'",
                fetch=ngram_rows,
            ),
            "stream_window": Op(
                "stream_window", self.stream_window,
                f"SELECT * FROM ({oracles['stream_batch_equiv']}) WHERE variant = 'window'",
                fetch=window_rows,
                cleanup=lambda s: self._clear(s, "perfbench_window_mem"),
            ),
            "lake_upsert": Op(
                "lake_upsert", self.lake_upsert,
                f"SELECT {upsert_cols} FROM events",
                cleanup=self._clear,
            ),
        }


def build_ops(workload: str, scratch: str) -> list[Op]:
    """The operations of one workload, in run order."""
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    extra = LayerOps(scratch).ops(oracles)
    ops = []
    for name in WORKLOADS[workload]:
        if name in extra:
            ops.append(extra[name])
        else:
            ops.append(Op(name, queries[name], oracles[name]))
    return ops


def all_op_names() -> list[str]:
    return sorted({n for ops in WORKLOADS.values() for n in ops})
