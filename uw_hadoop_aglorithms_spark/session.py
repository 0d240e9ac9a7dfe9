"""SparkSession factory tuned for the engine's workload shape.

The reference hand-tuned Hadoop jobs per-site (3 GB task heaps, 32 MB split
caps, reducer counts as CLI flags — e.g. reference MapReduce/PMI/
PairsPMI.java:253-257, WordCount.java:132-133). Here the equivalent knobs are
set once, centrally, and AQE re-plans at runtime: shuffle partition counts
coalesce to the data, small joins flip to broadcast, skewed joins split.

At cluster scale the same settings hold: AQE sizes shuffles from runtime
stats rather than a static guess, so the config survives a 1000-executor
deployment without per-query retuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: The dedup-scoped AQE coalescing floor (see dedup_tuned_session).
#: Round 12 shipped a GLOBAL 64k floor (small shuffles otherwise
#: coalesce to one post-shuffle partition, serializing CPU-heavy
#: post-shuffle stages); round 13's cold-JVM suite A/B
#: (plans/r13/ab_aqe_floor_32c.json, VERDICT r12 §Next 2) showed that
#: floor only helps the dedup-kernel keys and TAXES every small-shuffle
#: key (pack_sequences 6.6 vs 5.7 s, distinct_users 7.2 vs 6.5,
#: user_sessions 2.1 vs 1.8, window_counts 1.04 vs 0.95 cold medians).
#: Every other query keeps Spark's own 1m default; the dedup operators
#: that measurably need the higher floor scope it to their own queries
#: via `dedup_tuned_session` below.
DEDUP_AQE_MIN_PARTITION = "64k"
#: local-mode JVM heap: in local[*] the "executors" live inside the driver
#: JVM, so the default 1g heap GC-thrashes under cached state + 32 task
#: threads. On a real cluster the launcher sizes executors instead.
DEFAULT_DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")


def get_spark(
    app_name: str = "uw-hadoop-aglorithms-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the session is created by the launcher and this factory only
    layers SQL conf on top (``SparkSession.builder`` reuses the active
    session).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEMORY)
        # AQE: runtime re-planning — partition coalescing, dynamic broadcast
        # conversion, skew-join splitting. This is the engine's answer to the
        # reference's hand-tuned reducer counts and split-size caps.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow makes the few Pandas-UDF escape hatches (SGD fold, streaming
        # state) batch-transfer instead of row-at-a-time pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps in the testdata are timezone-naive; pin the session zone
        # so window bucketing and date_trunc are deterministic everywhere.
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def dedup_tuned_session(spark: SparkSession) -> SparkSession:
    """A child session (shared SparkContext/caches/catalog, OWN SQLConf)
    with the dedup-scoped AQE coalescing floor.

    The dedup pipelines' post-shuffle stages are CPU-heavy (signature
    aggregation, band self-join, exact-Jaccard verification over hash
    arrays), so letting a small shuffle coalesce to 1-2 partitions
    serializes them — the 64k floor measured dedup_clusters 5.9 vs
    7.6 s and corpus_curation 11.5 vs 13.8 s cold (round 13 A/B).
    Scoping via ``newSession`` (round 13) instead of the round-12
    global conf keeps the floor OFF every other operator (the r12
    regression tail) and is thread-safe for the concurrent suite
    members; frames built from the child session keep its conf at
    collect time, so the bench's external action sees the floor too.
    At cluster scale the 64 MB advisory target governs coalescing long
    before a 64k floor matters — the floor only stops a small shuffle
    from collapsing below the cluster's parallelism."""
    s = spark.newSession()
    s.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        DEDUP_AQE_MIN_PARTITION,
    )
    return s
