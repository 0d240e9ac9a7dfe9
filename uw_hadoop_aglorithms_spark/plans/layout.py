"""Physical-layout helpers shared by CPU-bound operators.

The dedup / fingerprint / similarity operators run interpreter-heavy
Catalyst expressions (per-char hash folds, per-dim vector folds) whose
cost is CPU, not IO — they need every core busy, which means enough
input partitions. Locally the fixture arrives as ONE parquet row group,
so a repartition is load-bearing there; at lake scale the input already
has >= cores splits and an unconditional repartition would shuffle full
document bodies for nothing (petabyte traffic at 100 TB). The
scale-correct lever for split count is `spark.sql.files.maxPartitionBytes`,
not a shuffle — so the repartition here is CONDITIONAL on the scan
actually being under-parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bytes_conf(spark, key: str, default: str) -> int:
    """A byte-sized conf as an int (handles the suffixed forms)."""
    raw = str(spark.conf.get(key, default))
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    s = raw.strip().lower().removesuffix("b")
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def _max_partition_bytes(spark) -> int:
    return _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", "134217728")


def spread_for_cpu(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition on `keys` ONLY if the plan has fewer partitions than
    the session's cores; otherwise a no-op (rely on split sizing).

    Round 12: the under-parallel probe avoids `df.rdd.getNumPartitions()`
    when the frame carries a local input-size hint (Catalog scans pass
    one via `_spread_size_hint`) — the `.rdd` conversion plans the query
    twice and measured ~55 ms per call, paid by every CPU-spread
    operator per rep. The size test reproduces the partition-count
    comparison's DECISION (a scan splits into ~bytes/maxPartitionBytes
    tasks), not its exact count — the repartition is a perf-only hint,
    so only the branch matters; frames without a hint (non-local paths,
    derived frames) keep the exact `.rdd` probe.

    Round 13 (ADVICE r12): the hint branch mirrors Spark's own split
    sizing — FilePartition.maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, bytes/defaultParallelism)) — instead of the
    r12 `hint < target * maxPartitionBytes` shortcut, which called any
    input under ~4 GB "under-parallel" at 32 cores even though Spark
    already splits mid-size inputs into >= target partitions (bytes per
    core governs below maxPartitionBytes). The shortcut would have
    inserted a redundant full repartition shuffle at sf1+; invisible at
    sf0.1 where both branches agree.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    hint = getattr(df, "_spread_size_hint", None)
    if hint is not None:
        open_cost = _bytes_conf(
            spark, "spark.sql.files.openCostInBytes", "4194304"
        )
        max_split = min(
            _max_partition_bytes(spark),
            max(open_cost, hint // max(1, target)),
        )
        under = -(-hint // max_split) < target
    else:
        under = df.rdd.getNumPartitions() < target
    if not under:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


def attach_size_hint(df: DataFrame, path: str) -> DataFrame:
    """Tag a scan frame with its local input byte size so spread_for_cpu
    can decide without re-planning. No-op (no tag) when the path is not
    a local file/directory."""
    try:
        if os.path.isfile(path):
            df._spread_size_hint = os.path.getsize(path)
        elif os.path.isdir(path):
            df._spread_size_hint = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(path)
                for f in fs
                if not f.startswith((".", "_"))
            )
    except OSError:
        pass
    return df


def shared_frame(df: DataFrame) -> DataFrame:
    """Materialize a frame that multiple downstream plans consume
    (shared shingle/hset/code frames, the BPE encoders' inputs).

    ``localCheckpoint(eager=True)``: cuts lineage, and blocks live in
    executor memory UNREPLICATED, so on a real cluster an executor loss
    fails the job instead of recomputing (guide §5) — the right local
    trade. The blocks are released by the ContextCleaner once the frame
    is garbage-collected. The eager count keeps concurrent suite members
    from racing the build.
    """
    return df.localCheckpoint(eager=True)
