"""Structured Streaming runner: file-replay of `events` (SURVEY.md T5).

The reference replays sorted part-files through a queueStream, one file per
simulated minute, driven by a ManualClock (reference EventCount.scala:
58-64, 80-83, 108-118). The Structured Streaming equivalent needs no clock
at all: a file source with maxFilesPerTrigger=1 replays the same way,
`Trigger.AvailableNow` makes the run finite, and event-time windows +
watermark replace wall-clock batch identity. The checkpoint dir subsumes
T4 (ssc.checkpoint).

That decision is written once. `_replay` is the one file-source read
(one file per trigger), `_drain` is the one drive (checkpoint,
AvailableNow, run to completion), and `_to_memory` is the one
memory-sink leg and the one UTC-wall return boundary (`walls_out`).
Every runner here and in trending.py is built on them.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from uw_hadoop_aglorithms_spark.functions.render import as_utc_instant, walls_out
from uw_hadoop_aglorithms_spark.sources.schemas import EVENTS as _EVENTS_NTZ

#: Replay granularity: events table split into this many time-range files,
#: each micro-batch consuming one (the reference's 1-file-per-batch).
REPLAY_FILES = 12

#: Event-time watermark delay in minutes (single source of truth — the
#: stream_batch_equiv oracles interpolate this, so changing it is a
#: one-line edit, not a hash-mismatch hunt).
WATERMARK_MIN = 60
WATERMARK = f"{WATERMARK_MIN} minutes"


#: Deterministic permutation seed for order="scrambled" replays.
SCRAMBLE_SEED = 0x5BE

#: Spark version the micro-batch semantics below were PINNED against
#: (VERDICT r6 item 8). The closed-form stream oracles replay internal
#: micro-batch behaviors that Spark does not contract publicly; each is
#: named here with the test that discriminates it, so a future hash
#: flip after a Spark upgrade triages as PINNING DRIFT (re-derive the
#: rule, update the oracle) instead of an opaque red key. The version
#: canary lives in tests/test_streaming.py::test_pinned_spark_version.
PINNED_SPARK_VERSION = "4.1.2"
#: rule -> (what was pinned, where it is asserted)
PINNED_STREAM_RULES = {
    "watermark-lag-one": (
        "micro-batch b's eviction/drop watermark derives from max event"
        " time through batch b-2, not b-1 (dropDuplicatesWithinWatermark"
        " state expiry AND append-mode late-row drops)",
        "tests/test_streaming.py::test_watermark_lag_one_canary",
    ),
    "append-window-close": (
        "append mode emits a window iff the FINAL watermark (max arrival"
        " event time - delay) is >= its end boundary; windows still open"
        " at AvailableNow termination are never flushed",
        "suites.stream_batch_equiv 'late' oracle; closed-form replay in"
        " the generated SQL (suites.py)",
    ),
    "session-close": (
        "session_window closes a session iff (last event ts + gap) <="
        " final watermark; the emitted set equals the batch sessions"
        " passing that bound",
        "suites.stream_batch_equiv 'sessions' oracle (pinned at sf0.01"
        " AND sf0.1: 9,525 / 95,280 sessions)",
    ),
}


def prepare_replay_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, order: str = "time"
) -> str:
    """Split `events` into time-ranged files for file-source replay.

    order="time": replay in event-time order — the reference's sorted
    part-file directory (EventCount.scala:108-118). order="scrambled":
    a DETERMINISTIC permutation of the same range files, so whole time
    ranges arrive out of order and every micro-batch exercises the
    stateful aggregation's late-merge path (the arrival pattern a
    multi-source lake ingest actually produces). The Catalog serves the
    NAIVE wall time (TIMESTAMP_NTZ, session-independent); watermarks
    require TimestampType, so the STREAM BOUNDARY converts via
    as_utc_instant — the written instant's UTC wall IS the stored wall
    under any session zone."""
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    (
        Catalog(spark, sf_dir)
        .events.withColumn("ts", as_utc_instant("ts", spark))
        .repartitionByRange(REPLAY_FILES, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    # The file source replays in modification-time order, but the range
    # partitions are written by parallel tasks in arbitrary mtime order.
    # Re-stamp mtimes to follow the part index (= ts range order), or a
    # seeded permutation of it for the scrambled-arrival variant.
    parts = sorted(
        f for f in os.listdir(out_dir) if f.startswith("part-") and not f.endswith(".crc")
    )
    if order == "scrambled":
        random.Random(SCRAMBLE_SEED).shuffle(parts)
    elif order != "time":
        raise ValueError(f"order must be 'time' or 'scrambled', got {order!r}")
    _stamp_arrival([os.path.join(out_dir, name) for name in parts])
    return out_dir


def _stamp_arrival(paths: list[str]) -> None:
    """Stamp mtimes one second apart in list order: the file source
    replays in modification-time order, so list order is arrival order."""
    base = time.time() - len(paths)
    for i, path in enumerate(paths):
        os.utime(path, (base + i, base + i))


def _write_blocks(
    blocks: list[DataFrame], out_dir: str, arrival: list[int] | range
) -> None:
    """Write frame k as ONE ts-sorted `block-kk.parquet` under a fresh
    `out_dir`, then stamp mtimes so the blocks arrive in `arrival`
    order (block indices; indices past the last block are skipped).

    Overwrite semantics: stale block files from a prior run over the
    same directory would be replayed as extra micro-batches."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for k, frame in enumerate(blocks):
        scratch = os.path.join(out_dir, f"_build_{k}")
        (
            frame.coalesce(1)
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(scratch)
        )
        part = glob.glob(os.path.join(scratch, "part-*.parquet"))[0]
        dest = os.path.join(out_dir, f"block-{k:02d}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(scratch, ignore_errors=True)
        names.append(dest)
    _stamp_arrival([names[k] for k in arrival if k < len(names)])


#: Arrival permutation for the late-data replay: micro-batch i consumes
#: ts-ordered block LATE_PERM[i]. Chosen so several early blocks arrive
#: ≥2 batches after blocks with later event times (blocks span ~60 h at
#: every SF vs the 60-min watermark, so those blocks are fully dropped
#: by the late-row filter — rich drop coverage with no boundary ties),
#: while others arrive just-in-time and survive. Fixed + explicit so
#: the DuckDB oracle can replay the watermark sequence in closed form.
LATE_PERM = [3, 0, 4, 1, 7, 5, 2, 9, 6, 11, 8, 10]


def prepare_events_late_replay_dir(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> str:
    """EXPLICIT-boundary scrambled events replay for the append-mode
    late-data variant: events sorted by (ts, event_id) are split into
    REPLAY_FILES row-range blocks (W = ceil(n/FILES), block k = rows
    [k*W, (k+1)*W)), one file per block, mtime-stamped so micro-batch i
    consumes block LATE_PERM[i]. prepare_replay_dir's range partitioner
    samples its boundaries (irreproducible outside Spark); this is
    prepare_doc_replay_dir's explicit-block trick applied to events, so
    an external oracle can reproduce the exact per-batch watermark
    sequence and with it which rows the stateful agg DROPS as late."""
    from pyspark.sql import Window

    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    # stream boundary: NTZ wall -> session-independent instant
    # (prepare_replay_dir note)
    ev = Catalog(spark, sf_dir).events.withColumn(
        "ts", as_utc_instant("ts", spark)
    )
    n = ev.count()
    width = -(-n // REPLAY_FILES)
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id")) - 1
    )
    blocks = [
        ranked.where(
            (F.col("rn") >= k * width) & (F.col("rn") < (k + 1) * width)
        ).drop("rn")
        for k in range(REPLAY_FILES)
        if k * width < n
    ]
    _write_blocks(blocks, out_dir, LATE_PERM)
    return out_dir


def _events_stream_schema():
    """The batch catalog serves ts as TIMESTAMP_NTZ (naive wall,
    session-independent — schemas.EVENTS), but the replay writers
    convert to a session-independent INSTANT at the stream boundary
    (watermarks reject NTZ), so the streaming read schema swaps the
    ts field to TimestampType."""
    return T.StructType(
        [
            T.StructField("ts", T.TimestampType())
            if f.name == "ts"
            else f
            for f in _EVENTS_NTZ.fields
        ]
    )


#: Read schema of the document replays (prepare_doc_replay_dir).
_DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _replay(
    spark: SparkSession, replay_dir: str, schema: T.StructType
) -> DataFrame:
    """The one file-source read: one replay file per micro-batch (the
    reference's one part-file per simulated minute)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )


def _event_stream(spark: SparkSession, replay_dir: str) -> DataFrame:
    return _replay(spark, replay_dir, _events_stream_schema())


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """The one drive: checkpoint the query, start it with AvailableNow
    (every pending replay file, then stop) and block until it ends."""
    (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _to_memory(
    df: DataFrame, checkpoint_dir: str, query_name: str, mode: str
) -> DataFrame:
    """Drive `df` into the memory sink `query_name` and return the table
    through the one UTC-wall return boundary: PySpark renders
    TimestampType in the PYTHON process zone, so every runner hands
    back NTZ walls (render.as_utc_wall)."""
    _drain(
        df.writeStream.format("memory").queryName(query_name).outputMode(mode),
        checkpoint_dir,
    )
    return walls_out(df.sparkSession.table(query_name))


def _window_counts(
    events: DataFrame, minutes: int, *keys: str, slide: int | None = None
) -> DataFrame:
    """Watermarked event-time window counts per `keys`:
    (window_start, *keys, cnt); `slide` makes the windows sliding."""
    w = F.window(
        "ts", f"{minutes} minutes", None if slide is None else f"{slide} minutes"
    )
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(w.alias("w"), *keys)
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), *keys, "cnt")
    )


def stream_event_count(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    minutes: int = 60,
    query_name: str = "stream_event_count",
) -> DataFrame:
    """T1 as a real stream: watermarked tumbling-window counts, run to
    completion with AvailableNow; returns the final result table."""
    agg = _window_counts(_event_stream(spark, replay_dir), minutes)
    return _to_memory(agg, checkpoint_dir, query_name, "complete").orderBy(
        "window_start"
    )


def stream_event_count_append(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    minutes: int = 60,
    query_name: str = "stream_event_count_append",
) -> DataFrame:
    """T1 in APPEND mode: only watermark-finalized windows are emitted,
    and input rows later than the watermark are DROPPED — the late-data
    semantics the reference's perfectly-ordered replay never exercises.
    The final (non-finalized) window is absent from the output."""
    agg = _window_counts(_event_stream(spark, replay_dir), minutes)
    return _to_memory(agg, checkpoint_dir, query_name, "append").orderBy(
        "window_start"
    )


def stream_sliding_event_count(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    minutes: int = 60,
    slide: int = 30,
    query_name: str = "stream_sliding_event_count",
) -> DataFrame:
    """Sliding windows (width > slide) as a real stream: each event joins
    width/slide open windows; watermark bounds the open-window state."""
    agg = _window_counts(_event_stream(spark, replay_dir), minutes, slide=slide)
    return _to_memory(agg, checkpoint_dir, query_name, "complete").orderBy(
        "window_start"
    )


def stream_geo_region_count(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    minutes: int = 60,
    query_name: str = "stream_geo_region_count",
) -> DataFrame:
    """The reference RegionEventCount job end-to-end as a real stream:
    bounding-box tag (map-side, drops out-of-box events BEFORE the
    stateful aggregation) → watermarked window counts per region."""
    from uw_hadoop_aglorithms_spark.functions.geo import region_tag, synth_lonlat

    lon, lat = synth_lonlat(F.col("event_id"))
    tagged = (
        _event_stream(spark, replay_dir)
        .select("ts", region_tag(lon, lat).alias("region"))
        .where(F.col("region").isNotNull())
    )
    agg = _window_counts(tagged, minutes, "region")
    return _to_memory(agg, checkpoint_dir, query_name, "complete").orderBy(
        "window_start", "region"
    )


def stream_range_join(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_range_join",
) -> DataFrame:
    """Stream-stream interval join: purchases joined to same-user events
    within ±RANGE_WINDOW_S, as a real Structured Streaming join — the
    engine form of operators/temporal.range_join_nearby_events.

    Both sides read the same replay; watermarks bound the join state
    (each side keeps only rows within the time-range constraint of the
    other's watermark — Spark derives the eviction bound from the
    inequality itself). Inner join ⇒ results equal the batch range join
    exactly once the stream drains (tests/test_streaming.py).
    """
    from uw_hadoop_aglorithms_spark.operators.temporal import RANGE_WINDOW_S

    ev = _event_stream(spark, replay_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    others = (
        _event_stream(spark, replay_dir)
        .select(
            F.col("event_id").alias("other_id"),
            F.col("user_id").alias("o_user_id"),
            F.col("event_type").alias("other_type"),
            F.col("ts").alias("o_ts"),
        )
        .withWatermark("o_ts", WATERMARK)
    )
    joined = purchases.join(
        others,
        (F.col("user_id") == F.col("o_user_id"))
        & (F.col("other_id") != F.col("purchase_id"))
        & (F.col("o_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {RANGE_WINDOW_S} SECONDS"))
        & (F.col("o_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {RANGE_WINDOW_S} SECONDS")),
    ).select("purchase_id", "other_id", "user_id", "other_type")
    return (
        _to_memory(joined, checkpoint_dir, query_name, "append")
        .distinct()
        .orderBy("purchase_id", "other_id")
    )


def stream_user_sessions(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_user_sessions",
) -> DataFrame:
    """Sessionization as a real stream: the streaming form of
    operators/temporal.user_sessions (same 30-minute session_window).

    APPEND mode emits a session exactly once, when the watermark passes
    its close (last event + gap) — so state holds only OPEN sessions per
    user and is evicted at emission: unbounded event volume, bounded
    state. The trailing sessions (close newer than final watermark stay
    in state and are NOT emitted — the test asserts emitted rows equal
    the batch sessionization restricted to watermark-closed sessions.
    """
    from uw_hadoop_aglorithms_spark.operators.temporal import SESSION_GAP_S

    agg = (
        _event_stream(spark, replay_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"),
        )
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_ts"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_ts",
            "n_events",
        )
    )
    return _to_memory(agg, checkpoint_dir, query_name, "append").orderBy(
        "user_id", "session_start"
    )


def stream_region_event_count(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    minutes: int = 60,
    query_name: str = "stream_region_event_count",
) -> DataFrame:
    """T2 as a real stream: windowed counts per event_type."""
    agg = _window_counts(_event_stream(spark, replay_dir), minutes, "event_type")
    return _to_memory(agg, checkpoint_dir, query_name, "complete").orderBy(
        "window_start", "event_type"
    )


#: Ingestion-time dedup: duplicates arriving within this event-time
#: horizon of a kept row are suppressed; the digest state is EVICTED
#: once the watermark passes, so state is bounded by the horizon's
#: arrival rate, not the corpus (the whole point vs batch exact_dedup's
#: full-corpus groupBy).
DEDUP_WATERMARK_MIN = 120
DEDUP_WATERMARK = f"{DEDUP_WATERMARK_MIN} minutes"
#: Synthetic deterministic arrival clock for the document replay:
#: doc i arrives at BASE + i minutes.
DOC_REPLAY_FILES = 8
#: stream_decontaminate's tumbling-window width (minutes).
DECON_WINDOW_MIN = 60


def prepare_doc_replay_dir(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> str:
    """Split `documents` into arrival-time-ranged files for file-source
    replay: arrival ts is a deterministic function of doc_id (one doc
    per minute), so duplicate texts whose ids are close arrive inside
    the dedup horizon and far-apart twins arrive beyond it — both
    eviction paths get exercised by the same corpus.

    File k holds doc_ids [k*W, (k+1)*W) with W = ceil(n / FILES) —
    EXPLICIT block boundaries rather than sampled range partitioning,
    so an external oracle can reproduce the micro-batch boundaries (one
    file = one AvailableNow batch) and with them the exact per-batch
    watermark sequence in closed form: wm(k) = ts(k*W - 1) - delay."""
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        "text",
        (
            # as_utc_instant: a bare to_timestamp would parse the wall
            # in the SESSION zone, shifting the doc stream's window
            # alignment under non-UTC sessions (flake-harness finding)
            as_utc_instant(F.lit("2024-01-01 00:00:00"), spark)
            + F.make_interval(mins=F.col("doc_id").cast("int"))
        ).alias("ts"),
    )
    n = docs.count()
    width = -(-n // DOC_REPLAY_FILES)
    blocks = [
        docs.where(
            (F.col("doc_id") >= k * width) & (F.col("doc_id") < (k + 1) * width)
        )
        for k in range(DOC_REPLAY_FILES)
        if k * width < n
    ]
    _write_blocks(blocks, out_dir, range(len(blocks)))
    return out_dir


def stream_exact_dedup(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_exact_dedup",
    output_dir: str | None = None,
) -> DataFrame:
    """exact_dedup as an INGESTION-TIME stream op: content digests
    deduplicated with dropDuplicatesWithinWatermark, the Structured
    Streaming form of 'don't admit a document we already took within
    the horizon'. Guarantees (asserted in tests/test_streaming.py):
    no two emitted rows share a digest within the horizon; every
    distinct text is admitted at least once; state is digest-sized and
    watermark-evicted — at lake ingest rates the state is
    horizon_minutes × docs/minute digests, independent of corpus size.

    Batch exact_dedup remains the retrospective form; this is the
    front-door filter a 100 TB pipeline runs so most duplicates never
    land in the lake at all.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    stream = (
        _replay(spark, replay_dir, _DOC_STREAM_SCHEMA)
        .select("doc_id", "ts", F.sha2(norm, 256).alias("digest"))
        .withWatermark("ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["digest"])
    )
    # memory sink for bounded in-session verification; parquet sink
    # (output_dir) for the durable form — append-mode memory sinks
    # cannot RECOVER from a checkpoint, so restart semantics are only
    # testable (and only deployable) against the durable sink
    if output_dir is None:
        return _to_memory(stream, checkpoint_dir, query_name, "append").orderBy(
            "ts", "doc_id"
        )
    _drain(
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir),
        checkpoint_dir,
    )
    # same return boundary as the memory-sink leg: instants -> UTC walls
    return walls_out(spark.read.parquet(output_dir)).orderBy("ts", "doc_id")


def stream_decontaminate(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    sf_dir: str,
    query_name: str = "stream_decontaminate",
) -> DataFrame:
    """Decontamination as an INGESTION-TIME stream op: the broadcast
    Bloom bitmap (dedup.decontaminate_bloom's fixed ~0.5 MB build side,
    derived BATCH from the held-out split) probes every arriving
    training document's token 8-grams via stateless stream-static
    broadcast joins; per-doc contaminated-gram counts are emitted when
    the watermark closes the doc's arrival window.

    Scale shape: the stream side is pure map work + k broadcast probes
    (no state at all until the final windowed count, whose state is one
    row per (window, contaminated doc) — bounded by the contamination
    rate, not the stream). This is the filter a 100 TB ingest runs so
    eval-overlapping documents never enter the training lake; the batch
    `decontaminate`/`decontaminate_bloom` remain the retrospective
    audit. Counts carry the bitmap's deterministic false positives,
    identical to the batch Bloom variant (asserted in tests).
    """
    from uw_hadoop_aglorithms_spark.operators import dedup
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    # batch build side: held-out split → distinct gram hashes → bitmap
    held_sh = dedup._token_ngram_hashes(
        Catalog(spark, sf_dir).documents.where(
            F.col("doc_id") % dedup.DECON_TEST_MOD == 0
        )
    )
    bitmap = dedup.bloom_bitmap_from_grams(held_sh.select("gh").distinct())

    stream_docs = (
        _replay(spark, replay_dir, _DOC_STREAM_SCHEMA)
        .where(F.col("doc_id") % dedup.DECON_TEST_MOD != 0)
        .withWatermark("ts", WATERMARK)
    )
    sh = dedup._token_ngram_hashes(stream_docs, extra_cols=("ts",))
    hits = dedup.bloom_probe(sh, bitmap)
    counts = (
        hits.groupBy(
            F.window("ts", f"{DECON_WINDOW_MIN} minutes").alias("w"), "doc_id"
        )
        .agg(F.count("*").alias("n_shared_ngrams"))
        .select(F.col("w.start").alias("window_start"), "doc_id", "n_shared_ngrams")
    )
    return _to_memory(counts, checkpoint_dir, query_name, "append").orderBy(
        "doc_id"
    )


def stream_merge_to_lake(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    lake_path: str,
    post_merge=None,
) -> None:
    """Exactly-once streaming ingestion INTO the partitioned lake:
    each micro-batch upserts via `lake.merge_into_lake` inside
    foreachBatch.

    The exactly-once argument is idempotence, not transactions:
    Structured Streaming guarantees at-least-once foreachBatch
    execution after a crash, and re-merging the same batch is a
    content no-op (same keys replace themselves — pinned by
    tests/test_lake.py::test_merge_upsert_semantics_and_idempotence
    and re-asserted end-to-end here by a full at-least-once re-replay
    in tests/test_streaming.py). That is the same
    idempotent-writer-over-at-least-once-delivery contract the durable
    parquet sink uses, but with UPSERT semantics, so a source that
    re-crawls a document revises the lake instead of appending a
    duplicate.

    Scale shape per batch: merge cost is bounded by the batch's blast
    radius (its own days), never the lake — see merge_into_lake. The
    day-move audit is off: a replayed event always carries the same
    event time, so the key→day invariant holds by construction (the
    property the audit exists to check when humans hand-author
    updates).

    The first batch bootstraps the lake (dynamic overwrite of a
    nonexistent path is a plain partitioned write).

    `post_merge(days)` — optional hook called after each batch's merge
    with the list of rewritten `dt` partitions: the seam for derived
    state that maintains itself per blast radius, e.g.
    `sketches.refresh_hll_rollup` keeping a distinct-count rollup live
    beside the lake (composed end-to-end in tests/test_sketches.py).
    The hook runs BEFORE the micro-batch commits, so a crash after
    merge but before commit replays the batch: the merge re-applies as
    a content no-op and the hook re-runs over identical lake state —
    it must therefore be idempotent given (lake state, days), which a
    day-scoped rebuild is by construction.
    """
    from uw_hadoop_aglorithms_spark.sources import lake as lake_mod

    def _merge_batch(batch, _bid: int) -> None:
        # The replay boundary stores ts as a TimestampType INSTANT
        # (prepare_replay_dir); date_format over an instant renders in
        # the SESSION zone, so a lake ingested under one zone and
        # merged/refreshed under another would derive different dt
        # labels for the same event. Convert back to the UTC wall
        # (TIMESTAMP_NTZ) here so the lake — and every dt label or day
        # rollup derived from it — is session-zone-independent, the
        # same contract the batch Catalog serves (ADVICE r7 medium).
        batch = walls_out(batch)
        if not os.path.exists(lake_path):
            lake_mod.write_date_partitioned(batch, lake_path)
            days = sorted(
                r.dt
                for r in spark.read.parquet(lake_path)
                .select(F.col("dt").cast("string").alias("dt"))
                .distinct().collect()
            )
        else:
            days = lake_mod.merge_into_lake(
                spark, lake_path, batch, check_day_moves=False
            )
        if post_merge is not None and days:
            post_merge(days)

    _drain(
        _event_stream(spark, replay_dir).writeStream.foreachBatch(_merge_batch),
        checkpoint_dir,
    )


def stream_neardup_ingest(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    prefix: str,
    pairs_path: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup back pressure AT INGEST: each arriving micro-batch is
    queried against the persisted band index (work ∝ |batch| +
    collisions, never |corpus| — dedup.incremental_neardup_pairs), its
    pairs land durably under `pairs_path`, and the batch is ADMITTED
    into the index (dedup.extend_neardup_index). After the stream
    drains an empty index over the whole corpus, the union of per-batch
    pair files is EXACTLY the batch `minhash_lsh_dedup` pair set — the
    maintenance invariant chained across every micro-batch (asserted in
    tests/test_streaming.py). This is how the MinHash pass actually
    runs on a lake: nobody re-minhashes 100 TB per crawl drop.

    No silent caps (round 8, VERDICT r7 §Next 4): before querying, every
    batch persists the band keys its hot-bucket gate excludes
    (combined live-index + batch occupancy > cap, shared with the pairs
    computation via dedup.incremental_neardup_with_audit so the
    signature/occupancy work runs ONCE per batch) into
    `{pairs_path}_gated/batch_id=<bid>`, so a key
    crossing BAND_BUCKET_CAP mid-lifecycle is a durable, auditable
    event in the ingest log's own exactly-once envelope (the gated
    write precedes the index extend, like the pairs write, so a replay
    of an admitted batch never recomputes occupancy post-extend).

    Exactly-once is idempotence over at-least-once foreachBatch
    (the stream_merge_to_lake contract), via the commit-log recipe:

    1. pairs are written into a `batch_id=<bid>` subdirectory the batch
       owns outright — a replayed batch overwrites ITS OWN directory
       with identical content, and the dir name doubles as the
       partition column on read;
    2. the index extend runs after the pairs write;
    3. `{prefix}_ingest_log` records the batch id LAST — a batch in the
       log is known fully applied and replays return immediately.

    A crash between (2) and (3) replays into an index that already
    holds the batch, which would change what (1) recomputes — so before
    recomputing, a replay probes the index for the batch's first doc_id
    and, if admitted, skips straight to the log write (the pairs
    partition is already durable, having been written BEFORE the
    extend). The probe reads `_hsets`, the LAST table the extend
    appends: a crash mid-extend (bands in, hsets not) re-extends, and
    the duplicate band rows that leaves are harmless — candidate pairs
    are `.distinct()`-ed before verification and hsets stayed unique.
    """
    from uw_hadoop_aglorithms_spark.operators import dedup
    from uw_hadoop_aglorithms_spark.sources.indexes import table_name

    cap = dedup.BAND_BUCKET_CAP if bucket_cap is None else bucket_cap
    gated_path = pairs_path.rstrip("/") + "_gated"
    log_table = table_name(prefix, "ingest_log")

    def _ingest(batch, bid: int) -> None:
        # EVERYTHING here runs through the batch's own (cloned
        # streaming) session: the index grows across micro-batches, and
        # a session only invalidates ITS OWN cached table relation on
        # append — reads through the outer session kept planning batch
        # k+1's query over batch 0's file listing (observed: only the
        # last batch's pairs survived, the index never "grew")
        s = batch.sparkSession

        if (
            s.catalog.tableExists(log_table)
            and s.table(log_table).where(F.col("batch_id") == bid).count() > 0
        ):
            return  # fully applied in a previous attempt
        # pin the batch's content: everything below must see ONE
        # materialization, not re-derive the source per action
        b = batch.select("doc_id", "text").localCheckpoint(eager=True)
        first = b.select(F.min("doc_id").alias("m")).first()
        if first.m is None:
            _log_batch(s, bid)
            return
        admitted = (
            s.table(table_name(prefix, "hsets"))
            .where(F.col("doc_id") == int(first.m))
            .limit(1)
            .count()
            > 0
        )
        if not admitted:
            # pairs + gated-key audit from ONE shared signature/
            # occupancy computation (incremental_neardup_with_audit —
            # the separate audit call recomputed the whole MinHash/
            # banding pipeline per batch); audit writes BEFORE the
            # extend: the same pre-admission occupancy the pairs gate
            # sees (no-silent-caps contract)
            pairs, gated = dedup.incremental_neardup_with_audit(
                s, prefix, b, bucket_cap=cap
            )
            gated.repartition(1).write.mode("overwrite").parquet(
                os.path.join(gated_path, f"batch_id={int(bid)}")
            )
            # each batch owns its batch_id= subdirectory outright, so
            # the overwrite is scoped to it by construction; the dir
            # name doubles as the partition column on read
            pairs.repartition(1).write.mode("overwrite").parquet(
                os.path.join(pairs_path, f"batch_id={int(bid)}")
            )
            dedup.extend_neardup_index(b, prefix)
        _log_batch(s, bid)

    def _log_batch(s: SparkSession, bid: int) -> None:
        s.createDataFrame([(int(bid),)], "batch_id long").write.mode(
            "append"
        ).format("parquet").saveAsTable(log_table)

    _drain(
        _replay(spark, replay_dir, _DOC_STREAM_SCHEMA).writeStream.foreachBatch(
            _ingest
        ),
        checkpoint_dir,
    )
    return spark.read.parquet(pairs_path).orderBy("doc_a", "doc_b")
