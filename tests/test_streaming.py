"""Streaming: batch/stream equivalence (SURVEY.md §2.10 test strategy) and
the geo predicate unit fixture (FIXTURES.md)."""

from __future__ import annotations

import tempfile
from collections import defaultdict

import pytest

from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.functions.geo import GOLDMAN, region_tag
from uw_hadoop_aglorithms_spark.streaming import runner, trending, windows
from tests.conftest import SF_TEST


@pytest.fixture(scope="module")
def replay(spark):
    d = tempfile.mkdtemp(prefix="replay_")
    runner.prepare_replay_dir(spark, SF_TEST, f"{d}/events")
    return d


def test_stream_event_count_equals_batch(spark, replay):
    batch = {
        (r.window_start, r.cnt)
        for r in windows.event_count(spark, SF_TEST).collect()
    }
    stream = {
        (r.window_start, r.cnt)
        for r in runner.stream_event_count(
            spark, f"{replay}/events", f"{replay}/cp_ec"
        ).collect()
    }
    assert stream == batch


def test_scrambled_replay_still_equals_batch(spark):
    """Out-of-order arrival (whole time ranges scrambled) must reconcile
    to the same final counts — the stateful agg's late-merge path, which
    a perfectly-sorted replay never exercises. This is the suite key's
    replay mode (suites.stream_batch_equiv)."""
    d = tempfile.mkdtemp(prefix="replay_scram_")
    runner.prepare_replay_dir(spark, SF_TEST, f"{d}/events", order="scrambled")
    batch = {
        (r.window_start, r.cnt)
        for r in windows.event_count(spark, SF_TEST).collect()
    }
    stream = {
        (r.window_start, r.cnt)
        for r in runner.stream_event_count(
            spark, f"{d}/events", f"{d}/cp_scram"
        ).collect()
    }
    assert stream == batch


def test_scrambled_replay_is_deterministic_and_unordered(spark):
    """The scrambled order is a fixed permutation: two preparations give
    identical mtime sequences, and the sequence differs from time order
    (otherwise the variant tests nothing)."""
    import os

    def mtimes(d):
        runner.prepare_replay_dir(spark, SF_TEST, f"{d}/events", order="scrambled")
        parts = sorted(
            f
            for f in os.listdir(f"{d}/events")
            if f.startswith("part-") and not f.endswith(".crc")
        )
        return [os.path.getmtime(os.path.join(f"{d}/events", f)) for f in parts]

    a = mtimes(tempfile.mkdtemp(prefix="scram_a_"))
    b = mtimes(tempfile.mkdtemp(prefix="scram_b_"))
    order_a = [i for _, i in sorted(zip(a, range(len(a))))]
    order_b = [i for _, i in sorted(zip(b, range(len(b))))]
    assert order_a == order_b, "scramble permutation must be deterministic"
    assert order_a != sorted(order_a), "scramble must actually reorder files"


def test_stream_sliding_event_count_equals_batch(spark, replay):
    batch = {
        (r.window_start, r.cnt)
        for r in windows.sliding_event_count(spark, SF_TEST).collect()
    }
    stream = {
        (r.window_start, r.cnt)
        for r in runner.stream_sliding_event_count(
            spark, f"{replay}/events", f"{replay}/cp_slide"
        ).collect()
    }
    assert stream == batch


def test_stream_region_event_count_equals_batch(spark, replay):
    batch = {
        (r.window_start, r.event_type, r.cnt)
        for r in windows.region_event_count(spark, SF_TEST).collect()
    }
    stream = {
        (r.window_start, r.event_type, r.cnt)
        for r in runner.stream_region_event_count(
            spark, f"{replay}/events", f"{replay}/cp_rec"
        ).collect()
    }
    assert stream == batch


def test_stream_geo_region_count_equals_batch(spark, replay):
    batch = {
        (r.window_start, r.region, r.cnt)
        for r in windows.geo_region_count(spark, SF_TEST).collect()
    }
    stream = {
        (r.window_start, r.region, r.cnt)
        for r in runner.stream_geo_region_count(
            spark, f"{replay}/events", f"{replay}/cp_geo"
        ).collect()
    }
    assert stream == batch
    assert batch, "fixture must produce in-box events"


def test_stream_range_join_equals_batch(spark, replay):
    """Stream-stream interval join (inner) must equal the batch banded
    range join once the replay drains — watermark state eviction only
    affects late data, and the replay is event-time ordered."""
    from uw_hadoop_aglorithms_spark.operators import temporal

    batch = {
        (r.purchase_id, r.other_id, r.user_id, r.other_type)
        for r in temporal.range_join_nearby_events(spark, SF_TEST).collect()
    }
    stream = {
        (r.purchase_id, r.other_id, r.user_id, r.other_type)
        for r in runner.stream_range_join(
            spark, f"{replay}/events", f"{replay}/cp_rj"
        ).collect()
    }
    assert stream == batch
    assert batch, "fixture must produce in-range pairs"


def test_stream_trending_equals_batch_except_open_windows(spark, replay):
    batch_rows = windows.trending_arrivals(spark, SF_TEST).collect()
    last_window = {}
    for r in batch_rows:
        if r.event_type not in last_window or r.window_start > last_window[r.event_type]:
            last_window[r.event_type] = r.window_start
    expected = {
        (r.event_type, r.window_start, r.cnt, r.prev, r.alert)
        for r in batch_rows
        if r.window_start != last_window[r.event_type]
    }
    got = {
        (r.event_type, r.window_start, r.cnt, r.prev, r.alert)
        for r in trending.stream_trending_arrivals(
            spark, f"{replay}/events", f"{replay}/cp_trend"
        ).collect()
    }
    assert got == expected
    assert got, "stream should emit closed windows"


def test_stream_trending_returns_utc_walls_under_process_tz(
    spark, replay, monkeypatch
):
    """The trending runner returns window_start as a UTC wall
    (TIMESTAMP_NTZ), like every other runner. PySpark renders a
    TimestampType at collect in the PYTHON process zone, so an instant
    return shifted every stream-side window under a non-UTC TZ and the
    batch equality failed."""
    import time

    from pyspark.sql.types import TimestampNTZType

    out = trending.stream_trending_arrivals(
        spark, f"{replay}/events", f"{replay}/cp_trend_ntz",
        query_name="trend_ntz",
    )
    assert isinstance(out.schema["window_start"].dataType, TimestampNTZType)

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        batch_rows = windows.trending_arrivals(spark, SF_TEST).collect()
        last_window = {}
        for r in batch_rows:
            if (
                r.event_type not in last_window
                or r.window_start > last_window[r.event_type]
            ):
                last_window[r.event_type] = r.window_start
        expected = {
            (r.event_type, r.window_start, r.cnt, r.prev, r.alert)
            for r in batch_rows
            if r.window_start != last_window[r.event_type]
        }
        got = {
            (r.event_type, r.window_start, r.cnt, r.prev, r.alert)
            for r in trending.stream_trending_arrivals(
                spark, f"{replay}/events", f"{replay}/cp_trend_tz",
                query_name="trend_tz",
            ).collect()
        }
        assert got == expected
        assert got, "stream should emit closed windows"
    finally:
        monkeypatch.undo()
        time.tzset()


def test_watermark_drops_late_data(spark, replay):
    """Late-data semantics: an event arriving later than the watermark
    behind max event time is dropped by the stream but present in batch.
    The reference's mock replay is perfectly ordered and has no
    late-data story (SURVEY.md §2.10 note); the watermark is the
    engine's idiomatic replacement."""
    import os
    import time

    d = tempfile.mkdtemp(prefix="late_")
    ev = spark.read.parquet(f"{replay}/events")
    # three replay files → three microbatches:
    #  b0: bulk (sets max event time) — watermark still unset, no eviction
    #  b1: newest event — watermark now active; old windows evicted+emitted
    #  b2: the earliest event, arriving AFTER its window was finalized —
    #      must be dropped (state already evicted)
    first = ev.orderBy("ts").limit(1).collect()[0]
    last = ev.orderBy(F.col("ts").desc()).limit(1).collect()[0]
    bulk = ev.filter(~F.col("event_id").isin(first.event_id, last.event_id))
    for i, piece in enumerate(
        [bulk, spark.createDataFrame([last], ev.schema), spark.createDataFrame([first], ev.schema)]
    ):
        piece.coalesce(1).write.mode("append").parquet(f"{d}/ev")
        # stamp mtimes immediately so replay order == write order
        newest = max(
            (f for f in os.listdir(f"{d}/ev") if f.startswith("part-") and not f.endswith(".crc")),
            key=lambda f: os.path.getmtime(os.path.join(d, "ev", f)),
        )
        t = time.time() - 30 + i * 10
        os.utime(os.path.join(d, "ev", newest), (t, t))

    stream = {
        r.window_start: r.cnt
        for r in runner.stream_event_count_append(
            spark, f"{d}/ev", f"{d}/cp", query_name="late_ec"
        ).collect()
    }
    batch = {
        r.window_start: r.cnt for r in windows.event_count(spark, SF_TEST).collect()
    }
    late_window = first.ts.replace(minute=0, second=0, microsecond=0)
    assert stream, "append mode must emit finalized windows"
    assert stream[late_window] == batch[late_window] - 1, (
        "the late event must be dropped by the watermark"
    )
    for w, cnt in stream.items():
        if w != late_window:
            assert cnt == batch[w], f"window {w}: stream {cnt} != batch {batch[w]}"


def test_checkpoint_resume_is_exactly_once(spark, replay):
    """T4: a stream that stops mid-replay and restarts from the SAME
    checkpoint processes each file exactly once — the restarted run's
    final counts equal the batch result, no duplicates."""
    import os
    import shutil

    d = tempfile.mkdtemp(prefix="resume_")
    os.makedirs(f"{d}/ev")
    parts = sorted(
        f
        for f in os.listdir(f"{replay}/events")
        if f.startswith("part-") and not f.endswith(".crc")
    )
    assert len(parts) >= 4
    half = len(parts) // 2
    for f in parts[:half]:
        shutil.copy(f"{replay}/events/{f}", f"{d}/ev/{f}")
    # run 1: only half the files exist; stream drains them and stops
    runner.stream_event_count(spark, f"{d}/ev", f"{d}/cp", query_name="resume_ec")
    # "new data arrives" — then run 2 restarts from the same checkpoint
    for f in parts[half:]:
        shutil.copy(f"{replay}/events/{f}", f"{d}/ev/{f}")
    final = {
        (r.window_start, r.cnt)
        for r in runner.stream_event_count(
            spark, f"{d}/ev", f"{d}/cp", query_name="resume_ec"
        ).collect()
    }
    batch = {
        (r.window_start, r.cnt)
        for r in windows.event_count(spark, SF_TEST).collect()
    }
    assert final == batch


def test_geo_region_tag(spark):
    gx = (GOLDMAN[1] + GOLDMAN[2]) / 2
    gy = (GOLDMAN[3] + GOLDMAN[4]) / 2
    df = spark.createDataFrame(
        [(gx, gy), (-74.0110, 40.7209), (0.0, 0.0)], "lon double, lat double"
    )
    got = [r.region for r in df.select(region_tag(F.col("lon"), F.col("lat")).alias("region")).collect()]
    assert got == ["goldman", "citigroup", None]


def test_stream_user_sessions_matches_batch_closed_sessions(spark, replay):
    """Streaming sessionization (append mode) emits exactly the batch
    sessions whose close (last event + gap) the final watermark passed;
    every emitted row matches the batch row, and all clearly-closed
    sessions are present."""
    import datetime

    from uw_hadoop_aglorithms_spark.operators import temporal

    batch = {
        (r.user_id, r.session_start, r.last_ts, r.n_events)
        for r in temporal.user_sessions(spark, SF_TEST).collect()
    }
    emitted = {
        (r.user_id, r.session_start, r.last_ts, r.n_events)
        for r in runner.stream_user_sessions(
            spark, f"{replay}/events", f"{replay}/cp_sessions"
        ).collect()
    }
    assert emitted, "watermark should close at least one session"
    assert emitted <= batch

    max_ts = max(r[2] for r in batch)
    cutoff = max_ts - datetime.timedelta(minutes=60)  # runner.WATERMARK
    gap = datetime.timedelta(seconds=temporal.SESSION_GAP_S)
    surely_closed = {
        r for r in batch if r[2] + gap < cutoff - datetime.timedelta(seconds=1)
    }
    assert surely_closed <= emitted


def test_stream_exact_dedup_semantics(spark, tmp_path):
    """Ingestion-time dedup: (a) no two emitted rows share a digest
    within the watermark horizon; (b) every distinct text is admitted
    at least once; (c) emitted rows are a subset of the input; (d) any
    duplicate arriving within the horizon of a kept row is suppressed
    (checked via a sequential Python replay of the arrival order)."""
    import hashlib
    import re as _re

    from uw_hadoop_aglorithms_spark.streaming import runner

    replay = str(tmp_path / "docs_replay")
    ckpt = str(tmp_path / "ckpt")
    runner.prepare_doc_replay_dir(spark, SF_TEST, replay)
    out = runner.stream_exact_dedup(spark, replay, ckpt).collect()
    spark.catalog.dropTempView("stream_exact_dedup")
    assert out

    horizon_s = 120 * 60

    def digest(text):
        norm = _re.sub(r"\s+", " ", text.lower()).strip()
        return hashlib.sha256(norm.encode()).hexdigest()

    docs = spark.read.parquet(replay).collect()
    by_id = {r.doc_id: (digest(r.text), r.ts) for r in docs}

    # (c) subset of input with matching digests
    for r in out:
        d, ts = by_id[r.doc_id]
        assert r.digest == d and r.ts == ts

    # (a) horizon separation per digest
    from collections import defaultdict

    times = defaultdict(list)
    for r in out:
        times[r.digest].append(r.ts)
    for d, tss in times.items():
        tss.sort()
        for a, b in zip(tss, tss[1:]):
            assert (b - a).total_seconds() >= horizon_s, d

    # (b) completeness
    assert set(times) == {d for d, _ in by_id.values()}

    # (d) sequential replay in arrival (=ts) order: a duplicate within
    # the horizon of the last KEPT arrival of its digest must be absent
    kept = {(r.digest, r.ts) for r in out}
    last_kept = {}
    for doc_id in sorted(by_id, key=lambda i: by_id[i][1]):
        d, ts = by_id[doc_id]
        prev = last_kept.get(d)
        if prev is not None and (ts - prev).total_seconds() < horizon_s:
            assert (d, ts) not in kept or ts == prev
        else:
            last_kept[d] = ts


def test_stream_decontaminate_matches_batch_bloom(spark, tmp_path):
    """The streamed Bloom decontamination must report the SAME per-doc
    contaminated-gram counts as the batch decontaminate_bloom (same
    bitmap, same deterministic false positives) for every doc whose
    arrival window the watermark closed; no extra docs may appear."""
    from uw_hadoop_aglorithms_spark.operators import dedup
    from uw_hadoop_aglorithms_spark.streaming import runner

    replay = str(tmp_path / "docs_replay")
    ckpt = str(tmp_path / "ckpt")
    runner.prepare_doc_replay_dir(spark, SF_TEST, replay)
    out = runner.stream_decontaminate(spark, replay, ckpt, SF_TEST).collect()
    spark.catalog.dropTempView("stream_decontaminate")

    batch = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.decontaminate_bloom(spark, SF_TEST).collect()
    }
    got = {r.doc_id: r.n_shared_ngrams for r in out}
    assert got, "fixture corpus must contain contaminated docs"
    # subset with equal counts
    for doc_id, n in got.items():
        assert batch.get(doc_id) == n, doc_id
    # completeness for clearly-closed windows: the final watermark is
    # at least (max arrival - watermark delay); any contaminated doc
    # whose 60-min window closed strictly before it must be present
    max_id = max(batch) if batch else 0
    wm_minute = max_id - 120  # arrival clock: doc i at minute i
    for doc_id in batch:
        window_end = (doc_id // 60 + 1) * 60
        if window_end < wm_minute:
            assert doc_id in got, doc_id


def test_stream_dedup_state_survives_checkpoint_restart(spark, tmp_path):
    """T4 for the dedup state: dropDuplicatesWithinWatermark's digest
    state must be restored from the checkpoint, so a duplicate whose
    first copy arrived BEFORE the stop and whose second copy arrives
    AFTER the restart is still suppressed — the durable-sink output
    after the restarted run must equal a single uninterrupted run
    (append-mode memory sinks cannot recover, hence the parquet sink).
    """
    import os
    import shutil

    from uw_hadoop_aglorithms_spark.streaming import runner

    full = str(tmp_path / "full_replay")
    runner.prepare_doc_replay_dir(spark, SF_TEST, full)
    parts = sorted(
        f for f in os.listdir(full)
        if f.startswith("block-") and f.endswith(".parquet")
    )
    assert len(parts) >= 4

    # single uninterrupted reference run
    ref = {
        (r.doc_id, r.digest)
        for r in runner.stream_exact_dedup(
            spark, full, str(tmp_path / "cp_ref"), query_name="sded_ref"
        ).collect()
    }
    spark.catalog.dropTempView("sded_ref")

    # interrupted run: half the files, drain, then the rest resume from
    # the SAME checkpoint into the SAME durable sink
    d = str(tmp_path / "partial")
    os.makedirs(d)
    half = len(parts) // 2
    for f in parts[:half]:
        shutil.copy2(f"{full}/{f}", f"{d}/{f}")
    cp = str(tmp_path / "cp_resume")
    out = str(tmp_path / "out")
    run1 = {
        (r.doc_id, r.digest)
        for r in runner.stream_exact_dedup(
            spark, d, cp, output_dir=out
        ).collect()
    }
    for f in parts[half:]:
        shutil.copy2(f"{full}/{f}", f"{d}/{f}")
    final_rows = runner.stream_exact_dedup(
        spark, d, cp, output_dir=out
    ).collect()
    final = {(r.doc_id, r.digest) for r in final_rows}

    assert run1 <= final
    assert final == ref
    assert len(final_rows) == len(final), "no duplicate emissions"


def test_watermark_lag_one_canary(spark, tmp_path):
    """Canary for the LAG-ONE watermark rule the stream_batch_equiv
    dedup oracle is pinned to (suites.py stream_batch_equiv oracle;
    pinned against Spark 4.1.2): the eviction watermark of micro-batch
    b derives from max event time through batch b-2, NOT b-1. Minimal
    discriminating stream (one row per file = one AvailableNow batch,
    120-min dedup horizon):

      b0: key A @ t=0      → admitted, state expiry t=120
      b1: key B @ t=270    → admitted (unique)
      b2: key A @ t=271    → lag-one wm = ET(b0) - 120 = -120 < 120
                             → state ALIVE → DROPPED.
                             (lag-zero would use ET(b1) - 120 = 150
                              > 120 → evicted → admitted)
      b3: key A @ t=540    → lag-one wm = ET(b1) - 120 = 150 > 120
                             → state evicted → ADMITTED

    If a Spark upgrade tightens watermark propagation to lag-zero, THIS
    test fails with a pointed message while the stream_batch_equiv
    value hash would fail opaquely — triage version drift here, then
    update the pinned rule in the suites.py oracle AND the chain test
    below."""
    import glob
    import os
    import shutil
    import time

    from uw_hadoop_aglorithms_spark.streaming import runner

    assert runner.DEDUP_WATERMARK_MIN == 120, "canary arithmetic assumes 120"
    minutes = {0: 0, 1: 270, 2: 271, 3: 540}
    texts = {0: "dup payload", 1: "unique b", 2: "dup payload", 3: "dup payload"}
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    names = []
    for i in range(4):
        scratch = str(tmp_path / f"b{i}")
        (
            spark.createDataFrame([(i, texts[i])], "doc_id long, text string")
            .selectExpr(
                "doc_id", "text",
                f"timestamp'2024-01-01 00:00:00' "
                f"+ make_interval(0,0,0,0,0,{minutes[i]},0) AS ts",
            )
            .coalesce(1).write.mode("overwrite").parquet(scratch)
        )
        part = glob.glob(f"{scratch}/part-*.parquet")[0]
        dest = f"{replay}/block-{i:02d}.parquet"
        shutil.move(part, dest)
        names.append(dest)
    base = time.time() - len(names)
    for i, dst in enumerate(names):
        os.utime(dst, (base + i, base + i))

    got = {
        r.doc_id
        for r in runner.stream_exact_dedup(
            spark, replay, str(tmp_path / "ck"), query_name="sded_canary"
        ).collect()
    }
    spark.catalog.dropTempView("sded_canary")

    assert 2 not in got, (
        "batch-2 duplicate was ADMITTED: the eviction watermark used "
        "max event time through batch b-1 (lag-zero) — Spark's watermark "
        "propagation changed; re-pin the stream_batch_equiv dedup oracle "
        "(suites.py) and the chain test to the new rule"
    )
    assert got == {0, 1, 3}, got


def test_stream_dedup_multi_copy_chains_follow_watermark_state_machine(spark, tmp_path):
    """The fixture corpora never exceed two copies per digest; this
    builds a synthetic corpus with 3- and 4-copy chains spanning
    multiple eviction windows and checks the admitted set against a
    sequential simulation of the dropDuplicatesWithinWatermark state
    machine (the lag-one per-batch watermark rule pinned at sf0.1
    against Spark 4.1.2 — see test_watermark_lag_one_canary above for
    the minimal discriminator and the triage order on version drift:
    state evicted in batch b only once the max event time through batch
    b-2, minus the delay, passes the last KEPT copy's expiry)."""
    import glob
    import os
    import shutil
    import time

    from uw_hadoop_aglorithms_spark.streaming import runner

    n, files = 400, runner.DOC_REPLAY_FILES
    width = -(-n // files)
    horizon = 120  # DEDUP_WATERMARK_MIN

    # digest groups: doc i shares text with doc i+g for chains below;
    # everything else unique
    chains = {
        "A": [5, 30, 260, 300],    # in-horizon dup, far dup, near dup
        "B": [10, 150, 340],       # far, then far again
        "C": [50, 60, 70, 80],     # dense in-horizon run
    }
    text_of = {}
    for tag, ids in chains.items():
        for i in ids:
            text_of[i] = f"chain {tag} payload"
    rows = [
        (i, text_of.get(i, f"unique doc {i} body"), None) for i in range(n)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    ).selectExpr(
        "doc_id", "text",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(doc_id as int),0) AS ts",
    )
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    names = []
    for k in range(files):
        lo, hi = k * width, (k + 1) * width
        scratch = str(tmp_path / f"b{k}")
        (
            docs.where((docs.doc_id >= lo) & (docs.doc_id < hi))
            .coalesce(1).sortWithinPartitions("ts")
            .write.mode("overwrite").parquet(scratch)
        )
        part = glob.glob(f"{scratch}/part-*.parquet")[0]
        dest = f"{replay}/block-{k:02d}.parquet"
        shutil.move(part, dest)
        names.append(dest)
    base = time.time() - len(names)
    for i, dst in enumerate(names):
        os.utime(dst, (base + i, base + i))

    got = {
        r.doc_id
        for r in runner.stream_exact_dedup(
            spark, replay, str(tmp_path / "ck"), query_name="sded_chains"
        ).collect()
    }
    spark.catalog.dropTempView("sded_chains")

    # sequential state machine: greedy chain under the lag-one watermark
    def wm_before(batch):  # minutes; -inf until batch 2
        return (batch - 1) * width - 1 - horizon if batch >= 2 else -(10**9)

    expect = set(i for i in range(n) if i not in text_of)
    for ids in chains.values():
        anchor_exp = None
        for i in sorted(ids):
            b = i // width
            if anchor_exp is None or wm_before(b) > anchor_exp:
                expect.add(i)
                anchor_exp = i + horizon
            # drops never extend state
    assert got == expect, (sorted(got - expect), sorted(expect - got))


def test_stream_merge_to_lake_exactly_once_and_upsert(spark, replay, tmp_path):
    """Streaming lake ingestion (foreachBatch + idempotent upsert):

    1. a full replay lands exactly the batch events table in the lake;
    2. restart mid-replay from the same checkpoint stays exactly-once;
    3. a FULL re-replay with a FRESH checkpoint (worst-case
       at-least-once redelivery: every batch delivered twice) leaves
       the lake unchanged — the idempotence that makes foreachBatch
       upsert exactly-once in effect.
    """
    import os
    import shutil

    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    lake_path = str(tmp_path / "lake")
    ev_dir = str(tmp_path / "ev")
    os.makedirs(ev_dir)
    parts = sorted(
        f
        for f in os.listdir(f"{replay}/events")
        if f.startswith("part-") and not f.endswith(".crc")
    )
    half = len(parts) // 2
    for f in parts[:half]:
        shutil.copy(f"{replay}/events/{f}", f"{ev_dir}/{f}")
    runner.stream_merge_to_lake(spark, ev_dir, str(tmp_path / "cp"), lake_path)
    for f in parts[half:]:
        shutil.copy(f"{replay}/events/{f}", f"{ev_dir}/{f}")
    runner.stream_merge_to_lake(spark, ev_dir, str(tmp_path / "cp"), lake_path)

    ev = Catalog(spark, SF_TEST).events
    got = spark.read.parquet(lake_path).drop("dt")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    assert (
        got.join(ev, [c for c in ev.columns], "left_anti").count() == 0
    ), "lake rows must match the batch events table exactly"

    # worst-case at-least-once: replay EVERYTHING again, fresh checkpoint
    runner.stream_merge_to_lake(
        spark, ev_dir, str(tmp_path / "cp_redeliver"), lake_path
    )
    again = spark.read.parquet(lake_path).drop("dt")
    assert again.count() == ev.count()
    assert (
        again.join(ev, [c for c in ev.columns], "left_anti").count() == 0
    )


def test_lake_lifecycle_session_zone_independent(spark, replay, tmp_path):
    """ADVICE r7 (medium): the replay boundary stores ts as an INSTANT,
    and dt labels / day rollups used to be derived via date_format over
    that instant — rendered in the SESSION zone, so a lake ingested
    under one zone and refreshed under another could place the same
    event in different dt partitions. _merge_batch now converts back to
    UTC walls (walls_out) before anything reaches the lake; this test
    runs the FULL lifecycle (stream ingest -> dt-partitioned lake ->
    post_merge KMV rollup refresh) under UTC and under Asia/Kolkata
    (the half-hour offset that caught the round-7 window bug), reads
    both under a THIRD zone, and requires byte-identical lake rows, dt
    labels equal to the UTC-wall day of the stored event time, and
    identical rollup sample rows."""
    from uw_hadoop_aglorithms_spark.operators import sketches

    zone_key = "spark.sql.session.timeZone"
    orig = spark.conf.get(zone_key)
    ev_dir = f"{replay}/events"
    lakes, rolls = {}, {}
    try:
        for zone in ("UTC", "Asia/Kolkata"):
            tag = zone.split("/")[-1].lower()
            spark.conf.set(zone_key, zone)
            lakes[zone] = str(tmp_path / f"lake_{tag}")
            rolls[zone] = str(tmp_path / f"roll_{tag}")
            runner.stream_merge_to_lake(
                spark,
                ev_dir,
                str(tmp_path / f"cp_{tag}"),
                lakes[zone],
                post_merge=lambda days, z=zone: sketches.refresh_kmv_rollup(
                    spark, lakes[z], rolls[z], "user_id", days=days
                ),
            )
        # read + compare under a zone neither lifecycle ran in (+12:45)
        spark.conf.set(zone_key, "Pacific/Chatham")
        a, b = (
            spark.read.parquet(lakes[z]).withColumn(
                "dt", F.col("dt").cast("string")
            )
            for z in ("UTC", "Asia/Kolkata")
        )
        assert a.count() == b.count()
        assert a.join(b, a.columns, "left_anti").count() == 0, (
            "lake rows (including ts walls and dt labels) must not "
            "depend on the ingesting session zone"
        )
        # dt must be the UTC-wall day: ts is TIMESTAMP_NTZ in the lake,
        # so date_format renders the stored wall, session-independent
        assert a.filter(
            F.date_format("ts", "yyyy-MM-dd") != F.col("dt")
        ).count() == 0
        ra, rb = (
            spark.read.parquet(rolls[z]).withColumn(
                "dt", F.col("dt").cast("string")
            )
            for z in ("UTC", "Asia/Kolkata")
        )
        assert ra.count() == rb.count()
        assert ra.join(rb, ra.columns, "left_anti").count() == 0, (
            "per-day KMV rollup rows must not depend on the session zone"
        )
    finally:
        spark.conf.set(zone_key, orig)


def test_stream_neardup_ingest_chains_the_maintenance_invariant(spark, tmp_path):
    """Streaming ingest through the persisted band index: after
    draining the corpus batch-by-batch into an initially-empty index,
    the union of per-batch pair files is EXACTLY the batch MinHash pair
    set, and the drained index answers queries exactly like a fresh
    build. Also exercises the two idempotence paths of the commit-log
    recipe: a crash between the index extend and the log write (the
    batch replays into an index that already holds it and must skip
    straight to the log), and a full at-least-once re-replay."""
    import uuid

    from uw_hadoop_aglorithms_spark.operators import dedup
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    pfx = f"ndping_{uuid.uuid4().hex[:10]}"
    pfx_fresh = f"{pfx}_fresh"
    work = str(tmp_path)
    docs = Catalog(spark, SF_TEST).documents
    try:
        replay = runner.prepare_doc_replay_dir(spark, SF_TEST, f"{work}/replay")
        dedup.save_neardup_index(docs.where(F.lit(False)), pfx)
        got = runner.stream_neardup_ingest(
            spark, replay, f"{work}/ckpt", pfx, f"{work}/pairs"
        )
        mine = {(r.doc_a, r.doc_b, r.jaccard) for r in got.collect()}
        ref = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.minhash_lsh_dedup(spark, SF_TEST).collect()
        }
        assert mine == ref
        n_batches = spark.table(f"{pfx}_ingest_log").count()
        assert n_batches >= 2

        # crash window: extend applied, log write lost — drop the last
        # batch's log row and re-replay; the probe must route the
        # replayed batch straight to the log write, changing nothing
        log = [int(r.batch_id) for r in spark.table(f"{pfx}_ingest_log").collect()]
        keep = [(b,) for b in log if b != max(log)]
        spark.sql(f"DROP TABLE {pfx}_ingest_log")
        spark.createDataFrame(keep, "batch_id long").write.format(
            "parquet"
        ).saveAsTable(f"{pfx}_ingest_log")
        got2 = runner.stream_neardup_ingest(
            spark, replay, f"{work}/ckpt2", pfx, f"{work}/pairs"
        )
        assert {(r.doc_a, r.doc_b, r.jaccard) for r in got2.collect()} == ref
        assert spark.table(f"{pfx}_ingest_log").count() == n_batches

        # the drained index is indistinguishable from a fresh build
        probe = docs.where(F.col("doc_id") < 20).select("doc_id", "text")
        via_stream = {
            (r.doc_a, r.doc_b)
            for r in dedup.incremental_neardup_pairs(spark, pfx, probe).collect()
        }
        dedup.save_neardup_index(docs.select("doc_id", "text"), pfx_fresh)
        via_fresh = {
            (r.doc_a, r.doc_b)
            for r in dedup.incremental_neardup_pairs(
                spark, pfx_fresh, probe
            ).collect()
        }
        assert via_stream == via_fresh
    finally:
        for t in (
            f"{pfx}_bands", f"{pfx}_hsets", f"{pfx}_ingest_log",
            f"{pfx}_tombstones", f"{pfx_fresh}_bands", f"{pfx_fresh}_hsets",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_neardup_ingest_reports_gated_keys(spark, tmp_path):
    """No-silent-caps at ingest (VERDICT r7 §Next 4): a band key that
    CROSSES BAND_BUCKET_CAP mid-stream-lifecycle must land in the
    durable per-batch gated-key audit (`{pairs}_gated/batch_id=N`) the
    moment it crosses, and stop contributing pairs from that batch on —
    while batches before the crossing report nothing gated."""
    import datetime as dt
    import glob
    import shutil
    import uuid

    from uw_hadoop_aglorithms_spark.operators import dedup
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    pfx = f"ndgate_{uuid.uuid4().hex[:10]}"
    work = str(tmp_path)
    same = "alpha beta gamma delta epsilon zeta"
    ts = dt.datetime(2024, 1, 1)
    # batch 0: ids 0,1 (occupancy 2); batch 1: ids 2,3 (2+2=4 <= cap);
    # batch 2: id 4 (4+1=5 > cap -> gated)
    batches = [[(0, same, ts), (1, same, ts)],
               [(2, same, ts), (3, same, ts)],
               [(4, same, ts)]]
    replay_dir = f"{work}/replay"
    import os

    os.makedirs(replay_dir)
    for i, rows in enumerate(batches):
        tmp = f"{work}/b{i}"
        spark.createDataFrame(
            rows, "doc_id long, text string, ts timestamp"
        ).coalesce(1).write.parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0],
                    f"{replay_dir}/f{i}.parquet")
    docs = Catalog(spark, SF_TEST).documents
    try:
        dedup.save_neardup_index(docs.where(F.lit(False)), pfx)
        got = runner.stream_neardup_ingest(
            spark, replay_dir, f"{work}/ckpt", pfx, f"{work}/pairs",
            bucket_cap=4,
        )
        pair_ids = {(r.doc_a, r.doc_b) for r in got.collect()}
        # batch 2's doc 4 is gated out: no pair touches it
        assert pair_ids and all(4 not in p for p in pair_ids)
        gated = spark.read.parquet(f"{work}/pairs_gated").collect()
        assert gated, "crossing batch must report its gated keys"
        by_batch = {}
        for r in gated:
            by_batch.setdefault(int(r.batch_id), []).append(r)
        assert set(by_batch) == {2}, "only the crossing batch gates"
        assert len(by_batch[2]) == dedup.BANDS
        assert all((r.n_new, r.n_idx, r.bsz) == (1, 4, 5) for r in by_batch[2])
    finally:
        for t in (f"{pfx}_bands", f"{pfx}_hsets", f"{pfx}_ingest_log",
                  f"{pfx}_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_merge_maintains_hll_rollup(spark, replay, tmp_path):
    """The two round-6 lifecycles composed end-to-end: streaming lake
    ingestion drives per-batch rollup maintenance through the
    post_merge hook (each batch refreshes exactly its merge's affected
    days). After the stream drains, the incrementally-maintained rollup
    must equal a full rebuild from the final lake — and survive the
    worst-case at-least-once redelivery (fresh-checkpoint full
    re-replay), because both the merge and the day-scoped refresh are
    idempotent over identical lake state."""
    from uw_hadoop_aglorithms_spark.operators import sketches

    lake_path = str(tmp_path / "lake")
    roll_path = str(tmp_path / "rollup")

    def keep_rollup_live(days):
        sketches.refresh_hll_rollup(
            spark, lake_path, roll_path, "user_id", days=days
        )

    runner.stream_merge_to_lake(
        spark,
        f"{replay}/events",
        str(tmp_path / "cp"),
        lake_path,
        post_merge=keep_rollup_live,
    )
    full = str(tmp_path / "rollup_full")
    sketches.refresh_hll_rollup(spark, lake_path, full, "user_id")

    def regset(path):
        return {
            tuple(r)
            for r in spark.read.parquet(path)
            .withColumn("dt", F.col("dt").cast("string"))
            .collect()
        }

    assert regset(roll_path) == regset(full)

    # worst-case redelivery: everything again, fresh checkpoint
    runner.stream_merge_to_lake(
        spark,
        f"{replay}/events",
        str(tmp_path / "cp2"),
        lake_path,
        post_merge=keep_rollup_live,
    )
    assert regset(roll_path) == regset(full)


def test_pinned_spark_version():
    """Version canary for runner.PINNED_STREAM_RULES (VERDICT r6 item
    8): the stream_batch_equiv oracles replay micro-batch internals
    (lag-one watermark, append window close, session close) that Spark
    does not contract publicly. If this fails, a Spark upgrade happened:
    re-derive each rule in runner.PINNED_STREAM_RULES via its listed
    discriminating test BEFORE trusting a red stream value-hash."""
    import pyspark

    from uw_hadoop_aglorithms_spark.streaming import runner

    assert pyspark.__version__ == runner.PINNED_SPARK_VERSION, (
        f"Spark moved {runner.PINNED_SPARK_VERSION} -> "
        f"{pyspark.__version__}: re-derive the pinned micro-batch rules "
        f"({', '.join(runner.PINNED_STREAM_RULES)}) — see each rule's "
        "discriminating test in runner.PINNED_STREAM_RULES, then update "
        "the suites.py stream oracles and THIS pin"
    )


def test_replay_dirs_clear_stale_files_on_reuse(spark, tmp_path):
    """Regression for ADVICE r5/VERDICT r6 item 2: a reused replay out
    dir must not keep stale block files — the AvailableNow file source
    would replay them as EXTRA micro-batches (silent stream
    corruption). Plant an alien block file, re-prepare, assert it is
    gone and only the writer's own blocks remain (same check for the
    events late-replay builder; prepare_replay_dir overwrites via
    parquet mode=overwrite, covered implicitly)."""
    import os

    from uw_hadoop_aglorithms_spark.streaming import runner

    for prep, pattern in (
        (runner.prepare_doc_replay_dir, "block-"),
        (runner.prepare_events_late_replay_dir, "block-"),
    ):
        out = str(tmp_path / prep.__name__)
        prep(spark, SF_TEST, out)
        first = sorted(
            f for f in os.listdir(out) if f.startswith(pattern)
        )
        assert first, "builder must produce block files"
        stale = os.path.join(out, "block-99.parquet")
        with open(stale, "wb") as fh:
            fh.write(b"stale parquet from a prior run")
        prep(spark, SF_TEST, out)
        second = sorted(
            f for f in os.listdir(out) if f.startswith(pattern)
        )
        assert "block-99.parquet" not in second, prep.__name__
        assert second == first, prep.__name__


def test_stream_merge_maintains_kmv_rollup(spark, replay, tmp_path):
    """KMV parity with the HLL streaming-maintenance composition
    (round 7): the same post_merge hook keeps the per-day KMV sample
    rollup live during streaming lake ingestion; after the stream
    drains it equals a full rebuild, and a worst-case at-least-once
    full re-replay (fresh checkpoint) leaves it unchanged — merge and
    day-scoped refresh are both idempotent over identical lake state."""
    from uw_hadoop_aglorithms_spark.operators import sketches

    lake_path = str(tmp_path / "lake")
    roll_path = str(tmp_path / "rollup")

    def keep_rollup_live(days):
        sketches.refresh_kmv_rollup(
            spark, lake_path, roll_path, "user_id", days=days
        )

    runner.stream_merge_to_lake(
        spark,
        f"{replay}/events",
        str(tmp_path / "cp"),
        lake_path,
        post_merge=keep_rollup_live,
    )
    full = str(tmp_path / "rollup_full")
    sketches.refresh_kmv_rollup(spark, lake_path, full, "user_id")

    def sampleset(path):
        return {
            tuple(r)
            for r in spark.read.parquet(path)
            .withColumn("dt", F.col("dt").cast("string"))
            .collect()
        }

    assert sampleset(roll_path) == sampleset(full)
    # and the merged estimate off the maintained rollup equals the
    # direct single-pass sketch over the final lake
    est_roll = sketches.kmv_group_stats(
        sketches.kmv_merge_all(spark.read.parquet(roll_path), "all")
    ).collect()[0]
    lake_ev = spark.read.parquet(lake_path).withColumn("g1", F.lit("all"))
    est_direct = sketches.kmv_group_stats(
        sketches.kmv_samples(lake_ev, "user_id", "g1")
    ).collect()[0]
    assert (est_roll.kmv_est, est_roll.hk) == (
        est_direct.kmv_est, est_direct.hk)

    runner.stream_merge_to_lake(
        spark,
        f"{replay}/events",
        str(tmp_path / "cp2"),
        lake_path,
        post_merge=keep_rollup_live,
    )
    assert sampleset(roll_path) == sampleset(full)
