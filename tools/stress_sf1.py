"""One-off sf1-scale stress of the fixpoint loops (VERDICT r3 item 8).

There is no driver-generated sf1 fixture, so this harness materializes a
10× replica of the sf0.1 tables the three loops read (keys shifted per
replica so the graph becomes 10 disjoint copies; document TEXTS are kept
identical across replicas ON PURPOSE — every doc gains 9 twins, which
makes the LSH buckets hot and the near-dup components 10× deeper, the
skew/stress shape a real lake exhibits with boilerplate). It then runs

    pagerank_suite, dedup_clusters, kmeans_clusters

against the replica dir and reports wall-clock, the partition count the
state-sized heuristic picked, and driver RSS before/after — confirming
the loops neither under-partition nor materialize state on the driver
at 10× bench scale. Results go into SCALING.md §"sf1 stress".

Usage: python tools/stress_sf1.py  (writes scratch under /tmp)
"""

from __future__ import annotations

import os
import resource
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.session import get_spark
from uw_hadoop_aglorithms_spark.sources.indexes import scoped_index

SRC = "/root/testdata/sf0.1"
REPLICAS = 10


def rss_mb() -> int:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024


def build_replica_dir(spark, scale_events: bool = False) -> str:
    """10× replica of the sf0.1 tables. ``scale_events=True`` (the
    round-10 full-contract stress) also replicates ``events`` 10×
    (event_id/user_id shifted, ts kept — 10× denser days); the legacy
    loop-stress path keeps events at sf0.1 because its kmv/lake legs
    re-replicate events themselves (they would silently become 100×)."""
    out = tempfile.mkdtemp(prefix="stress_sf1_")
    rep = spark.range(REPLICAS).withColumnRenamed("id", "rep")

    def write(name, df):
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    supp = spark.read.parquet(f"{SRC}/supplier.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    n_cust = cust.agg(F.max("c_custkey")).first()[0] + 1
    n_supp = supp.agg(F.max("s_suppkey")).first()[0] + 1
    n_ord = orders.agg(F.max("o_orderkey")).first()[0] + 1

    write("customer", cust.crossJoin(rep).withColumn(
        "c_custkey", F.col("c_custkey") + F.col("rep") * n_cust).drop("rep"))
    write("supplier", supp.crossJoin(rep).withColumn(
        "s_suppkey", F.col("s_suppkey") + F.col("rep") * n_supp).drop("rep"))
    write("orders", orders.crossJoin(rep)
          .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * n_ord)
          .withColumn("o_custkey", F.col("o_custkey") + F.col("rep") * n_cust)
          .drop("rep"))
    write("lineitem", li.crossJoin(rep)
          .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * n_ord)
          .withColumn("l_suppkey", F.col("l_suppkey") + F.col("rep") * n_supp)
          .drop("rep"))

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    # texts intentionally identical across replicas: 9 exact twins per doc
    write("documents", docs.crossJoin(rep).withColumn(
        "doc_id", F.col("doc_id") + F.col("rep") * n_doc).drop("rep"))

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    id_col = "vec_id"
    n_emb = emb.agg(F.max(id_col)).first()[0] + 1
    write("embeddings", emb.crossJoin(rep).withColumn(
        id_col, F.col(id_col) + F.col("rep") * n_emb).drop("rep"))

    if scale_events:
        ev = spark.read.parquet(f"{SRC}/events.parquet")
        n_ev = ev.agg(F.max("event_id")).first()[0] + 1
        n_u = ev.agg(F.max("user_id")).first()[0] + 1
        write(
            "events",
            ev.crossJoin(rep)
            .withColumn("event_id", F.col("event_id") + F.col("rep") * n_ev)
            .withColumn("user_id", F.col("user_id") + F.col("rep") * n_u)
            .drop("rep"),
        )

    # untouched small tables some Catalog paths expect
    small = ("region", "nation", "part") + (() if scale_events else ("events",))
    for t in small:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    return out


def stress_incr_index(spark, d):
    """Round-5/6 lifecycle at 10×: persist the bucketed band index over
    the lower half of the replica corpus (replicas 0-4 under the
    doc_id-shift layout), run the upper half as the arriving batch
    (every new doc meets its 5 exact twins in the index — hot buckets),
    then exercise the full maintenance path: extend with the admitted
    batch, retract one replica's docs via tombstones, compact into a
    fresh generation. Returns the incremental query's pairs
    (localCheckpointed so the scratch tables can be dropped)."""
    from uw_hadoop_aglorithms_spark.operators import dedup

    docs = spark.read.parquet(f"{d}/documents.parquet")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    old = docs.filter(F.col("doc_id") <= mid)
    new = docs.filter(F.col("doc_id") > mid)
    with scoped_index(spark, "neardup", "stress_idx") as prefix:
        dedup.save_neardup_index(old, prefix)
        res = dedup.incremental_neardup_pairs(spark, prefix, new).localCheckpoint()
        dedup.extend_neardup_index(new, prefix)
        # retraction + compaction at 10×: drop one full replica (a
        # re-crawl), then rewrite both tables into one generation
        n_orig = (mid + 1) // 5
        dedup.remove_from_neardup_index(
            spark, prefix,
            docs.filter(
                (F.col("doc_id") >= 7 * n_orig) & (F.col("doc_id") < 8 * n_orig)
            ).select("doc_id"),
        )
        dedup.compact_neardup_index(spark, prefix)
    return res


def stress_span_index(spark, d):
    """Round-6 span-index lifecycle at 10×: index ONE replica (within
    it, nearly every gram is unique — index counts of 1), then run the
    other nine replicas as the arriving batch. That is the DESIGNED
    worst case for the retroactive-refresh path: almost every indexed
    gram crosses the >= 2 threshold at once, so `changed` ≈ the whole
    index and the per-batch work bound (|batch| + |changed|) degrades
    to a full-corpus re-profile — which must still complete with a
    flat driver (profiles are per-doc rows, text never leaves the
    executors). A lower-half/upper-half split would exercise nothing:
    five in-index twins make every gram pre-hot and `changed` empty."""
    from uw_hadoop_aglorithms_spark.operators import dedup

    docs = spark.read.parquet(f"{d}/documents.parquet").select(
        "doc_id", "text"
    )
    n_orig = (docs.agg(F.max("doc_id")).first()[0] + 1) // REPLICAS
    old = docs.filter(F.col("doc_id") < n_orig)
    new = docs.filter(F.col("doc_id") >= n_orig)
    with scoped_index(spark, "span", "stress_span") as prefix:
        dedup.save_span_index(old, prefix)
        res = dedup.incremental_span_profiles(
            spark, prefix, new, old
        ).localCheckpoint()
        dedup.extend_span_index(new, prefix)
        dedup.compact_span_index(spark, prefix)
    return res


def stress_kmv_rollup(spark, d):
    """Round-7 KMV rollup lifecycle at 10×: full per-day sample rollup
    over the 1M-row replica lake, a user-reassignment merge on the
    early days, surgical day refresh, and the merged all-days estimate
    off the rollup — work per refresh must stay proportional to the
    MUTATED days (partition-pruned scan), and the merge re-take-K must
    stay bounded (≤ types × days × K rows in, K out). Returns the
    1-row merged estimate."""
    from uw_hadoop_aglorithms_spark.operators import sketches
    from uw_hadoop_aglorithms_spark.sources import lake as lake_mod

    ev = spark.read.parquet(f"{d}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type"
    )
    rep = spark.range(REPLICAS).withColumnRenamed("id", "rep")
    n_ev = ev.agg(F.max("event_id")).first()[0] + 1
    n_u = ev.agg(F.max("user_id")).first()[0] + 1
    big = (
        ev.crossJoin(rep)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * n_ev)
        .withColumn("user_id", F.col("user_id") + F.col("rep") * n_u)
        .drop("rep")
    )
    scratch = tempfile.mkdtemp(prefix="stress_kmv_")
    lp, rp = f"{scratch}/lake", f"{scratch}/rollup"
    try:
        lake_mod.write_date_partitioned(big, lp)
        sketches.refresh_kmv_rollup(spark, lp, rp, "user_id")
        upd = (
            big.filter(
                (F.col("event_id") % 97 == 0) & (F.dayofmonth("ts") <= 5)
            )
            .withColumn("user_id", F.col("user_id") + F.lit(10**9))
        )
        days = lake_mod.merge_into_lake(spark, lp, upd)
        sketches.refresh_kmv_rollup(spark, lp, rp, "user_id", days=days)
        merged = sketches.kmv_group_stats(
            sketches.kmv_merge_all(spark.read.parquet(rp), "all_days")
        )
        # materialize BEFORE the finally deletes the scratch files —
        # the runner collects the returned frame after this function
        return merged.select("g", "c", "kmv_est").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def stress_lake_lifecycle(spark, d):
    """Round-6 lake mutation lifecycle at 10×: a 1M-row (sf0.1 × 10)
    date-partitioned events lake goes through the full maintenance
    sequence — merge (patches + future-day inserts), physical delete of
    a takedown batch, and one-day compaction. The events replica packs
    10× rows into the SAME 30 days (ids shifted, ts kept), so each
    affected partition is 10× denser — the blast-radius bound, not the
    partition count, is what's under test. Returns the final per-type
    counts (bounded result)."""
    from uw_hadoop_aglorithms_spark.sources import lake as lake_mod

    ev = spark.read.parquet(f"{d}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )
    rep = spark.range(REPLICAS).withColumnRenamed("id", "rep")
    n_ev = ev.agg(F.max("event_id")).first()[0] + 1
    big = (
        ev.crossJoin(rep)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * n_ev)
        .drop("rep")
    )
    scratch = tempfile.mkdtemp(prefix="stress_lake_")
    lp = f"{scratch}/events"
    try:
        lake_mod.write_date_partitioned(big, lp)
        upd = (
            big.filter(
                (F.col("event_id") % 97 == 0) & (F.dayofmonth("ts") <= 10)
            )
            .withColumn("event_type", F.lit("patched"))
        )
        ins = (
            big.filter(F.col("event_id") % 131 == 0)
            .withColumn("event_id", F.col("event_id") + F.lit(10**12))
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 90 DAYS"))
            .withColumn("event_type", F.lit("backfill"))
        )
        lake_mod.merge_into_lake(spark, lp, upd.unionByName(ins))
        lake_mod.delete_from_lake(
            spark, lp, big.filter(F.col("event_id") % 89 == 0).select("event_id")
        )
        lake_mod.compact_day(spark, lp, "2024-01-05")
        return (
            spark.read.parquet(lp)
            .groupBy("event_type")
            .count()
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def stress_ann_index(spark, d):
    """Round-6 persisted-IVF lifecycle at 10×: 20k vectors (10 identical
    copies of each sf0.1 embedding — every cell 10× denser), through
    save half / extend half / retract one replica / compact / query.
    The query side grows only with the id range (400 stride-sampled
    queries here, hard-capped at ANN_MAX_QUERIES) while the corpus side
    is 10×. Returns the final top-k lists (bounded: |queries| × k;
    measured rows=4000 = 400 × TOP_K)."""
    from uw_hadoop_aglorithms_spark.operators import similarity as sim

    cents = sim._ivf_centroids(spark, d)
    emb = sim._normed(spark, d)
    top = emb.agg(F.max("vec_id")).first()[0]
    mid = top // 2
    n_orig = (top + 1) // REPLICAS
    with scoped_index(spark, "ann", "stress_ann") as prefix:
        sim.save_ann_index(
            spark, emb.filter(F.col("vec_id") <= mid), prefix, cents
        )
        sim.extend_ann_index(
            spark, emb.filter(F.col("vec_id") > mid), prefix
        )
        sim.remove_from_ann_index(
            spark, prefix,
            emb.filter(
                (F.col("vec_id") >= 7 * n_orig) & (F.col("vec_id") < 8 * n_orig)
            ).select("vec_id"),
        )
        sim.compact_ann_index(spark, prefix)
        return sim.ann_index_topk(spark, d, prefix).localCheckpoint()


def stress_ivfpq_index(spark, d):
    """Round-6 IVF-ADC at 10×: codes for 20k vectors built against the
    frozen quantizers, queried compressed-domain from the persisted
    cell-partitioned layout. Returns the top-k lists (bounded)."""
    from uw_hadoop_aglorithms_spark.operators import similarity as sim

    with scoped_index(spark, "pq", "stress_ivfpq") as prefix:
        sim.save_pq_index(spark, d, prefix)
        return sim.ann_ivfpq_topk(spark, d, prefix).localCheckpoint()


def stress_stream_ingest(spark, d):
    """Round-6 streaming near-dup ingest at 10×: the 50k-doc replica
    corpus (9 exact twins per doc — LSH buckets maximally hot) drains
    through an initially-empty band index in 8 real micro-batches.
    Twins land in DIFFERENT batches under the block layout, so the
    batch-vs-index join path carries most of the ~225k twin pairs; the
    per-batch work bound (|batch| + collisions) is what's under test.
    Returns the drained pair set (twin-quadratic by construction)."""
    from uw_hadoop_aglorithms_spark.operators import dedup
    from uw_hadoop_aglorithms_spark.streaming import runner

    docs = spark.read.parquet(f"{d}/documents.parquet")
    scratch = tempfile.mkdtemp(prefix="stress_sni_")
    try:
        with scoped_index(spark, "neardup", "stress_sni") as prefix:
            replay = runner.prepare_doc_replay_dir(spark, d, f"{scratch}/replay")
            dedup.save_neardup_index(docs.where(F.lit(False)), prefix)
            return runner.stream_neardup_ingest(
                spark, replay, f"{scratch}/ckpt", prefix, f"{scratch}/pairs"
            ).localCheckpoint()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def stress_sem_scaled(spark, d):
    """semantic_dedup_pairs_scaled at the operating point it exists
    for: corpus 10× -> codebook 10× (64 -> 640 cells), holding |cell|
    and with it sum(|cell|^2)/N constant. The fixed-K form is
    deliberately absent (see the note in run())."""
    from uw_hadoop_aglorithms_spark.operators import dedup

    return dedup.semantic_dedup_pairs_scaled(spark, d, n_cells=640)


def run(spark) -> dict:
    """Build the 10× replica and run the stress loops; returns
    {"pr_parts": int, "n_edges": int, "results": {name: (sec, rows,
    rss_before_mb, rss_after_mb)}}. Callable from pytest (the
    once-per-round marked test in tests/test_stress_sf1.py) and from
    main() as the original one-off CLI."""
    t0 = time.perf_counter()
    d = build_replica_dir(spark)
    print(f"replica dir built in {time.perf_counter() - t0:.1f}s at {d}")

    from uw_hadoop_aglorithms_spark.operators import cluster, dedup, graph, ml, suites

    # what does the state-sized heuristic pick at 10×?
    _, edges = graph.build_graph(spark, d)
    n_edges = edges.count()
    pr_parts = graph._loop_shuffle_partitions(
        spark, n_edges * (len(graph.DEFAULT_SOURCES) + 1)
    ).n
    print(f"graph edges: {n_edges}  -> loop shuffle partitions: {pr_parts}")

    results = {}
    # semantic_dedup_pairs is deliberately ABSENT: with the codebook
    # fixed at KM_K=8 a 10× corpus makes Σ|cell|² grow ~100× — the
    # SemDeDup deployment scales K with the corpus (K ∝ N keeps the
    # within-cell work linear), which at K ≫ 100 means the IVF
    # DataFrame-join assignment of similarity.py, not literal-centroid
    # expressions. Documented in SCALING.md §Dedup.
    for name, fn in (
        ("pagerank_suite", suites.pagerank_suite),
        ("dedup_clusters", dedup.dedup_clusters),
        # round-6 session addition: the registered key's full form —
        # canonical selection over the 10× cluster table (9 exact twins
        # per doc make every cluster ~10 members wide; the quality join
        # and per-cluster argmax window ride on top of the LP clusters)
        ("canonical_per_cluster", dedup.canonical_per_cluster),
        ("kmeans_clusters", cluster.kmeans_clusters),
        # round-4 additions: the distributed GD trainer and the
        # winnowing cross-doc match (10 exact twins per doc make every
        # fingerprint ~10× hotter — the boilerplate-skew shape the
        # WINNOW_MAX_DF cap exists for)
        ("spam_batch_gd", ml.spam_batch_gd),
        ("winnow_dup_pairs", dedup.winnow_dup_pairs),
        # round-5 additions whose whole point is the scale regime
        # (VERDICT r5 item 6): the persisted-index near-dup lifecycle
        # (build 25k-doc index -> 25k-doc incremental batch -> extend
        # -> retract a replica -> compact) and the K-scales-with-N
        # SemDeDup (640 cells at 10× vs 64 at 1×)
        ("incr_index_lifecycle", stress_incr_index),
        ("sem_scaled_640", stress_sem_scaled),
        # round-6 additions: span-index lifecycle, worst-case retroactive
        # refresh under the twin layout; and the lake mutation lifecycle
        # (merge -> delete -> compact) at 10× partition density
        ("span_index_lifecycle", stress_span_index),
        ("lake_lifecycle", stress_lake_lifecycle),
        # round-6 late additions: the persisted-IVF mutation lifecycle
        # (the ANN_MAX_QUERIES cap bites at 10× — bounded broadcast
        # proven against a 10× corpus) and the streaming near-dup
        # ingest (8 real micro-batches, twins split across batches)
        ("ann_index_lifecycle", stress_ann_index),
        ("ivfpq_index", stress_ivfpq_index),
        ("stream_neardup_ingest", stress_stream_ingest),
        # round-7 additions: the KMV per-day rollup lifecycle (surgical
        # day refresh + bounded merge at 10× density) and the widened
        # 60-bit SimHash (9 exact twins per doc -> every band bucket
        # holds >= 10 identical signatures; the banded join's candidate
        # mass is the twin structure itself, the worst honest case)
        ("kmv_rollup_lifecycle", stress_kmv_rollup),
        ("simhash60", dedup.simhash_dedup),
    ):
        before = rss_mb()
        t0 = time.perf_counter()
        rows = fn(spark, d).collect()
        dt = time.perf_counter() - t0
        results[name] = (round(dt, 1), len(rows), before, rss_mb())
        print(f"{name}: {dt:.1f}s rows={len(rows)} driver_rss {before}->{rss_mb()}MB")
        spark.catalog.clearCache()
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    shutil.rmtree(d, ignore_errors=True)
    print("RESULTS", results)
    return {"pr_parts": pr_parts, "n_edges": n_edges, "results": results}


def main() -> None:
    spark = get_spark("stress-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    run(spark)
    spark.stop()


if __name__ == "__main__":
    main()
