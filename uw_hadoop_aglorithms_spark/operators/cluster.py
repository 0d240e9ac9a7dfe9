"""K-means clustering over `embeddings` (Lloyd's algorithm,
beyond-reference capability; the clustering step of training-data
curation — e.g. grouping documents by embedding for diversity sampling,
or training the IVF coarse quantizer of operators/similarity.py).

The reference's only iterative algorithms are PageRank (driver loop over
MR jobs) and the serial SGD fold; nothing clusters. This operator is the
canonical Spark Lloyd's shape: the centroid codebook (K×DIM doubles) is
BOUNDED driver/model state broadcast into each pass as literals — the
same pattern as similarity._ivf_centroids — while every per-point
computation stays in the plan. Per iteration: one map-side argmin over K
literal centroids, one groupBy(cluster, dim) average (shuffle of
|K·DIM| partials, independent of corpus size). At 100 TB this is
scan-bound, exactly like published Spark k-means.

Cross-engine exactness (what makes this oracle-able, which iterative ML
normally is not): centroid components are ROUNDED to KM_ROUND decimals
after every update, in both engines. Sum order across partitions differs
between Spark and DuckDB at ~1e-15 relative; rounding at 1e-6 collapses
the difference, so both engines enter every iteration with bit-identical
centroids, compute bit-identical distances (sequential fold in both),
and make identical assignments (ties break to the lower cluster id).
The DuckDB oracle replays the SAME iterations as pure SQL CTEs,
generated by _kmeans_oracle().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.functions import folds
from uw_hadoop_aglorithms_spark.operators.similarity import _vec_matrix
from uw_hadoop_aglorithms_spark.plans.layout import spread_for_cpu
from uw_hadoop_aglorithms_spark.sources.catalog import Catalog
from uw_hadoop_aglorithms_spark.functions.rounding import fround

#: K clusters, fixed-iteration Lloyd's (no convergence test: a fixed
#: trip count is deterministic and oracle-replayable).
KM_K = 8
KM_ITERS = 3
KM_DIM = 64
#: Init: vectors with vec_id ∈ {0, 5, …, 5·(K−1)} (present at every SF).
KM_STRIDE = 5
#: Centroid rounding — the cross-engine determinism contract.
KM_ROUND = 6


def _sqdist(vec: Column, cent: list[float]) -> Column:
    """Squared euclidean distance to a literal centroid — sequential
    zip+fold, the same order DuckDB's list_reduce folds."""
    return folds.sqdist_col(vec, F.array(*[F.lit(x) for x in cent]))


def _assign(vec: Column, cents: list[list[float]]) -> Column:
    """argmin cluster id: array_min over (dist, cid) structs — equal
    distances resolve to the lower cid, matching the oracle's
    row_number ORDER BY dist, cid. (Catalyst form — the parity
    reference for `_assign_frame`, which the hot path uses.)"""
    entries = [
        F.struct(_sqdist(vec, c).alias("dist"), F.lit(cid).alias("cid"))
        for cid, c in enumerate(cents)
    ]
    return F.array_min(F.array(*entries))


def _assign_frame(vecs: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, v) → (vec_id, v, cid, dist): the _assign argmin as an
    Arrow-batched numpy kernel (round 12). The K×D literal-centroid
    fold chains are interpreted per element in Catalyst AND recompile
    per iteration (the codebook literals change every round); the
    kernel takes every (row, centroid) distance from
    ``functions/folds.sqdists`` — the identical left-to-right IEEE fold
    of (x−c)² — and ``np.argmin`` takes the first minimum = the lower
    cid, matching the struct-min tie-break. Measured kmeans_clusters
    3.69 → 2.46 s at sf0.1 (interleaved n=4 minima), rows identical;
    pinned against the Catalyst form in tests/test_cluster.py. Map-side,
    partitioning preserved — the 100 TB shape is unchanged."""
    clist = [list(c) for c in cents]

    def fn(batches):
        import numpy as np
        import pandas as pd

        cs = np.asarray(clist, dtype=np.float64)  # K × D
        d = cs.shape[1]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {"vec_id": [], "v": [], "cid": [], "dist": []}
                )
                continue
            vm = _vec_matrix(pdf)
            # ragged or off-dim rows would need the Catalyst fold; the
            # embeddings contract is fixed KM_DIM — an explicit raise
            # (not an assert, which `python -O` strips) so a drifted
            # input fails loudly instead of silently computing distances
            # over the first d dims only (ADVICE r12)
            if vm.shape[1] != d:
                raise ValueError(
                    f"vector dim {vm.shape[1]} != centroid dim {d}"
                )
            acc = folds.sqdists(vm, cs)
            cid = np.argmin(acc, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "cid": cid.astype("int32"),
                    "dist": acc[np.arange(n), cid],
                }
            )

    return vecs.mapInPandas(
        fn, "vec_id long, v array<double>, cid int, dist double"
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread_for_cpu(Catalog(spark, sf_dir).embeddings, "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _init_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """K stride-sampled vectors as the deterministic init codebook (a
    bounded model-state load, not a data collect)."""
    rows = (
        Catalog(spark, sf_dir)
        .embeddings.where(
            (F.col("vec_id") % KM_STRIDE == 0)
            & (F.col("vec_id") < KM_STRIDE * KM_K)
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    return [list(r.v) for r in rows]


def _lloyd(vecs: DataFrame, cents: list[list[float]]) -> list[list[float]]:
    """KM_ITERS rounds of Lloyd's over a (vec_id, v) frame; returns the
    final rounded codebook. Pulled out of kmeans_clusters so
    dedup.semantic_dedup_pairs can reuse the identical trained
    centroids (and thus the identical oracle CTE prefix)."""
    for _ in range(KM_ITERS):
        assigned = _assign_frame(vecs, cents)
        # new centroid = per-dim mean, rounded (the determinism contract)
        upd = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(fround(F.avg("x"), KM_ROUND).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ps"))
            .select("cid", F.col("ps.m").alias("c"))
            .collect()
        )
        by_cid = {r.cid: list(r.c) for r in upd}
        # empty clusters keep their previous centroid
        cents = [by_cid.get(cid, cents[cid]) for cid in range(KM_K)]
    return cents


def final_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Trained codebook for external consumers (semantic dedup): runs
    the same deterministic Lloyd's loop and releases its scratch cache."""
    vecs = _vectors(spark, sf_dir).cache()
    try:
        return _lloyd(vecs, _init_centroids(spark, sf_dir))
    finally:
        vecs.unpersist()


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM_ITERS rounds of Lloyd's, then the per-cluster summary:
    (cluster_id, n_points, inertia, centroid_norm) for non-empty
    clusters. Fully value-hash checked against the generated SQL oracle.
    """
    vecs = _vectors(spark, sf_dir).cache()
    cents = _lloyd(vecs, _init_centroids(spark, sf_dir))

    final = _assign_frame(vecs, cents).select("vec_id", "cid", "dist")
    norms = {cid: folds.norm(c) for cid, c in enumerate(cents)}
    norm_col = F.lit(None).cast("double")
    for cid in range(KM_K - 1, -1, -1):
        norm_col = F.when(F.col("cluster_id") == cid, F.lit(norms[cid])).otherwise(
            norm_col
        )
    return (
        final.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.sum("dist"), KM_ROUND).alias("inertia"),
        )
        .withColumn("centroid_norm", F.round(norm_col, 9))
        .orderBy("cluster_id")
    )


# --- generated DuckDB oracle -------------------------------------------------

_V = "list_transform(embedding, x -> x::DOUBLE)"


def _dist_sql(v: str, c: str) -> str:
    """Sequential fold matching Spark's zip_with+aggregate order."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {KM_DIM} + 1), "
        f"j -> ({v}[j] - {c}[j]) * ({v}[j] - {c}[j]))), (acc, x) -> acc + x)"
    )


def kmeans_prefix_sql() -> str:
    """CTE chain replaying the exact Lloyd's iterations, ending at the
    final codebook `c{KM_ITERS}` (plus the vector CTE `e`). Shared by
    the kmeans summary oracle and the semantic-dedup oracle so both
    engines provably train on the SAME centroids."""
    parts = [
        f"""WITH e AS (
            SELECT vec_id, {_V} AS v FROM embeddings
        ),
        c0 AS (
            SELECT CAST(vec_id // {KM_STRIDE} AS INT) AS cid, {_V} AS v
            FROM embeddings
            WHERE vec_id % {KM_STRIDE} = 0 AND vec_id < {KM_STRIDE * KM_K}
        )"""
    ]
    for i in range(KM_ITERS):
        d = _dist_sql("e.v", f"c{i}.v")
        parts.append(
            f"""a{i} AS (
            SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c{i}.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {d}, c{i}.cid
                       ) AS rn
                FROM e, c{i}
            ) WHERE rn = 1
        ),
        u{i} AS (
            SELECT cid, j, round(avg(v[j]), {KM_ROUND}) + 0.0 AS m
            FROM a{i}, range(1, {KM_DIM} + 1) t(j)
            GROUP BY cid, j
        ),
        n{i} AS (
            SELECT cid, list(m ORDER BY j) AS v FROM u{i} GROUP BY cid
        ),
        c{i + 1} AS (
            SELECT c.cid, coalesce(n.v, c.v) AS v
            FROM c{i} c LEFT JOIN n{i} n USING (cid)
        )"""
        )
    return ",\n".join(parts)


def _kmeans_oracle() -> str:
    """Replay the exact Lloyd's iterations, then the cluster summary."""
    parts = [kmeans_prefix_sql()]
    dN = _dist_sql("e.v", f"cf.v")
    parts.append(
        f"""fin AS (
            SELECT vec_id, cid, dist FROM (
                SELECT e.vec_id, cf.cid, {dN} AS dist,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {dN}, cf.cid
                       ) AS rn
                FROM e, c{KM_ITERS} cf
            ) WHERE rn = 1
        ),
        nrm AS (
            SELECT cid, round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(v, x -> x * x)), (acc, x) -> acc + x)), 9)
                     AS centroid_norm
            FROM c{KM_ITERS}
        )
        SELECT fin.cid AS cluster_id, count(*) AS n_points,
               round(sum(dist), {KM_ROUND}) AS inertia,
               any_value(nrm.centroid_norm) AS centroid_norm
        FROM fin JOIN nrm ON nrm.cid = fin.cid
        GROUP BY fin.cid
        ORDER BY cluster_id"""
    )
    return ",\n".join(parts)


CLUSTER_ORACLES: dict[str, str] = {
    "kmeans_clusters": _kmeans_oracle(),
}
