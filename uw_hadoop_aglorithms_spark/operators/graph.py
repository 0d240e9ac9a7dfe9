"""Multi-source personalized PageRank (SURVEY.md §2.8, G1-G7).

Reference semantics (reference MapReduce/PageRank/
RunPersonalizedPageRankBasic.java): α = 0.15 jump probability (:377);
per-iteration scatter of rank/outdeg to out-neighbors (:120-161); dangling
("missing") mass computed by the driver from per-task side files (:309-326,
:466-470); ALL jump + missing mass goes to the personalization source
(:353-362); multi-source = one rank slot per source. The reference works in
log space (sumProbs log-add, :79-91) for float underflow; we use
linear-space doubles — a documented deviation (SURVEY.md §4): at our graph
sizes double precision cannot underflow, and it is what published Spark
PageRank implementations do. Validated against a pure-Python sequential
oracle (the reference's own pattern, SequentialPersonalizedPageRank.java).

Graph fixture (FIXTURES.md): edges = distinct (o_custkey → l_suppkey) via
orders ⋈ lineitem; vertex ids remap customers to [0, n_cust) and suppliers
to [n_cust, n_cust + n_supp) — both key spaces are contiguous 0-based in
the testdata, so the remap is arithmetic (no global sort, unlike a
row_number remap which would single-partition at scale). All suppliers are
dangling (no out-edges) and customers without orders are isolated, so the
dangling-mass path is exercised hard every iteration.

Scale design (100 TB / 1000-executor target):
- State is an exploded (id, source, rank) DataFrame: shuffles partition by
  vertex id, aggregation is a plain groupBy — no array-slot bookkeeping.
- missing mass per source is a |sources|-row aggregate, broadcast back into
  the plan — NO driver collect inside the loop (the reference round-tripped
  HDFS side files + job conf every iteration, :537-544,:577).
- Lineage is cut every iteration (localCheckpoint); with a
  `checkpoint_dir`, every CHECKPOINT_EVERY-th iteration lands in durable
  parquet instead (_materialize) — the cluster deployment mode: bounded
  executor memory, restartable, identical ranks (bit-exact, tested).
- Edges are re-used every iteration: cached for the length of one loop,
  partitioned by src so the scatter join co-locates with the rank state,
  and released when the loop returns (_rank_slots).
- Uniform PageRank is one more rank slot (GLOBAL) of the same loop with
  a uniform teleport vector, so pagerank_suite runs the global and
  personalized ranks in one loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

ALPHA = 0.15  # reference RunPersonalizedPageRankBasic.java:377
DEFAULT_SOURCES = (0, 1, 2)  # FIXTURES.md graph fixture
#: Slot id of uniform PageRank in the rank loop; vertex ids are >= 0, so
#: it never collides with a personalization source.
GLOBAL = -1
DEFAULT_ITERATIONS = 10
#: With a checkpoint_dir, every CHECKPOINT_EVERY-th iteration goes to
#: durable parquet instead of executor memory (SURVEY.md §7 Phase 4).
CHECKPOINT_EVERY = 5
TOP_K = 20  # reference ExtractTopPersonalizedPageRankNodes.java default
#: Dyadic 2^-40 quantization grid for the REGISTERED top-20 queries —
#: the determinism contract that makes the iterative float loop
#: value-hash checkable cross-engine with ZERO residual tie risk
#: (round 5: replaces the old PR_ROUND 1e-8 decimal rounding, whose
#: ~1e-8/value boundary-tie odds were the largest remaining exposure at
#: ~6e5 rounded values per run). Construction (ml.DYADIC_Q's, with
#: PageRank's own envelope argument):
#:  - each scattered contribution rank/deg AND each end-of-iteration
#:    rank (plus the GLOBAL slot's 1/n seed) is quantized to
#:    floor(x·2^40 + 0.5)/2^40 — every op exact or correctly-rounded
#:    IEEE, bit-deterministic in any engine;
#:  - state values are then exact 2^-40 multiples, so both per-
#:    iteration SUMS (the gather and the per-source total) are EXACT
#:    integer arithmetic in the 53-bit mantissa, order-independent.
#:    The exactness envelope |Σ| < 2^13 holds at ANY scale by mass
#:    conservation: every sum is bounded by the per-source total mass
#:    of ~1 — no corpus size, in-degree, or executor count breaks it;
#:  - the remaining per-value arithmetic (×(1−α), +α, /n) is
#:    correctly-rounded IEEE on bit-identical inputs.
#: The raw `personalized_pagerank`/`pagerank` default to NO quantization
#: and are validated against the sequential Python oracle instead.
#: Semantic deviation from the unquantized loop is ≤ 2^-41 per value
#: per step — ~1e-13, far below rank scale.
PR_Q = float(1 << 40)


def _dyq(col):
    """floor(x·2^40 + 0.5)/2^40 — the bit-portable dyadic quantizer."""
    return F.floor(col * F.lit(PR_Q) + F.lit(0.5)).cast("double") / F.lit(PR_Q)

#: Target rows per shuffle partition inside the iteration loop. The loop
#: runs ~3 tiny stages × `iterations`, so per-task overhead dominates —
#: sizing partitions to the STATE (not the session default) halves
#: wall-clock at bench scale and picks large partition counts again when
#: the graph is actually big.
_LOOP_ROWS_PER_PARTITION = 250_000


class _loop_shuffle_partitions:
    """Scoped spark.sql.shuffle.partitions override for iterative loops
    (restores the session value on exit; AQE still coalesces below it)."""

    def __init__(self, spark: SparkSession, state_rows: int):
        self.spark = spark
        self.n = max(2, min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            -(-state_rows // _LOOP_ROWS_PER_PARTITION),
        ))

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self.n

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _materialize(
    ranks: DataFrame,
    iteration: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
) -> DataFrame:
    """Cut lineage after an iteration — the state is consumed twice next
    round (totals + scatter), so unmaterialized lineage doubles per
    iteration (~2^k recompute; measured 55 s → 14 s at sf0.01).

    Measured alternative (round 2, rejected): computing `totals` from
    `gathered` makes the state single-consumer, which in principle
    allows checkpointing every K iterations — but the per-iteration
    broadcast subquery still re-executes its whole unmaterialized
    lineage, reproducing the 2^k blowup (52 s vs 7 s at sf0.1 for
    K=5). Per-iteration materialization is load-bearing; keep it.

    Measured alternatives (round 4, both rejected at sf0.1, same-session
    A/B, n=3): (a) materializing `gathered` instead of the rebuilt state
    with totals folded out of it (m = Σ gathered mass) — 13.4 s vs
    10.4 s for ppr_top20: the lazy rebuild pushes its join stages into
    every scatter job and AQE pays the extra stage-scheduling latency
    ten times over; (b) pre-dividing rank/deg below the scatter exchange
    with a deg>0 filter — 13.7 s vs 10.8 s: the filtered/projected side
    looks small enough that AQE flips the scatter to a per-iteration
    broadcast join, and ten driver round-trips cost more than the
    narrower shuffle saves. The global and personalized ranks share one
    loop as rank slots (_rank_slots), so pagerank_suite pays each
    iteration's stages once, not once per loop.

    Default: localCheckpoint (executor-memory-pinned — fine locally,
    lost on executor failure). With `checkpoint_dir`, every
    `checkpoint_every`-th iteration writes the state to parquet and
    re-reads it: lineage is cut through DURABLE storage, executor memory
    holds at most `checkpoint_every` in-memory checkpoints, and a failed
    run can restart from the last parquet state — the cluster deployment
    mode. Parquet round-trips doubles exactly, but the re-read changes
    partitioning and hence downstream summation ORDER, so the two modes
    agree to FP tolerance (~1e-15), not bit-for-bit — property-tested in
    tests/test_graph.py.
    """
    if checkpoint_dir is not None and (iteration + 1) % checkpoint_every == 0:
        path = f"{checkpoint_dir}/iter_{iteration:04d}"
        ranks.write.mode("overwrite").parquet(path)
        return ranks.sparkSession.read.parquet(path)
    return ranks.localCheckpoint(eager=True)


def build_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Derive (vertices, edges) from the star schema — G1.

    vertices: id (long) for every customer and supplier, link-less included
    (reference SequentialPageRank.java:46-49 requires isolated nodes).
    edges: src=customer-id, dst=supplier-id, distinct.
    """
    cat = Catalog(spark, sf_dir)
    n_cust = cat.customer.select(F.max("c_custkey")).first()[0] + 1
    customers = cat.customer.select(F.col("c_custkey").cast("long").alias("id"))
    suppliers = cat.supplier.select((F.col("s_suppkey") + F.lit(n_cust)).cast("long").alias("id"))
    vertices = customers.unionAll(suppliers)
    edges = (
        cat.orders.select("o_orderkey", "o_custkey")
        .join(cat.lineitem.select("l_orderkey", "l_suppkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + F.lit(n_cust)).cast("long").alias("dst"),
        )
        .distinct()
    )
    return vertices, edges


def personalized_pagerank(
    spark: SparkSession,
    sf_dir: str,
    sources: tuple[int, ...] = DEFAULT_SOURCES,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = CHECKPOINT_EVERY,
    quantize: bool = False,
) -> DataFrame:
    """Run multi-source PPR; returns (id, source, rank) — G3-G6.

    Per-iteration update, linear space (reference formula at :353-362):
        p'(v) = α·[v=s] + (1-α)·( Σ_{u→v} p(u)/deg(u) + missing_s·[v=s] )
    where missing_s = 1 − Σ_v gathered mass for source s (dangling loss).
    Mass is conserved exactly: Σ_v p'(v) = 1 per source.
    """
    vertices, edges = build_graph(spark, sf_dir)
    return _rank_slots(
        spark, vertices, edges, sources, False, iterations, alpha,
        checkpoint_dir, checkpoint_every, quantize,
    )


def pagerank(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = CHECKPOINT_EVERY,
    quantize: bool = False,
) -> DataFrame:
    """Uniform (non-personalized) PageRank — the reference's sequential
    oracle semantics (reference SequentialPageRank.java:100-117) as a
    distributed loop: p'(v) = α/N + (1-α)·(Σ_{u→v} p(u)/deg(u) + miss/N),
    dangling mass redistributed uniformly. Returns (id, rank): the
    GLOBAL slot of the shared rank loop, run alone.
    """
    vertices, edges = build_graph(spark, sf_dir)
    return _rank_slots(
        spark, vertices, edges, (), True, iterations, alpha,
        checkpoint_dir, checkpoint_every, quantize,
    ).select("id", "rank")


def _rank_slots(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    sources: tuple[int, ...],
    uniform: bool,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = CHECKPOINT_EVERY,
    quantize: bool = False,
) -> DataFrame:
    """The one rank loop: one slot per personalization source, plus the
    GLOBAL slot when `uniform`; returns (id, source, rank).

    Every slot runs the same scatter/gather/dangling-mass iteration and
    differs only in its teleport vector. Per row:
        rank' = (1-α)·(gathered + share) + tele
    with share = missing·[v=s], tele = α·[v=s] for a source slot s and
    share = missing/N, tele = α/N for the GLOBAL slot. Slots never read
    each other's rows (gather and totals group by source), so a slot's
    ranks do not depend on which other slots ride along.

    The graph frames cached here (edges, the src-partitioned adjacency,
    per-vertex degrees) are released on return; the returned state is
    already materialized (_materialize).
    """
    slots = [int(s) for s in sources] + ([GLOBAL] if uniform else [])
    n = vertices.count() if uniform else 1  # 1/n is read by GLOBAL only
    edges = edges.cache()  # count() below materializes; outdeg/edges_adj reuse
    cached = [edges]
    try:
        with _loop_shuffle_partitions(
            spark, edges.count() * max(1, len(slots))
        ) as n_parts:
            outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
            # deg rides in the rank STATE (vdeg below), so the edge cache
            # is the bare (src, dst) adjacency — one long column fewer
            # pinned and shipped through every scatter join.
            edges_adj = edges.repartition(n_parts, F.col("src")).cache()
            # (id, deg) for every vertex, deg=0 for dangling — joined back
            # each iteration when reinstating zero-in-mass vertices, so
            # `deg` rides in the rank state and dangling mass needs NO
            # second pass over gathered.
            vdeg = (
                vertices.join(outdeg, vertices.id == outdeg.src, "left")
                .select("id", F.coalesce("deg", F.lit(0)).alias("deg"))
                .cache()
            )
            cached += [edges_adj, vdeg]
            src_df = spark.createDataFrame([(s,) for s in slots], "source long")

            is_src = F.col("id") == F.col("source")
            is_global = F.col("source") == GLOBAL
            # state: one row per (vertex, slot); mass 1 at a source, 1/N
            # on every vertex of the GLOBAL slot
            seed = F.lit(1.0 / n)
            if quantize:
                # 1/n is not a dyadic rational -- quantize the seed so even
                # iteration 0's totals sum is exact (PR_Q note)
                seed = _dyq(seed)
            ranks = (
                vdeg.crossJoin(F.broadcast(src_df))
                .select(
                    "id",
                    "source",
                    F.when(is_global, seed)
                    .when(is_src, 1.0)
                    .otherwise(0.0)
                    .alias("rank"),
                    "deg",
                )
                .localCheckpoint(eager=True)
            )

            for i in range(iterations):
                # per-slot mass that will survive the scatter = rank held
                # by non-dangling vertices; missing = 1 - that. A
                # |slots|-row aggregate over the MATERIALIZED state — no
                # recompute, no driver collect (the reference round-
                # tripped HDFS side files here, :537-544).
                totals = (
                    ranks.filter(F.col("deg") > 0)
                    .groupBy("source")
                    .agg(F.sum("rank").alias("m"))
                )
                # scatter (G3): each vertex ships rank/deg along its out-edges
                mass = F.col("rank") / ranks.deg
                if quantize:
                    # dyadic contributions -> the gather sum is exact (PR_Q note)
                    mass = _dyq(mass)
                # PINNED to sort-merge (round 10, VERDICT r9 §Next 2): the
                # rank state is the UNBOUNDED side at 100 TB (|V|×|slots|
                # rows), so a broadcast of it never survives scale — yet
                # near the sf0.1 size threshold AQE's runtime stats flipped
                # one per-iteration join between broadcast (181 stages) and
                # shuffle (182 stages) depending on host era, oscillating
                # the bench fingerprint two rounds running. An explicit
                # MERGE hint opts the state joins out of AQE's dynamic
                # broadcast conversion: deterministic plans across hosts
                # AND the scale-correct shape. Values are unaffected — the
                # hash-checked suite runs quantized (dyadic sums are
                # order-exact).
                contribs = (
                    edges_adj.join(ranks.hint("merge"), edges_adj.src == ranks.id)
                    .select(
                        F.col("dst").alias("id"),
                        "source",
                        mass.alias("mass"),
                    )
                )
                # gather (G4): sum incoming mass per (vertex, slot)
                gathered = contribs.groupBy("id", "source").agg(
                    F.sum("mass").alias("mass")
                )
                # reinstate zero-in-mass vertices, add teleport + dangling
                # mass (G5)
                missing = F.lit(1.0) - F.coalesce(F.col("m"), F.lit(0.0))
                share = (
                    F.when(is_global, missing / n).when(is_src, missing).otherwise(0.0)
                )
                tele = (
                    F.when(is_global, F.lit(alpha / n))
                    .when(is_src, F.lit(alpha))
                    .otherwise(0.0)
                )
                rank_expr = (
                    F.lit(1 - alpha) * (F.coalesce(F.col("mass"), F.lit(0.0)) + share)
                    + tele
                )
                if quantize:
                    # determinism contract for the SQL replay oracle (see PR_Q)
                    rank_expr = _dyq(rank_expr)
                ranks = (
                    vdeg.crossJoin(F.broadcast(src_df))
                    # merge-pinned like the scatter join above: gathered is
                    # state-sized, never broadcastable at scale
                    .join(gathered.hint("merge"), ["id", "source"], "left")
                    .join(F.broadcast(totals), "source", "left")
                    .select("id", "source", rank_expr.alias("rank"), "deg")
                )
                # materialize EVERY iteration (G6) — see _materialize for
                # why, and for the durable parquet mode used on a real
                # cluster.
                ranks = _materialize(ranks, i, checkpoint_dir, checkpoint_every)

        return ranks.select("id", "source", "rank")
    finally:
        for df in cached:
            df.unpersist()


def _top20(ranks: DataFrame) -> DataFrame:
    """Top-TOP_K vertices per rank slot as (source, id, rank, pos) — G7 as
    a window rank, replacing the reference's mapper-side bounded priority
    queues + single reducer (reference
    ExtractTopPersonalizedPageRankNodes.java:58-147). A source slot ranks
    by raw rank and reports it rounded to 6 decimals; the GLOBAL slot
    rounds to 9 decimals first and ranks by that (ties to the smaller id)."""
    from pyspark.sql import Window

    is_global = F.col("source") == GLOBAL
    rank = F.when(is_global, F.round("rank", 9)).otherwise(F.col("rank"))
    w = Window.partitionBy("source").orderBy(rank.desc(), F.col("id"))
    return (
        ranks.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= TOP_K)
        .select(
            "source",
            "id",
            F.when(is_global, F.round("rank", 9))
            .otherwise(F.round("rank", 6))
            .alias("rank"),
            "pos",
        )
    )


def pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 by uniform PageRank. Runs with the per-iteration
    PR_Q dyadic contract, so the iteration-replaying DuckDB oracle
    (_pagerank_suite_oracle) value-hash-checks it; the UNROUNDED loop is
    separately validated against the sequential Python oracle in
    tests/test_graph.py."""
    vertices, edges = build_graph(spark, sf_dir)
    ranks = _rank_slots(spark, vertices, edges, (), True, quantize=True)
    return _top20(ranks).orderBy("pos").select("id", "rank")


def ppr_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vertices per source by rank (_top20). Runs with the PR_Q
    per-iteration contract (see pagerank_top20)."""
    ranks = personalized_pagerank(spark, sf_dir, quantize=True)
    return _top20(ranks).orderBy("source", "pos")


# --- generated DuckDB replay oracle ------------------------------------------
#
# The same trick that made kmeans_clusters hash-checkable (cluster.py):
# replay every iteration as a chained CTE, with BOTH engines quantizing
# contributions and state to the PR_Q dyadic grid per iteration. Each
# arithmetic step mirrors the Spark expression's operations exactly (the
# GLOBAL slot adds α/N last, the u_r CTEs first: one IEEE addition of
# the same two operands, so the same double); dyadic state makes every
# sum EXACT (order-independent), so parity is bit-for-bit with zero
# residual tie risk (PR_Q note).


def _pagerank_suite_oracle(
    iters: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
    sources: tuple[int, ...] = DEFAULT_SOURCES,
) -> str:
    a = repr(alpha)       # '0.15'  — parses to the same double as F.lit
    b = repr(1 - alpha)   # '0.85'  — Python-computed, mirrored exactly
    q = f"{PR_Q!r}::DOUBLE"
    src_vals = ", ".join(f"({s})" for s in sources)
    parts = [
        f"""WITH nc AS MATERIALIZED (SELECT max(c_custkey) + 1 AS n FROM customer),
edges AS MATERIALIZED (
    SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS src,
           CAST(l.l_suppkey + nc.n AS BIGINT) AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey, nc
),
outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
verts AS MATERIALIZED (
    SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
    UNION ALL SELECT CAST(s_suppkey + nc.n AS BIGINT) FROM supplier, nc
),
vdeg AS MATERIALIZED (
    SELECT id, coalesce(deg, 0) AS deg
    FROM verts LEFT JOIN outdeg ON verts.id = outdeg.src
),
nv AS MATERIALIZED (SELECT count(*) AS n FROM verts),
src(source) AS (VALUES {src_vals}),
p_r0 AS MATERIALIZED (
    SELECT id, CAST(source AS BIGINT) AS source,
           CASE WHEN id = source THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS rank,
           deg
    FROM vdeg CROSS JOIN src
),
u_r0 AS MATERIALIZED (
    SELECT id, floor(1.0::DOUBLE / nv.n * {q} + 0.5) / {q} AS rank, deg
    FROM vdeg, nv
)"""
    ]
    for i in range(iters):
        parts.append(
            f"""p_t{i} AS MATERIALIZED (
    SELECT source, sum(rank) AS m FROM p_r{i} WHERE deg > 0 GROUP BY source
),
p_g{i} AS MATERIALIZED (
    SELECT e.dst AS id, r.source,
           sum(floor(r.rank / r.deg * {q} + 0.5) / {q}) AS mass
    FROM edges e JOIN p_r{i} r ON e.src = r.id
    GROUP BY e.dst, r.source
),
p_r{i + 1} AS MATERIALIZED (
    SELECT v.id, s.source,
           floor(({b}::DOUBLE * (coalesce(g.mass, 0.0::DOUBLE)
                 + CASE WHEN v.id = s.source
                        THEN 1.0::DOUBLE - coalesce(t.m, 0.0::DOUBLE)
                        ELSE 0.0::DOUBLE END)
                 + CASE WHEN v.id = s.source
                        THEN {a}::DOUBLE ELSE 0.0::DOUBLE END)
                 * {q} + 0.5) / {q} AS rank,
           v.deg
    FROM vdeg v CROSS JOIN (SELECT CAST(source AS BIGINT) AS source FROM src) s
    LEFT JOIN p_g{i} g ON g.id = v.id AND g.source = s.source
    LEFT JOIN p_t{i} t ON t.source = s.source
),
u_t{i} AS MATERIALIZED (
    SELECT sum(rank) AS m FROM u_r{i} WHERE deg > 0
),
u_g{i} AS MATERIALIZED (
    SELECT e.dst AS id,
           sum(floor(r.rank / r.deg * {q} + 0.5) / {q}) AS mass
    FROM edges e JOIN u_r{i} r ON e.src = r.id
    GROUP BY e.dst
),
u_r{i + 1} AS MATERIALIZED (
    SELECT v.id,
           floor(({a}::DOUBLE / nv.n
                 + {b}::DOUBLE * (coalesce(g.mass, 0.0::DOUBLE)
                   + (1.0::DOUBLE - coalesce(t.m, 0.0::DOUBLE)) / nv.n))
                 * {q} + 0.5) / {q} AS rank,
           v.deg
    FROM vdeg v
    LEFT JOIN u_g{i} g ON g.id = v.id
    CROSS JOIN u_t{i} t CROSS JOIN nv
)"""
        )
    final = f"""SELECT 'ppr' AS variant, source, id, round(rank, 6) AS rank, pos
FROM (
    SELECT source, id, rank,
           row_number() OVER (PARTITION BY source ORDER BY rank DESC, id) AS pos
    FROM p_r{iters}
) WHERE pos <= {TOP_K}
UNION ALL
SELECT 'global' AS variant, CAST(-1 AS BIGINT) AS source, id, rank, pos
FROM (
    SELECT id, rank, row_number() OVER (ORDER BY rank DESC, id) AS pos
    FROM (SELECT id, round(rank, 9) AS rank FROM u_r{iters})
) WHERE pos <= {TOP_K}"""
    return ",\n".join(parts) + "\n" + final


GRAPH_ORACLES: dict[str, str] = {
    "pagerank_suite": _pagerank_suite_oracle(),
}
