"""PPR validation against a sequential pure-Python oracle (SURVEY.md §5.2 —
the reference's own pattern: SequentialPersonalizedPageRank.java), plus the
mass-conservation property the missing-mass machinery exists to maintain
(RunPersonalizedPageRankBasic.java:466-473)."""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pytest

from uw_hadoop_aglorithms_spark.operators import graph
from tests.conftest import SF_TEST

ALPHA = graph.ALPHA
SOURCES = graph.DEFAULT_SOURCES
ITERS = graph.DEFAULT_ITERATIONS


def _python_graph():
    con = duckdb.connect()
    n_cust = con.execute(
        f"SELECT max(c_custkey)+1 FROM read_parquet('{SF_TEST}/customer.parquet')"
    ).fetchone()[0]
    edges = con.execute(
        f"""
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + {n_cust} AS dst
        FROM read_parquet('{SF_TEST}/orders.parquet') o
        JOIN read_parquet('{SF_TEST}/lineitem.parquet') l ON o.o_orderkey = l.l_orderkey
        """
    ).fetchall()
    custs = [r[0] for r in con.execute(
        f"SELECT c_custkey FROM read_parquet('{SF_TEST}/customer.parquet')").fetchall()]
    supps = [r[0] + n_cust for r in con.execute(
        f"SELECT s_suppkey FROM read_parquet('{SF_TEST}/supplier.parquet')").fetchall()]
    return custs + supps, edges


def _python_ppr(vertices, edges, sources, iters, alpha):
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    result = {}
    for src in sources:
        r = {v: (1.0 if v == src else 0.0) for v in vertices}
        for _ in range(iters):
            gathered = defaultdict(float)
            for u, nbrs in out.items():
                if r[u]:
                    share = r[u] / len(nbrs)
                    for v in nbrs:
                        gathered[v] += share
            m = sum(gathered.values())
            r = {
                v: (1 - alpha) * (gathered.get(v, 0.0) + ((1.0 - m) if v == src else 0.0))
                + (alpha if v == src else 0.0)
                for v in vertices
            }
        result[src] = r
    return result


@pytest.fixture(scope="module")
def engine_ranks(spark):
    df = graph.personalized_pagerank(spark, SF_TEST)
    by_source = defaultdict(dict)
    for row in df.collect():
        by_source[row.source][row.id] = row.rank
    return by_source


def test_mass_conservation(engine_ranks):
    for src, ranks in engine_ranks.items():
        total = sum(ranks.values())
        assert abs(total - 1.0) < 1e-9, f"source {src}: total mass {total}"


def test_matches_sequential_oracle(engine_ranks):
    vertices, edges = _python_graph()
    oracle = _python_ppr(vertices, edges, SOURCES, ITERS, ALPHA)
    for src in SOURCES:
        eng, py = engine_ranks[src], oracle[src]
        assert set(eng) == set(py)
        worst = max(abs(eng[v] - py[v]) for v in py)
        assert worst < 1e-9, f"source {src}: max rank delta {worst}"


def _python_pagerank(vertices, edges, iters, alpha):
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    n = len(vertices)
    r = {v: 1.0 / n for v in vertices}
    for _ in range(iters):
        gathered = defaultdict(float)
        for u, nbrs in out.items():
            if r[u]:
                share = r[u] / len(nbrs)
                for v in nbrs:
                    gathered[v] += share
        m = sum(gathered.values())
        r = {
            v: alpha / n + (1 - alpha) * (gathered.get(v, 0.0) + (1.0 - m) / n)
            for v in vertices
        }
    return r


def test_uniform_pagerank_matches_sequential_oracle(spark):
    eng = {r.id: r.rank for r in graph.pagerank(spark, SF_TEST).collect()}
    vertices, edges = _python_graph()
    py = _python_pagerank(vertices, edges, ITERS, ALPHA)
    assert set(eng) == set(py)
    assert abs(sum(eng.values()) - 1.0) < 1e-9
    worst = max(abs(eng[v] - py[v]) for v in py)
    assert worst < 1e-9, f"max rank delta {worst}"


def test_top20_shape(spark):
    rows = graph.ppr_top20(spark, SF_TEST).collect()
    per_source = defaultdict(list)
    for r in rows:
        per_source[r.source].append(r)
    assert set(per_source) == set(SOURCES)
    for src, lst in per_source.items():
        assert [r.pos for r in lst] == list(range(1, len(lst) + 1))
        ranks = [r.rank for r in lst]
        assert ranks == sorted(ranks, reverse=True)


def test_parquet_checkpoint_mode_equals_local(spark, tmp_path):
    """Durable-parquet checkpointing (the cluster mode) must produce the
    same ranks as localCheckpoint mode. Parquet round-trips doubles
    exactly, but the re-read changes partitioning and hence downstream
    summation order — so agreement is to FP tolerance, not bit-for-bit.
    6 iterations crosses one CHECKPOINT_EVERY=5 boundary, so both
    materialization paths execute."""
    iters = graph.CHECKPOINT_EVERY + 1
    tol = 1e-12
    base = {r.id: r.rank for r in graph.pagerank(spark, SF_TEST, iterations=iters).collect()}
    ckpt = {
        r.id: r.rank
        for r in graph.pagerank(
            spark, SF_TEST, iterations=iters, checkpoint_dir=str(tmp_path / "pr")
        ).collect()
    }
    assert base.keys() == ckpt.keys()
    assert max(abs(base[v] - ckpt[v]) for v in base) < tol

    ppr_base = {
        (r.source, r.id): r.rank
        for r in graph.personalized_pagerank(spark, SF_TEST, iterations=iters).collect()
    }
    ppr_ckpt = {
        (r.source, r.id): r.rank
        for r in graph.personalized_pagerank(
            spark, SF_TEST, iterations=iters, checkpoint_dir=str(tmp_path / "ppr")
        ).collect()
    }
    assert ppr_base.keys() == ppr_ckpt.keys()
    assert max(abs(ppr_base[k] - ppr_ckpt[k]) for k in ppr_base) < tol


def test_rank_slots_are_independent(spark):
    """One quantized loop carrying every source plus GLOBAL: each slot's
    ranks bit-equal the same slot run alone, so slots never interact
    (the quantized sums are exact, so the comparison can be too)."""
    vertices, edges = graph.build_graph(spark, SF_TEST)

    def slots(sources, uniform):
        out = defaultdict(dict)
        for r in graph._rank_slots(
            spark, vertices, edges, sources, uniform, quantize=True
        ).collect():
            out[r.source][r.id] = r.rank
        return out

    together = slots(SOURCES, True)
    assert set(together) == {*SOURCES, graph.GLOBAL}
    for src in SOURCES:
        assert together[src] == slots((src,), False)[src]
    assert together[graph.GLOBAL] == slots((), True)[graph.GLOBAL]
