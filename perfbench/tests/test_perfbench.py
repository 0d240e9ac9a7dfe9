"""Self-checks of the benchmark. They start Spark and run the
dedup_stream_lake operations, so they take about two minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402


@pytest.fixture(scope="module")
def bench():
    cwd = os.getcwd()
    run.host_config()
    sys.path[:0] = [run.ROOT]
    import datagen

    sf_dir = os.path.join(run.WORK, "inputs")
    datagen.write_inputs(sf_dir, seed=5)
    b = run.Bench("dedup_stream_lake", sf_dir)
    b.hash_oracles()
    try:
        b.setup()
        b.run_pass()  # the first pass takes the one-time work out of the way
        yield b
    finally:
        b.stop()
        os.chdir(cwd)
        shutil.rmtree(run.WORK, ignore_errors=True)


@pytest.fixture(scope="module")
def traced(bench):
    return bench.traced_pass(), bench.traced_pass()


def test_plan_determined_counts_repeat(bench, traced):
    a, b = traced
    assert bench.failed == 0
    for key in ("stages", "shuffle_read_mb", "input_mb"):
        assert a["spark"][key] > 0
        assert a["spark"][key] == b["spark"][key], key
    assert len(a["progress"]) == len(b["progress"]) > 0


def test_per_layer_names_match_benchmark_json(bench, traced):
    import workloads

    setup = {"start_s": 1.0, "catalog_warm_s": 1.0, "total_s": 1.0}
    metrics = run.per_layer(
        bench, workloads.all_op_names(), setup, traced[0], {}, 1.0,
        {"leaked_tables": 0, "oracle_s": 0.0, "warm_passes": 1, "query_samples": 1,
         "query_p50_s": 1.0, "query_p90_s": 1.0},
    )
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    assert sorted(metrics) == sorted(m["name"] for m in declared["per_layer"])
    units = {m["name"]: m["unit"] for m in declared["per_layer"]}
    assert {k: u for k, (_, u) in metrics.items()} == units


def test_wrong_result_raises_failed_frac(bench):
    op = bench.ops[0]
    fetch = op.fetch

    def drop_a_row(df):
        cols, rows = fetch(df)
        return cols, rows[:-1]

    failed, attempted = bench.failed, bench.attempted
    call = bench.run_op(dataclasses.replace(op, fetch=drop_a_row))
    assert not call.ok
    assert call.build_s + call.collect_s > 0  # a failure still costs its time
    assert (bench.failed, bench.attempted) == (failed + 1, attempted + 1)
    assert bench.failed / bench.attempted > 0
    assert bench.run_op(op).ok
