"""Shared pytest fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_TEST = "/root/testdata/sf0.001"  # unit tests: smallest, fastest
SF_ORACLE = "/root/testdata/sf0.001"  # oracle parity in tests (driver uses sf0.01)


def _test_heap() -> str:
    """Driver heap of the test JVM: a quarter of physical memory, 2-8g.

    The session default (24g) is larger than a 16 GB host, and the test
    process also holds the DuckDB oracle and the Python workers, so an
    unbounded heap lets the JVM grow until the kernel kills it midway
    through the suite. SPARK_GRAFT_DRIVER_MEM still overrides."""
    import os

    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    heap_mb = max(2048, min(8192, mem_kb // 4096))
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_mb}m")


@pytest.fixture(scope="session")
def spark():
    from uw_hadoop_aglorithms_spark.session import get_spark

    s = get_spark(
        "uw-hadoop-aglorithms-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": _test_heap()},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same tables registered as views."""
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()
