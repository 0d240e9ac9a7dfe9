"""Schema contract against the REAL testdata directories.

Round-2 regression class: `Catalog._load_events` assumed the parquet `ts`
encoding (nanosecond longs) and broke every events consumer when the
testdata shipped TIMESTAMP(MICROS) instead. These tests load each table
from every scale-factor dir the harness uses, so a testdata dtype change
fails pytest before the driver ever runs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_is_wall_time_every_sf(spark, sf_dir):
    """events.ts must come out of the catalog as the NAIVE wall time
    (TIMESTAMP_NTZ — session-timezone-independent by construction,
    round 7), regardless of the parquet physical encoding (nanos-long
    or micros). Streaming converts to TimestampType at the replay
    boundary (runner._events_stream_schema)."""
    ev = Catalog(spark, sf_dir).events
    assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType), (
        f"{sf_dir}: events.ts loaded as {ev.schema['ts'].dataType}"
    )
    # and it must actually evaluate (analysis errors surface on collect)
    row = ev.select("ts").limit(1).collect()
    assert row and row[0][0] is not None


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_declared_schemas_match_disk(spark, sf_dir):
    """Every catalog table at every sf dir matches the declared schema."""
    problems = Catalog(spark, sf_dir).validate_schemas()
    assert problems == []


def test_schema_drift_raises_on_every_access(spark, tmp_path):
    """A drifted table must fail loudly on EVERY access, not only the
    first: the once-per-process check may remember a table only after
    its comparison passed, else the second access silently reads the
    renamed column as NULLs through the declared schema."""
    import duckdb

    duckdb.execute(
        "COPY (SELECT r_regionkey, r_name AS r_title "
        "FROM read_parquet('/root/testdata/sf0.001/region.parquet')) "
        f"TO '{tmp_path}/region.parquet' (FORMAT PARQUET)"
    )
    for _ in range(2):
        with pytest.raises(ValueError, match="schema drift"):
            Catalog(spark, str(tmp_path)).region


def test_schema_check_matches_columns_by_name(spark, tmp_path):
    """The declared-schema read resolves parquet columns by name, so a
    file with the right columns in another order must read correctly;
    a changed column type must still raise."""
    import duckdb

    from tests.conftest import SF_TEST

    src = f"read_parquet('{SF_TEST}/region.parquet')"
    for sub, cols in (
        ("reordered", "r_name, r_regionkey"),
        ("retyped", "CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name"),
    ):
        (tmp_path / sub).mkdir()
        duckdb.execute(
            f"COPY (SELECT {cols} FROM {src}) "
            f"TO '{tmp_path / sub}/region.parquet' (FORMAT PARQUET)"
        )
    want = sorted(Catalog(spark, SF_TEST).region.collect())
    assert sorted(Catalog(spark, str(tmp_path / "reordered")).region.collect()) == want
    with pytest.raises(ValueError, match="schema drift"):
        Catalog(spark, str(tmp_path / "retyped")).region
