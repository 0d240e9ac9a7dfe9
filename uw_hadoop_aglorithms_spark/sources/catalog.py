"""Catalog: load the engine's tables from a scale-factor directory.

Replaces the reference's per-program scan code (every Q*.scala re-implements
its own `--text` / `--parquet` branch, e.g. reference Spark/SparkSQL/
Q1.scala:30-41). One loader, named schemas, Parquet-native; the physical
scan choice belongs to the engine, not a user flag.

Scale notes:
- `spark.read.parquet` keeps the scan columnar and lets Catalyst push
  filters and prune columns down to the row-group level — at 100 TB, a
  typed-date filter skips whole row groups via min/max stats.
- Nothing here collects to the driver; `Catalog` hands out lazy DataFrames.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from uw_hadoop_aglorithms_spark.sources.schemas import TABLE_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_NAMES = tuple(TABLE_SCHEMAS)

#: (sf_dir, table) pairs whose on-disk schema has been checked this
#: process. With declared-schema reads (round 12) a missing/renamed
#: column no longer fails at analysis time — Parquet fills it with
#: NULLs silently — so drift is checked ONCE per (dir, table) per
#: process at first access instead (ADVICE r12), from the footer the
#: declared read skips.
_VALIDATED: set[tuple[str, str]] = set()


def _schema_drift(actual: StructType, declared: StructType) -> str | None:
    """None if the same column names carry the same types, in any order
    (the declared-schema read matches columns by name; nullability is
    not enforced: Parquet marks all testdata columns nullable);
    otherwise a 'disk=… declared=…' description."""
    got = {f.name: f.dataType.simpleString() for f in actual.fields}
    want = {f.name: f.dataType.simpleString() for f in declared.fields}
    return None if got == want else f"disk={got} declared={want}"


class Catalog:
    """Named-schema table access over one scale-factor directory.

    Usage::

        cat = Catalog(spark, "/root/testdata/sf0.01")
        cat.lineitem            # DataFrame (lazy)
        cat.table("orders")     # same thing, dynamic name
        cat.register_views()    # expose all tables to spark.sql(...)
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in TABLE_SCHEMAS:
            raise KeyError(f"unknown table {name!r}; catalog has {sorted(TABLE_SCHEMAS)}")
        if name not in self._cache:
            if name == "events":
                self._cache[name] = self._load_events()
            else:
                # Explicit declared schema (round 12): a bare
                # read.parquet() infers the schema by listing the path
                # and reading a footer on EVERY call — ~90 ms/table
                # measured at sf0.1, paid once per Catalog instance per
                # table, i.e. per registered query. The schemas are
                # already declared (TABLE_SCHEMAS) and drift is still
                # caught by validate_schemas(), which inference-reads on
                # purpose. `events` keeps inference: its ts physical
                # type varies (_load_events branches on it).
                self._check_schema(name)
                self._cache[name] = self.spark.read.schema(
                    TABLE_SCHEMAS[name]
                ).parquet(f"{self.sf_dir}/{name}.parquet")
            # local input size rides along so plans/layout.spread_for_cpu
            # can decide under-parallelism without planning the query
            # twice (no-op for non-local paths)
            from uw_hadoop_aglorithms_spark.plans.layout import (
                attach_size_hint,
            )

            attach_size_hint(
                self._cache[name], f"{self.sf_dir}/{name}.parquet"
            )
        return self._cache[name]

    def _check_schema(self, name: str) -> None:
        """Fail loudly on schema drift at first access (per process per
        (dir, table)): one inference read of the footer, compared by
        column name against the declared schema the actual read
        applies. Same comparison as validate_schemas(), which remains
        the all-tables sweeper for tests. Only a passing check is
        remembered, so a drifted table raises on every access."""
        key = (self.sf_dir, name)
        if key in _VALIDATED:
            return
        actual = self.spark.read.parquet(
            f"{self.sf_dir}/{name}.parquet"
        ).schema
        drift = _schema_drift(actual, TABLE_SCHEMAS[name])
        if drift:
            raise ValueError(
                f"schema drift in {self.sf_dir}/{name}.parquet: {drift}"
            )
        _VALIDATED.add(key)

    def _load_events(self) -> DataFrame:
        """Normalize `events.ts` to TIMESTAMP_NTZ — the stored NAIVE
        wall time, which is exactly what the DuckDB oracle reads.

        Round 7 (flake-harness finding): the previous cast to session
        TIMESTAMP made the instant wall − offset(session zone), which
        shifted ``F.window`` ALIGNMENT under zones whose offset is not
        a window multiple (tumbling 60-min windows landed on :30 under
        Asia/Kolkata) and shifted collect-time rendering. NTZ wall
        arithmetic is session-independent by CONSTRUCTION: window /
        session_window alignment, date_format day bucketing, interval
        arithmetic, and collect all operate on the wall itself. Only
        Structured Streaming requires TimestampType (watermarks reject
        NTZ), so the replay-dir writers convert at the stream boundary
        via functions/render.as_utc_instant.

        The testdata has shipped `ts` as both parquet TIMESTAMP(NANOS) —
        which Spark's reader rejects ([PARQUET_TYPE_ILLEGAL]) unless read as
        a long — and plain TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ).
        Branch on the dtype actually read instead of assuming one encoding:

        - LongType (nanosAsLong fallback): truncate nanos → micros with
          integer `div`, not float division, because ~1.7e18 ns exceeds
          double's 2^53 integer range; truncation matches DuckDB's
          TIMESTAMP_NS → TIMESTAMP conversion, keeping oracles exact.
        - TIMESTAMP_NTZ: pass through untouched.
        - TIMESTAMP (instant, incl. the nanos branch's
          `timestamp_micros`): instant → UTC wall as NTZ via
          `convert_timezone(current_timezone(), 'UTC', CAST(i AS
          TIMESTAMP_NTZ))` — the session-dependent cast composed with
          the session→UTC wall conversion is session-INDEPENDENT.
        """
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = self.spark.read.parquet(f"{self.sf_dir}/events.parquet")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        to_ntz = (
            "convert_timezone(current_timezone(), 'UTC',"
            " CAST({i} AS TIMESTAMP_NTZ))"
        )
        ts_type = raw.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return raw.withColumn(
                "ts", F.expr(to_ntz.format(i="timestamp_micros(ts div 1000)"))
            )
        if isinstance(ts_type, T.TimestampType):
            return raw.withColumn("ts", F.expr(to_ntz.format(i="ts")))
        return raw

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_SCHEMAS:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for spark.sql() queries."""
        for name in TABLE_SCHEMAS:
            self.table(name).createOrReplaceTempView(name)

    def validate_schemas(self) -> list[str]:
        """Compare on-disk schemas against the declared ones; return drift.

        Empty list == everything matches (_schema_drift comparison).
        """
        problems: list[str] = []
        for name, expected in TABLE_SCHEMAS.items():
            # inference read on purpose: table() now applies the declared
            # schema, which would make this check vacuous for non-events
            # tables — drift must be read off the parquet footer itself
            actual = (
                self.table(name).schema
                if name == "events"
                else self.spark.read.parquet(
                    f"{self.sf_dir}/{name}.parquet"
                ).schema
            )
            drift = _schema_drift(actual, expected)
            if drift:
                problems.append(f"{name}: {drift}")
        return problems


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Convenience: dict of all tables (lazy DataFrames) for one sf dir."""
    cat = Catalog(spark, sf_dir)
    return {name: cat.table(name) for name in TABLE_SCHEMAS}
