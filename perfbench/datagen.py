"""Seeded inputs for the benchmark: a row-permuted copy of the sf0.01
fixture tables in ``perfbench/fixtures/``.

The fixtures are the tables the program's 50 registry keys are verified
against (deterministic synthetic data, seed 42), copied here because a
run reads nothing outside its checkout. ``--seed`` only permutes the
row order of every table: every seed holds the same rows, so oracle
hashes and plan-determined counts are comparable across seeds, while a
speed-up that depends on the stored row order shows up as a difference
between seeds. Each copy keeps its fixture's parquet schema (physical
types included: ``Catalog._load_events`` branches on the ``ts``
encoding) and has one row group, as the fixtures have.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def write_inputs(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seed's row-permuted tables to ``out_dir/<table>.parquet``.

    Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for fname in sorted(os.listdir(FIXTURES)):
        src = pq.ParquetFile(os.path.join(FIXTURES, fname))
        table = src.read()
        table = table.take(rng.permutation(table.num_rows))
        dst = os.path.join(out_dir, fname)
        pq.write_table(table, dst, row_group_size=max(1, table.num_rows))
        if pq.ParquetFile(dst).schema != src.schema:
            raise RuntimeError(f"{fname}: the copy's parquet schema differs from the fixture's")
        counts[fname.removesuffix(".parquet")] = table.num_rows
    return counts
