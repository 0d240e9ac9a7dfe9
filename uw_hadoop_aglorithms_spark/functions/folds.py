"""The one left-to-right fold behind every dot, norm and squared distance.

Bit-exact parity with the DuckDB oracle rests on one decision: each dot
product, norm² and squared distance is the IEEE left fold
``((0.0 + t0) + t1) + …`` over the per-dimension terms — the order of
Spark's ``aggregate`` and DuckDB's ``list_reduce`` — and every root is
the correctly rounded ``sqrt`` (never ``** 0.5``, which is libm
``pow``). This module spells that fold once, in the three forms the
engine evaluates it:

- Python scalars (driver-side codebooks, query norms, ADC tables):
  :func:`dot`, :func:`sumsq`, :func:`norm`;
- numpy row batches (the mapInPandas kernels): :func:`dots`,
  :func:`sqdists`, :func:`norms`, :func:`rowsums` — a per-dimension
  loop of whole-column adds, so every output element sees the same
  sequence of roundings as the scalar fold (no BLAS, no pairwise
  ``np.sum``). numpy is imported lazily, as the kernels always did;
- Catalyst columns (the plan-side folds and parity references):
  :func:`dot_col`, :func:`sumsq_col`, :func:`sqdist_col` over
  :func:`sum_col`'s ``aggregate(…, 0.0, acc + x)``.

A re-association (``math.fsum``, pairwise summation, a BLAS ``@``)
would change low bits and flip near-tie rankings against the oracle;
tests/test_folds.py pins the order.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def sumsq(v) -> float:
    return dot(v, v)


def norm(v) -> float:
    return math.sqrt(sumsq(v))


def dots(vm, W):
    """n×K dots of the rows of ``vm`` (n×d) against the K rows of ``W``."""
    import numpy as np

    W = np.asarray(W, dtype=np.float64)
    acc = np.zeros((vm.shape[0], W.shape[0]))
    for j in range(vm.shape[1]):
        acc = acc + vm[:, j][:, None] * W[None, :, j]
    return acc


def sqdists(vm, C):
    """n×K squared distances of the rows of ``vm`` (n×d) to the K rows of
    ``C``."""
    import numpy as np

    C = np.asarray(C, dtype=np.float64)
    acc = np.zeros((vm.shape[0], C.shape[0]))
    for j in range(vm.shape[1]):
        diff = vm[:, j][:, None] - C[None, :, j]
        acc = acc + diff * diff
    return acc


def rowsums(T):
    """Per-row left fold of the columns of ``T`` (n×m)."""
    import numpy as np

    acc = np.zeros(T.shape[0])
    for j in range(T.shape[1]):
        acc = acc + T[:, j]
    return acc


def norms(vm):
    """Row norms of ``vm`` (n×d)."""
    import numpy as np

    return np.sqrt(rowsums(vm * vm))


def sum_col(arr: Column | str) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot_col(a: Column | str, b: Column | str) -> Column:
    return sum_col(F.zip_with(a, b, lambda x, y: x * y))


def sumsq_col(v: Column | str) -> Column:
    return sum_col(F.transform(v, lambda x: x * x))


def sqdist_col(a: Column | str, b: Column | str) -> Column:
    return sum_col(F.zip_with(a, b, lambda x, c: (x - c) * (x - c)))
