"""functions/folds.py: the one left-to-right fold, in all three forms.

The numpy and Catalyst forms must return the SAME doubles as the
Python scalar fold — that identity is what keeps the ANN / k-means /
dedup kernels bit-exact against their Catalyst references and the
DuckDB oracles. The cancellation case pins the order itself: any
compensated (fsum) or pairwise re-association returns 1.0, not 0.0.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pytest

from uw_hadoop_aglorithms_spark.functions import folds

CANCEL_A = [1e16, 1.0, -1e16]
CANCEL_B = [1.0, 1.0, 1.0]


def _rand(shape, seed):
    # float32 → float64, as the embeddings column is cast in every plan
    rng = np.random.default_rng(seed)
    return rng.standard_normal(shape).astype(np.float32).astype(np.float64)


@pytest.mark.parametrize("d", [64, 8])
def test_numpy_forms_bit_equal_python_forms(d):
    vm, W = _rand((37, d), d), _rand((5, d), d + 1)
    dots, sq = folds.dots(vm, W), folds.sqdists(vm, W)
    assert dots.shape == sq.shape == (37, 5)
    for i, row in enumerate(vm.tolist()):
        for k, w in enumerate(W.tolist()):
            assert dots[i, k] == folds.dot(row, w)
            assert sq[i, k] == folds.sumsq([x - c for x, c in zip(row, w)])
    assert folds.norms(vm).tolist() == [folds.norm(r) for r in vm.tolist()]
    assert folds.rowsums(vm).tolist() == [
        reduce(lambda acc, x: acc + x, r, 0.0) for r in vm.tolist()
    ]


def test_left_fold_order_pinned():
    """((0 + 1e16) + 1) − 1e16 == 0.0 in left-fold order; fsum says 1.0."""
    assert math.fsum(x * y for x, y in zip(CANCEL_A, CANCEL_B)) == 1.0
    assert folds.dot(CANCEL_A, CANCEL_B) == 0.0
    assert folds.dots(np.array([CANCEL_A]), [CANCEL_B])[0, 0] == 0.0
    assert folds.rowsums(np.array([CANCEL_A]))[0] == 0.0


def test_catalyst_forms_equal_python_forms(spark):
    from pyspark.sql import functions as F

    rows = [
        (0, CANCEL_A, CANCEL_B),
        (1, _rand(8, 11).tolist(), _rand(8, 12).tolist()),
        (2, _rand(8, 13).tolist(), [0.0] * 8),
    ]
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>")
    got = {
        r.id: r
        for r in df.select(
            "id",
            folds.dot_col("a", "b").alias("dot"),
            folds.sumsq_col("a").alias("sumsq"),
            F.sqrt(folds.sumsq_col("a")).alias("norm"),
            folds.sqdist_col("a", "b").alias("sqdist"),
            folds.sum_col("a").alias("sum"),
        ).collect()
    }
    for i, a, b in rows:
        r = got[i]
        assert r.dot == folds.dot(a, b)
        assert r.sumsq == folds.sumsq(a)
        assert r.norm == folds.norm(a)
        assert r.sqdist == folds.sumsq([x - c for x, c in zip(a, b)])
        assert r.sum == reduce(lambda acc, x: acc + x, a, 0.0)
    assert got[0].dot == 0.0
