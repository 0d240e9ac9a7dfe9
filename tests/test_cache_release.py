"""Iterative operators release what they cache.

A frame left in Spark's CacheManager outlives the call that cached it:
a long-lived application pins its blocks forever, and when the next
call builds a plan that is not identical (checkpointed inputs get new
ids every call) it adds one more entry each time. Two calls in a row
must leave the entry count where it was before the first.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_TEST
from uw_hadoop_aglorithms_spark.operators import dedup, suites


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


@pytest.mark.parametrize(
    "fn", [suites.pagerank_suite, dedup.dedup_clusters], ids=lambda f: f.__name__
)
def test_repeated_calls_leave_cache_flat(spark, fn):
    before = _cache_entries(spark)
    for _ in range(2):
        fn(spark, SF_TEST).collect()
    assert _cache_entries(spark) == before
