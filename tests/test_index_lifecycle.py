"""Teardown of the persisted similarity indexes (sources/indexes.py).

Every family's full lifecycle (build, extend, retract, compact) plus a
stale `__gen` generation — what a compaction interrupted before its
rename leaves — must disappear with one `drop_index`, from the catalog
AND the warehouse. And a suite member that raises mid-lifecycle must
not leak its scratch index tables.
"""

from __future__ import annotations

import glob
import os
import uuid
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TEST
from uw_hadoop_aglorithms_spark.operators import dedup, similarity, suites
from uw_hadoop_aglorithms_spark.sources import indexes


def _leftovers(spark, stem: str) -> list[str]:
    """Catalog tables and warehouse directories whose name starts with
    `stem`."""
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tables = [t.name for t in spark.catalog.listTables() if t.name.startswith(stem)]
    return tables + glob.glob(f"{warehouse}/{stem}*")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_RUN = "a b c d e f g h i j"
_OLD = [(1, f"x1 {_RUN} y1"), (2, f"x2 {_RUN} y2"), (3, "m n o p q r s t u v")]
_NEW = [(4, f"z4 {_RUN} w4")]


def _neardup(spark, prefix):
    dedup.save_neardup_index(_docs(spark, _OLD), prefix)
    dedup.extend_neardup_index(_docs(spark, _NEW), prefix)
    dedup.remove_from_neardup_index(spark, prefix, [2])
    dedup.compact_neardup_index(spark, prefix)
    # the streaming ingest's side table
    spark.createDataFrame([(0,)], "batch_id long").write.format(
        "parquet"
    ).saveAsTable(indexes.table_name(prefix, "ingest_log"))
    return "hsets", "doc_id"


def _span(spark, prefix):
    dedup.save_span_index(_docs(spark, _OLD), prefix)
    dedup.extend_span_index(_docs(spark, _NEW), prefix)
    dedup.remove_from_span_index(spark, prefix, [2])
    dedup.compact_span_index(spark, prefix)
    return "grams", "doc_id"


def _ann(spark, prefix):
    emb = similarity._normed(spark, SF_TEST)
    cents = similarity._ivf_centroids(spark, SF_TEST)
    similarity.save_ann_index(spark, emb.filter(F.col("vec_id") < 250), prefix, cents)
    similarity.extend_ann_index(spark, emb.filter(F.col("vec_id") >= 250), prefix)
    similarity.remove_from_ann_index(spark, prefix, [2])
    similarity.compact_ann_index(spark, prefix)
    return "cells", "vec_id"


def _pq(spark, prefix):
    emb = similarity._normed(spark, SF_TEST)
    similarity.save_pq_index(spark, SF_TEST, prefix)
    similarity.extend_pq_index(spark, emb.filter(F.col("vec_id") < 5), prefix)
    indexes.retract(spark, "pq", prefix, [2])
    indexes.compact(spark, "pq", prefix)
    return "pqcodes", "vec_id"


@pytest.mark.parametrize(
    "family, lifecycle",
    [("neardup", _neardup), ("span", _span), ("ann", _ann), ("pq", _pq)],
)
def test_drop_index_leaves_no_table(spark, family, lifecycle):
    prefix = f"life_{family}_{uuid.uuid4().hex[:10]}"
    try:
        table, key = lifecycle(spark, prefix)
        name = indexes.table_name(prefix, table)
        # compaction applied the retraction and consumed the tombstones
        assert spark.table(name).filter(F.col(key) == 2).count() == 0
        tomb = indexes.table_name(prefix, indexes.FAMILIES[family].tomb)
        assert not spark.catalog.tableExists(tomb)
        # a compaction interrupted before its rename
        spark.table(name).write.format("parquet").saveAsTable(f"{name}__gen")
        assert _leftovers(spark, f"{prefix}_")
    finally:
        indexes.drop_index(spark, family, prefix)
    assert _leftovers(spark, f"{prefix}_") == []


def test_span_live_view_uses_span_tombstones(spark):
    """The near-dup helper's live view of the span table pairs it with
    the SPAN family's tombstones, not the near-dup ones."""
    prefix = f"spanlive_{uuid.uuid4().hex[:10]}"
    try:
        dedup.save_span_index(_docs(spark, _OLD), prefix)
        dedup.remove_from_span_index(spark, prefix, [2])
        live = dedup._live_index(spark, prefix, "grams")
        assert {r.doc_id for r in live.select("doc_id").distinct().collect()} == {1, 3}
    finally:
        indexes.drop_index(spark, "span", prefix)


def _boom(*_args, **_kwargs):
    raise RuntimeError("injected member failure")


@pytest.mark.parametrize(
    "suite, module, member, stems",
    [
        (suites.ann_topk, similarity, "ann_index_topk", ("ann_idx", "ann_pq")),
        (suites.neardup_pairs, dedup, "incremental_neardup_pairs", ("ndp_incr",)),
    ],
    ids=["ann_topk", "neardup_pairs"],
)
def test_failing_member_leaks_no_index(spark, monkeypatch, suite, module, member, stems):
    """A member that raises after building its index must re-raise
    through the suite and still drop every table of its scratch index
    (its siblings' too)."""
    monkeypatch.setattr(module, member, _boom)
    with pytest.raises(RuntimeError, match="injected member failure"):
        suite(spark, SF_TEST)
    for stem in stems:
        assert _leftovers(spark, f"{stem}_{os.getpid()}_") == []
