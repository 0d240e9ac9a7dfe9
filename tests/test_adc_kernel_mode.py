"""similarity._adc_scored_kernel probe masking is chosen by an explicit
`mode`, never inferred from the first query: a query list where only
some queries carry `probes` must fail instead of silently scoring the
unprobed cells of the others."""

from __future__ import annotations

import pytest

from uw_hadoop_aglorithms_spark.operators import similarity

M = similarity.PQ_M


def _codes(spark):
    cols = ", ".join(f"c{m} int" for m in range(M))
    return spark.createDataFrame(
        [(1, *([0] * M), 1.0, 0), (2, *([1] * M), 4.0, 1)],
        f"vec_id long, {cols}, recon2 double, cell int",
    )


def _query(qid, probes=None):
    q = {"qid": qid, "nrm": 1.0, "tabs": [[1.0, 2.0]] * M}
    if probes is not None:
        q["probes"] = probes
    return q


def test_cell_mode_rejects_query_without_probes(spark):
    mixed = [_query(7, {0}), _query(8)]
    with pytest.raises(ValueError, match="probes"):
        similarity._adc_scored_kernel(_codes(spark), mixed, mode="cell")


def test_unknown_mode_rejected(spark):
    with pytest.raises(ValueError, match="mode"):
        similarity._adc_scored_kernel(_codes(spark), [_query(7)], mode="bucket")


def test_cell_mode_masks_and_all_mode_does_not(spark):
    qs = [_query(7, {0})]
    cell = similarity._adc_scored_kernel(_codes(spark), qs, mode="cell")
    full = similarity._adc_scored_kernel(_codes(spark), qs, mode="all")
    assert sorted(r.neighbor_id for r in cell.collect()) == [1]
    assert sorted(r.neighbor_id for r in full.collect()) == [1, 2]
    # adc = Σ_m tab_m[c_m] = M·1.0 for codes 0 → cos = M / (1.0·sqrt(1.0))
    assert [r.adc_cos for r in cell.collect()] == [float(M)]
