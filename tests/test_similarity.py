"""Similarity-search invariants at sf0.001 (oracle hash parity is the
driver's job)."""

from __future__ import annotations

import pytest

from uw_hadoop_aglorithms_spark.operators import similarity
from uw_hadoop_aglorithms_spark.sources import indexes
from tests.conftest import SF_TEST


@pytest.fixture(scope="module")
def brute(spark):
    return similarity.ann_brute_topk(spark, SF_TEST).collect()


def test_brute_topk_shape(brute):
    by_q = {}
    for r in brute:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.query_id % similarity.QUERY_STRIDE == 0
        assert r.neighbor_id != r.query_id
        assert -1.0 - 1e-12 <= r.cosine <= 1.0 + 1e-12
    for q, rows in by_q.items():
        assert [r.rank for r in rows] == list(range(1, similarity.TOP_K + 1))
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_lsh_recall_beats_random_probing(spark, brute):
    """Probing 5/16 of buckets at random would give recall ≈ 0.31; the
    sign-bucket LSH must do meaningfully better even on this
    near-isotropic fixture corpus (measured ~0.5)."""
    lsh = similarity.ann_lsh_topk(spark, SF_TEST).collect()
    b = {(r.query_id, r.neighbor_id) for r in brute}
    l = {(r.query_id, r.neighbor_id) for r in lsh}
    assert len(b & l) / len(b) >= 0.35
    # the rerank is exact, so any pair in both must carry the same cosine
    bc = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in lsh:
        if (r.query_id, r.neighbor_id) in bc:
            assert r.cosine == bc[(r.query_id, r.neighbor_id)]


def test_ivf_recall_beats_random_probing(spark, brute):
    """Probing 2/NLIST cells at random would give recall ≈ 2/nlist; the
    max-cosine cell assignment must do meaningfully better (similar
    vectors land in the same cell). The rerank is exact cosine."""
    ivf = similarity.ann_ivf_topk(spark, SF_TEST).collect()
    nlist = len(similarity._ivf_centroids(spark, SF_TEST))
    assert 1 <= nlist <= similarity.IVF_NLIST
    b = {(r.query_id, r.neighbor_id) for r in brute}
    v = {(r.query_id, r.neighbor_id) for r in ivf}
    random_recall = similarity.IVF_NPROBE / nlist
    assert len(b & v) / len(b) >= min(1.0, random_recall + 0.1)
    bc = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bc:
            assert r.cosine == bc[(r.query_id, r.neighbor_id)]


def test_embed_quantize_error_bound(spark):
    """Affine int8 coding guarantees |x - recon| <= scale/2 (+ float
    slack); codes span [0,255]; degenerate scale never divides."""
    from tests.conftest import SF_TEST

    rows = similarity.embed_quantize(spark, SF_TEST).collect()
    assert rows
    for r in rows:
        assert r.scale >= 0
        assert r.max_abs_err <= r.scale / 2 + 1e-9
        assert r.mse <= r.max_abs_err**2 + 1e-12
        codes = [int(c) for c in r.codes.split("|")]
        assert all(0 <= c <= 255 for c in codes)
        assert min(codes) == 0 and max(codes) == 255 or r.scale == 0


def test_pq_adc_recall_and_exact_rerank(spark, brute):
    """PQ-ADC with a 50-candidate shortlist must beat random candidate
    selection by a wide margin (random: 50/499 ≈ 0.1 recall; measured
    ~0.5 even with the untrained sampled codebook on this isotropic
    fixture), every emitted cosine must be EXACT (the rerank contract
    shared with LSH/IVF), and the codes must quantize every corpus
    vector (argmin is total)."""
    pq = similarity.ann_pq_topk(spark, SF_TEST).collect()
    b = {(r.query_id, r.neighbor_id) for r in brute}
    p = {(r.query_id, r.neighbor_id) for r in pq}
    assert len(b & p) / len(b) >= 0.3
    bc = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in pq:
        if (r.query_id, r.neighbor_id) in bc:
            assert r.cosine == bc[(r.query_id, r.neighbor_id)]
    # every query emits a full top-k (shortlist >= k candidates exist)
    from collections import Counter
    per_q = Counter(r.query_id for r in pq)
    assert all(v == similarity.TOP_K for v in per_q.values())


def _uniq(tag: str) -> str:
    """Unique catalog-table prefix per test invocation (fixed names
    collide across concurrent runs sharing one warehouse)."""
    import uuid

    return f"{tag}_{uuid.uuid4().hex[:10]}"


def test_ann_index_lifecycle_maintenance_invariants(spark):
    """The persisted-IVF maintenance contract: save(A)+extend(B) answers
    queries exactly like the one-shot IVF over A∪B; retraction hides
    neighbors logically; compaction changes nothing a query sees, drops
    the tombstones, and bounds file counts; re-adding the retracted
    batch restores one-shot parity bit-for-bit."""
    import glob
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    pfx = _uniq("annidx")
    cents = similarity._ivf_centroids(spark, SF_TEST)
    emb = similarity._normed(spark, SF_TEST)
    ref = similarity.ann_ivf_topk(spark, SF_TEST).collect()
    try:
        similarity.save_ann_index(
            spark, emb.filter(F.col("vec_id") < 250), pfx, cents
        )
        similarity.extend_ann_index(
            spark, emb.filter(F.col("vec_id") >= 250), pfx
        )
        got = similarity.ann_index_topk(spark, SF_TEST, pfx).collect()
        assert got == ref  # fresh-build equivalence, bit-for-bit

        # the probed-cell partition prune must be visible in the plan
        plan = (
            similarity.ann_index_topk(spark, SF_TEST, pfx)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
        assert pf and any("cell" in ln for ln in pf)

        sub = [
            int(r.vec_id)
            for r in spark.table(f"{pfx}_cells")
            .where("vec_id % 7 = 3")
            .select("vec_id")
            .collect()
        ][:20]
        similarity.remove_from_ann_index(spark, pfx, sub)
        tomb = similarity.ann_index_topk(spark, SF_TEST, pfx).collect()
        assert all(r.neighbor_id not in set(sub) for r in tomb)

        # many tiny appends to give compaction real work
        for vid in sub[:4]:
            similarity.extend_ann_index(
                spark, emb.filter(F.col("vec_id") == vid), pfx
            )
        similarity.remove_from_ann_index(spark, pfx, sub[:4])

        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        files_before = len(
            glob.glob(f"{warehouse}/{pfx}_cells/cell=*/*.parquet")
        )
        similarity.compact_ann_index(spark, pfx)
        files_after = len(
            glob.glob(f"{warehouse}/{pfx}_cells/cell=*/*.parquet")
        )
        assert files_after < files_before
        assert files_after <= similarity.IVF_NLIST
        assert not spark.catalog.tableExists(f"{pfx}_cells_tombstones")
        assert similarity.ann_index_topk(spark, SF_TEST, pfx).collect() == tomb

        similarity.extend_ann_index(
            spark, emb.filter(F.col("vec_id").isin(sub)), pfx
        )
        assert similarity.ann_index_topk(spark, SF_TEST, pfx).collect() == ref
    finally:
        for t in (f"{pfx}_cells", f"{pfx}_centroids",
                  f"{pfx}_cells_tombstones", f"{pfx}_cells__gen"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_tombstone_view_equals_fresh_build_without_retracted(spark):
    """Property (seeded-random retraction sets): answering from the
    tombstoned live index is indistinguishable from building a fresh
    index over the corpus minus the retracted vectors — retraction must
    be a pure set-minus on what queries can see, never an approximation
    of it. Query vectors themselves stay in the corpus (retracting a
    query only removes it as a CANDIDATE; _is_query still selects it)."""
    import random

    from pyspark.sql import functions as F

    cents = similarity._ivf_centroids(spark, SF_TEST)
    emb = similarity._normed(spark, SF_TEST)
    ids = [int(r.vec_id) for r in emb.select("vec_id").collect()]
    rng = random.Random(0xC0FFEE)
    for trial in range(3):
        retract = rng.sample(ids, k=40)
        pfx_t = _uniq(f"annprop{trial}t")
        pfx_f = _uniq(f"annprop{trial}f")
        try:
            similarity.save_ann_index(spark, emb, pfx_t, cents)
            similarity.remove_from_ann_index(spark, pfx_t, retract)
            via_tomb = similarity.ann_index_topk(spark, SF_TEST, pfx_t).collect()

            similarity.save_ann_index(
                spark, emb.filter(~F.col("vec_id").isin(retract)), pfx_f, cents
            )
            via_fresh = similarity.ann_index_topk(spark, SF_TEST, pfx_f).collect()
            assert via_tomb == via_fresh, f"trial {trial} diverged"
            assert all(r.neighbor_id not in set(retract) for r in via_tomb)
        finally:
            for p in (pfx_t, pfx_f):
                for t in (f"{p}_cells", f"{p}_centroids", f"{p}_cells_tombstones"):
                    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivfpq_persisted_codes_recall_exactness_and_plan(spark, brute):
    """IVF-ADC from persisted codes: emitted cosines are EXACT (a
    subset of brute's values per query), recall of the true top-1 is
    high on the fixture, the codes scan reads NO vector column
    (compressed-domain scoring certificate — the scan schema is codes +
    recon2 + ids only), prunes to the probed cells, and extending a
    half-built index answers exactly like the one-shot build."""
    from pyspark.sql import functions as F

    pfx = _uniq("ivfpq")
    try:
        similarity.save_pq_index(spark, SF_TEST, pfx)
        res = similarity.ann_ivfpq_topk(spark, SF_TEST, pfx)
        rows = res.collect()

        bmap = {}
        for r in brute:
            bmap.setdefault(r.query_id, {})[r.neighbor_id] = r.cosine
        top1 = {r.query_id: r.neighbor_id for r in brute if r.rank == 1}
        hits = sum(
            1 for r in rows if r.rank == 1 and top1.get(r.query_id) == r.neighbor_id
        )
        n_q = len({r.query_id for r in rows})
        assert hits / n_q >= 0.5  # 2-of-8 cell probing, same bar as IVF
        # exactness: any (q, n) also scored by brute carries the SAME double
        for r in rows:
            if r.neighbor_id in bmap.get(r.query_id, {}):
                assert r.cosine == bmap[r.query_id][r.neighbor_id]

        plan = res._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.split("\n") if "pqcodes" in ln]
        assert scans, "codes table scan missing from the plan"
        assert all("v#" not in s and "embedding" not in s for s in scans), (
            "ADC scoring must not read a vector column from the codes table"
        )
        pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
        assert pf and any("cell" in ln for ln in pf)

        # extend equivalence: rebuild codes over half, extend the rest
        emb = similarity._normed(spark, SF_TEST)
        cents = similarity.load_ann_centroids(spark, pfx)
        cb = similarity.load_pq_codebook(spark, pfx)
        indexes.write(
            similarity._pq_encode(emb.filter(F.col("vec_id") < 250), cents, cb),
            pfx, "pqcodes",
        )
        similarity.extend_pq_index(
            spark, emb.filter(F.col("vec_id") >= 250), pfx
        )
        assert similarity.ann_ivfpq_topk(spark, SF_TEST, pfx).collect() == rows
    finally:
        for t in (f"{pfx}_pqcodes", f"{pfx}_centroids", f"{pfx}_pqcb"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_filtered_ann_pre_filter_semantics(spark):
    """Filtered search must (a) return only same-label neighbors, (b) be
    a subset of the within-label brute-force ground truth with
    bit-identical cosines, and (c) beat the post-filter strategy the
    operator exists to replace (post-filtering the unfiltered IVF top-k
    leaves most queries starved below k same-label rows)."""
    from pyspark.sql import functions as F

    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    filt = similarity.ann_ivf_filtered_topk(spark, SF_TEST).collect()
    assert filt
    for r in filt:
        assert labels[r.query_id] == labels[r.neighbor_id]

    # within-label brute force ground truth, per query
    emb = similarity._normed(spark, SF_TEST, extra_cols=("label",))
    q = emb.filter(similarity._is_query(F.col("vec_id"))).alias("q")
    c = emb.alias("c")
    brute_rows = (
        q.join(
            c,
            (F.col("q.label") == F.col("c.label"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            similarity._cosine("q", "c").alias("cosine"),
        )
        .collect()
    )
    truth = {(r.query_id, r.neighbor_id): r.cosine for r in brute_rows}
    for r in filt:
        assert (r.query_id, r.neighbor_id) in truth
        assert r.cosine == truth[(r.query_id, r.neighbor_id)]

    # post-filter starvation: take the plain IVF top-k, filter by label
    plain = similarity.ann_ivf_topk(spark, SF_TEST).collect()
    post_k: dict[int, int] = {}
    for r in plain:
        if labels[r.query_id] == labels[r.neighbor_id]:
            post_k[r.query_id] = post_k.get(r.query_id, 0) + 1
    pre_k: dict[int, int] = {}
    for r in filt:
        pre_k[r.query_id] = pre_k.get(r.query_id, 0) + 1
    starved = [
        qid for qid in pre_k if post_k.get(qid, 0) < min(pre_k[qid], similarity.TOP_K)
    ]
    assert starved, (
        "with 10 balanced labels, post-filtering the unfiltered top-10 "
        "must starve at least one query below the pre-filter's k"
    )


# --- round-13 kernel parity pins ------------------------------------------------
# The scoring/encode kernels must be BYTE-identical (ids, ranks, cosine
# doubles) to the round-12 Catalyst forms they replaced — the
# cluster._assign_frame discipline applied to the ANN family.


def _rows_key(rows):
    return [
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in rows
    ]


def test_brute_kernel_matches_catalyst(spark):
    got = similarity.ann_brute_topk(spark, SF_TEST).collect()
    want = similarity.ann_brute_topk_catalyst(spark, SF_TEST).collect()
    assert _rows_key(got) == _rows_key(want)


def test_lsh_kernel_matches_catalyst(spark):
    got = similarity.ann_lsh_topk(spark, SF_TEST).collect()
    want = similarity.ann_lsh_topk_catalyst(spark, SF_TEST).collect()
    assert _rows_key(got) == _rows_key(want)


def test_ivf_kernel_matches_catalyst(spark):
    got = similarity.ann_ivf_topk(spark, SF_TEST).collect()
    want = similarity._ivf_probe_topk_catalyst(spark, SF_TEST).collect()
    assert _rows_key(got) == _rows_key(want)


def test_filtered_kernel_matches_catalyst(spark):
    got = similarity.ann_ivf_filtered_topk(spark, SF_TEST).collect()
    want = similarity._ivf_probe_topk_catalyst(
        spark, SF_TEST, match_cols=("label",)
    ).collect()
    assert _rows_key(got) == _rows_key(want)


def test_pq_encode_kernel_matches_catalyst(spark):
    """Codes (ints), recon2 (fold doubles) and nrm must be bit-identical
    to the Catalyst enc exprs they replaced."""
    cb = similarity._pq_codebook(spark, SF_TEST)
    got = {
        r.vec_id: (
            [r[f"c{m}"] for m in range(similarity.PQ_M)], r.recon2, r.nrm
        )
        for r in similarity._pq_encode_frame(
            similarity._vec_scan(spark, SF_TEST), cb
        ).collect()
    }
    emb = similarity._normed(spark, SF_TEST)
    enc = emb.selectExpr("*", *similarity._pq_enc_exprs(cb))
    enc = enc.selectExpr("*", similarity._pq_recon_expr(cb))
    want = {
        r.vec_id: (
            [r[f"c{m}"] for m in range(similarity.PQ_M)], r.recon2, r.nrm
        )
        for r in enc.collect()
    }
    assert got == want


def test_assign_cells_kernel_matches_catalyst(spark):
    from pyspark.sql import functions as F

    cents = similarity._ivf_centroids(spark, SF_TEST)
    emb = similarity._normed(spark, SF_TEST)
    got = {
        r.vec_id: r.cell
        for r in similarity._assign_cells_frame(emb, cents).collect()
    }
    want = {
        r.vec_id: r.cell
        for r in emb.withColumn(
            "cell",
            -F.array_max(
                similarity._ivf_assign_structs(F.col("v"), F.col("nrm"), cents)
            )["nj"],
        ).collect()
    }
    assert got == want


def test_persisted_index_kernels_match_catalyst(spark):
    """Build one IVF index and one IVF-ADC index; the kernel query paths
    must equal the retained Catalyst query paths row for row."""
    from pyspark.sql import functions as F

    cents = similarity._ivf_centroids(spark, SF_TEST)
    emb = similarity._normed(spark, SF_TEST)
    pfx = _uniq("r13_idx")
    try:
        similarity.save_ann_index(spark, emb, pfx, cents)
        got = similarity.ann_index_topk(spark, SF_TEST, pfx).collect()
        want = similarity.ann_index_topk_catalyst(
            spark, SF_TEST, pfx
        ).collect()
        assert _rows_key(got) == _rows_key(want)
    finally:
        for t in (f"{pfx}_cells", f"{pfx}_centroids",
                  f"{pfx}_cells_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    pfx2 = _uniq("r13_pq")
    try:
        similarity.save_pq_index(spark, SF_TEST, pfx2)
        got = similarity.ann_ivfpq_topk(spark, SF_TEST, pfx2).collect()
        want = similarity.ann_ivfpq_topk_catalyst(
            spark, SF_TEST, pfx2
        ).collect()
        assert _rows_key(got) == _rows_key(want)
    finally:
        for t in (f"{pfx2}_pqcodes", f"{pfx2}_centroids", f"{pfx2}_pqcb"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
