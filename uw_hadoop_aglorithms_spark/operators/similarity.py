"""Similarity search over `embeddings` (beyond-reference capability).

Two operators per the training-data-pipeline brief:

- ann_brute_topk — exact cosine top-k for a query subset. The query side
  is tiny and broadcast; the big side streams map-side with no shuffle
  of the corpus. The verifiable baseline.
- ann_lsh_topk  — random-hyperplane LSH: 4 sign bits → 16 buckets;
  multiprobe (own bucket + hamming-1) → candidates → exact-cosine
  rerank → top-k. The scale path: bucket assignment is map-side
  arithmetic, candidate generation is an equi-join on the bucket key,
  and the rerank touches ~5/16 of the corpus per query instead of all
  of it. Recall vs. brute force is property-tested in
  tests/test_similarity.py.

Hyperplanes are DETERMINISTIC: weights derive from the universal-hash
constants (functions/hashing.py) and are embedded as double literals in
both the Spark plan and the DuckDB oracle — so even the ANN pipeline is
value-checked end to end. Dot products and norms use identical
sequential folds in both engines (bit-identical doubles, no rounding).

Ranking is made deterministic by ordering on (cosine DESC, neighbor id
ASC): cosines are bit-identical across engines, so ties break the same
way everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.functions import folds
from uw_hadoop_aglorithms_spark.functions.hashing import P, hash_params
from uw_hadoop_aglorithms_spark.plans.layout import shared_frame, spread_for_cpu
from uw_hadoop_aglorithms_spark.sources.catalog import Catalog
from uw_hadoop_aglorithms_spark.sources import indexes
from uw_hadoop_aglorithms_spark.functions.rounding import fround

#: Every QUERY_STRIDE-th vector is a query point, capped at
#: ANN_MAX_QUERIES: the query side is BROADCAST, so it must be a bounded
#: external query set, never a fraction of the corpus (a |corpus|/50
#: broadcast grows linearly and dies at lake scale). The cap bounds the
#: broadcast at ANN_MAX_QUERIES × (NPLANES+1) rows regardless of corpus
#: size; the cap is inactive at fixture scale (vec_id < 50 000 always),
#: so oracle results are unchanged.
QUERY_STRIDE = 50
ANN_MAX_QUERIES = 1_000
TOP_K = 10
#: LSH: NPLANES sign bits → 2^NPLANES buckets; probe own + hamming-1.
NPLANES = 4
EMBED_DIM = 64
#: Probe masks: own bucket plus each single-bit flip.
PROBE_MASKS = [0] + [1 << p for p in range(NPLANES)]

#: IVF: coarse quantizer = up to IVF_NLIST corpus vectors sampled by id
#: (standing in for an offline-trained quantizer); every vector is
#: assigned to its max-cosine centroid; queries probe IVF_NPROBE cells.
#: The persisted indexes pre-cluster their cell partitions by the same
#: count (sources/indexes.CELLS).
IVF_CENTROID_MOD = 97
IVF_NLIST = indexes.CELLS
IVF_NPROBE = 2


def hyperplanes() -> list[list[float]]:
    """NPLANES deterministic pseudo-random unit-free hyperplanes in
    [-0.5, 0.5]^EMBED_DIM, derived from the shared hash constants so
    Spark and the DuckDB oracle embed the SAME literals."""
    planes = []
    for p in range(NPLANES):
        a, b = hash_params(p + 301)
        planes.append([((a * (d + 1) + b) % P) / P - 0.5 for d in range(EMBED_DIM)])
    return planes


def _dot_lit(vec: Column, plane: list[float]) -> Column:
    return folds.dot_col(vec, F.array(*[F.lit(x) for x in plane]))


def _bucket(vec: Column) -> Column:
    """Sign-bit bucket id in [0, 2^NPLANES)."""
    expr = F.lit(0)
    for p, plane in enumerate(hyperplanes()):
        expr = expr + F.when(_dot_lit(vec, plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return expr


def _is_query(vec_id: Column) -> Column:
    """Bounded deterministic query set: stride-sampled AND id-capped so
    the broadcast side never grows with the corpus."""
    return (vec_id % QUERY_STRIDE == 0) & (
        vec_id < QUERY_STRIDE * ANN_MAX_QUERIES
    )


def _normed(
    spark: SparkSession, sf_dir: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    # spread the interpreted fold expressions across cores only when the
    # scan is under-parallel (plans/layout.spread_for_cpu)
    return (
        spread_for_cpu(Catalog(spark, sf_dir).embeddings, "vec_id")
        .select(
            "vec_id",
            *extra_cols,
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("nrm", F.sqrt(folds.sumsq_col(F.col("v"))))
    )


def _cosine(a: str, b: str) -> Column:
    dot = folds.dot_col(F.col(f"{a}.v"), F.col(f"{b}.v"))
    return dot / (F.col(f"{a}.nrm") * F.col(f"{b}.nrm"))


# --- round-13 Arrow/numpy scoring + encode kernels (guide §4.2) ---------------
#
# The interpreted HOF folds (64-dim dots/norms per pair, the K×D cell
# assign, the M×K×SUBDIM PQ encode) dominated every ANN member's CPU at
# sf0.1 (member probe: brute 3.9 s, pq 4.0-4.8 s, ivf 3.0-3.4 s serial).
# Every dot/norm/distance goes through functions/folds.py, whose numpy
# forms reproduce the identical left-to-right IEEE fold of the Catalyst
# aggregate; np.argmin/argmax take the FIRST extreme, matching the
# struct-min/max tie-breaks; np.sqrt == Math.sqrt (correctly rounded);
# IEEE multiplication is commutative so qn*cn == the Catalyst
# (a.nrm * b.nrm) grouping bit-for-bit.
#
# Query sets are BOUNDED (<= ANN_MAX_QUERIES — the long-standing
# broadcast argument), so collecting them to the driver is the same
# bounded load as the _ivf_centroids codebook collect; per-query probe
# cells / LSH probe buckets / ADC tables are computed driver-side with
# the exact engine fold order, and the corpus side streams MAP-SIDE
# through one mapInPandas whose candidate masks keep per-query work
# proportional to the probed fraction — the members' scale contracts
# are unchanged (the Catalyst forms remain below as parity references,
# pinned in tests/test_similarity.py).


def _vec_scan(
    spark: SparkSession, sf_dir: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    return spread_for_cpu(Catalog(spark, sf_dir).embeddings, "vec_id").select(
        "vec_id",
        *extra_cols,
        F.col("embedding").cast("array<double>").alias("v"),
    )


def _collect_queries(
    spark: SparkSession, sf_dir: str, extra_cols: tuple[str, ...] = ()
) -> list[dict]:
    """The bounded query-set load: <= ANN_MAX_QUERIES rows by _is_query's
    id cap, collected once per member (the scan prunes on vec_id via
    PushedFilters). Norms fold driver-side in the exact engine order."""
    rows = (
        _vec_scan(spark, sf_dir, extra_cols)
        .filter(_is_query(F.col("vec_id")))
        .collect()
    )
    return [
        {
            "qid": int(r.vec_id),
            "v": list(r.v),
            "nrm": folds.norm(r.v),
            **{c: r[c] for c in extra_cols},
        }
        for r in rows
    ]


def _query_probe_cells(qv, qn, cents, nprobe: int = IVF_NPROBE) -> list[int]:
    """Top-nprobe cells by (cosine DESC, idx ASC) — the driver-side
    mirror of reverse(array_sort(_ivf_assign_structs(...)))[:nprobe]."""
    scored = [
        (folds.dot(qv, cvec) / (qn * cnorm), -idx) for idx, cvec, cnorm in cents
    ]
    scored.sort(reverse=True)
    return [-nj for _c, nj in scored[:nprobe]]


def _query_lsh_probes(qv) -> list[int]:
    """Own bucket + hamming-1 buckets, driver-side (_bucket mirror)."""
    b = 0
    for p, plane in enumerate(hyperplanes()):
        if folds.dot(qv, plane) > 0:
            b += 1 << p
    return [b ^ m for m in PROBE_MASKS]


_SCORE_SCHEMA = "query_id long, neighbor_id long, cosine double"


def _vec_matrix(pdf):
    """A batch's `v` arrays as one n×d float64 matrix."""
    import numpy as np

    return np.asarray(
        [list(x) for x in pdf["v"]], dtype=np.float64
    ).reshape(len(pdf), -1)


def _cell_of(vm, nrm, clist):
    """IVF cell per row: argmax cosine against the (idx, v, nrm)
    centroids. np.argmax takes the first maximum == the lower idx,
    matching array_max's (c DESC, nj=-idx) struct tie-break."""
    import numpy as np

    cnorms = np.asarray([cn for _i, _cv, cn in clist], dtype=np.float64)
    cos = folds.dots(vm, [cv for _i, cv, _cn in clist]) / (
        nrm[:, None] * cnorms[None, :]
    )
    return np.argmax(cos, axis=1)


def _scored_pairs_kernel(
    vecs: DataFrame,
    queries: list[dict],
    mode: str,
    cents=None,
    label_match: bool = False,
) -> DataFrame:
    """(vec_id[, label][, cell][, nrm], v) → (query_id, neighbor_id,
    cosine) for the member's candidate pairs, map-side.

    mode='all'    every pair but self (brute);
    mode='bucket' corpus LSH bucket ∈ q.probes (computed in-kernel);
    mode='cell'   corpus IVF cell ∈ q.probes (computed in-kernel from
                  `cents`, or read from a stored `cell` column when the
                  frame carries one — the persisted-index path);
    label_match   additionally require label equality (filtered member).

    Per-query work is masked to its candidates, so the kernel does the
    same number of pair scores as the joins it replaces."""
    import numpy as np
    import pandas as pd

    qm = [q["v"] for q in queries]
    qn = [q["nrm"] for q in queries]
    qids = [q["qid"] for q in queries]
    qprobes = [sorted(q.get("probes", ())) for q in queries]
    qlabels = [q.get("label") for q in queries]
    planes = hyperplanes() if mode == "bucket" else None
    clist = (
        [(int(i), list(cv), float(cn)) for i, cv, cn in cents]
        if cents is not None
        else None
    )
    has_cell_col = "cell" in vecs.columns
    has_nrm_col = "nrm" in vecs.columns

    def fn(batches):
        qma = np.asarray(qm, dtype=np.float64)
        qna = np.asarray(qn, dtype=np.float64)
        empty = pd.DataFrame(
            {"query_id": pd.Series([], dtype="int64"),
             "neighbor_id": pd.Series([], dtype="int64"),
             "cosine": pd.Series([], dtype="float64")}
        )
        for pdf in batches:
            n = len(pdf)
            if n == 0 or not qids:
                yield empty
                continue
            vm = _vec_matrix(pdf)
            cid = pdf["vec_id"].to_numpy()
            if has_nrm_col:
                cn_arr = pdf["nrm"].to_numpy(dtype=np.float64)
            else:
                cn_arr = folds.norms(vm)
            key = None
            if mode == "bucket":
                bits = 1 << np.arange(len(planes), dtype=np.int64)
                key = np.where(folds.dots(vm, planes) > 0, bits, 0).sum(axis=1)
            elif mode == "cell":
                if has_cell_col:
                    key = pdf["cell"].to_numpy()
                else:
                    key = _cell_of(vm, cn_arr, clist)
            labels = pdf["label"].to_numpy() if label_match else None
            out = []
            for qi in range(len(qids)):
                if label_match and qlabels[qi] is None:
                    # SQL NULL = NULL is never true — a NULL-label query
                    # has no candidates in the join form; mirror it
                    continue
                mask = cid != qids[qi]
                if mode != "all":
                    mask &= np.isin(key, qprobes[qi])
                if label_match:
                    mask &= labels == qlabels[qi]
                idxs = np.nonzero(mask)[0]
                if idxs.size == 0:
                    continue
                dot = folds.dots(vm[idxs], qma[qi:qi + 1])[:, 0]
                out.append(
                    pd.DataFrame(
                        {"query_id": np.full(idxs.size, qids[qi], dtype=np.int64),
                         "neighbor_id": cid[idxs].astype(np.int64),
                         "cosine": dot / (qna[qi] * cn_arr[idxs])}
                    )
                )
            yield pd.concat(out) if out else empty

    return vecs.mapInPandas(fn, _SCORE_SCHEMA)


def _pair_topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _assign_cells_frame(vectors: DataFrame, cents) -> DataFrame:
    """(vec_id, v, nrm) → (vec_id, v, nrm, cell): the IVF cell assign as
    a numpy kernel (replaces the K×D interpreted _ivf_assign_structs
    fold on the persisted-index build/extend paths). The stored nrm
    column is reused so the cosines are the identical doubles."""
    clist = [(int(i), list(cv), float(cn)) for i, cv, cn in cents]

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"vec_id": pd.Series([], dtype="int64"), "v": [],
                     "nrm": pd.Series([], dtype="float64"),
                     "cell": pd.Series([], dtype="int32")}
                )
                continue
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": pdf["v"], "nrm": pdf["nrm"],
                 "cell": _cell_of(_vec_matrix(pdf), nrm, clist).astype("int32")}
            )

    return vectors.mapInPandas(
        fn, "vec_id long, v array<double>, nrm double, cell int"
    )


def _pq_sub_norm2(cb) -> list[list[float]]:
    """n2[m][k] — the per-subvector norm² of codebook entry k in
    subspace m (the reconstruction-norm² table _pq_recon_expr embeds)."""
    return [
        [folds.sumsq(cb[k][m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM])
         for k in range(len(cb))]
        for m in range(PQ_M)
    ]


def _pq_encode_frame(vectors: DataFrame, cb, cents=None) -> DataFrame:
    """(vec_id, v[, nrm]) → (vec_id, v, nrm[, cell], c0.., recon2): the
    PQ encode (argmin_k L2² per subspace, (d2 ASC, k ASC) tie-break via
    np.argmin's first minimum) + reconstruction norm² as one map-side
    numpy kernel — this was the heaviest interpreted fold in the engine
    (M×K×SUBDIM = 1024 lambda evaluations per row). With `cents` the
    IVF cell rides along (the persisted IVF-ADC build path)."""
    cblist = [list(v) for v in cb]
    n2 = _pq_sub_norm2(cb)
    clist = (
        [(int(i), list(cv), float(cn)) for i, cv, cn in cents]
        if cents is not None
        else None
    )
    with_cell = clist is not None
    has_nrm = "nrm" in vectors.columns
    code_cols = [f"c{m}" for m in range(PQ_M)]
    schema = (
        "vec_id long, v array<double>, nrm double, "
        + ("cell int, " if with_cell else "")
        + ", ".join(f"{c} int" for c in code_cols)
        + ", recon2 double"
    )

    def fn(batches):
        import numpy as np
        import pandas as pd

        cba = np.asarray(cblist, dtype=np.float64)  # K x D
        n2a = np.asarray(n2, dtype=np.float64)      # M x K
        for pdf in batches:
            if len(pdf) == 0:
                cols = {"vec_id": pd.Series([], dtype="int64"), "v": [],
                        "nrm": pd.Series([], dtype="float64")}
                if with_cell:
                    cols["cell"] = pd.Series([], dtype="int32")
                for c in code_cols:
                    cols[c] = pd.Series([], dtype="int32")
                cols["recon2"] = pd.Series([], dtype="float64")
                yield pd.DataFrame(cols)
                continue
            vm = _vec_matrix(pdf)
            if has_nrm:
                nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            else:
                nrm = folds.norms(vm)
            cols = {"vec_id": pdf["vec_id"], "v": pdf["v"], "nrm": nrm}
            if with_cell:
                cols["cell"] = _cell_of(vm, nrm, clist).astype("int32")
            # n x M; np.argmin's first minimum == the lower k
            codes = np.stack(
                [
                    np.argmin(folds.sqdists(vm[:, sub], cba[:, sub]), axis=1)
                    for sub in (
                        slice(lo, lo + PQ_SUBDIM)
                        for lo in range(0, PQ_M * PQ_SUBDIM, PQ_SUBDIM)
                    )
                ],
                axis=1,
            )
            for m, c in enumerate(code_cols):
                cols[c] = codes[:, m].astype("int32")
            cols["recon2"] = folds.rowsums(n2a[np.arange(PQ_M), codes])
            yield pd.DataFrame(cols)

    return vectors.mapInPandas(fn, schema)


def _query_adc_tabs(qv, cb) -> list[list[float]]:
    """tab[m][k] = dot(q_m, cb[m][k]) with the exact fold order of
    _pq_tab_sql — computed driver-side per bounded query."""
    tabs = []
    for m in range(PQ_M):
        lo = m * PQ_SUBDIM
        tabs.append(
            [
                folds.dot(qv[lo:lo + PQ_SUBDIM], cb[k][lo:lo + PQ_SUBDIM])
                for k in range(len(cb))
            ]
        )
    return tabs


def _adc_scored_kernel(
    codes_df: DataFrame, queries: list[dict], mode: str
) -> DataFrame:
    """(vec_id, c0.., recon2[, cell]) → (query_id, neighbor_id, adc_cos):
    compressed-domain ADC scoring, map-side. Each query's precomputed
    lookup tables ride in the closure (bounded); adc = 0.0 + Σ_m
    tab_m[c_m] in m order (the element_at sum's fold), adc_cos =
    adc / (q.nrm * sqrt(recon2)).

    mode='all'  every row but self (full-scan ADC);
    mode='cell' stored `cell` ∈ q.probes — every query must carry
                `probes`, or unprobed cells would be scored silently."""
    if mode not in ("all", "cell"):
        raise ValueError(f"unsupported ADC mode {mode!r}")
    if mode == "cell" and any("probes" not in q for q in queries):
        raise ValueError("mode='cell' needs `probes` on every query")
    qids = [q["qid"] for q in queries]
    qns = [q["nrm"] for q in queries]
    qtabs = [q["tabs"] for q in queries]
    qprobes = [sorted(q["probes"]) for q in queries] if mode == "cell" else None
    code_cols = [f"c{m}" for m in range(PQ_M)]

    def fn(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"query_id": pd.Series([], dtype="int64"),
             "neighbor_id": pd.Series([], dtype="int64"),
             "adc_cos": pd.Series([], dtype="float64")}
        )
        ms = np.arange(PQ_M)
        for pdf in batches:
            n = len(pdf)
            if n == 0 or not qids:
                yield empty
                continue
            cid = pdf["vec_id"].to_numpy()
            codes = np.stack(
                [pdf[c].to_numpy() for c in code_cols], axis=1
            )  # n x M
            rsq = np.sqrt(pdf["recon2"].to_numpy(dtype=np.float64))
            cell = pdf["cell"].to_numpy() if qprobes is not None else None
            out = []
            for qi in range(len(qids)):
                mask = cid != qids[qi]
                if qprobes is not None:
                    mask &= np.isin(cell, qprobes[qi])
                idxs = np.nonzero(mask)[0]
                if idxs.size == 0:
                    continue
                tab = np.asarray(qtabs[qi], dtype=np.float64)  # M x K
                adc = folds.rowsums(tab[ms, codes[idxs]])
                out.append(
                    pd.DataFrame(
                        {"query_id": np.full(idxs.size, qids[qi], dtype=np.int64),
                         "neighbor_id": cid[idxs].astype(np.int64),
                         "adc_cos": adc / (qns[qi] * rsq[idxs])}
                    )
                )
            yield pd.concat(out) if out else empty

    return codes_df.mapInPandas(
        fn, "query_id long, neighbor_id long, adc_cos double"
    )


def _shortlist_rerank(scored: DataFrame, vecs: DataFrame) -> DataFrame:
    """ADC shortlist → exact rerank → top-K: compressed scoring prunes
    the corpus to PQ_SHORTLIST rows per query, and exact cosine against
    `vecs` ((vec_id, v, nrm) rows) touches only those — the same output
    contract as the IVF/LSH variants, whose cosines are exact for every
    emitted pair."""
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    q = vecs.select(F.col("vec_id").alias("query_id"), "v", "nrm").alias("q")
    c = vecs.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm").alias("c")
    exact = (
        shortlist.join(q, "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", _cosine("q", "c").alias("cosine"))
    )
    return _pair_topk(exact)


def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for each query vector.

    Round 13: the bounded query set (<= ANN_MAX_QUERIES — the same
    boundedness that justified broadcasting it) is collected once and
    rides in the scoring kernel's closure; the corpus is scanned ONCE
    map-side and every pair scores in a numpy per-dimension fold
    (bit-identical to the Catalyst zip_with fold — parity-pinned
    against ann_brute_topk_catalyst below). The only shuffle remains
    the per-query top-k window. Still the ground-truth baseline:
    scoring is linear in the corpus per query; ann_lsh_topk is the
    scale path.
    """
    qs = _collect_queries(spark, sf_dir)
    scored = _scored_pairs_kernel(_vec_scan(spark, sf_dir), qs, mode="all")
    return _pair_topk(scored)


def ann_brute_topk_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for each query vector.

    The query set is broadcast and BOUNDED (<= ANN_MAX_QUERIES rows), so
    the corpus is scanned once map-side — the only shuffle is the
    per-query top-k window over |queries|×|corpus| scored rows. Still
    the ground-truth baseline: scoring is linear in the corpus per
    query; ann_lsh_topk is the scale path.
    """
    emb = _normed(spark, sf_dir)
    q = emb.filter(_is_query(F.col("vec_id"))).alias("q")
    c = emb.alias("c")
    scored = (
        F.broadcast(q)
        .join(c, F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            _cosine("q", "c").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float], float]]:
    """(centroid_idx, vector, norm) for the ≤IVF_NLIST quantizer rows.

    The collect is a BOUNDED quantizer load (≤8 rows), the IVF analog
    of loading an offline-trained codebook — not a data collect. Norms
    fold left-to-right like the engine/oracle folds, so every double
    matches bit-for-bit.
    """
    rows = (
        Catalog(spark, sf_dir)
        .embeddings.filter(
            (F.col("vec_id") % IVF_CENTROID_MOD == 0)
            & (F.col("vec_id") < IVF_CENTROID_MOD * IVF_NLIST)
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    return [(idx, list(r.v), folds.norm(r.v)) for idx, r in enumerate(rows)]


def _ivf_assign_structs(vec: Column, nrm: Column, cents) -> Column:
    """array<struct(c: cosine, nj: -idx)> per vector — array_max /
    sorted order give argmax with (cosine DESC, idx ASC) tie-break,
    matching the oracle's row_number ordering."""
    entries = []
    for idx, cvec, cnorm in cents:
        cos = _dot_lit(vec, cvec) / (nrm * F.lit(cnorm))
        entries.append(F.struct(cos.alias("c"), F.lit(-idx).alias("nj")))
    return F.array(*entries)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: coarse-quantizer cells + 2-cell probing.

    Corpus vectors are assigned MAP-SIDE to their max-cosine centroid
    (the centroid table is a ≤IVF_NLIST literal codebook — no shuffle,
    no |corpus|×C join). Queries probe their IVF_NPROBE nearest cells;
    candidates come from an equi-join on the cell id (shuffle ∝ probed
    fraction ≈ NPROBE/NLIST of the corpus), then exact cosine reranks.
    At 100 TB: raise IVF_NLIST so cells stay bounded and pre-partition
    the corpus by cell on write — the standard IVF deployment shape.
    """
    return _ivf_probe_topk(spark, sf_dir)


def _ivf_probe_topk(
    spark: SparkSession, sf_dir: str, match_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The IVF probe pipeline shared by ann_ivf_topk and the filtered
    variant, round-13 kernel form (parity-pinned against
    _ivf_probe_topk_catalyst): per-query probe cells come from the
    driver-side mirror of the assign fold over the collected bounded
    query set; the corpus assigns its cell in-kernel (same K×D folds)
    and each query scores only rows in its probed cells (plus the
    label equi-predicate when `match_cols` asks — the pre-filter
    hook). One body so the variants can never drift."""
    if match_cols not in ((), ("label",)):
        raise ValueError(f"unsupported match_cols {match_cols!r}")
    cents = _ivf_centroids(spark, sf_dir)
    qs = _collect_queries(spark, sf_dir, match_cols)
    for q in qs:
        q["probes"] = set(_query_probe_cells(q["v"], q["nrm"], cents))
    scored = _scored_pairs_kernel(
        _vec_scan(spark, sf_dir, match_cols),
        qs,
        mode="cell",
        cents=cents,
        label_match=bool(match_cols),
    )
    return _pair_topk(scored)


def _ivf_probe_topk_catalyst(
    spark: SparkSession, sf_dir: str, match_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The IVF probe pipeline shared by ann_ivf_topk and the filtered
    variant: map-side cell assignment, per-query NPROBE probes, the
    broadcast candidate join (cell match + one equi-predicate per
    `match_cols` entry — the pre-filter hook), exact-cosine rerank,
    top-K window. One body so the variants can never drift."""
    cents = _ivf_centroids(spark, sf_dir)
    emb = _normed(spark, sf_dir, extra_cols=match_cols).withColumn(
        "cell",
        -F.array_max(_ivf_assign_structs(F.col("v"), F.col("nrm"), cents))["nj"],
    )
    probe_structs = F.reverse(
        F.array_sort(_ivf_assign_structs(F.col("v"), F.col("nrm"), cents))
    )
    q = (
        emb.filter(_is_query(F.col("vec_id")))
        .select(
            "vec_id",
            *match_cols,
            "v",
            "nrm",
            F.explode(
                F.slice(probe_structs, 1, IVF_NPROBE)
            ).alias("pr"),
        )
        .select(
            "vec_id", *match_cols, "v", "nrm", (-F.col("pr.nj")).alias("probe")
        )
        .alias("q")
    )
    c = emb.alias("c")
    cond = (F.col("q.probe") == F.col("c.cell")) & (
        F.col("q.vec_id") != F.col("c.vec_id")
    )
    for mc in match_cols:
        cond = cond & (F.col(f"q.{mc}") == F.col(f"c.{mc}"))
    scored = (
        F.broadcast(q)
        .join(c, cond)
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            _cosine("q", "c").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the production "metadata predicate +
    vector" ask (every vector store grows a WHERE clause): per query,
    the top-10 cosine neighbors AMONG VECTORS SHARING ITS LABEL, found
    with the PRE-FILTER strategy (predicate composed into candidate
    generation, not applied after the fact): candidates must match a
    probed cell AND the query's label, so a ~1/|labels| selective
    predicate shrinks the rerank set ~10× instead of starving a
    post-filtered top-k. Post-filtering the unfiltered IVF top-k would
    return <k (often 0) same-label rows — the classic filtered-ANN
    failure this operator exists to avoid.

    Scale: same plan as ann_ivf_topk plus the label equi-predicate in
    the candidate join (one body — _ivf_probe_topk — so the variants
    can never drift); at lake scale the codes/cells table is
    partitioned by (label, cell) so the predicate becomes partition
    pruning on the same layout the persisted-IVF index already uses
    (save_ann_index partitions by cell; a label-filtered deployment
    adds it to the partition spec).
    """
    return _ivf_probe_topk(spark, sf_dir, match_cols=("label",))


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10: sign-bucket + multiprobe.

    Round 13 kernel form (parity-pinned against ann_lsh_topk_catalyst):
    per-query probe buckets (own + hamming-1) are computed driver-side
    from the collected bounded query set; the corpus gets its bucket
    in-kernel (the same sign-bit plane dots, per-dimension folds) and
    each query scores ONLY the rows whose bucket is in its probe set —
    work ∝ probed fraction, exactly the join it replaces. At 100 TB,
    raise NPLANES so bucket population stays bounded; the map-side
    shape is unchanged.
    """
    qs = _collect_queries(spark, sf_dir)
    for q in qs:
        q["probes"] = set(_query_lsh_probes(q["v"]))
    scored = _scored_pairs_kernel(
        _vec_scan(spark, sf_dir), qs, mode="bucket"
    )
    return _pair_topk(scored)


def ann_lsh_topk_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10: sign-bucket + multiprobe.

    Corpus vectors get a bucket map-side; each query probes its own
    bucket and the NPLANES hamming-1 buckets. Candidates come from an
    equi-join on the bucket key (shuffle ∝ probed fraction, ~5/16 of
    the corpus per query), then exact cosine reranks. The broadcast
    query side is bounded by ANN_MAX_QUERIES — it never scales with the
    corpus. At 100 TB, raise NPLANES so bucket population stays bounded;
    the plan shape is unchanged.
    """
    emb = _normed(spark, sf_dir).withColumn("bucket", _bucket(F.col("v")))
    q = (
        emb.filter(_is_query(F.col("vec_id")))
        .select(
            "vec_id",
            "v",
            "nrm",
            F.explode(F.array(*[F.lit(m) for m in PROBE_MASKS])).alias("mask"),
            F.col("bucket"),
        )
        .withColumn("probe", F.col("bucket").bitwiseXOR(F.col("mask")))
        .alias("q")
    )
    c = emb.alias("c")
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q.probe") == F.col("c.bucket"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            _cosine("q", "c").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine int8 quantization of the embedding column, with
    reconstruction-error stats — the compression step a 100 TB embedding
    store runs before ANN serving (4× smaller than float32).

    code_i = floor((x_i − vmin)/scale + 0.5) with scale = (vmax−vmin)/255
    (floor(z+0.5) instead of round(): identical semantics in Java and
    DuckDB, no banker's-rounding divergence). Entirely map-side array
    lambdas inside the scan — no shuffle but the final orderBy; codes are
    emitted '|'-joined (registered outputs must stay scalar-typed), and
    the MSE / max-abs-error folds are sequential in both engines, so the
    doubles are bit-identical.

    Internal columns carry an ``_i`` suffix: a projection whose OUTPUT
    alias shadows an input column name that a higher-order-function
    lambda references makes Spark's interpreted HOF path bind the lambda
    to the OUTPUT value (here: err would silently use round(scale, 9)
    instead of scale — observed, not hypothetical).
    """
    emb = spread_for_cpu(Catalog(spark, sf_dir).embeddings, "vec_id")
    vmin = F.array_min("embedding").cast("double")
    vmax = F.array_max("embedding").cast("double")
    base = emb.select(
        "vec_id",
        "embedding",
        vmin.alias("vmin_i"),
        vmax.alias("vmax_i"),
        ((vmax - vmin) / F.lit(255.0)).alias("scale_i"),
    )
    code = lambda e: (  # noqa: E731
        F.when(
            F.col("scale_i") > 0,
            F.floor(
                (e.cast("double") - F.col("vmin_i")) / F.col("scale_i") + F.lit(0.5)
            ).cast("int"),
        ).otherwise(F.lit(0))
    )
    q = base.withColumn("codes_i", F.transform(F.col("embedding"), code))
    err = lambda e, c: (  # noqa: E731
        e.cast("double") - (F.col("vmin_i") + c.cast("double") * F.col("scale_i"))
    )
    err2 = F.zip_with(F.col("embedding"), F.col("codes_i"), lambda e, c: err(e, c) * err(e, c))
    errabs = F.zip_with(F.col("embedding"), F.col("codes_i"), lambda e, c: F.abs(err(e, c)))
    mse = folds.sum_col(err2) / F.size("embedding")
    return q.select(
        "vec_id",
        fround("vmin_i", 9).alias("vmin"),
        fround("vmax_i", 9).alias("vmax"),
        F.round("scale_i", 9).alias("scale"),
        F.concat_ws("|", F.transform(F.col("codes_i"), lambda c: c.cast("string"))).alias(
            "codes"
        ),
        F.round(mse, 12).alias("mse"),
        F.round(F.array_max(errabs), 12).alias("max_abs_err"),
    ).orderBy("vec_id")


# --- product quantization (PQ-ADC) -------------------------------------------
#
# The third leg of the 100 TB ANN stack (alongside IVF cells and int8
# affine codes): each vector compresses to PQ_M one-byte codes (a 64×
# reduction from float64), and query scoring becomes PQ_M table lookups
# + adds per candidate instead of a 64-dim dot product — the classic
# asymmetric-distance computation (ADC) of Jégou et al., TPAMI'11.
# Codebook entries are corpus vectors sampled by id (the offline-
# trained-codebook stand-in _ivf_centroids established); every fold
# below is left-associative from 0.0 so the DuckDB oracle, which
# derives the same codebook relationally, matches bit-for-bit.

#: PQ geometry: PQ_M subspaces of PQ_SUBDIM dims; ≤PQ_K codebook rows.
PQ_M = 8
PQ_SUBDIM = EMBED_DIM // PQ_M
PQ_CB_MOD = 89
PQ_K = 16
#: ADC shortlist size per query before the exact rerank.
PQ_SHORTLIST = 50


def _pq_codebook(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Up to PQ_K full codebook vectors (bounded quantizer load, the
    _ivf_centroids pattern); entry k of subspace m is vector k's m-th
    subvector."""
    rows = (
        Catalog(spark, sf_dir)
        .embeddings.filter(
            (F.col("vec_id") % PQ_CB_MOD == 0)
            & (F.col("vec_id") < PQ_CB_MOD * PQ_K)
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    return [list(r.v) for r in rows]


# All codebook-literal expressions are built as SQL STRINGS and parsed
# JVM-side in one selectExpr: the Column-API form (thousands of
# F.lit/F.struct py4j round-trips for PQ_M×K×SUBDIM literals) measured
# 5.1 s of pure DRIVER time per call at sf0.1 — the plan was fine, its
# construction wasn't. (A flat scalar-chain rewrite of the folds was
# also tried and measured SLOWER than the HOF form — 14.7 s vs 8.7 s
# standalone: ~1000-term trees blow up analysis.) Shared between the
# full-scan ADC (ann_pq_topk) and the persisted IVF-ADC index
# (save_pq_index / ann_ivfpq_topk).

def _pq_lits(cb, k: int, m: int) -> str:
    lo = m * PQ_SUBDIM
    return ", ".join(f"{x!r}D" for x in cb[k][lo:lo + PQ_SUBDIM])


def _pq_d2_sql(cb, k: int, m: int) -> str:
    lo = m * PQ_SUBDIM
    return (
        f"aggregate(zip_with(slice(v, {lo + 1}, {PQ_SUBDIM}),"
        f" array({_pq_lits(cb, k, m)}), (x, c) -> (x - c) * (x - c)),"
        " 0.0D, (a, x) -> a + x)"
    )


def _pq_enc_exprs(cb) -> list[str]:
    """`c{m} = argmin_k L2²(subvector_m, cb[m][k])` — struct-min with
    (d2 ASC, k ASC) tie-break, map-side, no |corpus|×K join."""
    out = []
    for m in range(PQ_M):
        structs = ", ".join(
            f"named_struct('d', {_pq_d2_sql(cb, k, m)}, 'k', {k})"
            for k in range(len(cb))
        )
        out.append(f"array_min(array({structs})).k AS c{m}")
    return out


def _pq_recon_expr(cb) -> str:
    """norm² of the reconstruction, selected by the stored codes: the
    per-subvector norms are Python left folds — the same IEEE sequence
    as the oracle's list_reduce (the _ivf_centroids argument)."""
    recon_terms = []
    for m, n2 in enumerate(_pq_sub_norm2(cb)):
        arr = ", ".join(f"{x!r}D" for x in n2)
        recon_terms.append(f"element_at(array({arr}), c{m} + 1)")
    return "0.0D + " + " + ".join(recon_terms) + " AS recon2"


def _pq_tab_sql(cb, m: int) -> str:
    """ADC lookup table for subspace m: tab_m[k] = dot(q_m, cb[m][k]).
    Each table entry is the same fold the oracle computes per pair, so
    the looked-up double is bit-identical."""
    lo = m * PQ_SUBDIM
    dots = ", ".join(
        f"aggregate(zip_with(slice(v, {lo + 1}, {PQ_SUBDIM}),"
        f" array({_pq_lits(cb, k, m)}), (x, y) -> x * y),"
        " 0.0D, (a, x) -> a + x)"
        for k in range(len(cb))
    )
    return f"array({dots}) AS tab{m}"


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-10: encode map-side, score by lookup.

    Encoding: code_m = argmin_k L2²(subvector_m, codebook[m][k]) — a
    literal-codebook expression inside the scan (struct-min with
    (d2 ASC, k ASC) tie-break), no shuffle, no |corpus|×K join; the
    reconstruction norm² accumulates at the same time. Scoring: the
    bounded query set broadcasts against the coded corpus and each
    pair costs PQ_M selected-literal subvector dots (the ADC tables);
    adc_cosine = Σ_m dot(q_m, cb[m][code_m]) / (|q| · |reconstruction|).
    At 100 TB the coded corpus is what you STORE (PQ_M bytes + one
    float per vector); candidates come from an IVF cell join and ADC
    replaces the exact dot until a final small rerank — that deployment
    shape is the persisted `ann_ivfpq_topk` below.
    """
    cb = _pq_codebook(spark, sf_dir)

    # round 13: the M×K×SUBDIM encode folds run in the numpy kernel
    # (_pq_encode_frame — parity-pinned in tests/test_similarity.py);
    # the checkpoint still shares the coded corpus across the q-side,
    # the ADC join side and both rerank sides.
    enc = shared_frame(_pq_encode_frame(_vec_scan(spark, sf_dir), cb))

    # THE ADC trick proper: each query precomputes its lookup tables
    # tab_m[k] = dot(q_m, cb[m][k]) ONCE, so each of the
    # |queries|×|corpus| pairs costs PQ_M array lookups + adds instead
    # of PQ_M subvector dots. Round 13: the tables are computed
    # driver-side per bounded query with the exact _pq_tab_sql fold
    # order and the lookups run in the ADC kernel — the old q-side's
    # PQ_M×K literal subvector-dot SQL (a ~1000-term tree parsed and
    # analyzed per cold run) is gone from the plan.
    qs = _collect_queries(spark, sf_dir)
    for q in qs:
        q["tabs"] = _query_adc_tabs(q["v"], cb)
    scored = _adc_scored_kernel(
        enc.select("vec_id", *[f"c{m}" for m in range(PQ_M)], "recon2"),
        qs,
        mode="all",
    )
    return _shortlist_rerank(scored, enc)


# --- persisted IVF index: the lake-maintenance form --------------------------
#
# At 100 TB the corpus' cell assignments are not recomputed per query
# run: the quantizer is trained once and FROZEN, and the assigned
# vectors are PERSISTED partitioned by cell — the standard IVF
# deployment shape (Jégou et al.; the docstring promise in
# ann_ivf_topk). Queries then prune to their probed cells at the scan
# (PartitionFilters), so a 2-of-8 probe reads 2/8 of the files, and at
# a realistic NLIST (thousands of cells) reads a vanishing fraction.
# Ingest batches are assigned against the frozen codebook and appended
# into the same partition layout; takedowns tombstone; compaction
# applies tombstones physically and bounds file counts. Tables,
# tombstones, compaction and teardown are the shared index lifecycle of
# sources/indexes.py (family "ann"), tested with the same maintenance
# invariants as the near-dup band index in tests/test_similarity.py.

def _save_centroids(spark: SparkSession, prefix: str, cents) -> None:
    """Freeze the IVF coarse quantizer as `{prefix}_centroids`."""
    indexes.save_frozen(
        spark.createDataFrame(
            [(i, list(v), float(n)) for i, v, n in cents],
            "idx int, v array<double>, nrm double",
        ),
        prefix, "centroids",
    )


def save_ann_index(
    spark: SparkSession, vectors: DataFrame, prefix: str, cents
) -> None:
    """Persist an IVF index over `vectors` ((vec_id, v, nrm) rows, e.g.
    a slice of `_normed`): `{prefix}_centroids` stores the FROZEN
    quantizer (idx, v, nrm — doubles roundtrip parquet exactly, so
    later assignments bit-match build-time ones), `{prefix}_cells`
    stores the assigned vectors partitioned by cell."""
    _save_centroids(spark, prefix, cents)
    # round 13: numpy assign kernel (same folds, same tie-break — see
    # _assign_cells_frame) instead of the K×D interpreted struct fold
    indexes.write(_assign_cells_frame(vectors, cents), prefix, "cells")


def load_ann_centroids(
    spark: SparkSession, prefix: str
) -> list[tuple[int, list[float], float]]:
    """The frozen quantizer back from the catalog — a BOUNDED collect
    (≤IVF_NLIST rows), the codebook-load analog of _ivf_centroids."""
    rows = spark.table(indexes.table_name(prefix, "centroids"))
    return [
        (int(r.idx), list(r.v), float(r.nrm))
        for r in rows.orderBy("idx").collect()
    ]


def extend_ann_index(
    spark: SparkSession, vectors: DataFrame, prefix: str
) -> None:
    """Ingest a batch: assign against the FROZEN codebook (never
    retrained — retraining would silently shift every prior cell
    boundary) and append into the same partition layout. Fresh-build
    equivalence is tested: index(old) extended with new answers every
    query exactly like index(old ∪ new)."""
    cents = load_ann_centroids(spark, prefix)
    indexes.write(_assign_cells_frame(vectors, cents), prefix, "cells", "append")


def remove_from_ann_index(spark: SparkSession, prefix: str, vec_ids) -> None:
    """Retract vectors (takedowns, re-embeds): O(|retractions|) append
    to a tombstone table consulted by every subsequent query — logical
    immediately, physical at the next compact_ann_index. `vec_ids` is
    an iterable of ids or a DataFrame with a vec_id column."""
    indexes.retract(spark, "ann", prefix, vec_ids)


def compact_ann_index(spark: SparkSession, prefix: str) -> None:
    """Apply tombstones physically and bound file counts after many
    appends: the live rows are rewritten ONCE pre-clustered by cell
    (one file per cell) and swapped in via ALTER TABLE RENAME
    (indexes.compact). The tombstone table is dropped once applied."""
    indexes.compact(spark, "ann", prefix)


def ann_index_topk(
    spark: SparkSession, sf_dir: str, prefix: str
) -> DataFrame:
    """IVF top-10 answered FROM THE PERSISTED INDEX, round-13 kernel
    form (parity-pinned against ann_index_topk_catalyst): probe cells
    per query come from the driver-side mirror of the assign fold
    against the FROZEN catalog codebook; the probed-cell set (bounded:
    <= IVF_NLIST distinct values) is still pushed as a LITERAL
    partition filter so the index scan prunes to the probed partitions
    (PartitionFilters — certified in tests/test_similarity.py); the
    stored (v, nrm, cell) rows then score map-side in the kernel. With
    the live index covering the corpus this is bit-identical to
    ann_ivf_topk — the maintenance contract is unchanged."""
    cents = load_ann_centroids(spark, prefix)
    qs = _collect_queries(spark, sf_dir)
    for q in qs:
        q["probes"] = set(_query_probe_cells(q["v"], q["nrm"], cents))
    probes = sorted({p for q in qs for p in q["probes"]})
    c = indexes.live(spark, prefix, "cells").filter(F.col("cell").isin(probes))
    scored = _scored_pairs_kernel(c, qs, mode="cell")
    return _pair_topk(scored)


def ann_index_topk_catalyst(
    spark: SparkSession, sf_dir: str, prefix: str
) -> DataFrame:
    """IVF top-10 answered FROM THE PERSISTED INDEX: queries probe
    their IVF_NPROBE nearest frozen-codebook cells; the probed cell set
    (bounded: ≤IVF_NLIST distinct values) is collected and pushed as a
    LITERAL partition filter, so the index scan prunes to the probed
    partitions (PartitionFilters — certified in
    tests/test_similarity.py); candidates equi-join on the cell id and
    exact cosine reranks. With the live index covering the corpus this
    is bit-identical to ann_ivf_topk (same frozen quantizer, same
    folds), which is exactly the maintenance contract: persisting,
    growing, retracting, and compacting the index must never change
    what a query answers."""
    cents = load_ann_centroids(spark, prefix)
    emb = _normed(spark, sf_dir)
    probe_structs = F.reverse(
        F.array_sort(_ivf_assign_structs(F.col("v"), F.col("nrm"), cents))
    )
    q = (
        emb.filter(_is_query(F.col("vec_id")))
        .select(
            "vec_id",
            "v",
            "nrm",
            F.explode(F.slice(probe_structs, 1, IVF_NPROBE)).alias("pr"),
        )
        .select("vec_id", "v", "nrm", (-F.col("pr.nj")).alias("probe"))
        .alias("q")
    )
    # bounded collect (≤IVF_NLIST ints): the probed-cell set, pushed as
    # partition-pruning literals. The implicit alternative is dynamic
    # partition pruning off the broadcast join; the literal form makes
    # the pruning assertable in the plan.
    probes = sorted(
        r.probe for r in q.select("probe").distinct().collect()
    )
    c = (
        indexes.live(spark, prefix, "cells")
        .filter(F.col("cell").isin(probes))
        .alias("c")
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q.probe") == F.col("c.cell"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            _cosine("q", "c").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# --- persisted IVF-ADC index: compressed codes at rest -----------------------
#
# The production vector-lake layout (Jégou et al.'s IVFADC): what the
# lake STORES per vector is PQ_M code bytes + one reconstruction float,
# partitioned by IVF cell — ~60× smaller than the float64 vectors. A
# query probes its IVF_NPROBE cells (partition pruning), scores the
# probed codes in the COMPRESSED domain (ADC lookups — the original
# vectors are never read for scoring), and only the per-query shortlist
# touches the source embeddings table for the exact rerank. Both
# quantizers are FROZEN in catalog tables at save time, the same
# contract as save_ann_index.

def save_pq_index(spark: SparkSession, sf_dir: str, prefix: str) -> None:
    """Build the IVF-ADC index over the corpus at `sf_dir`:
    `{prefix}_centroids` (the frozen IVF coarse quantizer),
    `{prefix}_pqcb` (the frozen PQ codebook, k-ordered),
    `{prefix}_pqcodes` (vec_id, c0..c{PQ_M-1} TINYINT codes, recon2)
    partitioned by cell — one file per cell per holding task."""
    cents = _ivf_centroids(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir)
    _save_centroids(spark, prefix, cents)
    indexes.save_frozen(
        spark.createDataFrame(
            [(k, list(v)) for k, v in enumerate(cb)], "k int, v array<double>"
        ),
        prefix, "pqcb",
    )
    indexes.write(_pq_encode(_normed(spark, sf_dir), cents, cb), prefix, "pqcodes")


def _pq_encode(vectors: DataFrame, cents, cb) -> DataFrame:
    """(vec_id, v, nrm) → (vec_id, c0.. TINYINT, recon2, cell), the
    stored code row: one map-side pass computes the IVF cell and the PQ
    codes together."""
    # round 13: one numpy kernel computes the IVF cell and the PQ codes
    # together (parity-pinned); same single map-side pass as before
    code_cols = [f"CAST(c{m} AS TINYINT) AS c{m}" for m in range(PQ_M)]
    return _pq_encode_frame(vectors, cb, cents=cents).selectExpr(
        "vec_id", *code_cols, "recon2", "cell"
    )


def load_pq_codebook(spark: SparkSession, prefix: str) -> list[list[float]]:
    """The frozen PQ codebook back from the catalog — a BOUNDED collect
    (≤PQ_K rows), the codebook-load analog of _pq_codebook."""
    rows = spark.table(indexes.table_name(prefix, "pqcb"))
    return [list(r.v) for r in rows.orderBy("k").collect()]


def extend_pq_index(
    spark: SparkSession, vectors: DataFrame, prefix: str
) -> None:
    """Ingest a batch: encode against BOTH frozen quantizers and append
    into the same cell-partition layout — fresh-build equivalence is
    tested like the other two indexes'."""
    cents = load_ann_centroids(spark, prefix)
    cb = load_pq_codebook(spark, prefix)
    indexes.write(_pq_encode(vectors, cents, cb), prefix, "pqcodes", "append")


def ann_ivfpq_topk(
    spark: SparkSession, sf_dir: str, prefix: str
) -> DataFrame:
    """IVF-ADC top-10 answered FROM THE PERSISTED CODES, round-13
    kernel form (parity-pinned against ann_ivfpq_topk_catalyst):
    queries probe their IVF_NPROBE frozen-codebook cells (probed set
    still pushed as literal PartitionFilters), their ADC lookup tables
    are computed driver-side with the exact _pq_tab_sql fold order,
    and the probed partitions' codes score in the compressed domain
    map-side (PQ_M lookups + adds per candidate — the original vectors
    are never read for scoring). The per-query shortlist then reranks
    with exact cosine against the SOURCE embeddings table, as before;
    every emitted cosine is exact."""
    cents = load_ann_centroids(spark, prefix)
    cb = load_pq_codebook(spark, prefix)
    qs = _collect_queries(spark, sf_dir)
    for q in qs:
        q["probes"] = set(_query_probe_cells(q["v"], q["nrm"], cents))
        q["tabs"] = _query_adc_tabs(q["v"], cb)
    probes = sorted({p for q in qs for p in q["probes"]})
    c = indexes.live(spark, prefix, "pqcodes").filter(F.col("cell").isin(probes))
    scored = _adc_scored_kernel(c, qs, mode="cell")
    return _shortlist_rerank(scored, _normed(spark, sf_dir))


def ann_ivfpq_topk_catalyst(
    spark: SparkSession, sf_dir: str, prefix: str
) -> DataFrame:
    """IVF-ADC top-10 answered FROM THE PERSISTED CODES: queries probe
    their IVF_NPROBE frozen-codebook cells (the probed-cell set pushed
    as literal PartitionFilters, as in ann_index_topk), ADC-score the
    probed partitions' codes in the compressed domain (PQ_M lookups +
    adds per candidate — no vector column in the scan at all), shortlist
    PQ_SHORTLIST per query, and rerank the shortlist with exact cosine
    against the SOURCE embeddings table (the only place original
    vectors are read). Every emitted cosine is exact; approximation
    affects only which candidates reach the rerank."""
    cents = load_ann_centroids(spark, prefix)
    cb = load_pq_codebook(spark, prefix)
    emb = _normed(spark, sf_dir)
    probe_structs = F.reverse(
        F.array_sort(_ivf_assign_structs(F.col("v"), F.col("nrm"), cents))
    )
    q = (
        emb.filter(_is_query(F.col("vec_id")))
        .select(
            "vec_id",
            "v",
            "nrm",
            F.explode(F.slice(probe_structs, 1, IVF_NPROBE)).alias("pr"),
        )
        .select("vec_id", "v", "nrm", (-F.col("pr.nj")).alias("probe"))
        .selectExpr(
            "vec_id", "v", "nrm", "probe",
            *[_pq_tab_sql(cb, m) for m in range(PQ_M)],
        )
        .alias("q")
    )
    probes = sorted(
        r.probe for r in q.select("probe").distinct().collect()
    )
    c = (
        indexes.live(spark, prefix, "pqcodes")
        .filter(F.col("cell").isin(probes))
        .alias("c")
    )
    adc = F.expr(
        "0.0D + "
        + " + ".join(f"element_at(q.tab{m}, c.c{m} + 1)" for m in range(PQ_M))
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q.probe") == F.col("c.cell"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (adc / (F.col("q.nrm") * F.sqrt(F.col("c.recon2")))).alias(
                "adc_cos"
            ),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    rq = emb.select(F.col("vec_id").alias("query_id"), "v", "nrm").alias("rq")
    rc = emb.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm").alias("rc")
    exact = (
        shortlist.join(rq, "query_id")
        .join(rc, "neighbor_id")
        .withColumn("cosine", _cosine("rq", "rc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )
