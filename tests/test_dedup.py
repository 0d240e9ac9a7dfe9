"""Dedup family invariants at sf0.001 (oracle hash parity is the driver's
job; these are the structural properties — SURVEY.md §5.4 pattern)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.functions import hashing
from uw_hadoop_aglorithms_spark.operators import dedup
from tests.conftest import SF_TEST


def _uniq(tag: str) -> str:
    """Unique catalog-table prefix per test invocation: fixed names
    collide across concurrent runs (pytest-xdist, two checkouts sharing
    a spark-warehouse) — same scheme as suites.grab_incr."""
    import uuid

    return f"{tag}_{uuid.uuid4().hex[:10]}"


def test_polyhash_matches_duckdb(spark):
    """The engine-neutral hash must be bit-identical across engines —
    it is the foundation of every hash-based dedup oracle."""
    words = ["hello", "spark table", "a", "key agg row", "x'y", ""]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = [r.h for r in df.select(hashing.polyhash(F.col("s")).alias("h")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {hashing.polyhash_sql('?')}", [w]).fetchone()[0]
        for w in words
    ]
    assert got == want


def test_exact_dedup_partitions_corpus(spark):
    out = dedup.exact_dedup(spark, SF_TEST).collect()
    n_docs = spark.read.parquet(f"{SF_TEST}/documents.parquet").count()
    assert sum(r.n_copies for r in out) == n_docs
    assert len({r.doc_id for r in out}) == len(out)


@pytest.fixture(scope="module")
def exact_pairs(spark):
    return {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, SF_TEST).collect()
    }


def test_ngram_jaccard_bounds(exact_pairs):
    assert exact_pairs, "fixture corpus plants near-dup pairs"
    for (a, b), j in exact_pairs.items():
        assert a < b
        assert dedup.JACCARD_THRESHOLD <= j <= 1.0


def test_minhash_lsh_is_verified_subset(spark, exact_pairs):
    """LSH candidates are exact-verified, so output ⊆ exact pairs with
    identical jaccard values; at τ=0.8 with 8×2 bands the expected miss
    rate is ~3e-4/pair — on the planted fixture it finds every pair."""
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_dedup(spark, SF_TEST).collect()
    }
    assert set(lsh) <= set(exact_pairs)
    for k, j in lsh.items():
        assert j == exact_pairs[k]
    assert len(lsh) >= 0.9 * len(exact_pairs)


def test_simhash_banding_recall_is_total(spark):
    """4-band pigeonhole guarantee: banded join finds EXACTLY the pairs
    at hamming <= 3 — verify against a brute-force quadratic scan."""
    out = {(r.doc_a, r.doc_b, r.hamming) for r in dedup.simhash_dedup(spark, SF_TEST).collect()}
    assert all(0 <= h <= dedup.HAMMING_MAX for _, _, h in out)
    assert all(a < b for a, b, _ in out)
    # brute force over the signatures themselves
    from uw_hadoop_aglorithms_spark.functions.hashing import uhash
    hashed = dedup._exploded_gram_hashes(spark, SF_TEST).select(
        "doc_id",
        uhash(F.col("ph"), dedup.SIMHASH_MEMBER).alias("g"),
        uhash(F.col("ph"), dedup.SIMHASH_MEMBER_HI).alias("g2"),
    )
    votes = hashed.groupBy("doc_id").agg(*dedup._simhash_col())
    sig_rows = votes.collect()
    sigs = {}
    for r in sig_rows:
        sigs[r.doc_id] = sum(1 << j for j in range(dedup.SIMHASH_BITS) if r[f"b{j}"] > 0)
    ids = sorted(sigs)
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= dedup.HAMMING_MAX
    }
    assert out == brute


def test_embedding_cosine_dups_bounds(spark):
    rows = dedup.embedding_cosine_dups(spark, SF_TEST).collect()
    assert rows
    for r in rows:
        assert r.vec_a < r.vec_b
        assert dedup.COSINE_THRESHOLD <= r.cosine <= 1.0 + 1e-12


def test_brute_force_guard_refuses_lake_scale(spark, monkeypatch):
    """The quadratic baselines must refuse inputs above BRUTE_MAX_ROWS
    (they are oracles for the LSH variants, not the scale path)."""
    from uw_hadoop_aglorithms_spark.operators import dedup

    monkeypatch.setattr(dedup, "BRUTE_MAX_ROWS", 1)
    with pytest.raises(ValueError, match="minhash_lsh_dedup"):
        dedup.ngram_jaccard_pairs(spark, SF_TEST)
    with pytest.raises(ValueError, match="ann_lsh_topk"):
        dedup.embedding_cosine_dups(spark, SF_TEST)


def test_decontaminate_matches_python_oracle(spark):
    """Sequential oracle: per training doc, the count of distinct token
    8-gram hashes shared with the held-out set (same polyhash + 31-fold
    arithmetic, so equality is exact)."""
    import re

    P = hashing.P

    def ph(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % P
        return h

    def gram_hashes(text):
        ts = [w for w in re.split(r"[^a-z0-9']+", text.lower()) if w]
        hs = [ph(t) for t in ts]
        out = set()
        for i in range(len(hs) - dedup.DECON_NGRAM + 1):
            g = 0
            for h in hs[i : i + dedup.DECON_NGRAM]:
                g = (g * 31 + h) % P
            out.add(g)
        return out

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_TEST}/documents.parquet").collect()
    }
    test_g = set().union(
        *(gram_hashes(t) for d, t in docs.items() if d % dedup.DECON_TEST_MOD == 0)
    )
    expect = {
        d: len(gram_hashes(t) & test_g)
        for d, t in docs.items()
        if d % dedup.DECON_TEST_MOD != 0
    }
    expect = {d: n for d, n in expect.items() if n}
    got = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.decontaminate(spark, SF_TEST).collect()
    }
    assert got == expect
    assert got, "fixture should contain contaminated training docs"


def test_bloom_decontaminate_superset_no_false_negatives(spark):
    """The Bloom filter has no false negatives: every doc the exact
    index semi-join flags must appear in the bloom report with an
    equal-or-larger shared-gram count (extra = deterministic FPs)."""
    exact = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.decontaminate(spark, SF_TEST).collect()
    }
    bloom = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.decontaminate_bloom(spark, SF_TEST).collect()
    }
    assert exact, "fixture should contain contaminated training docs"
    for doc_id, n in exact.items():
        assert bloom.get(doc_id, 0) >= n, doc_id


def test_bloom_bitmap_is_bounded_state(spark):
    """The filter's word count is capped by BLOOM_BITS/BLOOM_WORD_BITS
    regardless of corpus size — the property that makes it the 100 TB
    broadcast mechanism."""
    docs = dedup.spread_for_cpu(
        dedup.Catalog(spark, SF_TEST).documents, "doc_id"
    )
    sh = dedup._token_ngram_hashes(docs)
    probes = (
        sh.filter(F.col("doc_id") % dedup.DECON_TEST_MOD == 0)
        .select("gh")
        .distinct()
        .select(
            F.explode(
                F.array(
                    *[
                        dedup._bloom_pos(F.col("gh"), i)
                        for i in range(dedup.BLOOM_K)
                    ]
                )
            ).alias("pos")
        )
    )
    n_words = (
        probes.select(
            F.floor(F.col("pos") / dedup.BLOOM_WORD_BITS).alias("w")
        )
        .distinct()
        .count()
    )
    assert n_words <= -(-dedup.BLOOM_BITS // dedup.BLOOM_WORD_BITS)
    mx = probes.agg(F.max("pos"), F.min("pos")).collect()[0]
    assert 0 <= mx[1] and mx[0] < dedup.BLOOM_BITS


def test_dedup_clusters_match_union_find(spark):
    """Cluster ids must equal a sequential union-find over the same
    MinHash pair graph, with the component minimum as canonical id."""
    pairs = [(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_dedup(spark, SF_TEST).collect()]
    assert pairs, "fixture should contain near-dup pairs"
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}
    got = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(spark, SF_TEST).collect()}
    assert got == expect


def test_winnow_pairs_share_verifiable_fingerprints(spark):
    """Every winnow pair must actually share >= WINNOW_MIN_SHARED
    DF-capped fingerprints — recomputed independently per pair from the
    doc_fingerprint output."""
    from collections import Counter

    from uw_hadoop_aglorithms_spark.operators.dedup import (
        WINNOW_DF_FRAC,
        WINNOW_MAX_DF,
        WINNOW_MIN_SHARED,
        winnow_dup_pairs,
    )
    from uw_hadoop_aglorithms_spark.operators.textstats import doc_fingerprint
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    fps = {}
    df = Counter()
    for r in doc_fingerprint(spark, SF_TEST).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
        df[r.fp] += 1
    n_docs = Catalog(spark, SF_TEST).documents.count()
    cap = max(WINNOW_MAX_DF, int(WINNOW_DF_FRAC * n_docs))
    rare = {fp for fp, n in df.items() if n <= cap}

    pairs = winnow_dup_pairs(spark, SF_TEST).collect()
    assert pairs, "fixture corpus should contain winnow-detectable dups"
    for p in pairs:
        shared = (fps[p.doc_a] & fps[p.doc_b]) & rare
        assert len(shared) == p.n_shared >= WINNOW_MIN_SHARED, p

    # completeness: no qualifying pair is missing
    found = {(p.doc_a, p.doc_b) for p in pairs}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if len((fps[a] & fps[b]) & rare) >= WINNOW_MIN_SHARED:
                assert (a, b) in found, (a, b)


def test_semantic_dedup_is_subset_of_brute_force(spark):
    """SemDeDup must emit a subset of the brute-force cosine pairs with
    IDENTICAL cosine values (same folds), and multi-probe assignment
    must recover a non-trivial fraction of them."""
    from uw_hadoop_aglorithms_spark.operators.dedup import (
        embedding_cosine_dups,
        semantic_dedup_pairs,
    )

    brute = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_cosine_dups(spark, SF_TEST).collect()
    }
    sem = {
        (r.vec_a, r.vec_b): r.cosine
        for r in semantic_dedup_pairs(spark, SF_TEST).collect()
    }
    assert sem, "fixture embeddings should contain semantic dups"
    assert set(sem) <= set(brute)
    for k, c in sem.items():
        assert c == brute[k], k
    # multi-probe recall: at least half of brute-force at fixture scale
    assert len(sem) >= len(brute) / 2


def test_star_contraction_agrees_with_dedup_clusters(spark):
    """Two independent distributed CC algorithms over the SAME MinHash
    pair graph — min-label propagation (the registered dedup_clusters)
    and star contraction (graphstats.connected_components) — must
    produce identical canonical-survivor mappings."""
    from uw_hadoop_aglorithms_spark.operators import graphstats
    from uw_hadoop_aglorithms_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_dedup,
    )

    pairs = minhash_lsh_dedup(spark, SF_TEST)
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    cc = {
        r.id: r.component
        for r in graphstats.connected_components(e).collect()
    }
    lp = {r.doc_id: r.cluster_id for r in dedup_clusters(spark, SF_TEST).collect()}
    assert cc == lp


def test_cluster_pairs_escape_hatch_engages_on_deep_chain(spark):
    """A 200-vertex path graph (diameter 199) clustered with a 3-round
    label-propagation budget CANNOT converge by propagation alone —
    a correct result proves the star-contraction escape hatch engaged
    and composed exactly: every vertex must label to the chain minimum,
    and the answer must match the no-budget (pure-propagation-capable)
    form and a sequential union-find."""
    n = 200
    chain = [(i, i + 1) for i in range(n - 1)]
    # two extra scattered components keep the contraction honest about
    # not merging across components
    extra = [(1000, 1001), (1001, 1002), (2000, 2001)]
    pairs = spark.createDataFrame(chain + extra, "doc_a long, doc_b long")

    got = {
        r.id: r.label
        for r in dedup.cluster_pairs(spark, pairs, max_lp_rounds=3).collect()
    }
    assert len(got) == n + 5
    for i in range(n):
        assert got[i] == 0, f"vertex {i} labeled {got[i]}"
    assert got[1000] == got[1001] == got[1002] == 1000
    assert got[2000] == got[2001] == 2000


def test_incremental_neardup_maintenance_invariant(spark):
    """pairs(index corpus) ∪ incremental(batch) must equal
    pairs(index corpus ∪ batch): the persisted-band-index path finds
    exactly the pairs involving the new batch, with identical Jaccard
    values, and never re-reads the corpus."""
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_dedup(spark, SF_TEST).collect()
    }
    assert full, "fixture should contain near-dup pairs"
    SPLIT = 250
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    old = docs.where(F.col("doc_id") < SPLIT)
    new = docs.where(F.col("doc_id") >= SPLIT)
    prefix = _uniq("incr")
    try:
        dedup.save_neardup_index(old, prefix)
        incr = {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.jaccard
            for r in dedup.incremental_neardup_pairs(
                spark, prefix, new
            ).collect()
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_hsets")
    expected_incr = {
        p: j for p, j in full.items() if p[0] >= SPLIT or p[1] >= SPLIT
    }
    assert expected_incr, "split should leave pairs touching the batch"
    assert set(incr) == set(expected_incr)
    for p, j in expected_incr.items():
        assert incr[p] == j, p
    # and every incremental pair touches the batch
    assert all(a >= SPLIT or b >= SPLIT for a, b in incr)


def test_semantic_dedup_scaled_subset_and_cell_locality(spark):
    """The K-scales-with-corpus SemDeDup form (DataFrame-join
    assignment, no literal centroid expressions) must emit only true
    cosine pairs with bit-identical cosines (subset of the brute-force
    ground truth) and only pairs sharing a probed cell."""
    brute = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_cosine_dups(spark, SF_TEST).collect()
    }
    scaled = dedup.semantic_dedup_pairs_scaled(spark, SF_TEST, n_cells=16).collect()
    assert scaled, "scaled SemDeDup should find pairs on the fixture"
    for r in scaled:
        assert (r.vec_a, r.vec_b) in brute
        assert r.cosine == brute[(r.vec_a, r.vec_b)]
    # scaling K shrinks cells: a larger codebook must not INVENT pairs
    bigger = {
        (r.vec_a, r.vec_b)
        for r in dedup.semantic_dedup_pairs_scaled(
            spark, SF_TEST, n_cells=29
        ).collect()
    }
    assert bigger <= set(brute)


def test_extend_neardup_index_equals_fresh_build(spark):
    """Growing the persisted index with an admitted batch must be
    indistinguishable from rebuilding it: after extend(old_idx, mid),
    querying a final batch yields exactly the pairs a fresh
    index(old ∪ mid) yields — and the grown tables stay bucketed (the
    exchange-free join layout survives appends)."""
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    old = docs.where(F.col("doc_id") < 150)
    mid = docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    new = docs.where(F.col("doc_id") >= 300)

    def pairs(prefix):
        return {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.incremental_neardup_pairs(spark, prefix, new).collect()
        }

    g, f_ = _uniq("grown"), _uniq("fresh")
    try:
        dedup.save_neardup_index(old, g)
        dedup.extend_neardup_index(mid, g)
        grown = pairs(g)
        dedup.save_neardup_index(docs.where(F.col("doc_id") < 300), f_)
        fresh = pairs(f_)
    finally:
        for t in (f"{g}_bands", f"{g}_hsets", f"{f_}_bands", f"{f_}_hsets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert grown == fresh
    assert fresh, "split should produce cross-batch pairs"


def test_neardup_index_retract_compact_lifecycle(spark):
    """The index lifecycle a real lake needs (VERDICT r5 missing #1):
    add → remove → query, then compact → query, then add again →
    query. Retraction via tombstones must drop exactly the pairs
    touching retracted docs (logical, O(|retractions|)); compaction
    must preserve results bit-for-bit while applying tombstones
    physically, clearing the tombstone table, and bounding the file
    count to one file per bucket; a post-compaction extend must equal a
    fresh build over the live corpus."""
    import glob
    from urllib.parse import urlparse

    from uw_hadoop_aglorithms_spark.plans import bucketing

    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_dedup(spark, SF_TEST).collect()
    }
    SPLIT, SPLIT2 = 250, 375
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    old = docs.where(F.col("doc_id") < SPLIT)
    new = docs.where(F.col("doc_id") >= SPLIT)
    # retract index docs that participate in cross-batch pairs, so the
    # retraction is observable in the incremental query
    touching = sorted({a for (a, b) in full if a < SPLIT and b >= SPLIT})
    assert touching, "fixture should have cross-split pairs"
    removed = set(touching[:2])

    def alive(p):
        return p[0] not in removed and p[1] not in removed

    prefix = _uniq("lc")
    tables = [
        f"{prefix}_{k}"
        for k in ("bands", "hsets", "tombstones", "bands__gen", "hsets__gen")
    ]

    def q(batch):
        return {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.jaccard
            for r in dedup.incremental_neardup_pairs(
                spark, prefix, batch
            ).collect()
        }

    try:
        dedup.save_neardup_index(old, prefix)
        dedup.remove_from_neardup_index(spark, prefix, sorted(removed))
        expected = {
            p: j
            for p, j in full.items()
            if (p[0] >= SPLIT or p[1] >= SPLIT) and alive(p)
        }
        logical = q(new)
        assert logical == expected, "tombstone anti-join must hide retracted docs"
        no_removal = {
            p for p in full if p[0] >= SPLIT or p[1] >= SPLIT
        }
        assert set(expected) < no_removal, (
            "retraction should have dropped at least one pair"
        )

        dedup.compact_neardup_index(spark, prefix)
        assert not spark.catalog.tableExists(f"{prefix}_tombstones")
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for kind in ("bands", "hsets"):
            files = glob.glob(f"{warehouse}/{prefix}_{kind}/part-*")
            assert 0 < len(files) <= bucketing.DEFAULT_BUCKETS, (
                kind,
                len(files),
            )
        assert q(new) == logical, "compaction must not change results"

        # the lifecycle continues: extend with an admitted half-batch,
        # query the rest — equals the fresh build over the live corpus
        mid = new.where(F.col("doc_id") < SPLIT2)
        rest = new.where(F.col("doc_id") >= SPLIT2)
        dedup.extend_neardup_index(mid, prefix)
        expected_rest = {
            p: j
            for p, j in full.items()
            if (p[0] >= SPLIT2 or p[1] >= SPLIT2) and alive(p)
        }
        assert q(rest) == expected_rest
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_span_dedup_matches_python_oracle(spark):
    """Sequential re-derivation of the whole span pipeline (tokens ->
    per-token polyhash -> SPAN_L rolling grams -> corpus count >= 2 ->
    island merge -> coverage -> cleaned-text rehash) on the fixture."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    L = dedup.SPAN_L
    P = hashing.P

    def toks(t):
        return [w for w in re.split(r"[^a-z0-9']+", t.lower()) if w]

    def ph(s):
        a = 0
        for ch in s:
            a = (a * 31 + ord(ch)) % P
        return a

    tbl = pq.read_table(f"{SF_TEST}/documents.parquet").to_pydict()
    docs = {d: toks(t) for d, t in zip(tbl["doc_id"], tbl["text"])}
    cnt: Counter = Counter()
    gps = {}
    for d, ws in docs.items():
        hs = [ph(w) for w in ws]
        gs = []
        for i in range(len(hs) - L + 1):
            g = 0
            for j in range(L):
                g = (g * 31 + hs[i + j]) % P
            gs.append(g)
            cnt[g] += 1
        gps[d] = gs
    want = {}
    n_hit = 0
    for d, ws in docs.items():
        ss = [i + 1 for i, g in enumerate(gps[d]) if cnt[g] >= 2]
        spans: list[list[int]] = []
        for s in ss:
            if spans and s <= spans[-1][1] + 1:
                spans[-1][1] = s + L - 1
            else:
                spans.append([s, s + L - 1])
        covered = {p for b, e in spans for p in range(b, e + 1)}
        kept = " ".join(w for i, w in enumerate(ws) if i + 1 not in covered)
        n = len(ws)
        n_hit += bool(ss)
        want[d] = (
            len(ss), len(spans), len(covered),
            len(covered) / n if n else 0.0, ph(kept),
        )
    assert n_hit, "fixture corpus should contain repeated 8-gram spans"

    for r in dedup.span_dedup(spark, SF_TEST).collect():
        got = (r.sp_dup_starts, r.sp_spans, r.sp_dup_tokens,
               r.sp_dup_ratio, r.sp_kept_hash)
        assert got == want[r.doc_id], r.doc_id


def test_span_profile_merging_and_kept_text(spark):
    """Hand corpus pinning the island semantics: overlapping starts
    merge into one span, disjoint repeats stay separate spans, a
    WITHIN-doc second copy counts toward the corpus frequency, docs
    with no repeats keep everything, and the kept-hash equals the
    polyhash of exactly the uncovered tokens."""
    run = "a b c d e f g h"            # one 8-gram, repeated across docs
    docs = [
        (1, f"x1 {run} y1"),           # one span [2, 9]
        (2, f"{run} mid1 mid2 {run}"),  # two disjoint spans (same gram)
        (3, f"z0 {run} i {run}"),      # spans [2,9],[11,18]: gap token 10
        (4, "q w e r t y u i o p"),    # no repeats: untouched
        (5, ""),                        # empty doc
    ]
    out = {
        r.doc_id: r
        for r in dedup.span_profile(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }

    def ph(s):
        a = 0
        for ch in s:
            a = (a * 31 + ord(ch)) % hashing.P
        return a

    r1 = out[1]
    assert (r1.sp_dup_starts, r1.sp_spans, r1.sp_dup_tokens) == (1, 1, 8)
    assert r1.sp_kept_hash == ph("x1 y1")
    r2 = out[2]
    assert (r2.sp_dup_starts, r2.sp_spans, r2.sp_dup_tokens) == (2, 2, 16)
    assert r2.sp_kept_hash == ph("mid1 mid2")
    r3 = out[3]
    assert (r3.sp_dup_starts, r3.sp_spans, r3.sp_dup_tokens) == (2, 2, 16)
    assert r3.sp_kept_hash == ph("z0 i")
    r4 = out[4]
    assert (r4.sp_dup_starts, r4.sp_spans, r4.sp_dup_tokens) == (0, 0, 0)
    assert r4.sp_dup_ratio == 0.0 and r4.sp_kept_hash == ph("q w e r t y u i o p")
    r5 = out[5]
    assert (r5.sp_dup_tokens, r5.sp_dup_ratio, r5.sp_kept_hash) == (0, 0.0, 0)


def test_span_profile_adjacent_runs_fuse(spark):
    """Two duplicated 8-gram families whose coverage abuts with NO gap
    must merge into ONE maximal span (the s <= last_e + 1 rule), and a
    long repeated run yields overlapping starts that collapse to a
    single island covering the whole run."""
    run_a = "a b c d e f g h"
    run_b = "p q r s t u v w"
    docs = [
        (1, f"{run_a} {run_b}"),       # abutting coverage: one 16-token span
        (2, f"{run_a} x {run_b}"),     # gap token: two spans
        (3, f"k0 {run_a}"),
        (4, f"k1 {run_b}"),
        (5, f"{run_a} {run_a}"),       # 9 overlapping dup starts, one island
    ]
    out = {
        r.doc_id: r
        for r in dedup.span_profile(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    assert (out[1].sp_spans, out[1].sp_dup_tokens) == (1, 16)
    assert (out[2].sp_spans, out[2].sp_dup_tokens) == (2, 16)
    # doc 5: every 8-window of "run_a run_a" repeats somewhere (the run
    # itself is corpus-hot and the doc is periodic) -> full coverage
    assert (out[5].sp_spans, out[5].sp_dup_tokens, out[5].sp_kept_hash) == (1, 16, 0)


def _span_rows(df):
    return {
        r.doc_id: (r.sp_dup_starts, r.sp_spans, r.sp_dup_tokens,
                   r.sp_dup_ratio, r.sp_kept_hash)
        for r in df.collect()
    }


def test_span_index_incremental_matches_full_rebuild(spark):
    """Maintenance invariant of the span index, both directions:
    (a) every profile incremental_span_profiles returns equals the
    from-scratch span_profile(old ∪ batch) for that doc, and (b) the
    refreshed set is EXACTLY the indexed docs whose profile the batch
    changed (grams crossing count 1 -> >= 2)."""
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    docs = Catalog(spark, SF_TEST).documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    prefix = _uniq("spanidx")
    try:
        dedup.save_span_index(old, prefix)
        inc = dedup.incremental_span_profiles(spark, prefix, new, old)
        rows = inc.collect()
        batch = {r.doc_id for r in rows if r.origin == "batch"}
        refreshed = {r.doc_id for r in rows if r.origin == "refreshed"}
        assert batch == {r.doc_id for r in new.select("doc_id").collect()}

        full = _span_rows(dedup.span_profile(docs))
        got = _span_rows(inc.drop("origin"))
        assert all(got[d] == full[d] for d in got), "profiles drift from full rebuild"

        old_only = _span_rows(dedup.span_profile(old))
        truly_changed = {d for d in old_only if old_only[d] != full[d]}
        assert refreshed == truly_changed
        assert truly_changed, "fixture halves should share spans (dup docs exist)"
    finally:
        for t in (f"{prefix}_grams", f"{prefix}_grams_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_span_index_extend_equals_fresh_build(spark):
    """index(old) extended with the admitted batch must serve the next
    incremental query exactly like index(old ∪ batch) built fresh."""
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    docs = Catalog(spark, SF_TEST).documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 == 0)
    mid = docs.filter(F.col("doc_id") % 3 == 1)
    nxt = docs.filter(F.col("doc_id") % 3 == 2)
    grown, fresh = _uniq("spangrow"), _uniq("spanfresh")
    try:
        dedup.save_span_index(old, grown)
        dedup.extend_span_index(mid, grown)
        dedup.save_span_index(old.unionAll(mid), fresh)
        base = old.unionAll(mid)
        a = dedup.incremental_span_profiles(spark, grown, nxt, base)
        b = dedup.incremental_span_profiles(spark, fresh, nxt, base)
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb and ra
    finally:
        for p in (grown, fresh):
            for t in (f"{p}_grams", f"{p}_grams_tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_span_index_removal_refresh_chain(spark):
    """add -> remove -> add against the tombstoned/compacted index: a
    retraction un-duplicates the surviving copy (refresh reports its
    coverage collapsing), compaction preserves behavior, and a later
    batch restoring the gram re-duplicates the same doc."""
    run = "a b c d e f g h"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    d1 = (1, f"x1 {run} y1")
    d2 = (2, f"x2 {run} y2")
    d3 = (3, "m n o p q r s t u v")
    prefix = _uniq("spanrm")
    try:
        dedup.save_span_index(mk([d1, d2, d3]), prefix)
        # retract doc 2: the shared run's live count drops 2 -> 1
        dedup.remove_from_span_index(spark, prefix, [2])
        ref = _span_rows(
            dedup.removal_span_refresh(
                spark, prefix, mk([d2]), mk([d1, d3])
            )
        )
        assert set(ref) == {1}
        assert ref[1][2] == 0 and ref[1][4] != 0  # coverage gone, text kept
        # compaction: tombstones applied physically, same live behavior
        dedup.compact_span_index(spark, prefix)
        assert spark.table(f"{prefix}_grams").filter(
            F.col("doc_id") == 2
        ).count() == 0
        # a new batch restores the run: doc 1 must re-duplicate
        inc = dedup.incremental_span_profiles(
            spark, prefix, mk([(4, f"z4 {run} w4")]), mk([d1, d3])
        )
        rows = {r.doc_id: r for r in inc.collect()}
        assert rows[4].origin == "batch" and rows[4].sp_dup_tokens == 8
        assert rows[1].origin == "refreshed" and rows[1].sp_dup_tokens == 8
        assert set(rows) == {1, 4}
    finally:
        for t in (f"{prefix}_grams", f"{prefix}_grams__gen",
                  f"{prefix}_grams_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_span_index_count_groupby_is_exchange_free(spark):
    """Plan certificate: the index-side gram-frequency count must run
    bucket-local — the point of bucketing `{prefix}_grams` on gh is
    that every incremental query's count pass pays no Exchange on the
    corpus-sized side (the bucket layout was paid at write time)."""
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    docs = Catalog(spark, SF_TEST).documents.select("doc_id", "text")
    prefix = _uniq("spanplan")
    try:
        dedup.save_span_index(docs, prefix)
        cnt = (
            dedup._live_index(spark, prefix, "grams")
            .groupBy("gh")
            .agg(F.count("*").alias("ci"))
        )
        plan = cnt._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert "Exchange" not in plan, "gram count must not reshuffle the index"
    finally:
        for t in (f"{prefix}_grams", f"{prefix}_grams_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_family_tombstones_are_isolated_per_index(spark):
    """Regression (round-6 review finding): a near-dup index and a span
    index under the SAME prefix must keep separate tombstone tables —
    compacting one family must not discard (nor prematurely apply) the
    other family's pending retractions."""
    run = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, f"x1 {run} y1"), (2, f"x2 {run} y2"), (3, "m n o p q r s t")],
        "doc_id long, text string",
    )
    prefix = _uniq("fams")
    try:
        dedup.save_neardup_index(docs, prefix)
        dedup.save_span_index(docs, prefix)
        # retract doc 2 from the SPAN index only, then compact the
        # NEAR-DUP index: before the fix both wrote {prefix}_tombstones
        # and this compaction dropped the pending span retraction
        dedup.remove_from_span_index(spark, prefix, [2])
        dedup.compact_neardup_index(spark, prefix)
        live_span_ids = {
            r.doc_id
            for r in dedup._live_index(spark, prefix, "grams")
            .select("doc_id").distinct().collect()
        }
        assert 2 not in live_span_ids, "span retraction resurrected"
        # and the near-dup side never saw the span tombstone: doc 2's
        # bands/hsets survive its compaction untouched
        assert spark.table(f"{prefix}_hsets").filter(
            F.col("doc_id") == 2
        ).count() == 1
    finally:
        for t in ("bands", "hsets", "grams", "tombstones",
                  "grams_tombstones", "bands__gen", "hsets__gen",
                  "grams__gen"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_span_island_fold_matches_reference_on_random_starts(spark):
    """Property check of the Catalyst island fold in isolation: for 100
    seeded-random duplicated-start sets, _span_profiles_from_starts
    must agree with a sequential interval merger on span count, covered
    tokens, and the kept-token reassembly (one Spark job for all
    cases — the fold is the trickiest expression in the pipeline:
    slice/concat/struct surgery inside F.aggregate)."""
    import random

    rng = random.Random(0xC0FFEE)
    L = dedup.SPAN_L
    cases = []
    for i in range(100):
        n = rng.randint(0, 40) + (L if i % 5 else 0)
        ts = [f"t{j}" for j in range(n)]
        max_s = max(n - L + 1, 0)
        k = rng.randint(0, max_s) if max_s else 0
        ss = sorted(rng.sample(range(1, max_s + 1), k)) if k else []
        cases.append((i, ts, ss))

    base = spark.createDataFrame(
        [(i, ts) for i, ts, _ in cases], "doc_id long, ts array<string>"
    )
    starts = spark.createDataFrame(
        [(i, ss) for i, ts, ss in cases if ss],
        "doc_id long, ss array<int>",
    )
    got = {
        r.doc_id: r
        for r in dedup._span_profiles_from_starts(base, starts).collect()
    }

    def ph(s):
        a = 0
        for ch in s:
            a = (a * 31 + ord(ch)) % hashing.P
        return a

    for i, ts, ss in cases:
        spans = []
        for s in ss:
            if spans and s <= spans[-1][1] + 1:
                spans[-1][1] = s + L - 1
            else:
                spans.append([s, s + L - 1])
        covered = {p for b, e in spans for p in range(b, e + 1)}
        kept = " ".join(t for j, t in enumerate(ts) if j + 1 not in covered)
        r = got[i]
        assert r.sp_dup_starts == len(ss), i
        assert r.sp_spans == len(spans), i
        assert r.sp_dup_tokens == len(covered), i
        assert r.sp_kept_hash == ph(kept), i


def test_canonical_per_cluster_selection(spark):
    """The survivor-decision contract: every cluster keeps exactly one
    member; the kept member attains the cluster's max quality (ties
    resolved toward min doc_id); the listed doc set is exactly the
    clustered set."""
    rows = dedup.canonical_per_cluster(spark, SF_TEST).collect()
    assert rows
    clustered = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(spark, SF_TEST).collect()}
    assert {r.doc_id for r in rows} == set(clustered)
    by_cluster = {}
    for r in rows:
        assert clustered[r.doc_id] == r.cluster_id
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        kept = [r for r in members if r.keep]
        assert len(kept) == 1, cid
        best_q = max(r.quality for r in members)
        assert kept[0].quality == best_q
        ties = sorted(r.doc_id for r in members if r.quality == best_q)
        assert kept[0].doc_id == ties[0]


def _hot_corpus(spark):
    """6 identical docs (every LSH band bucket they occupy has size 6)
    plus one disjoint-vocab near-dup pair — the adversarial input the
    hot-bucket cap exists for. Texts need >= 2 tokens (word-bigram
    shingles)."""
    same = "alpha beta gamma delta epsilon zeta"
    base = "red orange yellow green blue indigo violet cyan magenta teal maroon"
    rows = [(i, same) for i in range(6)]
    rows += [(10, base + " crimson"), (11, base + " scarlet")]
    # jaccard(10,11) = 10/12 ~ 0.833 >= 0.8, and the pair collides in a
    # band under the fixed hash family (verified against the oracle SQL)
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_band_bucket_cap_drops_only_hot_buckets(spark):
    """With the cap inert, all 16 pairs (C(6,2) identical + the planted
    near-dup) appear; with cap=4 the identical-text mass — which
    exact_dedup, not MinHash, is the right tool for — is excluded while
    the legit pair survives, and hot_band_buckets counts exactly what
    was dropped (no silent caps)."""
    docs = _hot_corpus(spark)
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_pairs_from_docs(docs, bucket_cap=None).collect()
    }
    assert (10, 11) in uncapped
    assert len(uncapped) == 16  # 15 identical pairs + the near-dup pair
    # default cap (128) is inert on any corpus this small
    default = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_pairs_from_docs(docs).collect()
    }
    assert default == uncapped
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_pairs_from_docs(docs, bucket_cap=4).collect()
    }
    assert capped == {(10, 11)}
    hot = dedup.hot_band_buckets(
        dedup.bands_from_hsets(dedup.hsets_from_docs(docs)), 4
    ).collect()
    # the 6 identical docs share one (h1, h2) per band -> 8 hot buckets
    assert len(hot) == dedup.BANDS
    assert all(r.bsz == 6 for r in hot)


def test_hot_bucket_cap_mirrored_in_oracle(spark):
    """The DuckDB oracle applies the identical occupancy cap, so parity
    holds even on an input where the cap FIRES (the driver's sf corpora
    never reach it — this is the adversarial leg). Engine and oracle
    are compared at a bucket_cap the fixture crosses, by overriding the
    module constant in the generated SQL text."""
    import duckdb as ddb

    from uw_hadoop_aglorithms_spark.oracles import DEDUP_ORACLES

    docs = _hot_corpus(spark)
    sql = DEDUP_ORACLES["minhash_lsh_dedup"].replace(
        f"bsz <= {dedup.BAND_BUCKET_CAP}", "bsz <= 4"
    )
    assert sql != DEDUP_ORACLES["minhash_lsh_dedup"], "cap literal not found"
    con = ddb.connect()
    con.register("documents", docs.toPandas())
    want = {(a, b): j for a, b, j in con.execute(sql).fetchall()}
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_pairs_from_docs(docs, bucket_cap=4).collect()
    }
    assert got == want == {(10, 11): got[(10, 11)]}


def test_incremental_cap_uses_combined_occupancy(spark):
    """The incremental path gates band keys on index+batch occupancy —
    the same bucket the full rebuild sees — so a key that crosses the
    cap only in the union emits nothing, exactly like the capped batch
    build; under-cap keys flow untouched."""
    same = "alpha beta gamma delta epsilon zeta"
    base = "red orange yellow green blue indigo violet cyan magenta teal maroon"
    old = spark.createDataFrame(
        [(i, same) for i in range(3)] + [(10, base + " crimson")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(i, same) for i in range(3, 5)] + [(11, base + " scarlet")],
        "doc_id long, text string",
    )
    prefix = _uniq("hotincr")
    try:
        dedup.save_neardup_index(old, prefix)
        capped = {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
            for r in dedup.incremental_neardup_pairs(
                spark, prefix, new, bucket_cap=4
            ).collect()
        }
        uncapped = {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
            for r in dedup.incremental_neardup_pairs(
                spark, prefix, new, bucket_cap=None
            ).collect()
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_hsets")
    # union occupancy of the identical-text buckets is 5 > 4: dropped;
    # the near-dup pair's buckets hold 2: kept
    assert capped == {(10, 11)}
    # uncapped finds every identical pair touching the batch:
    # 3 old x 2 new + C(2,2) within-batch = 7, plus the near-dup pair
    assert len(uncapped) == 8
    # and matches the capped FULL rebuild restricted to batch-touching
    # pairs (the registered incr oracle's shape)
    full_capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_pairs_from_docs(
            old.unionAll(new), bucket_cap=4
        ).collect()
    }
    new_ids = {3, 4, 11}
    assert capped == {
        p for p in full_capped if p[0] in new_ids or p[1] in new_ids
    }


def test_incremental_hot_band_buckets_expose_gated_keys(spark):
    """ADVICE r6 #2 regression: the incremental path's capped mass is
    observable. The same fixture as the capped-incremental test — the
    identical-text band keys cross combined occupancy 5 > 4, the
    near-dup keys stay at 2 — so incremental_hot_band_buckets must
    return exactly the identical-text keys with (n_new, n_idx, bsz)
    accounting, and an empty frame at the default cap."""
    same = "alpha beta gamma delta epsilon zeta"
    base = "red orange yellow green blue indigo violet cyan magenta teal maroon"
    old = spark.createDataFrame(
        [(i, same) for i in range(3)] + [(10, base + " crimson")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(i, same) for i in range(3, 5)] + [(11, base + " scarlet")],
        "doc_id long, text string",
    )
    prefix = _uniq("hotobs")
    try:
        dedup.save_neardup_index(old, prefix)
        hot = dedup.incremental_hot_band_buckets(
            spark, prefix, new, bucket_cap=4
        ).collect()
        # every gated key: 2 batch copies + 3 index copies of the
        # identical text = combined 5
        assert hot and all(
            (r.n_new, r.n_idx, r.bsz) == (2, 3, 5) for r in hot
        )
        # the gated keys are exactly the identical-text bands (one per
        # band_no — BANDS of them)
        assert len(hot) == dedup.BANDS
        # gated keys == keys the gate drops: rerunning the incremental
        # pairs at the same cap finds no pair through those keys
        capped = {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
            for r in dedup.incremental_neardup_pairs(
                spark, prefix, new, bucket_cap=4
            ).collect()
        }
        assert capped == {(10, 11)}
        # at the production cap nothing is gated, and the probe says so
        assert not dedup.incremental_hot_band_buckets(
            spark, prefix, new
        ).take(1)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_hsets")


def test_hsets_pandas_kernel_matches_catalyst(spark):
    """Round-12 optimization pin: the Arrow-batched mapInPandas hset
    kernel (hsets_from_docs) must be BYTE-identical — ids, hash values,
    and first-occurrence array order — to the pure-Catalyst reference
    it replaced (hsets_from_docs_catalyst). Any tokenizer/fold drift
    between Python and the JVM surfaces here before the driver's
    value-hash does."""
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    got = {
        r.doc_id: list(r.hs) for r in dedup.hsets_from_docs(docs).collect()
    }
    want = {
        r.doc_id: list(r.hs)
        for r in dedup.hsets_from_docs_catalyst(docs).collect()
    }
    assert got == want
    # degenerate inputs: empty text, single token, None
    odd = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, None), (4, "a b a b")],
        "doc_id long, text string",
    )
    got_odd = {
        r.doc_id: (None if r.hs is None else list(r.hs))
        for r in dedup.hsets_from_docs(odd).collect()
    }
    want_odd = {
        r.doc_id: (None if r.hs is None else list(r.hs))
        for r in dedup.hsets_from_docs_catalyst(odd).collect()
    }
    assert got_odd == want_odd
    assert want_odd[3] is None, "NULL text must stay NULL, not []"


def test_grams_pandas_kernel_matches_catalyst(spark):
    """Round-12 pin for the string-shingle kernel (same contract as the
    hsets pin above: ids, gram strings, first-occurrence order)."""
    got = {
        r.doc_id: list(r.gs) for r in dedup._grams(spark, SF_TEST).collect()
    }
    want = {
        r.doc_id: list(r.gs)
        for r in dedup._grams_catalyst(spark, SF_TEST).collect()
    }
    assert got == want


def test_kernel_tokenizer_parity_non_ascii(spark):
    """Round-13 property pin (VERDICT r12 §What's wrong 7): the Python
    kernels' `str.lower()` + `[^a-z0-9']+` split must agree with the
    Catalyst `F.lower` + same-class split on NON-ASCII text, where the
    two engines' Unicode case mappings could in principle diverge
    (Kelvin sign → k, dotted İ → i + combining dot, final sigma,
    fullwidth forms, ligatures, surrogate pairs). Both the hset and the
    gram paths are pinned kernel == Catalyst end to end."""
    cases = [
        (1, "Kelvin sign maps to k"),          # K (Kelvin) → 'k'
        (2, "İstanbul Iı dotless"),       # İ → i+U+0307, ı stays
        (3, "ΣΊΣΥΦΟΣ σίσυφος ΤΈΛΟΣ"),               # final-sigma contexts
        (4, "ﬁnance ﬂood ﬀort ligatures"),          # ﬁ/ﬂ/ﬀ ligatures
        (5, "Ｆｕｌｌｗｉｄｔｈ ＡＢＣ １２３"),      # fullwidth forms
        (6, "straße STRASSE ẞ ß sharp-s"),          # ẞ → ß (not ss)
        (7, "Ⅰ Ⅱ Ⅲ roman numerals Ⅻ"),             # Ⅰ → ⅰ
        (8, "emoji 🎉 mixed 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 surrogates 𝒜"),  # non-BMP
        (9, "combining áccents ë ů"),
        (10, "ᏣᎳᎩ cherokee ᎠᎡᎢ lowercase-added"),
        (11, "mixed ASCII o'clock DON'T 42x"),
    ]
    docs = spark.createDataFrame(cases, "doc_id long, text string")

    got_h = {
        r.doc_id: list(r.hs) for r in dedup.hsets_from_docs(docs).collect()
    }
    want_h = {
        r.doc_id: list(r.hs)
        for r in dedup.hsets_from_docs_catalyst(docs).collect()
    }
    assert got_h == want_h

    from uw_hadoop_aglorithms_spark.functions.text import tokens

    got_g = {
        r.doc_id: list(r.gs)
        for r in docs.select("doc_id", "text")
        .mapInPandas(dedup._grams_batches, "doc_id long, gs array<string>")
        .collect()
    }
    ts = tokens("text")
    n = F.greatest(F.size(ts) - F.lit(1), F.lit(0))
    grams = F.zip_with(
        F.slice(ts, 1, n),
        F.slice(ts, 2, n),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    want_g = {
        r.doc_id: list(r.gs)
        for r in docs.select(
            "doc_id", F.array_distinct(grams).alias("gs")
        ).collect()
    }
    assert got_g == want_g
