"""Deduplication suite over `documents` (beyond-reference capability).

The reference has no dedup; this family is the training-data-pipeline
extension mandated by the build brief. Five operators, all shuffle-light
and designed for the 100 TB path:

- exact_dedup       — hash-groupBy on normalized text (shuffles a 32-byte
                      digest, never the document body).
- ngram_jaccard     — exact all-pairs word-bigram Jaccard via inverted-
                      index self-join (the small-scale ground truth; at
                      100 TB its hot-shingle join explodes — that's what
                      minhash_lsh_dedup is for).
- minhash_lsh_dedup — MinHash signatures (16 perms) → LSH bands (8×2) →
                      candidate pairs → exact-Jaccard verification. The
                      scale path: shuffle volume is O(docs × bands), and
                      candidate verification touches only colliding pairs.
- simhash_dedup     — 30-bit SimHash; banded self-join with PROVABLY
                      total recall for hamming ≤ 3 (4 bands, pigeonhole).
- embedding_cosine_dups — near-dup pairs by exact cosine over the
                      `embeddings` table (brute-force baseline; the ANN
                      operators in similarity.py are the scale path).

Every operator here has a full DuckDB oracle: the engine-neutral
polyhash (functions/hashing.py) lets the oracle replicate the EXACT
MinHash/SimHash pipeline, so even the randomized-looking ops are
hash-checked, not just row-counted.

Shingle choice: word bigrams. Profiling the synthetic corpus showed
unigram Jaccard is saturated (median 0.63 — tiny vocab) while bigram
Jaccard cleanly separates planted near-dups (25 pairs ≥ 0.8, background
median 0.024).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uw_hadoop_aglorithms_spark.functions import folds
from uw_hadoop_aglorithms_spark.functions.hashing import P, bucket, polyhash, uhash
from uw_hadoop_aglorithms_spark.functions.text import tokens
from uw_hadoop_aglorithms_spark.plans.layout import shared_frame, spread_for_cpu
from uw_hadoop_aglorithms_spark.sources.catalog import Catalog
from uw_hadoop_aglorithms_spark.sources import indexes
from uw_hadoop_aglorithms_spark.session import dedup_tuned_session

#: Near-dup Jaccard threshold (word-bigram shingles).
JACCARD_THRESHOLD = 0.8
#: MinHash family: NUM_PERMS signatures, BANDS bands of ROWS_PER_BAND.
NUM_PERMS = 16
BANDS = 8
ROWS_PER_BAND = 2
#: SimHash: 60-bit signatures from TWO engine-neutral uhash members
#: (round 7, closing the round-6 density caveat: a 30-bit signature
#: space saturates at large corpora and its 8-bit bands collide at
#: 1/256 per random pair — 15-bit bands collide at 1/32768 and the
#: signature space grows to 2^60). Each member supplies 30 uniform
#: bits (uhash range is [0, P), P ≈ 2^29.9 — bits above 29 are not
#: uniform, so each half stops at 30); DuckDB replays both members
#: bit-exactly. 4 bands → total recall for hamming <= HAMMING_MAX by
#: pigeonhole (3 flips can't hit 4 bands).
SIMHASH_HALF = 30
SIMHASH_BITS = 60
SIMHASH_BANDS = ((0, 15), (15, 15), (30, 15), (45, 15))  # (offset, width)
HAMMING_MAX = 3
#: Universal-hash members reserved for the SimHash bit sources
#: (MinHash uses members 0..NUM_PERMS-1): low 30 bits / high 30 bits.
SIMHASH_MEMBER = 101
SIMHASH_MEMBER_HI = 102
#: Cosine near-dup threshold over `embeddings`.
COSINE_THRESHOLD = 0.4
#: The quadratic ground-truth baselines (ngram_jaccard, embedding cosine)
#: refuse inputs above this row count: they exist to verify the LSH
#: variants at oracle scale, and must never be pointed at a lake. The
#: guard costs one metadata-cheap count per call.
BRUTE_MAX_ROWS = 100_000
#: Hot-band-bucket occupancy cap for the MinHash LSH candidate joins. A
#: band bucket with |b| docs emits |b|²/2 candidate pairs — the one step
#: of the LSH pipeline that is quadratic in a DATA property rather than
#: corpus size, and AQE skew-splitting cannot help (splitting a hot
#: key's partition does not reduce its pair count). Buckets over the cap
#: are EXCLUDED from candidate generation, in the engine and in the
#: DuckDB oracle symmetrically (oracles._minhash_lsh_sql), so parity
#: holds even on adversarial inputs. Rationale for dropping rather than
#: sampling: a bucket that hot is either (a) identical/near-identical
#: text mass that exact_dedup (which runs FIRST in every composed
#: pipeline here — see pipeline.corpus_curation) should have removed, or
#: (b) boilerplate shingles so common they carry no dedup signal. The
#: cap is QUERY-TIME only — the persisted index stores all band rows
#: (save/extend_neardup_index are uncapped), so it can be retuned per
#: query without rebuilding the index. Dropped buckets are observable
#: via `hot_band_buckets` (no silent caps). Measured occupancy on the
#: synthetic fixture: max 9 at sf0.01, max 87 at sf0.1 (small-vocab word
#: soup makes min-hash collisions legitimately common), so 128 is inert
#: at verified scales and fires ~sf1+, exactly the regime it exists for.
BAND_BUCKET_CAP = 128


def _guard_brute(n: int, name: str, alternative: str) -> None:
    if n > BRUTE_MAX_ROWS:
        raise ValueError(
            f"{name} is a quadratic ground-truth baseline: refusing "
            f"{n} input rows (> BRUTE_MAX_ROWS={BRUTE_MAX_ROWS}). "
            f"Use {alternative} — the bucketed scale path with the same "
            "semantics."
        )


def _grams_batches(batches):
    """mapInPandas kernel for _grams — the string-shingle analog of
    _hsets_batches (same tokenizer, same first-occurrence distinct,
    NULL text stays NULL; pinned against the Catalyst reference in
    tests/test_dedup.py)."""
    import re

    import pandas as pd

    tok = re.compile(r"[^a-z0-9']+")
    for pdf in batches:
        ids, gss = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                ids.append(doc_id)
                gss.append(None)
                continue
            toks = [w for w in tok.split(text.lower()) if w]
            seen: set = set()
            gs = []
            for a, b in zip(toks, toks[1:]):
                g = f"{a} {b}"
                if g not in seen:
                    seen.add(g)
                    gs.append(g)
            ids.append(doc_id)
            gss.append(gs)
        yield pd.DataFrame({"doc_id": ids, "gs": gss})


def _grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gs: array<string>) — distinct word-bigram shingles.

    Round 12: Arrow-batched mapInPandas (the hsets_from_docs rationale —
    interpreted HOF lambdas dominated; measured ngram_jaccard_pairs
    2.67 → 2.18 s at sf0.1, interleaved n=4 minima, values identical).
    The scan is spread across cores when (and only when) the input is
    under-parallel — see plans/layout.spread_for_cpu for why this must
    not be unconditional at lake scale."""
    docs = spread_for_cpu(Catalog(spark, sf_dir).documents, "doc_id")
    return docs.select("doc_id", "text").mapInPandas(
        _grams_batches, "doc_id long, gs array<string>"
    )


def _grams_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-round-12 pure-Catalyst _grams — parity reference for tests."""
    docs = spread_for_cpu(Catalog(spark, sf_dir).documents, "doc_id")
    ts = tokens("text")
    n = F.greatest(F.size(ts) - F.lit(1), F.lit(0))
    grams = F.zip_with(
        F.slice(ts, 1, n),
        F.slice(ts, 2, n),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return docs.select("doc_id", F.array_distinct(grams).alias("gs"))


def _gram_hash_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs: array<long>) — DISTINCT word-bigram shingle hashes.

    Each token is polyhashed ONCE, then a bigram hashes as
    (th1 * 31 + th2) % P — chars fold per token occurrence instead of
    per shingle string, measurably faster for the minhash/simhash
    pipelines. The DuckDB oracle replicates the same combine
    (oracles._HASHED_CTE), so hash-level parity is preserved;
    distinctness is per hash pair (collisions ~n²/P per doc, mirrored
    identically in the oracle).

    Deliberately NOT cached/memoized across the dedup members — a call
    RE-CONFIRMED at 8 members (round 6, n=3 sf0.1 suite medians,
    tools/ab_hset_cache.py): recompute 11.69 s beats a per-call shared
    cache+count 14.44 s AND a shared cache without the count barrier
    15.08 s. The fused whole-stage-codegen recompute overlaps with the
    other concurrent members' work, while a shared materialization sits
    on the critical path and its cache reads are slower than the fused
    scan. (A first A/B showed shared-localCheckpoint at 10.46 s, but
    that memoized the checkpoint ACROSS suite calls — build cost
    excluded — which a registered per-call query can't do.) The
    original 4-member measurement (round 3: caching sped the suite
    ~5 s but slowed the clustering fixpoint ~6 s) is superseded by
    these numbers."""
    docs = spread_for_cpu(Catalog(spark, sf_dir).documents, "doc_id")
    return hsets_from_docs(docs)


#: Python-side tokenizer for _hsets_batches — same class as
#: functions/text.TOKEN_SEP, anchored character-for-character.
_TOK_RE = None


def _hsets_batches(batches):
    """mapInPandas kernel for hsets_from_docs: per doc, tokenize →
    polyhash each token → 31-ary-combine adjacent token hashes →
    first-occurrence-distinct. Bit-identical to the Catalyst form
    (verified row-for-row at sf0.001/0.01/0.1, tests/test_dedup.py):
    same lowercase, same [^a-z0-9']+ split, same (acc*31 + codepoint)
    % P fold (ord == F.ascii for every code point the split emits), same
    pair combine, and array_distinct's keep-first-occurrence order.
    Module-level (not a closure) so reused Python workers keep the
    compiled regex across tasks (guide §4.5 shape)."""
    import re

    import pandas as pd

    global _TOK_RE
    if _TOK_RE is None:
        _TOK_RE = re.compile(r"[^a-z0-9']+")
    for pdf in batches:
        out_ids, out_hs = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                # Catalyst propagates NULL text to NULL hs (tokens(NULL)
                # is NULL, not []) — mirror it exactly
                out_ids.append(doc_id)
                out_hs.append(None)
                continue
            toks = [w for w in _TOK_RE.split(text.lower()) if w]
            th = []
            for w in toks:
                acc = 0
                for ch in w:
                    acc = (acc * 31 + ord(ch)) % P
                th.append(acc)
            seen: set = set()
            hs = []
            for a, b in zip(th, th[1:]):
                h = (a * 31 + b) % P
                if h not in seen:
                    seen.add(h)
                    hs.append(h)
            out_ids.append(doc_id)
            out_hs.append(hs)
        yield pd.DataFrame({"doc_id": out_ids, "hs": out_hs})


def hsets_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, hs) from any (doc_id, text, …) frame — the reusable core
    of _gram_hash_sets (shared with the incremental index path).

    Round 12: Arrow-batched mapInPandas instead of the Catalyst
    transform/zip_with/array_distinct chain. Higher-order-function
    lambdas evaluate INTERPRETED per element, so the per-char polyhash
    fold was the dominant CPU of every hset consumer; the Python kernel
    (a tight bytecode loop over the same arithmetic) measured
    minhash_lsh_dedup 3.75 → 2.76 s and simhash_dedup 6.93 → 3.14 s at
    sf0.1 (interleaved n=4 minima), values byte-identical. Only doc_id
    and text cross the boundary (explicit select — guide §4.1), and the
    work stays map-side with no shuffle, so the 100 TB shape is
    unchanged: scan-bound, linear, partition-local."""
    return docs.select("doc_id", "text").mapInPandas(
        _hsets_batches, "doc_id long, hs array<long>"
    )


def hsets_from_docs_catalyst(docs: DataFrame) -> DataFrame:
    """The pre-round-12 pure-Catalyst form, kept as the parity reference
    for tests (tests/test_dedup.py pins mapInPandas == Catalyst on the
    fixtures) and as the fallback for Python-less deployments."""
    ts = tokens("text")
    th = F.transform(ts, lambda t: polyhash(t))
    n = F.greatest(F.size(th) - F.lit(1), F.lit(0))
    pairs = F.zip_with(
        F.slice(th, 1, n),
        F.slice(th, 2, n),
        lambda a, b: (a * F.lit(31) + b) % F.lit(P),
    )
    return docs.select("doc_id", F.array_distinct(pairs).alias("hs"))


def _exploded_gram_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ph) — one row per distinct shingle hash."""
    return _gram_hash_sets(spark, sf_dir).select(
        "doc_id", F.explode("hs").alias("ph")
    )


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: survivor (min doc_id) + copy count per normalized text.

    Groups on sha2-256 of the whitespace-normalized lowercased body, so
    the shuffle carries a fixed 64-hex digest instead of document bodies
    — at 100 TB that's the difference between shuffling 100 TB and
    shuffling ~6 GB per billion docs. 256-bit digests make collisions
    ignorable (the DuckDB oracle groups on the text itself; a hash
    mismatch would surface any collision).
    """
    docs = Catalog(spark, sf_dir).documents
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select(F.sha2(norm, 256).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-bigram Jaccard >= 0.8 via index join.

    Inverted-index self-join (shingle → docs) computes |A∩B| with one
    shuffle on the shingle key; set sizes join in afterwards. Exact but
    quadratic in hot shingles — the LSH variant below is the scale path,
    and a BRUTE_MAX_ROWS guard refuses lake-sized inputs outright.
    Jaccard is an int/int double division: bit-identical in DuckDB, so
    no rounding is needed for oracle parity.
    """
    # round 13: dedup-scoped AQE floor via a child session (see
    # session.dedup_tuned_session) — thread-safe, off for every
    # non-dedup operator
    spark = dedup_tuned_session(spark)
    _guard_brute(
        Catalog(spark, sf_dir).documents.count(),
        "ngram_jaccard_pairs",
        "minhash_lsh_dedup",
    )
    # localCheckpoint, not cache (round 12): the self-join consumes the
    # gram pipeline on BOTH sides, and the mapInPandas subtree defeats
    # the exchange-reuse dedup a cached Catalyst subtree used to get —
    # materializing once restores single execution (14 → 10 stages,
    # 3.17 → 2.93 s interleaved minima). Blocks are freed by the
    # ContextCleaner when the frame's Python ref dies.
    grams = shared_frame(_grams(spark, sf_dir))
    sizes = grams.select("doc_id", F.size("gs").alias("n"))
    sh = grams.select("doc_id", F.explode("gs").alias("g"))
    # MERGE-pinned (round 13, VERDICT r12 §What's wrong 3): the exploded
    # shingle side is corpus-sized, so a broadcast of it never survives
    # scale — yet with honest materialized-size stats from the
    # checkpointed gram frame, AQE re-chose BroadcastHashJoin at sf0.1
    # depending on the run (a per-run lottery that showed up as bimodal
    # suite wall-clock). The explicit hint opts the self-join out of
    # dynamic broadcast conversion: the documented shuffle-on-shingle-key
    # plan, deterministic across hosts AND the only shape that survives
    # 100 TB (the pagerank state-join precedent).
    inter = (
        sh.alias("a").hint("merge")
        .join(sh.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def bands_from_hsets(hsets: DataFrame) -> DataFrame:
    """(doc_id, band_no, h1, h2) LSH band keys from (doc_id, hs):
    16-perm MinHash signature folded into 8 bands of 2 rows — the
    reusable core of minhash_lsh_dedup, shared with the incremental
    index path. One groupBy; the 16 min-aggregates ride one shuffle."""
    hashed = hsets.select("doc_id", F.explode("hs").alias("ph"))
    sigs = hashed.groupBy("doc_id").agg(
        *[F.min(uhash(F.col("ph"), i)).alias(f"s{i}") for i in range(NUM_PERMS)]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_no"),
                F.col(f"s{b * ROWS_PER_BAND}").alias("h1"),
                F.col(f"s{b * ROWS_PER_BAND + 1}").alias("h2"),
            )
            for b in range(BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bd")).select(
        "doc_id", "bd.band_no", "bd.h1", "bd.h2"
    )


_BAND_KEY = ["band_no", "h1", "h2"]


def capped_bands(
    bands: DataFrame, bucket_cap: int = BAND_BUCKET_CAP
) -> DataFrame:
    """Band rows minus hot buckets (occupancy > bucket_cap) — the
    candidate-join back-pressure guard (see BAND_BUCKET_CAP). One window
    count over the band key; no orderBy, so no sort — and the window's
    hash partitioning is the same the candidate self-join needs, so the
    Exchange is paid once and reused for both join sides."""
    w = Window.partitionBy(*_BAND_KEY)
    return (
        bands.withColumn("bsz", F.count(F.lit(1)).over(w))
        .where(F.col("bsz") <= bucket_cap)
        .drop("bsz")
    )


def hot_band_buckets(
    bands: DataFrame, bucket_cap: int = BAND_BUCKET_CAP
) -> DataFrame:
    """(band_no, h1, h2, bsz) for every bucket the cap excludes — the
    observability side of capped_bands: a curation run logs/persists
    this so capped mass is counted, never silent."""
    return (
        bands.groupBy(*_BAND_KEY)
        .agg(F.count(F.lit(1)).alias("bsz"))
        .where(F.col("bsz") > bucket_cap)
    )


def incremental_hot_band_buckets(
    spark: SparkSession,
    prefix: str,
    new_docs: DataFrame,
    bucket_cap: int = BAND_BUCKET_CAP,
) -> DataFrame:
    """(band_no, h1, h2, n_new, n_idx, bsz) for every band key whose
    COMBINED occupancy (live index + this batch) exceeds the cap — the
    keys `incremental_neardup_pairs` gates OUT for this batch. The
    incremental analog of `hot_band_buckets` (ADVICE r6 #2: the
    incremental path must expose its capped mass, not drop it
    silently): an ingest run logs/persists this per batch so a key
    crossing the cap mid-lifecycle is an auditable event. Same
    delta-sized probe as the gate itself — the index side is touched
    only via a broadcast semi-join on the batch's keys."""
    new_bands = bands_from_hsets(hsets_from_docs(new_docs))
    idx_bands = _live_index(spark, prefix, "bands")
    on = list(_BAND_KEY)
    new_keys = new_bands.groupBy(*on).agg(F.count(F.lit(1)).alias("n_new"))
    idx_occ = (
        idx_bands.join(F.broadcast(new_keys.select(*on)), on)
        .groupBy(*on)
        .agg(F.count(F.lit(1)).alias("n_idx"))
    )
    return (
        new_keys.join(idx_occ, on, "left")
        .withColumn("n_idx", F.coalesce(F.col("n_idx"), F.lit(0)))
        .withColumn("bsz", F.col("n_new") + F.col("n_idx"))
        .where(F.col("bsz") > bucket_cap)
    )


def verify_pairs(cand: DataFrame, hsets: DataFrame, hsets_b: DataFrame | None = None) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    against shingle-hash sets; `hsets_b` lets the two sides come from
    different tables (incremental path). Returns (doc_a, doc_b,
    jaccard) at >= JACCARD_THRESHOLD, unordered."""
    ga = hsets.withColumnsRenamed({"doc_id": "doc_a", "hs": "ga"})
    gb = (hsets_b if hsets_b is not None else hsets).withColumnsRenamed(
        {"doc_id": "doc_b", "hs": "gb"}
    )
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("jaccard", inter / (F.size("ga") + F.size("gb") - inter))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-verified at >= 0.8 Jaccard.

    shingle → polyhash → 16-perm MinHash signature (one groupBy over the
    exploded shingles; 16 `min` aggregates ride the same shuffle) → 8
    bands of 2 rows → self-join on band key → exact Jaccard on the
    candidates only. At the chosen τ=0.8 the band family's miss
    probability is (1-0.8²)⁸ ≈ 3·10⁻⁴ per pair; the DuckDB oracle
    replicates the identical pipeline (same hash constants), so parity
    is exact regardless of recall.

    Scale: signatures are 16 int64s/doc; the band join shuffles
    |docs|×8 small rows; verification joins shingle-hash arrays for only
    the colliding pairs (int64 intersection — same Jaccard as string
    shingles modulo ~n²/P collisions, mirrored in the oracle). No step
    is quadratic in corpus size — hot band buckets, the one data-driven
    quadratic step, are excluded at BAND_BUCKET_CAP (mirrored in the
    oracle; inert at verified SFs) — and the corpus is tokenized ONCE
    (the cached hash-set table feeds signatures AND verification).
    """
    # round 13: dedup-scoped AQE floor via a child session (see
    # session.dedup_tuned_session) — thread-safe, off for every
    # non-dedup operator
    spark = dedup_tuned_session(spark)
    docs = spread_for_cpu(Catalog(spark, sf_dir).documents, "doc_id")
    return minhash_pairs_from_docs(docs)


def minhash_pairs_from_docs(
    docs: DataFrame, bucket_cap: int | None = BAND_BUCKET_CAP
) -> DataFrame:
    """minhash_lsh_dedup over any (doc_id, text, …) frame — the reusable
    core (shared with tests and ad-hoc slices). `bucket_cap=None`
    disables the hot-bucket guard (ground-truth/debug use only)."""
    # localCheckpoint, not cache (round 12): signatures AND verification
    # consume the hset pipeline, and the mapInPandas subtree defeats the
    # exchange-reuse a cached Catalyst subtree used to get (16 → 10
    # stages, shuffle −7%, wall flat — measured interleaved n=5).
    hsets = shared_frame(hsets_from_docs(docs))
    bands = bands_from_hsets(hsets)
    if bucket_cap is not None:
        bands = capped_bands(bands, bucket_cap)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return verify_pairs(cand, hsets).orderBy("doc_a", "doc_b")


# --- incremental near-dup: the lake-maintenance form -------------------------
#
# At 100 TB you do not re-minhash the corpus for every arriving shard:
# the band keys and shingle-hash sets are PERSISTED once (bucketed, so
# the recurring delta join never shuffles the index side), and each new
# batch is (a) banded, (b) joined against the index buckets, (c)
# self-joined within the batch, then exact-verified — work proportional
# to |delta| + |collisions|, never |corpus|. Complements the streaming
# digest dedup (runner.stream_exact_dedup): that is the exact-duplicate
# front door; this is the NEAR-dup back pressure run per ingest batch.

def _write_neardup(docs: DataFrame, prefix: str, mode: str) -> None:
    # bands first, hsets LAST: the streaming ingest's replay probe
    # (runner.stream_neardup_ingest) reads hsets as the admission mark
    hsets = hsets_from_docs(docs)
    indexes.write(bands_from_hsets(hsets), prefix, "bands", mode)
    indexes.write(hsets, prefix, "hsets", mode)


def save_neardup_index(docs: DataFrame, prefix: str) -> None:
    """Persist the near-dup index for a corpus slice as two bucketed
    catalog tables: `{prefix}_bands` (doc_id, band_no, h1, h2; bucketed
    on h1 so delta joins leave the index unshuffled) and
    `{prefix}_hsets` (doc_id, hs; bucketed on doc_id for the
    verification join). Growing the index after admitting a batch is an
    append of the batch's own rows to both tables."""
    _write_neardup(docs, prefix, "overwrite")


def extend_neardup_index(docs: DataFrame, prefix: str) -> None:
    """Grow the persisted index with an ADMITTED batch: append the
    batch's band and hset rows into the same bucket layout (no history
    rewrite — the maintenance step after incremental_neardup_pairs
    clears a batch for the lake). Fresh-build equivalence is tested:
    index(old) extended with new equals index(old ∪ new) for every
    subsequent incremental query."""
    _write_neardup(docs, prefix, "append")


def _live_index(spark: SparkSession, prefix: str, kind: str) -> DataFrame:
    """`{prefix}_{kind}` minus its own family's tombstones."""
    return indexes.live(spark, prefix, kind)


def remove_from_neardup_index(
    spark: SparkSession, prefix: str, doc_ids
) -> None:
    """Retract documents (takedowns, re-crawls) via the near-dup
    tombstones (indexes.retract): later incremental queries skip them
    at once, compact_neardup_index applies them physically. This is
    the lake-format delete pattern (Iceberg/Delta delete files): the
    band/hset history is never rewritten in the hot path."""
    indexes.retract(spark, "neardup", prefix, doc_ids)


def compact_neardup_index(
    spark: SparkSession, prefix: str, buckets: int | None = None
) -> None:
    """Apply tombstones physically and bound file counts after many
    appends (indexes.compact): both tables are rewritten ONCE into a
    new generation and swapped in with ALTER TABLE RENAME."""
    indexes.compact(spark, "neardup", prefix, buckets)


def incremental_neardup_pairs(
    spark: SparkSession,
    prefix: str,
    new_docs: DataFrame,
    bucket_cap: int | None = BAND_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs of `new_docs` against the persisted index AND
    within the batch itself: (doc_a, doc_b, jaccard) with doc_a the
    index/earlier side. pairs(index corpus) ∪ this = pairs(index corpus
    ∪ batch) — the maintenance invariant tested in tests/test_dedup.py.

    Plan shape: the delta is banded (one groupBy over |delta|), joined
    on (band_no, h1, h2) against the bucketed index (index side scans
    in place — its Exchange was paid at write time), plus a delta
    self-join; union of candidates, then one exact-Jaccard verification
    against the two hset tables.

    Hot-bucket guard: a band key participates only if its COMBINED
    occupancy (live index + this batch) is <= bucket_cap — the same
    bucket the full rebuild would see, so the capped incremental result
    stays consistent with the capped batch build (the registered `incr`
    oracle). The occupancy probe touches only the delta's keys (a
    delta-sized broadcast semi-join against the index — batches are
    bounded per micro-batch by the ingest contract), so per-batch work
    stays ∝ |delta| + |collisions|. The maintenance invariant holds
    exactly on corpora whose buckets stay under the cap (the designed
    operating regime — exact dedup runs first); a key that CROSSES the
    cap mid-lifecycle stops emitting pairs from that point, which is the
    documented back-pressure behavior, not drift."""
    pairs, _gated = incremental_neardup_with_audit(
        spark, prefix, new_docs, bucket_cap
    )
    return pairs


def incremental_neardup_with_audit(
    spark: SparkSession,
    prefix: str,
    new_docs: DataFrame,
    bucket_cap: int | None = BAND_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, gated): `incremental_neardup_pairs` and its gated-key
    audit (`incremental_hot_band_buckets` content) from ONE shared
    signature/banding/occupancy computation — the per-micro-batch
    ingest shape (runner.stream_neardup_ingest). Calling the two
    standalone functions separately recomputed hsets_from_docs +
    bands_from_hsets + the occupancy probe twice per batch, roughly
    doubling per-batch signature work (code-review r8 finding; the sf1
    ingest regression this explains is logged in SCALING.md).
    `gated` is empty when bucket_cap is None (nothing is gated)."""
    # localCheckpoint, not cache: released on GC by the ContextCleaner,
    # so per-batch ingest calls don't accumulate executor storage
    new_hsets = hsets_from_docs(new_docs).localCheckpoint(eager=True)
    new_bands = bands_from_hsets(new_hsets)
    idx_bands = _live_index(spark, prefix, "bands")
    on = ["band_no", "h1", "h2"]
    if bucket_cap is not None:
        new_keys = new_bands.groupBy(*on).agg(
            F.count(F.lit(1)).alias("n_new")
        )
        idx_occ = (
            idx_bands.join(F.broadcast(new_keys.select(*on)), on)
            .groupBy(*on)
            .agg(F.count(F.lit(1)).alias("n_idx"))
        )
        # ONE occupancy frame feeds the gate AND the audit (delta-keyed,
        # tiny by construction — materialize so neither consumer re-runs
        # the probe)
        occ = (
            new_keys.join(idx_occ, on, "left")
            .withColumn("n_idx", F.coalesce(F.col("n_idx"), F.lit(0)))
            .withColumn("bsz", F.col("n_new") + F.col("n_idx"))
            .localCheckpoint(eager=True)
        )
        gated = occ.where(F.col("bsz") > bucket_cap)
        ok_keys = occ.where(F.col("bsz") <= bucket_cap).select(*on)
        # the gated band frame feeds three consumers (index join, both
        # self-join sides); materialize it once (<= 8 rows per batch
        # doc) so the signature groupBy + occupancy gate don't re-run
        # per consumer — same ContextCleaner note as new_hsets above
        new_bands = new_bands.join(
            F.broadcast(ok_keys), on
        ).localCheckpoint(eager=True)
    else:
        gated = (
            new_bands.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("n_new"))
            .withColumn("n_idx", F.lit(0).cast("long"))
            .withColumn("bsz", F.col("n_new"))
            .where(F.lit(False))
        )
    against_index = (
        idx_bands.alias("a")
        .join(new_bands.alias("b"), on)
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    within_batch = (
        new_bands.alias("a")
        .join(new_bands.alias("b"), on)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    idx_hsets = _live_index(spark, prefix, "hsets")
    verified_idx = verify_pairs(
        against_index.distinct(), idx_hsets, new_hsets
    )
    verified_new = verify_pairs(within_batch.distinct(), new_hsets)
    pairs = verified_idx.unionAll(verified_new).orderBy("doc_a", "doc_b")
    return pairs, gated


#: Label-propagation round budget before dedup_clusters escapes to the
#: O(log n) star-contraction CC. Near-dup components are tiny chains in
#: practice (diameter ≲ 4); a component still unconverged after this
#: many rounds is deep enough that O(diameter) propagation is the wrong
#: algorithm for it.
LP_MAX_ROUNDS = 8


def cluster_pairs(
    spark: SparkSession, pairs: DataFrame, max_lp_rounds: int = LP_MAX_ROUNDS
) -> DataFrame:
    """(doc_a, doc_b) pair graph → (id, label): connected components with
    label = component minimum, via min-label propagation with an
    O(log n) escape hatch.

    Min-label propagation to fixpoint: labels start as own id; each
    round takes the min over neighbors; converged when no label changes.
    Iterations ≤ graph diameter; per round one join + groupBy over the
    PAIR graph only — |pairs| rows, not the corpus. The fixpoint check
    collects a single count per round (scalar, not data).

    ESCAPE HATCH (round 5): if the loop has not converged after
    `max_lp_rounds`, the remaining work runs as star-contraction CC
    (graphstats.connected_components, Kiveris et al. — O(log n) rounds)
    on the CONTRACTED graph: edges mapped into current-label space.
    Composition is exact — the component minimum m keeps label m under
    propagation (labels only decrease toward ids in the own component),
    every original component maps onto one connected set of labels, and
    distinct components never share a label, so min-over-contracted-
    component = min-over-original-component.
    """
    from uw_hadoop_aglorithms_spark.operators.graph import _loop_shuffle_partitions

    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .cache()
    )
    # The pair graph is tiny relative to the corpus (only near-dup docs
    # appear); the fixpoint loop runs several small jobs per round, so
    # size shuffle partitions to the STATE like the PageRank loop does —
    # at sf0.01 this is the difference between 12 s and ~5 s, and at lake
    # scale the same expression picks large partition counts again.
    with _loop_shuffle_partitions(spark, edges.count()):
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("label"))
            .localCheckpoint(eager=True)
        )
        rounds = 0
        while True:
            nbr = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_min"))
            )
            new_labels = (
                labels.join(nbr, labels.id == nbr.src, "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("nbr_min", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
            rounds += 1
            if rounds >= max_lp_rounds:
                # materialized before the release below: it reads edges
                labels = _cc_escape(edges, labels).localCheckpoint(eager=True)
                break
    # the labels are materialized, so nothing reads the cached pair
    # graph any more; left cached, every call would pin one new entry
    edges.unpersist()
    return labels


def _cc_escape(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Finish an unconverged propagation: star-contraction CC over the
    label-contracted graph, composed back onto per-id labels."""
    from uw_hadoop_aglorithms_spark.operators import graphstats

    la = labels.select(F.col("id").alias("src"), F.col("label").alias("a"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("b"))
    cedges = (
        edges.join(la, "src")
        .join(lb, "dst")
        .select("a", "b")
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    comp = graphstats.connected_components(cedges).withColumnRenamed(
        "id", "label"
    )
    return labels.join(comp, "label", "left").select(
        "id", F.coalesce("component", "label").alias("label")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash+LSH pair
    graph, each clustered doc mapped to its component's canonical
    (minimum) doc_id — the final "pick one survivor per duplicate
    group" step of a dedup pipeline. Algorithm + escape hatch:
    cluster_pairs. Oracle: DuckDB recursive-CTE reachability closure
    over the same pairs.
    """
    pairs = minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
    return cluster_pairs(spark, pairs).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def canonical_per_cluster(
    spark: SparkSession, sf_dir: str, quality: DataFrame | None = None
) -> DataFrame:
    """Canonical-document selection: for every near-dup cluster, KEEP the
    member with the highest quality score (textstats.quality_score),
    ties broken toward the smallest doc_id — the decision step a dedup
    pipeline actually needs (cluster ids alone don't curate a corpus;
    something must pick the survivor, and "keep the best copy" beats
    dedup_clusters' min-id convention when near-dups differ in quality,
    e.g. a clean article vs its boilerplate-wrapped mirror).

    `quality` lets a caller that already computed the per-doc quality
    frame (doc_id, quality) share it instead of re-tokenizing the
    corpus (corpus_curation does — it needs the same frame for its
    report side); None recomputes from textstats.quality_score.

    Output: (doc_id, cluster_id, quality, keep) for every CLUSTERED doc
    — docs in no cluster are implicitly kept and not listed, so
    downstream curation is an anti-join on keep = FALSE ids.

    Scale: the cluster table is pair-graph-sized (near-dup docs only —
    tiny next to the corpus), quality is a map-side scan joined on
    doc_id, and the argmax window partitions by cluster_id (bounded
    groups). No corpus-sized shuffle beyond the quality join's own key
    exchange. Reference: no analog (its dedup ends at pair emission);
    selection policy follows the SemDeDup/near-dup-curation literature
    (keep-one-per-group with a quality criterion).
    """
    from pyspark.sql import Window

    from uw_hadoop_aglorithms_spark.operators.textstats import quality_score

    clusters = dedup_clusters(spark, sf_dir)
    if quality is None:
        quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "quality", "keep")
        .orderBy("doc_id")
    )


def _simhash_col() -> F.Column:
    """Aggregate exprs folding per-shingle hash bits into a signature:
    bit j < SIMHASH_HALF reads member-lo column `g`, bits above read
    member-hi column `g2` (two independent 30-bit halves)."""
    def bit(j: int) -> F.Column:
        col, off = ("g", j) if j < SIMHASH_HALF else ("g2", j - SIMHASH_HALF)
        return F.shiftright(F.col(col), off).bitwiseAND(F.lit(1))

    bit_sums = [
        F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    return bit_sums


def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= 3 (60-bit sigs).

    Per doc: each distinct shingle votes ±1 on each of 60 bit positions
    sourced from two universal-hash members (30 uniform bits each —
    SIMHASH_HALF note above); sign of the vote total forms the
    signature. Candidate pairs come from a 4-band self-join —
    pigeonhole makes the banding lossless for hamming <= 3, so the
    output is EXACTLY "all pairs at hamming <= 3" and the oracle can
    verify with a plain quadratic scan at sf0.01.
    """
    # round 13: dedup-scoped AQE floor via a child session (see
    # session.dedup_tuned_session) — thread-safe, off for every
    # non-dedup operator
    spark = dedup_tuned_session(spark)
    hashed = _exploded_gram_hashes(spark, sf_dir).select(
        "doc_id",
        uhash(F.col("ph"), SIMHASH_MEMBER).alias("g"),
        uhash(F.col("ph"), SIMHASH_MEMBER_HI).alias("g2"),
    )
    votes = hashed.groupBy("doc_id").agg(*_simhash_col())
    sig_expr = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig_expr = term if sig_expr is None else sig_expr + term
    sigs = votes.select("doc_id", sig_expr.cast("long").alias("sig"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_no"),
                F.shiftright(F.col("sig"), off).bitwiseAND(F.lit((1 << w) - 1)).alias("bv"),
            )
            for i, (off, w) in enumerate(SIMHASH_BANDS)
        ]
    )
    bands = sigs.select("doc_id", "sig", F.explode(band_structs).alias("bd")).select(
        "doc_id", "sig", "bd.band_no", "bd.bv"
    )
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


#: Decontamination: token n-gram width (published pipelines use 8-13)
#: and the held-out "benchmark" modulus (doc_id % MOD == 0 stands in for
#: an external eval set; a real deployment joins an actual test corpus).
DECON_NGRAM = 8
DECON_TEST_MOD = 10


def _token_ngram_hashes(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *extra_cols, gh) — DISTINCT token-8-gram hashes per doc.

    Chars are hashed once per token occurrence (polyhash), then each
    8-token window folds the token hashes with the same 31-ary step —
    ~8× fewer char folds than hashing each gram's full string, same
    engine-neutral reproducibility. `extra_cols` are carried through
    unchanged (the streaming caller keeps the event-time column).

    The window fold is a FLAT expression (7 chained element_at steps),
    not a nested aggregate-over-slice: higher-order lambdas are
    interpreted per element, and flattening the inner fold measured 20×
    faster at sf0.1 (0.55 s vs 10.8 s) for identical values."""

    def flat_gram(i: F.Column) -> F.Column:
        g = F.element_at(F.col("th"), i)
        for j in range(1, DECON_NGRAM):
            g = (g * F.lit(31) + F.element_at(F.col("th"), i + F.lit(j))) % F.lit(P)
        return g

    ts = tokens("text")
    th = F.transform(ts, lambda t: polyhash(t))
    base = docs.select("doc_id", *extra_cols, th.alias("th"))
    n = F.greatest(F.size("th") - F.lit(DECON_NGRAM - 1), F.lit(0))
    grams = F.when(
        n >= 1, F.transform(F.sequence(F.lit(1), n), flat_gram)
    ).otherwise(F.array().cast("array<long>"))
    return base.select(
        "doc_id", *extra_cols, F.explode(F.array_distinct(grams)).alias("gh")
    )


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: training docs sharing any token 8-gram
    with the held-out set, with the count of distinct shared grams —
    the contamination report a training pipeline runs before packing.

    Plan shape: inverted-index semi-join on int64 gram hashes — the
    shuffle carries (doc_id, hash) pairs, never text; the held-out side
    is DISTINCT gram hashes (bounded by the eval corpus, broadcast-able
    at scale). Nothing is quadratic; hot grams cost |train ∩ hot| join
    rows, the same skew profile AQE already splits.
    """
    docs = spread_for_cpu(Catalog(spark, sf_dir).documents, "doc_id")
    sh = _token_ngram_hashes(docs)
    test_sh = (
        sh.filter(F.col("doc_id") % DECON_TEST_MOD == 0)
        .select("gh")
        .distinct()
    )
    return (
        sh.filter(F.col("doc_id") % DECON_TEST_MOD != 0)
        .join(test_sh, "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


#: Bloom-filter decontamination: m-bit filter over held-out gram hashes.
#: Sized so the bench-scale gram load stays ≈0.2 bits-per-hash-fn
#: (sf0.1 ≈ 300k held-out grams × 3 fns / 4.2M bits → FP ≈ 0.7%); a
#: deployment sizes m to its eval corpus. 62-bit words keep every
#: `1 << (pos % 62)` shift ≤ 2^61 — inside int64 in Spark AND inside
#: DuckDB's overflow-checked `<<`.
BLOOM_BITS = 1 << 22
BLOOM_WORD_BITS = 62
BLOOM_K = 3
#: uhash family members 211..213 (MinHash uses 0..15, SimHash 101).
BLOOM_SEED = 211


def _bloom_pos(gh, i: int):
    return bucket(gh, BLOOM_SEED + i, BLOOM_BITS)


def bloom_bitmap_from_grams(probes_src: DataFrame) -> DataFrame:
    """(widx, bits) Bloom bitmap over a (gh) frame of DISTINCT held-out
    gram hashes — the fixed-size build side shared by the batch
    decontaminator and the streaming front-door filter."""
    w = F.lit(BLOOM_WORD_BITS)
    probes = probes_src.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("gh"), i) for i in range(BLOOM_K)])
        ).alias("pos")
    )
    return (
        probes.select(
            F.floor(F.col("pos") / w).cast("long").alias("widx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(sh: DataFrame, bitmap: DataFrame) -> DataFrame:
    """Filter a (…, gh) frame to grams whose BLOOM_K probe positions are
    all set — k broadcast joins on word index (inner-join semantics ARE
    the filter: an absent word index has no bits set). Works unchanged
    on a STREAMING frame: stream-static broadcast joins are stateless.
    """
    w = F.lit(BLOOM_WORD_BITS)
    cur = sh
    for i in range(BLOOM_K):
        cur = cur.withColumn(f"p{i}", _bloom_pos(F.col("gh"), i))
        bm = bitmap.select(
            F.col("widx").alias(f"w{i}"), F.col("bits").alias(f"b{i}")
        )
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(p{i} % {BLOOM_WORD_BITS} AS INT))"
        )
        cur = cur.join(
            F.broadcast(bm),
            F.floor(F.col(f"p{i}") / w).cast("long") == F.col(f"w{i}"),
        ).filter(F.col(f"b{i}").bitwiseAND(mask) != 0)
    return cur


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a broadcast Bloom bitmap (Bloom, CACM 1970;
    the mechanism CCNet/Dolma-style pipelines use for eval-overlap
    filtering at scale).

    Same report as `decontaminate` (training docs sharing a token 8-gram
    with the held-out split, gram counts per doc) but a different scale
    mechanism: the held-out side collapses to a FIXED-SIZE bit array
    (BLOOM_BITS/64 ≈ 0.5 MB) instead of a distinct-hash join side. At
    100 TB the semi-join's build side grows with the eval corpus and
    must broadcast or shuffle it per train gram; the bitmap stays ~MB
    regardless, and the train side is a pure map-side filter — the
    corpus is never shuffled at all until the per-doc count aggregate
    of the (tiny) contaminated subset.

    Counts include the filter's false positives — which are
    DETERMINISTIC (engine-neutral `bucket` positions), so the DuckDB
    oracle reproduces them bit-for-bit; no false negatives, so every
    `decontaminate` row appears here with an equal-or-larger count
    (property-tested in tests/test_dedup.py).
    """
    docs = spread_for_cpu(Catalog(spark, sf_dir).documents, "doc_id")
    sh = _token_ngram_hashes(docs)
    # build: held-out distinct grams → k probe positions → 62-bit words
    bitmap = bloom_bitmap_from_grams(
        sh.filter(F.col("doc_id") % DECON_TEST_MOD == 0).select("gh").distinct()
    )
    cur = bloom_probe(sh.filter(F.col("doc_id") % DECON_TEST_MOD != 0), bitmap)
    return (
        cur.groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


def embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: exact cosine >= 0.4, brute force.

    The dot/norm folds are sequential left-to-right in both Spark
    (`aggregate`) and the DuckDB oracle (`list_reduce`), after a
    float→double upcast — bit-identical results, no rounding games.
    Brute force is the verifiable baseline; similarity.py holds the
    bucketed ANN scale path. The pair join is a nested-loop cartesian —
    a BRUTE_MAX_ROWS guard refuses lake-sized inputs outright.
    """
    _guard_brute(
        Catalog(spark, sf_dir).embeddings.count(),
        "embedding_cosine_dups",
        "similarity.ann_lsh_topk",
    )
    emb = (
        spread_for_cpu(Catalog(spark, sf_dir).embeddings, "vec_id")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .withColumn("norm", F.sqrt(folds.sumsq_col(F.col("v"))))
    )
    a, b = emb.alias("a"), emb.alias("b")
    dot = folds.dot_col(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (F.col("a.norm") * F.col("b.norm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


#: Winnowing cross-doc match (Schleimer et al., SIGMOD 2003 — the MOSS
#: algorithm): docs sharing >= WINNOW_MIN_SHARED selected fingerprints
#: are near-dup candidates. Fingerprints seen in more docs than the cap
#: are boilerplate (and would fan the self-join out quadratically per
#: hot key) — MOSS drops them for the same two reasons. The cap SCALES
#: with the corpus: max(WINNOW_MAX_DF, floor(WINNOW_DF_FRAC·N)) — the
#: 10×-twin stress (tools/stress_sf1.py) showed an absolute cap going
#: degenerate when corpus growth multiplies every df uniformly (every
#: fingerprint crossed 20 and ALL pairs vanished); a df fraction keeps
#: "boilerplate" meaning "shared by an outsized share of docs" at any
#: scale, while the absolute floor keeps tiny test fixtures stable.
WINNOW_MIN_SHARED = 10
WINNOW_MAX_DF = 20
WINNOW_DF_FRAC = 0.04


def winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints.

    Reuses textstats.doc_fingerprint (rolling char-8-gram polyhash, min
    per 4-window): any shared substring of length >= FP_K + FP_W - 1
    yields a shared fingerprint, so heavy copy-paste overlap — the
    LLM-corpus contamination shape MinHash's whole-doc Jaccard misses —
    surfaces even when the surrounding documents differ. Tuned on the
    synthetic corpus: (cap=20, MIN_SHARED=10) emits 21 pairs at sf0.01,
    every one of them a planted bigram-Jaccard near-dup.

    Scale: fingerprint density is 2/(FP_W+1) per char (the winnowing
    bound), so the exploded table is ~0.4 rows/char of int64 pairs; the
    DF cap bounds every join key's fan-out at cap², making the
    self-join O(distinct_fps × cap²) worst-case instead of quadratic
    in the corpus. One window pass + one fp-keyed self-join — both
    shuffle (doc_id, fp) int64 rows only, never text. Run AFTER
    exact_dedup (as corpus_curation does): exact twins put every doc in
    a clique and the pair count is then genuinely quadratic in the
    twin multiplicity (measured in the 10× stress, SCALING.md).
    """
    from pyspark.sql import Window

    from uw_hadoop_aglorithms_spark.operators.textstats import fingerprints

    # built on the UNORDERED fingerprint form (no inherited global
    # sort), and cached: the per-char rolling-hash pipeline is the
    # expensive CPU here, and the self-join would otherwise recompute
    # it for both sides — the cached frame is two int64 columns,
    # ~2/(FP_W+1) rows per corpus char, far narrower than the text it
    # derives from (contrast dedup._gram_hash_sets, where caching the
    # WIDE hash arrays measured slower than recompute).
    fps = fingerprints(spark, sf_dir)
    # corpus-relative cap (identical arithmetic in the oracle: same
    # 0.04 literal, same count, floor of the same double product)
    n_docs = Catalog(spark, sf_dir).documents.count()
    cap = max(WINNOW_MAX_DF, int(WINNOW_DF_FRAC * n_docs))
    rare = (
        fps.withColumn("df", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("df") <= F.lit(cap))
        .select("doc_id", "fp")
        .cache()
    )
    return (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


#: Semantic dedup (Abbas et al. 2023, SemDeDup): cluster embeddings with
#: the shared k-means codebook, then pairwise cosine WITHIN clusters
#: only. Each vector is assigned to its SEM_PROBES nearest centroids
#: (multi-probe, the IVF trick): pairs that straddle a cluster boundary
#: are still found when any probe cell overlaps — measured 49/59 of the
#: brute-force pairs at sf0.01 vs 22/59 single-probe.
SEM_PROBES = 2


def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via k-means-bucketed cosine (SemDeDup).

    The scale path for embedding_cosine_dups' guarded brute force: train
    the cluster.KM_K codebook (bounded model state, same deterministic
    Lloyd's loop as kmeans_clusters — and the same oracle CTE prefix, so
    both engines provably use identical centroids), assign each vector
    to its SEM_PROBES nearest centroids map-side, and compare pairs only
    inside a cell. Work is Σ|cell|² instead of |corpus|²; a deployment
    scales K with the corpus to hold cells bounded, exactly as the IVF
    index in similarity.py does. Subset-of-brute-force is
    property-tested; cosine folds are the bit-identical sequential form.
    """
    from uw_hadoop_aglorithms_spark.operators import cluster

    cents = cluster.final_centroids(spark, sf_dir)
    emb = spread_for_cpu(Catalog(spark, sf_dir).embeddings, "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    entries = [
        F.struct(
            cluster._sqdist(F.col("v"), c).alias("dist"),
            F.lit(cid).alias("cid"),
        )
        for cid, c in enumerate(cents)
    ]
    probes = F.slice(F.array_sort(F.array(*entries)), 1, SEM_PROBES)
    norm = F.sqrt(folds.sumsq_col(F.col("v")))
    assigned = emb.select(
        "vec_id", "v", norm.alias("norm"),
        F.explode(probes.getField("cid")).alias("cid"),
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dot = folds.dot_col(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (F.col("a.norm") * F.col("b.norm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .distinct()
        .orderBy("vec_a", "vec_b")
    )


#: Scaled-SemDeDup codebook sampling: up to `n_cells` corpus vectors by
#: id (the IVF/PQ offline-quantizer stand-in).
SEM_CB_MOD = 17


def semantic_dedup_pairs_scaled(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 64,
    probes: int = SEM_PROBES,
) -> DataFrame:
    """SemDeDup at the K-scales-with-corpus operating point (round 5).

    The registered `semantic_dedup_pairs` trains a KM_K=8 Lloyd's
    codebook and assigns vectors through LITERAL centroid expressions —
    exactly right for a bounded codebook, structurally wrong once a
    deployment scales K with N to keep cells bounded (K in the
    thousands cannot live in an expression tree; SCALING.md records the
    10x stress deliberately omitting the fixed-K form for this reason).
    This is the scale form: the codebook is a DATAFRAME (here up to
    `n_cells` corpus vectors sampled by id — the offline-trained-
    quantizer stand-in _ivf_centroids established), assignment is a
    broadcast join + per-vector top-`probes` window instead of literal
    expressions, and the within-cell comparison is unchanged. Work is
    sum(|cell|^2) with |cell| ~ N/K held constant by scaling K; the
    assignment join is |corpus| x K rows map-side against a broadcast
    codebook (a real deployment prunes it with a coarse first-level
    quantizer — the IVF-within-IVF standard).

    Guarantees (tested): every emitted pair is a brute-force cosine
    pair with the bit-identical cosine (subset property), and pairs
    only ever form inside a shared probed cell.
    """
    emb = spread_for_cpu(Catalog(spark, sf_dir).embeddings, "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = (
        Catalog(spark, sf_dir)
        .embeddings.filter(
            (F.col("vec_id") % SEM_CB_MOD == 0)
            & (F.col("vec_id") < SEM_CB_MOD * n_cells)
        )
        .select(
            F.col("vec_id").alias("cb_id"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
    )
    dist = folds.sqdist_col(F.col("v"), F.col("cv"))
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("dist", "cb_id")
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", dist.alias("dist"), "cb_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= probes)
    )
    norm = F.sqrt(folds.sumsq_col(F.col("v")))
    assigned = assigned.select(
        "vec_id", "v", norm.alias("norm"), F.col("cb_id").alias("cid")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dot = folds.dot_col(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (F.col("a.norm") * F.col("b.norm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .distinct()
        .orderBy("vec_a", "vec_b")
    )


#: Span-level exact dedup (round 6): token-gram width. A token position
#: is "duplicated" when any SPAN_L-token window covering it occurs >= 2
#: times CORPUS-WIDE (a second copy inside the same document counts —
#: boilerplate is boilerplate wherever it repeats). Published pipelines
#: (ExactSubstr, Lee et al. 2022 "Deduplicating Training Data Makes
#: Language Models Better") use 50-token substrings over a suffix
#: array; the DataFrame-native form trades the suffix array for
#: fixed-width rolling grams — same removal semantics at gram
#: granularity, and every stage is a plain shuffle the optimizer
#: already handles.
SPAN_L = 8


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repeated-SPAN profile + cleaned-text certificate.

    The doc-level family above answers "is this document a copy?";
    this answers the other question a 100 TB curation pass needs:
    "which token RANGES inside surviving documents are copies?" —
    repeated boilerplate (headers, license blocks, navigation chrome)
    that exact/near dedup cannot touch because the hosting documents
    differ. Output per document:

      sp_dup_starts  — duplicated-gram start positions in the doc
      sp_spans       — maximal merged duplicated ranges
      sp_dup_tokens  — tokens covered by at least one duplicated gram
      sp_dup_ratio   — sp_dup_tokens / n_tokens (0.0 for empty docs)
      sp_kept_hash   — polyhash of the cleaned text (covered tokens
                       removed, survivors re-joined) — the removal
                       itself, value-hash-checkable without shipping
                       corpus text through the result

    Plan shape (scale story): per-token char polyhash + SPAN_L-window
    fold are map-side array arithmetic inside codegen (the flat-fold
    idiom _token_ngram_hashes measured 20x over nested lambdas); the
    only corpus-sized shuffles are (a) the gram-frequency count — map-
    side partial agg on int64 hashes, the word-count shape — and (b)
    the start-position collect per doc, bounded by document length.
    Interval merging, coverage, and clean-text reassembly then run
    per-row over arrays: no joins back to exploded tokens, nothing
    quadratic, no driver state. At 100 TB the gram-count state is the
    corpus's distinct-gram table — the same magnitude decontaminate
    already shuffles, and AQE's skew split handles hot boilerplate
    grams like any hot word.

    Deliberate diamond: the positional-gram frame feeds both the
    frequency count and the join back, so the pruned 2-column scan +
    char-hash fold run twice (visible as two FileScans). The
    single-scan alternative — count(*) OVER (PARTITION BY gh) — was
    rejected for scale, not convenience: a hot boilerplate gram (a
    million identical license headers) serializes into ONE window
    task's spill buffer with no AQE escape, while the groupBy+join
    form partial-aggregates map-side and lets AQE split the hot key.
    Scan recompute is embarrassingly parallel; skew is what kills the
    job.
    """
    return span_profile(spread_for_cpu(Catalog(spark, sf_dir).documents, "doc_id"))


def span_profile(docs: DataFrame) -> DataFrame:
    """span_dedup's core over any (doc_id, text) frame (tests hand it
    synthetic corpora with known repeated runs)."""
    base = _span_base(docs)
    pos = _span_gram_rows(base)
    dup_ghs = (
        pos.groupBy("gh").agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    return _span_profiles_from_starts(base, _span_starts(pos, dup_ghs))


def _span_base(docs: DataFrame) -> DataFrame:
    """(doc_id, ts, th): tokens + per-token polyhashes."""
    ts = tokens("text")
    return docs.select(
        "doc_id", ts.alias("ts"), F.transform(ts, lambda t: polyhash(t)).alias("th")
    )


def _span_gram_rows(base: DataFrame) -> DataFrame:
    """(doc_id, s, gh): POSITIONAL SPAN_L-gram rolling hashes, s
    1-based (the flat chained fold of _token_ngram_hashes, positions
    kept instead of distinct-ed)."""

    def flat_gram(i: F.Column) -> F.Column:
        g = F.element_at(F.col("th"), i)
        for j in range(1, SPAN_L):
            g = (g * F.lit(31) + F.element_at(F.col("th"), i + F.lit(j))) % F.lit(P)
        return g

    n_grams = F.greatest(F.size("th") - F.lit(SPAN_L - 1), F.lit(0))
    grams = F.when(
        n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), flat_gram)
    ).otherwise(F.array().cast("array<long>"))
    return base.select(
        "doc_id", F.posexplode(grams).alias("i", "gh")
    ).select("doc_id", (F.col("i") + 1).alias("s"), "gh")


def _span_starts(gram_rows: DataFrame, hot_ghs: DataFrame) -> DataFrame:
    """(doc_id, ss): sorted duplicated-gram start positions per doc —
    the gram rows semi-joined against the hot (count >= 2) gram set."""
    return (
        gram_rows.join(hot_ghs.select("gh"), "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
    )


def _span_profiles_from_starts(
    base: DataFrame, starts: DataFrame
) -> DataFrame:
    """The per-row array half of the pipeline: sorted starts -> maximal
    merged [b, e] token ranges (adjacent covered runs fuse: next start
    s extends the open span iff s <= last.e + 1; starts ascend, so the
    new end s+L-1 >= last.e) -> coverage stats + cleaned-text hash."""
    last_e = F.lit(SPAN_L - 1)

    def fold_span(acc: F.Column, s: F.Column) -> F.Column:
        last = F.element_at(acc, -1)
        ext = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.struct(last["b"].alias("b"), (s + last_e).alias("e"))),
        )
        new = F.concat(
            acc, F.array(F.struct(s.alias("b"), (s + last_e).alias("e")))
        )
        return F.when(
            (F.size(acc) > 0) & (s <= last["e"] + 1), ext
        ).otherwise(new)

    empty_spans = F.array().cast("array<struct<b:int,e:int>>")
    prof = (
        base.join(starts, "doc_id", "left")
        .withColumn("ss", F.coalesce("ss", F.array().cast("array<int>")))
        .withColumn("spans", F.aggregate("ss", empty_spans, fold_span))
    )
    dup_tokens = F.aggregate(
        F.col("spans"),
        F.lit(0),
        lambda a, p: a + p["e"] - p["b"] + F.lit(1),
    )
    kept = F.filter(
        F.col("ts"),
        lambda t, i: ~F.exists(
            F.col("spans"),
            lambda p: (i + F.lit(1) >= p["b"]) & (i + F.lit(1) <= p["e"]),
        ),
    )
    n_tok = F.size("ts")
    return prof.select(
        "doc_id",
        F.size("ss").cast("long").alias("sp_dup_starts"),
        F.size("spans").cast("long").alias("sp_spans"),
        dup_tokens.cast("long").alias("sp_dup_tokens"),
        F.when(n_tok > 0, dup_tokens / n_tok)
        .otherwise(F.lit(0.0))
        .alias("sp_dup_ratio"),
        polyhash(F.concat_ws(" ", kept)).alias("sp_kept_hash"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Span-dedup index lifecycle (round 6): how span_dedup actually runs on
# a lake. One bucketed table, `{prefix}_grams` (doc_id, s, gh) bucketed
# on gh, is the whole state: gram frequencies are a bucket-local groupBy
# (no Exchange — the layout was paid at write time), postings lookups
# are broadcast joins against it, and per-batch work is |batch| plus the
# docs whose coverage actually changed. Tables, tombstones, compaction
# and teardown are the shared index lifecycle of sources/indexes.py
# (family "span", with its own tombstone table).
# --------------------------------------------------------------------------


def save_span_index(docs: DataFrame, prefix: str) -> None:
    """Persist the positional-gram table for a corpus slice, bucketed
    on gh: frequency counts and crossing-gram probes both run without
    shuffling the index side."""
    indexes.write(_span_gram_rows(_span_base(docs)), prefix, "grams")


def extend_span_index(docs: DataFrame, prefix: str) -> None:
    """Grow the index with an ADMITTED batch: append its gram rows into
    the same bucket layout (fresh-build equivalence tested)."""
    indexes.write(_span_gram_rows(_span_base(docs)), prefix, "grams", "append")


def remove_from_span_index(spark: SparkSession, prefix: str, doc_ids) -> None:
    """Retract documents: same tombstone mechanism as the near-dup
    index (O(|retractions|) append; logical immediately, physical at
    compaction; every reader anti-joins the tombstones broadcast, so
    the bucketed layout survives) — into the span index's OWN
    tombstone table, so compacting a near-dup index under the same
    prefix cannot discard a pending span retraction."""
    indexes.retract(spark, "span", prefix, doc_ids)


def compact_span_index(
    spark: SparkSession, prefix: str, buckets: int | None = None
) -> None:
    """Apply tombstones physically and bound file growth: one
    generation rewrite in the bucket spec, swapped in via ALTER TABLE
    RENAME (indexes.compact)."""
    indexes.compact(spark, "span", prefix, buckets)


def incremental_span_profiles(
    spark: SparkSession, prefix: str, new_docs: DataFrame, corpus: DataFrame
) -> DataFrame:
    """Span profiles for an ARRIVING batch against the persisted index,
    plus refreshed profiles for exactly the indexed docs whose coverage
    the batch changed. `corpus` is the indexed corpus's source table
    (doc_id, text): changed docs are re-tokenized from it via a
    semi-join (on a lake: a partition-pruned read of the source), so
    the index never stores text.

    Span dedup is RETROACTIVE in a way pair finding is not: admitting a
    batch can flip an old doc's unique gram to duplicated (some new doc
    repeats it), so the maintenance invariant has two parts, both
    tested: (a) every returned profile equals span_profile(index corpus
    ∪ batch) for that doc, and (b) the refreshed set is exactly the old
    docs whose union profile differs from their index-only profile —
    grams crossing count 1 -> >=2 (an index count of 0 cannot affect an
    old doc, and >=2 was already duplicated).

    Plan shape: batch grams are counted once (|batch| shuffle); index
    counts are a bucket-local groupBy; the hot set is their outer-join
    sum; crossing grams (index count == 1, batch count >= 1) probe the
    index via a broadcast join that leaves the bucketed side in place.
    Per-batch work is |batch| + |changed docs| — never |corpus|.
    """
    # localCheckpoint, not cache: checkpoint blocks are released by
    # the ContextCleaner when the frame is GC'd, so a long-lived
    # ingest session calling this per batch does not accumulate
    # executor storage (DataFrame cache entries outlive the call)
    base_new = _span_base(new_docs).localCheckpoint(eager=True)
    g_new = _span_gram_rows(base_new)
    c_new = g_new.groupBy("gh").agg(F.count("*").alias("cn"))
    g_idx = _live_index(spark, prefix, "grams")
    c_idx = g_idx.groupBy("gh").agg(F.count("*").alias("ci"))
    totals = (
        c_idx.join(c_new, "gh", "full_outer")
        .select(
            "gh",
            F.coalesce("ci", F.lit(0)).alias("ci"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
        .withColumn("c", F.col("ci") + F.col("cn"))
    )
    hot = totals.filter(F.col("c") >= 2).select("gh")
    prof_new = _span_profiles_from_starts(
        base_new, _span_starts(g_new, hot)
    ).withColumn("origin", F.lit("batch"))

    crossing = totals.filter(
        (F.col("ci") == 1) & (F.col("cn") >= 1)
    ).select("gh")
    changed_ids = (
        g_idx.join(F.broadcast(crossing), "gh").select("doc_id").distinct()
    )
    base_old = _span_base(
        corpus.join(changed_ids, "doc_id", "left_semi")
    ).localCheckpoint(eager=True)
    prof_old = _span_profiles_from_starts(
        base_old, _span_starts(_span_gram_rows(base_old), hot)
    ).withColumn("origin", F.lit("refreshed"))
    return prof_new.unionAll(prof_old).orderBy("doc_id")


def removal_span_refresh(
    spark: SparkSession, prefix: str, removed_docs: DataFrame, corpus: DataFrame
) -> DataFrame:
    """The symmetric retraction question, asked AFTER
    remove_from_span_index: which surviving docs LOSE coverage because
    a retracted doc held the other copy of their gram? A gram changes
    state iff its live count is exactly 1 and the retracted docs held
    >= 1 copy (live 0 has no holders left; live >= 2 stays duplicated).
    Returns refreshed profiles for exactly those holders, computed
    against the post-retraction hot set. `removed_docs` is the
    retracted slice's (doc_id, text) — recomputing its grams from text
    avoids scanning the gh-bucketed index by doc_id."""
    g_rm = _span_gram_rows(_span_base(removed_docs))
    c_rm = g_rm.groupBy("gh").agg(F.count("*").alias("cr"))
    g_live = _live_index(spark, prefix, "grams")
    c_live = g_live.groupBy("gh").agg(F.count("*").alias("cl"))
    downs = (
        c_rm.join(c_live, "gh")
        .filter((F.col("cl") == 1) & (F.col("cr") >= 1))
        .select("gh")
    )
    changed_ids = (
        g_live.join(F.broadcast(downs), "gh").select("doc_id").distinct()
    )
    base = _span_base(corpus.join(changed_ids, "doc_id", "left_semi"))
    hot_live = c_live.filter(F.col("cl") >= 2).select("gh")
    return _span_profiles_from_starts(
        base, _span_starts(_span_gram_rows(base), hot_live)
    ).orderBy("doc_id")
