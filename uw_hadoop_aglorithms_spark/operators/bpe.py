"""Byte-pair-encoding vocabulary induction (beyond-reference capability).

Tokenizer training is the step a training-data pipeline runs between
corpus curation and sequence packing; the reference stops at word
counting (reference MapReduce/Counting/WordCount.java:53-66). This
module learns the first N_MERGES BPE merge rules (Sennrich et al.,
ACL'16) from the corpus word counts.

Distributed formulation: BPE operates on the DISTINCT-WORD count table,
never the corpus — corpus size only affects the initial word count (one
explode + one groupBy, the word_count shape). The symbol state is kept
RELATIONAL as (word, freq, pos, sym) rows rather than per-word arrays,
so every step is vectorized window/aggregate work with no interpreted
per-element lambdas:

  pair counts    lead(sym) over (partition by word order by pos),
                 then groupBy (sym, nxt) weighted by word freq;
  best pair      global argmax with a total deterministic order
                 (count desc, left asc, right asc) — a 1-row collect
                 per merge, bounded model state like cluster.py's
                 centroids;
  greedy merge   classic BPE replaces occurrences left-to-right without
                 overlap. Overlapping matches exist only inside runs of
                 one repeated symbol, where greedy takes the 1st, 3rd,
                 5th… match of the run — so `greedy = match AND (streak
                 length ending here is odd)`, with the streak length a
                 running max window over the last non-match position.
                 The following row of a merged pair is consumed
                 (lag(greedy)), and positions renumber with row_number.

Everything is integer/string arithmetic — the DuckDB oracle (a
generated chained-CTE replay of the same expressions, the cluster.py
pattern) agrees bit-for-bit with no rounding contract.

At 100 TB: the state is vocabulary-sized (|distinct words| × avg word
length rows), orders of magnitude smaller than the corpus; the per-merge
stages shuffle only that state, sized by _loop_shuffle_partitions, and
the loop materializes per iteration exactly like the PageRank loop
(graph._materialize rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.functions.text import TOKENS_SQL, tokens
from uw_hadoop_aglorithms_spark.operators.graph import _loop_shuffle_partitions
from uw_hadoop_aglorithms_spark.plans.layout import shared_frame
from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

#: Merge rules to learn; bounded model state (one rule per iteration).
N_MERGES = 10
#: End-of-word marker appended as its own symbol (Sennrich et al. §3.2);
#: '<'/'>' are outside the tokenizer's [a-z0-9'] alphabet, so the marker
#: and the '+' rule separator in the suite encoding never collide.
EOW = "</w>"
#: Final-vocabulary rows reported (by summed frequency desc, symbol asc).
VOCAB_TOP = 20


def word_symbol_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial BPE state: (w, freq, pos, sym) — one row per character of
    each distinct word plus the EOW marker row."""
    words = (
        Catalog(spark, sf_dir)
        .documents.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    syms = F.expr(
        f"array_append(transform(sequence(1, length(w)), i -> substr(w, i, 1)), '{EOW}')"
    )
    return words.select(
        "w", "freq", F.posexplode(syms).alias("pos", "sym")
    ).select("w", "freq", F.col("pos").cast("long").alias("pos"), "sym")


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = N_MERGES,
    init_state: DataFrame | None = None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn `n_merges` merge rules; returns (merges, final_state).

    merges = [(step, left, right, pair_weight), ...] in learned order;
    final_state is the (w, freq, pos, sym) frame after all merges.
    `init_state` overrides the corpus-derived (w, freq, pos, sym) state
    (tools/bpe_merge_scale.py trains over a synthetic tokenizer-scale
    vocabulary; the testdata corpus has only 31 distinct words).

    Delegates to bpe_train_batched(batch_k=1): a 1-batch is always
    conflict-free, so the prefix selection degenerates to the serial
    argmax — same merges, same weights, same state
    (tests/test_bpe.py::test_bpe_train_batched_k1_is_serial pins it).
    """
    return bpe_train_batched(
        spark, sf_dir, n_merges=n_merges, batch_k=1, init_state=init_state
    )


def select_merge_batch(
    ranked: list[tuple[str, str, int]], batch_k: int
) -> list[tuple[str, str, int]]:
    """Greedy prefix of count-ranked pairs that can merge in ONE pass:
    walk the (left, right, count) list in serial-BPE order and accept
    while each pair's symbols are fresh — left, right, and concat all
    unseen. STOPS at the first conflicting pair (prefix batching):
    everything accepted outranks everything deferred under the exact
    serial tiebreak, so the only deviation from serial BPE left is a
    mid-batch CREATED pair outrunning a later member (see
    bpe_train_batched)."""
    seen: set[str] = set()
    out: list[tuple[str, str, int]] = []
    for left, right, pf in ranked[: max(batch_k, 1)]:
        if left in seen or right in seen or (left + right) in seen:
            break
        seen.update({left, right, left + right})
        out.append((left, right, pf))
        if len(out) >= batch_k:
            break
    return out


def bpe_train_batched(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = N_MERGES,
    batch_k: int = 16,
    init_state: DataFrame | None = None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """BPE vocabulary induction with BATCHED merge selection — the
    realistic-merge-count form of bpe_train.

    Why: the serial trainer is exact but pays one driver round-trip
    (1-row argmax collect) + one materialization PER MERGE — measured
    0.65-0.70 s/merge flat over a 427k-row tokenizer-scale symbol
    state (tools/bpe_merge_scale.py), i.e. ~6 h for the 32k merges a
    production tokenizer needs. This trainer collects the TOP-`batch_k`
    pair counts per round (bounded driver state, like the serial
    1-row argmax) and applies the maximal symbol-disjoint PREFIX of
    them in one pass (apply_merge_batch), cutting rounds — and with
    them the per-iteration latency floor — by up to batch_k×.

    Semantics vs serial BPE (documented approximation, standard for
    distributed BPE trainers): within a round, accepted pairs are
    EXACTLY the top of the serial order (prefix selection under the
    same (count desc, left, right) tiebreak; a conflict stops the
    batch). The only deviation: serial BPE recounts after every merge,
    so a pair CREATED mid-batch (x + merged, count ≤ its parent's)
    could outrank a later batch member; batching defers it one round.
    batch_k=1 reproduces bpe_train exactly (tested), and the learned
    merge SET at testdata scale matches the serial trainer's (tested).
    Reported weights are round-start counts (serial reports
    post-previous-merge counts — identical for round leaders).
    """
    merges: list[tuple[int, str, str, int]] = []
    wnd = Window.partitionBy("w").orderBy("pos")

    # materialize BEFORE counting: the corpus-derived symbol state is a
    # tokenize+groupBy+posexplode lineage, and sizing the loop off a
    # bare .count() would execute that lineage once for the count and
    # again for the first repartition (unlike the PageRank idiom being
    # copied, where the counted frame is already cached)
    init = (
        init_state
        if init_state is not None
        else word_symbol_state(spark, sf_dir)
    ).localCheckpoint(eager=True)
    # size the per-merge shuffles to the SYMBOL state (vocabulary ×
    # avg word length rows), exactly like the PageRank loop: tiny at
    # the testdata vocab, growing partition counts at a real one
    with _loop_shuffle_partitions(spark, init.count()) as n_parts:
        st = init.repartition(n_parts, "w").localCheckpoint(eager=True)
        while len(merges) < n_merges:
            top = (
                st.withColumn("nxt", F.lead("sym").over(wnd))
                .filter(F.col("nxt").isNotNull())
                .groupBy("sym", "nxt")
                .agg(F.sum("freq").alias("pf"))
                .orderBy(F.col("pf").desc(), "sym", "nxt")
                .limit(batch_k)
                .collect()
            )
            if not top:
                break
            batch = select_merge_batch(
                [(r.sym, r.nxt, int(r.pf)) for r in top],
                min(batch_k, n_merges - len(merges)),
            )
            for left, right, pf in batch:
                merges.append((len(merges) + 1, left, right, pf))
            st = apply_merge_batch(
                st, [(left, right) for left, right, _ in batch]
            ).localCheckpoint(eager=True)

    return merges, st


def apply_merge(st: DataFrame, left: str, right: str) -> DataFrame:
    """One greedy left-to-right BPE merge of (left, right) over the
    (w, freq, pos, sym) state — shared by training (with the pair just
    argmaxed) and by encoding new text with FIXED learned rules
    (`encode_words`). Caller owns materialization between steps."""
    return apply_merge_batch(st, [(left, right)])


def apply_merge_batch(
    st: DataFrame, pairs: list[tuple[str, str]]
) -> DataFrame:
    """One pass applying SYMBOL-DISJOINT merge pairs simultaneously.

    Precondition (enforced by select_merge_batch, asserted here): no
    symbol appears in two pairs, and no pair's concatenation equals
    another pair's symbol. Under disjointness the single-pair greedy
    machinery generalizes verbatim: a position's (sym, nxt) can match
    at most one pair, and two CONSECUTIVE positions can only match the
    SAME pair (site p needs nxt=right_i, site p+1 needs sym=left_j =
    right_i, and right_i belongs to pair i only — so i=j and left=right)
    — i.e. overlapping-match runs still only arise inside one repeated
    symbol, where the odd-streak rule already resolves them.
    """
    seen: set[str] = set()
    for left, right in pairs:
        # all three memberships, matching select_merge_batch's filter:
        # a later pair's CONCAT colliding with an earlier symbol (or
        # another concat) breaks disjointness just as surely as a
        # reused left/right
        assert (
            left not in seen
            and right not in seen
            and (left + right) not in seen
        ), pairs
        seen.update({left, right, left + right})
    wnd = Window.partitionBy("w").orderBy("pos")
    cum = wnd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hit = None
    for left, right in pairs:
        one = (F.col("sym") == left) & (F.col("nxt") == right)
        hit = one if hit is None else (hit | one)
    marked = st.withColumn("nxt", F.lead("sym").over(wnd)).withColumn(
        "match", F.coalesce(hit, F.lit(False))
    )
    # streak of consecutive matches ending here; greedy = odd
    last_stop = F.max(F.when(~F.col("match"), F.col("pos"))).over(cum)
    streak = F.col("pos") - F.coalesce(last_stop, F.lit(-1))
    return (
        marked.withColumn("greedy", F.col("match") & (streak % 2 == 1))
        .withColumn(
            "consumed",
            F.coalesce(F.lag("greedy").over(wnd), F.lit(False)),
        )
        .filter(~F.col("consumed"))
        .select(
            "w",
            "freq",
            (F.row_number().over(wnd) - 1).cast("long").alias("pos"),
            F.when(
                F.col("greedy"), F.concat("sym", "nxt")
            ).otherwise(F.col("sym")).alias("sym"),
        )
    )


#: Materialization cadence for encode_words' merge loop. 1 = checkpoint
#: every step (training's cadence). A lazy chain (checkpoint every 8)
#: was tried and MEASURED SLOWER at sf0.1 (warm A/B n=2: 8.4-9.5 s vs
#: 7.6-8.1 s for the word_count suite): ~30 stacked window stages plus
#: the corpus-derived word list make one deep plan whose analysis and
#: per-window sorts cost more than the 10 tiny eager jobs they replace.
ENCODE_CHECKPOINT_EVERY = 1


def _distinct_nonempty(words: DataFrame) -> DataFrame:
    """Shared encoder input contract: DISTINCT, non-null, non-empty
    words (see encode_words' comment for why each matters)."""
    return (
        words.select("w")
        .filter(F.col("w").isNotNull() & (F.length("w") >= 1))
        .distinct()
    )


def encode_words(words: DataFrame, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """Apply LEARNED merge rules (in learned order — rule priority, the
    standard BPE tokenizer apply step) to NEW words: (w) → (w, syms
    array<string>). The words need not have appeared in training; freq
    is irrelevant for encoding and pinned to 1.

    Scale shape: identical to training minus the per-step argmax — the
    state is |distinct new words| × word length rows, every step is the
    same window/merge stage, and rules are literals (no driver
    round-trip per step beyond the materialization the lineage needs).
    """
    syms = F.expr(
        f"array_append(transform(sequence(1, length(w)), i -> substr(w, i, 1)), '{EOW}')"
    )
    # Deduplicate defensively: a duplicate w row would posexplode into
    # duplicate (w, pos, sym) rows, and the merge stage's row_number
    # over ties would then reassign positions nondeterministically
    # across the copies — silent corruption. Enforce the distinct-words
    # precondition here instead of trusting the caller. Degenerate rows
    # are dropped for the same reason (shared with the broadcast
    # encoder so the two paths stay row-for-row comparable): NULL would
    # vanish here via posexplode anyway, and '' would hit sequence(1,0)
    # DESCENDING — two phantom empty symbols; tokens() emits neither.
    words = _distinct_nonempty(words)
    st = words.select(
        "w", F.lit(1).cast("long").alias("freq"), F.posexplode(syms).alias("pos", "sym")
    ).select("w", "freq", F.col("pos").cast("long").alias("pos"), "sym")
    st = st.localCheckpoint(eager=True)
    for i, (_, left, right, _) in enumerate(merges, 1):
        st = apply_merge(st, left, right)
        if i % ENCODE_CHECKPOINT_EVERY == 0:
            st = st.localCheckpoint(eager=True)
    return (
        st.groupBy("w")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "sym"))).alias("ps"))
        .select("w", F.col("ps.sym").alias("syms"))
    )


#: Words encoded by the registered 'bpe_encode' variant: the top-N
#: corpus words by frequency (count desc, word asc — deterministic).
ENCODE_TOP = 20


def bpe_suite_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word_count-suite rows from ONE training pass (round 5): the
    bpe_vocab merge-rule + vocabulary rows PLUS 'bpe_encode' rows — the
    tokenizer APPLY step (encode_words) run on the ENCODE_TOP most
    frequent corpus words, each encoded as 'word=sym1+sym2+…' with
    cnt = symbol count. The oracle replays the same merges over the
    same word list CTE-for-CTE."""
    merges, st = bpe_train(spark, sf_dir)
    mdf = spark.createDataFrame(
        merges, "step int, left string, right string, weight long"
    ).select(
        F.format_string("bpe_merge_%02d", "step").alias("variant"),
        F.concat_ws("+", "left", "right").alias("word"),
        F.col("weight").alias("cnt"),
    )
    vocab = (
        st.groupBy("sym")
        .agg(F.sum("freq").alias("vf"))
        .orderBy(F.col("vf").desc(), "sym")
        .limit(VOCAB_TOP)
        .select(
            F.lit("bpe_vocab").alias("variant"),
            F.col("sym").alias("word"),
            F.col("vf").alias("cnt"),
        )
    )
    top_words = (
        Catalog(spark, sf_dir)
        .documents.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(ENCODE_TOP)
        .select("w")
    )
    # one corpus scan feeds BOTH encoders (each would otherwise
    # re-execute the explode+groupBy+sort lineage independently)
    top_words = top_words.localCheckpoint(eager=True)

    def _enc_rows(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("variant"),
            F.concat(
                F.col("w"), F.lit("="), F.array_join("syms", "+")
            ).alias("word"),
            F.size("syms").cast("long").alias("cnt"),
        )

    # the PRODUCTION apply path (broadcast rank-priority pandas
    # encoder) emits the same encodings under its own variant tag: the
    # driver's value hash then certifies a mapInPandas implementation
    # against the oracle's relational replay — not just pytest parity.
    # Round 12: the two encoders are independent given (top_words,
    # merges) and each runs a string of tiny jobs, so they materialize
    # CONCURRENTLY (suites._run_members; measured 6.9 → 6.1 s for
    # the suite at sf0.1, interleaved n=4 minima, rows identical).
    # Neither encoder scopes session conf, so there is no planning
    # hazard (contrast pack_sequences' ws/bpe legs).
    # suites imports this module, so its fan-out is imported here
    from uw_hadoop_aglorithms_spark.operators.suites import _run_members

    # shared_frame (round 13): the encoders' outputs are materialized
    # eagerly once, so the union below never re-runs an encoder
    enc, enc_bc = _run_members({
        "bpe_encode": lambda: shared_frame(
            _enc_rows(encode_words(top_words, merges), "bpe_encode")
        ),
        "bpe_encode_bcast": lambda: shared_frame(
            _enc_rows(
                encode_words_broadcast(top_words, merges), "bpe_encode_bcast"
            )
        ),
    }).values()
    return mdf.unionAll(vocab).unionAll(enc).unionAll(enc_bc)


def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form (word_count suite member): the learned merge
    rules plus the final top-VOCAB_TOP symbol vocabulary, encoded in the
    suite's (variant, word, cnt) schema — merge step k as variant
    'bpe_merge_0k' with word 'left+right', vocabulary rows as
    'bpe_vocab' with the summed symbol frequency."""
    merges, st = bpe_train(spark, sf_dir)
    mdf = spark.createDataFrame(
        merges, "step int, left string, right string, weight long"
    ).select(
        F.format_string("bpe_merge_%02d", "step").alias("variant"),
        F.concat_ws("+", "left", "right").alias("word"),
        F.col("weight").alias("cnt"),
    )
    vocab = (
        st.groupBy("sym")
        .agg(F.sum("freq").alias("vf"))
        .orderBy(F.col("vf").desc(), "sym")
        .limit(VOCAB_TOP)
        .select(
            F.lit("bpe_vocab").alias("variant"),
            F.col("sym").alias("word"),
            F.col("vf").alias("cnt"),
        )
    )
    return mdf.unionAll(vocab)


# --------------------------------------------------------------------------
# DuckDB oracle: generated chained-CTE replay (cluster.py pattern). Pure
# integer/string arithmetic — bit-identical, no rounding contract.
# --------------------------------------------------------------------------

def trainer_ctes(n_merges: int = N_MERGES) -> list[str]:
    """The serial-trainer replay as reusable CTE fragments: wc/st0 seed
    plus pc/best/mk/g/st per merge, ending at st{n_merges} — the final
    symbol state whose per-word row count IS the word's learned-BPE
    piece count. Shared by the bpe_vocab oracle and the pack_sequences
    'bpe' leg (suites.py), so both replay the IDENTICAL training run.

    Every st{k} is consumed twice (next pair count + next merge), so the
    CTEs must be MATERIALIZED or DuckDB's inlining re-executes the whole
    chain per reference — the same 2^k lineage blowup the Spark loop
    solves with localCheckpoint (graph._materialize rationale)."""
    ctes = [
        f"""wc AS MATERIALIZED (
            SELECT term AS w, count(*) AS freq
            FROM (SELECT unnest({TOKENS_SQL}) AS term FROM documents)
            GROUP BY w
        )""",
        f"""st0 AS MATERIALIZED (
            SELECT w, freq, CAST(i - 1 AS BIGINT) AS pos,
                   CASE WHEN i <= length(w) THEN substr(w, i, 1)
                        ELSE '{EOW}' END AS sym
            FROM wc, unnest(range(1, length(w) + 2)) AS t(i)
        )""",
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        ctes.append(f"""pc{k} AS (
            SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS pf
            FROM (SELECT sym, freq,
                         lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
                  FROM st{p})
            WHERE nxt IS NOT NULL GROUP BY 1, 2
        )""")
        ctes.append(f"""best{k} AS MATERIALIZED (
            SELECT l, r, pf FROM pc{k} ORDER BY pf DESC, l, r LIMIT 1
        )""")
        ctes.append(f"""mk{k} AS (
            SELECT s.w, s.freq, s.pos, s.sym, s.nxt,
                   coalesce(s.sym = b.l AND s.nxt = b.r, FALSE) AS match
            FROM (SELECT *, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
                  FROM st{p}) s, best{k} b
        )""")
        ctes.append(f"""g{k} AS (
            SELECT *, match AND ((pos - coalesce(
                       max(CASE WHEN NOT match THEN pos END) OVER (
                           PARTITION BY w ORDER BY pos
                           ROWS UNBOUNDED PRECEDING), -1)) % 2 = 1) AS greedy
            FROM mk{k}
        )""")
        ctes.append(f"""st{k} AS MATERIALIZED (
            SELECT w, freq,
                   CAST(row_number() OVER (PARTITION BY w ORDER BY pos) - 1
                        AS BIGINT) AS pos,
                   CASE WHEN greedy THEN sym || nxt ELSE sym END AS sym
            FROM (SELECT *, coalesce(lag(greedy) OVER (
                                PARTITION BY w ORDER BY pos), FALSE) AS consumed
                  FROM g{k})
            WHERE NOT consumed
        )""")
    return ctes


def _bpe_oracle(n_merges: int = N_MERGES) -> str:
    ctes = trainer_ctes(n_merges)
    # encode replay (round 5): the same learned merges applied, in
    # order, to the top-ENCODE_TOP corpus words — identical mk/g/st
    # machinery over a 20-word state, reusing each best{k}
    ctes.append(f"""est0 AS MATERIALIZED (
        SELECT w, CAST(1 AS BIGINT) AS freq, CAST(i - 1 AS BIGINT) AS pos,
               CASE WHEN i <= length(w) THEN substr(w, i, 1)
                    ELSE '{EOW}' END AS sym
        FROM (SELECT w FROM wc ORDER BY freq DESC, w LIMIT {ENCODE_TOP}),
             unnest(range(1, length(w) + 2)) AS t(i)
    )""")
    for k in range(1, n_merges + 1):
        p = k - 1
        ctes.append(f"""emk{k} AS (
            SELECT s.w, s.freq, s.pos, s.sym, s.nxt,
                   coalesce(s.sym = b.l AND s.nxt = b.r, FALSE) AS match
            FROM (SELECT *, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
                  FROM est{p}) s, best{k} b
        )""")
        ctes.append(f"""eg{k} AS (
            SELECT *, match AND ((pos - coalesce(
                       max(CASE WHEN NOT match THEN pos END) OVER (
                           PARTITION BY w ORDER BY pos
                           ROWS UNBOUNDED PRECEDING), -1)) % 2 = 1) AS greedy
            FROM emk{k}
        )""")
        ctes.append(f"""est{k} AS MATERIALIZED (
            SELECT w, freq,
                   CAST(row_number() OVER (PARTITION BY w ORDER BY pos) - 1
                        AS BIGINT) AS pos,
                   CASE WHEN greedy THEN sym || nxt ELSE sym END AS sym
            FROM (SELECT *, coalesce(lag(greedy) OVER (
                                PARTITION BY w ORDER BY pos), FALSE) AS consumed
                  FROM eg{k})
            WHERE NOT consumed
        )""")
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT 'bpe_merge_{k:02d}' AS variant, l || '+' || r AS word,"
        f" pf AS cnt FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
        {merge_rows}
        UNION ALL
        SELECT 'bpe_vocab' AS variant, sym AS word, CAST(vf AS BIGINT) AS cnt
        FROM (SELECT sym, sum(freq) AS vf FROM st{n_merges}
              GROUP BY sym ORDER BY vf DESC, sym LIMIT {VOCAB_TOP})
        UNION ALL
        -- one replayed segmentation, tagged for BOTH Spark apply
        -- paths: 'bpe_encode' (relational window replay) and
        -- 'bpe_encode_bcast' (the pandas rank-priority encoder) — the
        -- value hash certifies the PRODUCTION path against the same
        -- relational replay
        SELECT tag AS variant, word, cnt
        FROM (SELECT w || '=' || string_agg(sym, '+' ORDER BY pos) AS word,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM est{n_merges} GROUP BY w)
        CROSS JOIN (SELECT unnest(['bpe_encode', 'bpe_encode_bcast']) AS tag)
    """


BPE_ORACLES: dict[str, str] = {"bpe_vocab": _bpe_oracle()}


def encode_words_broadcast(
    words: DataFrame, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Tokenizer APPLY at production rule counts: broadcast the learned
    rules, encode each word map-side — (w) → (w, syms array<string>),
    same result as encode_words (asserted in tests).

    Why a second encoder: encode_words replays rules RELATIONALLY, one
    window pass per rule — the right shape for the oracle contract and
    for rule counts like the registered N_MERGES=10, but at the 32k
    rules a production tokenizer carries it is 32k sequential passes
    over the symbol state regardless of how few rules fire. Real
    tokenizers (the HuggingFace/SentencePiece apply step) invert the
    loop: per word, repeatedly merge the PRESENT pair with the lowest
    learned rank. Work becomes O(word_len × merges_that_fire) per
    word, zero driver round-trips, and the rules ride an executor
    broadcast (~1 MB at 32k rules).

    Equivalence (also pinned empirically): the two strategies produce
    the same segmentation because a merge only creates adjacencies
    INVOLVING its new symbol, and every rule consuming that symbol was
    learned later (higher rank) — so a completed earlier-rule pass can
    never be invalidated by a later merge, and rank-order exhaustion
    equals in-order single passes.

    This is the sanctioned pandas escape hatch: per-word iterative
    merging under a priority order is genuinely sequential per row —
    no Catalyst expression expresses "repeat until no rule applies" —
    and the UDF is Arrow-batched over DISTINCT words (corpus tokens
    never reach Python).
    """
    import pandas as pd

    rank = {(l, r): i for i, (_, l, r, _) in enumerate(merges)}
    bc = words.sparkSession.sparkContext.broadcast(rank)

    def enc(w: str) -> list[str]:
        rk = bc.value
        syms = list(w) + [EOW]
        while len(syms) > 1:
            best = best_pair = None
            for i in range(len(syms) - 1):
                r = rk.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best, best_pair = r, (syms[i], syms[i + 1])
            if best is None:
                break
            left, right = best_pair
            out, i = [], 0
            while i < len(syms):  # greedy left-to-right, all occurrences
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"w": pdf["w"], "syms": [enc(w) for w in pdf["w"]]}
            )

    return _distinct_nonempty(words).mapInPandas(
        run, "w string, syms array<string>"
    )
