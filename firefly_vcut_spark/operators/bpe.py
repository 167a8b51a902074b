"""Distributed BPE (byte-pair encoding) tokenizer training — Sennrich
et al., "Neural Machine Translation of Rare Words with Subword Units"
(ACL'16) — as a Spark driver loop of scan-shaped rounds.

Representation trick that makes the whole trainer engine-portable:
a word's symbol sequence is kept as the string ``' s1  s2  s3 '`` —
every symbol wrapped in its OWN leading and trailing space. Merging
pair (a, b) into ab is then the plain string
``replace(rep, ' a  b ', ' ab ')``: built-in replace is left-to-right
and non-overlapping in Spark and DuckDB alike, which is exactly BPE's
merge semantics (``[a,a,a]`` merges the first two), and the wrapped
spaces keep adjacent matches independent (``[x,a,b,a,b]`` merges
both). No UDF, no per-row Python — the V training rounds are V
(projection + 2-level aggregate + take(1)) jobs over a cached word-
frequency table.

Scale shape: the word-frequency table is vocab-bounded (Zipf: even at
100 TB the distinct-word table is tiny next to the corpus), built by
ONE token aggregation that shuffles (word, count) pairs, never text.
Each round is a map-side pair explode off that cached table plus a
pair-keyed aggregate (key space O(vocab·word_len), partial-agg
combined map-side) and one take(1) argmax. The merge table — the
actual tokenizer artifact — is V rows of driver state, a plan
literal for the encode side."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from firefly_vcut_spark.session import drop_checkpoint


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the normalized whitespace tokens — the
    vocab-bounded input BPE trains on."""
    from firefly_vcut_spark.operators.text import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def initial_rep(word: Column) -> Column:
    """Character-split start state in the wrapped-spaces form:
    'the' → ' t  h  e '."""
    chars = F.filter(F.split(word, ""), lambda c: c != "")
    return F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))


def merged_rep(rep: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply an ordered merge list to a wrapped-spaces rep column —
    one chained literal replace per merge, all codegen."""
    for a, b in merges:
        rep = F.replace(
            rep, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
        )
    return rep


def _pair_counts(words: DataFrame, rep: Column) -> DataFrame:
    """(pair 'a b', w) — every adjacent symbol position weighted by
    the word's corpus frequency (subword-nmt counts positions, not
    distinct pairs per word)."""
    syms = F.split(F.trim(rep), "  ")
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("w"))
    )


REP_CHECKPOINT_EVERY = 16


def rep_table(
    words: DataFrame,
    merges: list[tuple[str, str]],
    checkpoint_every: int = REP_CHECKPOINT_EVERY,
) -> DataFrame:
    """(word, freq, rep) with an ordered merge list applied in BLOCKS
    of ``checkpoint_every`` replaces, the rep column materialized
    (localCheckpoint, lineage truncated) between blocks. Bounds both
    the Catalyst expression depth and the per-pass replace work at B
    instead of len(merges) — a 32k-merge tokenizer would otherwise
    blow whole-stage codegen and pay O(V²) total replaces. Short merge
    lists (≤B) stay a single pure projection with no materialization,
    so small-vocab plans are unchanged."""
    cur = words.select("word", "freq", initial_rep(F.col("word")).alias("rep"))
    stored = None
    for i in range(0, len(merges), checkpoint_every):
        block = merges[i : i + checkpoint_every]
        cur = cur.withColumn("rep", merged_rep(F.col("rep"), block))
        if i + checkpoint_every < len(merges):
            # mid-list block: materialize so the next block's replaces
            # stack on stored rows, not on a re-derived expression. On
            # a multi-executor cluster prefer reliable checkpoint() —
            # localCheckpoint blocks die with an executor; the training
            # loop just re-runs in that case.
            cur = cur.localCheckpoint(eager=True)
            if stored is not None:
                drop_checkpoint(stored)  # superseded: cur no longer reads it
            stored = cur
    return cur


def train_bpe(
    words: DataFrame,
    num_merges: int,
    checkpoint_every: int = REP_CHECKPOINT_EVERY,
) -> list[dict]:
    """Run ``num_merges`` BPE rounds; returns the ordered merge table
    [{rank, a, b, merged, weight}]. Deterministic: the argmax pair is
    tie-broken lexicographically, so any engine replaying the rounds
    (the DuckDB oracle unrolls them as CTEs) derives the identical
    table. Stops early when no adjacent pair remains.

    Depth bound (r6 verdict task 2): round r counts pairs on the LAST
    CHECKPOINTED rep plus at most ``checkpoint_every`` pending
    replaces — every B rounds the current rep is materialized into the
    word table (localCheckpoint truncates lineage), so per-round work
    is O(B) replaces and Catalyst expression depth never grows with
    the merge count. Without this, round r re-applied all r replaces
    to initial_rep: O(V²) total work and a linearly deepening plan —
    fatal at a real 32k-merge train."""
    # materialize once; rounds re-scan the stored rows
    cur = words.select(
        "word", "freq", initial_rep(F.col("word")).alias("rep")
    ).localCheckpoint(eager=True)
    try:
        merges: list[dict] = []
        pending: list[tuple[str, str]] = []
        for rank in range(1, num_merges + 1):
            best = (
                _pair_counts(cur, merged_rep(F.col("rep"), pending))
                .orderBy(F.desc("w"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b = best[0]["pair"].split(" ")
            pending.append((a, b))
            merges.append(
                {
                    "rank": rank,
                    "a": a,
                    "b": b,
                    "merged": a + b,
                    "weight": int(best[0]["w"]),
                }
            )
            if len(pending) >= checkpoint_every:
                nxt = cur.withColumn(
                    "rep", merged_rep(F.col("rep"), pending)
                ).localCheckpoint(eager=True)
                drop_checkpoint(cur)
                cur = nxt
                pending = []
        return merges
    finally:
        drop_checkpoint(cur)


def vocab_stats(
    words: DataFrame, merges: list[dict]
) -> DataFrame:
    """Corpus symbol statistics AFTER applying the learned merges:
    (symbol, total_freq, n_words) — the tokenizer's effective vocab
    usage. One projection + explode + aggregate; the merge application
    goes through rep_table, so depth stays bounded for big vocabs."""
    reps = rep_table(words, [(m["a"], m["b"]) for m in merges])
    syms = F.split(F.trim(F.col("rep")), "  ")
    return (
        reps.select("word", "freq", F.explode(syms).alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.sum("freq").cast("long").alias("total_freq"),
            F.countDistinct("word").cast("long").alias("n_words"),
        )
    )


def encode_piece_counts(
    docs: DataFrame, words: DataFrame, merges: list[dict]
) -> DataFrame:
    """Apply the learned merge table corpus-wide: per-doc whitespace
    token and BPE piece counts — the tokens-per-document statistic a
    training pipeline shards and budgets by.

    Scale: the per-WORD piece count is computed once on the vocab-
    bounded word table (chained literal replaces, pure projection)
    and BROADCAST; the corpus side is one explode + broadcast join +
    doc-keyed aggregate. Text never shuffles — only (word, n_pieces)
    and (doc_id, counts)."""
    from firefly_vcut_spark.operators.text import tokens

    reps = rep_table(words, [(m["a"], m["b"]) for m in merges])
    word_pieces = reps.select(
        "word",
        F.size(F.split(F.trim(F.col("rep")), "  ")).cast("long").alias("n_pieces"),
    )
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    return (
        toks.join(F.broadcast(word_pieces), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
    )


def piece_usage_delta(docs: DataFrame, merges: list[dict]) -> DataFrame:
    """(piece, n_uses): freq-weighted BPE piece-usage counts of every
    word in ``docs`` under a FROZEN merge table — the BPE twin of
    ``unigram.piece_usage_delta``, with the same summable-delta
    contract: merge application is deterministic under a fixed table,
    so per-batch deltas summed equal the whole-corpus delta no matter
    how the corpus was micro-batched, and only SUM-mergeable fields
    ride in the delta (a distinct-count would double across batches).
    Scale shape: the rep projection runs on the vocab-bounded
    per-batch word table; only (piece, count) rows reach the rollup."""
    words = word_freq_table(docs)
    reps = rep_table(words, [(m["a"], m["b"]) for m in merges])
    return (
        reps.select(
            "freq", F.explode(F.split(F.trim(F.col("rep")), "  ")).alias("piece")
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("n_uses"))
    )
