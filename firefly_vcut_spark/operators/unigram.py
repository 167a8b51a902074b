"""Unigram-LM subword tokenizer (SentencePiece-style) — Kudo,
"Subword Regularization" (ACL'18) — as scan-shaped DataFrame plans.

Two stages, both distributed and both exactly replayable by the
DuckDB oracle (`plans/unigram_sql.py`):

- **seed model** (Kudo'18 §3.2 seed vocabulary): candidate pieces are
  all substrings of corpus words up to ``MAX_PIECE_LEN`` chars,
  weighted by word frequency x occurrence count; the vocabulary keeps
  every single character (so segmentation always exists) plus the
  top-``K_MULTI`` multi-char pieces by (weight DESC, piece ASC) — an
  integer-exact, engine-portable selection. Piece costs are quantized
  negative log-probs: ``round(ln(total_weight / weight) * 1e6)`` in
  integer micro-nats (the DSIR quantization recipe,
  ``operators/text.py``), so every downstream sum is BIGINT and
  partial-agg order can't flip a hash.

- **exact Viterbi decode**: per word, the min-cost segmentation via a
  dynamic program over prefix lengths. The DP runs entirely inside
  ONE JVM higher-order-function expression (``F.aggregate`` over
  ``sequence(1, length)`` carrying the dp array as an accumulator of
  (cost, n, seg) structs) with the piece table riding in as a literal
  map — so encoding a word touches NO shuffle and NO Python: the
  whole encode pass over the vocab-bounded word table is a pure
  projection. Ties break on (cost, n_pieces, seg) ascending, which is
  prefix-monotonic (equal-coverage equal-n segs are equal-length
  strings, so appending a common suffix preserves lexicographic
  order), making per-position pruning globally correct and identical
  in both engines.

Scale shape: training aggregates (piece, weight) pairs off the
vocab-bounded word table — by Zipf the distinct-word table is tiny
next to a 100 TB corpus, and the one corpus-sized shuffle is the
(word, count) tokenization it shares with BPE
(``operators/bpe.py::word_freq_table``). The fitted piece table is
O(K) model state (the same bounded-driver-state class as the ANN
codebooks and k-means centroid literals); document encoding is a
broadcast join of tokens against the vocab-bounded word-encode
projection followed by one doc-keyed rollup.

Reference scope note: the reference (firefly-vcut) has no tokenizer;
this extends the repo's LLM-training-data surface alongside BPE
(`operators/bpe.py`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_PIECE_LEN = 4
K_MULTI = 64
MAX_WORD_LEN = 12  # DP unroll depth of the SQL oracle; words longer
#                    than this are excluded from encode ON BOTH ENGINES
#                    (a real tokenizer splits such words upstream)
COST_SCALE = 1_000_000  # micro-nats


def piece_scores(
    words: DataFrame,
    k_multi: int = K_MULTI,
    max_piece: int = MAX_PIECE_LEN,
) -> DataFrame:
    """(piece, weight, cost_micro): the seed unigram vocabulary.

    Every single character is kept unconditionally (segmentation
    totality); multi-char pieces keep the top ``k_multi`` by
    (weight DESC, piece ASC) — an integer-only, tie-stable selection.
    Costs are ``round(ln(total/weight) * 1e6)`` integer micro-nats.
    """
    spans = (
        words.select(
            "freq",
            "word",
            F.explode(
                F.sequence(F.lit(1), F.least(F.lit(max_piece), F.length("word")))
            ).alias("l"),
        )
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - F.col("l") + 1),
                    lambda s: F.col("word").substr(s, F.col("l")),
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("weight"))
    )
    # the span aggregate's exchange runs ONCE: its three consumers
    # (singles filter, top-K multis, total) sit in one plan, and Spark
    # reuses the shared exchange (ReusedExchange) instead of
    # re-deriving the corpus tokenize+explode subtree per consumer.
    # Top-K goes through orderBy().limit() = TakeOrdered (distributed
    # partial top-K), NOT a single-partition rank window: the span
    # table is vocab-class for alphabetic text but can reach ~|corpus
    # 4-grams| for large-alphabet (CJK) corpora, where one-partition
    # ranking would be the bottleneck.
    singles = spans.filter(F.length("piece") == 1)
    multis = (
        spans.filter(F.length("piece") >= 2)
        .orderBy(F.desc("weight"), F.asc("piece"))
        .limit(k_multi)
    )
    sel = singles.unionByName(multis)
    tot = sel.agg(F.sum("weight").cast("long").alias("tw"))
    return sel.crossJoin(F.broadcast(tot)).select(
        "piece",
        "weight",
        F.round(F.log(F.col("tw").cast("double") / F.col("weight")) * COST_SCALE)
        .cast("long")
        .alias("cost_micro"),
    )


def fit_pieces(words: DataFrame, k_multi: int = K_MULTI) -> list[tuple[str, int]]:
    """Collect the fitted piece table — O(k_multi + charset) rows of
    bounded model state (the ANN-codebook / k-means-centroid class),
    destined to become plan literals for the zero-shuffle decode."""
    rows = piece_scores(words, k_multi=k_multi).collect()
    return sorted((r["piece"], int(r["cost_micro"])) for r in rows)


def fit_em_pieces(words: DataFrame, k_multi: int = K_MULTI) -> list[tuple[str, int]]:
    """One hard-EM round of the trainer, collected as the round-2
    model: seed fit -> Viterbi decode -> usage re-score. Bounded model
    state (a subset of the seed vocabulary with fresh costs); every
    word remains segmentable because its round-1 pieces all survive."""
    enc = viterbi_words(words, fit_pieces(words, k_multi=k_multi))
    rows = em_rescore(enc).collect()
    return sorted((r["piece"], int(r["new_cost_micro"])) for r in rows)


def _viterbi_state(word: Column, pieces: list[tuple[str, int]]) -> Column:
    """struct(cost, n, seg) of the min-cost segmentation of ``word``
    under the literal piece table — one HOF expression, zero shuffle.

    dp accumulator: element k holds the best (cost, n, seg) covering
    the prefix of length k-1. Candidates at prefix length i are the
    pieces ending at i with start s in [i-MAX_PIECE_LEN+1, i]; pieces
    absent from the vocabulary surface as NULL cost and are filtered
    before the struct-ordered ``array_min`` (ties: cost, then fewest
    pieces, then lexicographic seg — see module docstring for why
    per-position pruning under this order is globally exact)."""
    cost_map = F.create_map(
        *[F.lit(x) for p, c in pieces for x in (p, c)]
    )

    def combine(prev: Column, piece: Column) -> Column:
        return F.struct(
            (prev["cost"] + F.element_at(cost_map, piece)).alias("cost"),
            (prev["n"] + F.lit(1).cast("long")).alias("n"),
            F.when(prev["seg"] == "", piece)
            .otherwise(F.concat(prev["seg"], F.lit(" "), piece))
            .alias("seg"),
        )

    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("cost"),
            F.lit(0).cast("long").alias("n"),
            F.lit("").alias("seg"),
        )
    )

    def step(acc: Column, i: Column) -> Column:
        cands = F.transform(
            F.sequence(F.greatest(F.lit(1), i - F.lit(MAX_PIECE_LEN - 1)), i),
            lambda s: combine(
                F.element_at(acc, s), word.substr(s, i - s + F.lit(1))
            ),
        )
        best = F.array_min(F.filter(cands, lambda x: x["cost"].isNotNull()))
        return F.concat(acc, F.array(best))

    dp = F.aggregate(F.sequence(F.lit(1), F.length(word)), init, step)
    return F.element_at(dp, F.length(word) + 1)


def viterbi_words(
    words: DataFrame,
    pieces: list[tuple[str, int]],
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """(word, freq, cost_micro, n_pieces, seg): exact Viterbi decode
    of every corpus word ≤ ``max_word_len`` chars — a pure projection
    over the vocab-bounded word table (no shuffle, no Python)."""
    st = _viterbi_state(F.col("word"), pieces)
    return words.filter(F.length("word") <= max_word_len).select(
        "word",
        F.col("freq").cast("long").alias("freq"),
        st["cost"].alias("cost_micro"),
        st["n"].alias("n_pieces"),
        st["seg"].alias("seg"),
    )


def em_rescore(encoded: DataFrame) -> DataFrame:
    """One hard-EM re-estimation round (Kudo'18 §3.2 step 2, Viterbi
    flavor): piece usage counts under the current decode, weighted by
    word frequency, re-scored to fresh micro-nat costs. Pieces the
    decoder never used drop out of the vocabulary (their probability
    re-estimates to zero)."""
    used = (
        encoded.select("freq", F.explode(F.split("seg", " ")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("used_weight"))
    )
    tot = used.agg(F.sum("used_weight").cast("long").alias("tw"))
    return used.crossJoin(F.broadcast(tot)).select(
        "piece",
        "used_weight",
        F.round(
            F.log(F.col("tw").cast("double") / F.col("used_weight")) * COST_SCALE
        )
        .cast("long")
        .alias("new_cost_micro"),
    )


def encode_docs(docs: DataFrame, enc_words: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_pieces, cost_micro): document-level encode
    rollup — tokens joined against the broadcast vocab-bounded word
    encodes (words beyond MAX_WORD_LEN fall out of the inner join on
    both engines), then ONE doc-keyed aggregate."""
    from firefly_vcut_spark.operators.text import tokens

    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    return (
        toks.join(F.broadcast(enc_words), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("cost_micro").cast("long").alias("cost_micro"),
        )
    )


def piece_usage_delta(
    docs: DataFrame,
    pieces: list[tuple[str, int]],
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """(piece, n_uses): freq-weighted piece-usage counts of the exact
    Viterbi decode of every word in ``docs`` under a FROZEN piece
    table — the mergeable-by-SUM unit a streaming encode sink appends
    per micro-batch. Only summable fields ride in the delta: a
    distinct-words or distinct-docs count would double-count across
    batches, the same merge constraint as ``text.postings_delta``'s
    cf. Decode is deterministic under a fixed model, so per-batch
    deltas summed equal the whole-corpus delta no matter how the
    corpus was micro-batched (the stream==batch property the sink
    tests pin)."""
    from firefly_vcut_spark.operators.text import tokens

    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    enc = viterbi_words(words, pieces, max_word_len)
    return (
        enc.select("freq", F.explode(F.split("seg", " ")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("n_uses"))
    )
