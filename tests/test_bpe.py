"""BPE trainer semantics: merge order, non-overlap, tie-breaks,
early stop — the properties the unrolled-CTE oracle then re-verifies
corpus-wide."""

from pyspark.sql import functions as F

from firefly_vcut_spark.operators.bpe import (
    initial_rep,
    merged_rep,
    train_bpe,
    vocab_stats,
    word_freq_table,
)


def _words(spark, rows):
    return spark.createDataFrame(rows, "word string, freq long")


def test_merge_is_left_to_right_non_overlapping(spark):
    # [a,a,a] with merge (a,a) → [aa,a]: the FIRST pair wins, the
    # trailing a is not re-merged (classic BPE semantics)
    df = _words(spark, [("aaa", 1)])
    out = df.select(
        merged_rep(initial_rep(F.col("word")), [("a", "a")]).alias("rep")
    ).collect()[0]["rep"]
    assert out == " aa  a "


def test_adjacent_matches_both_merge(spark):
    # [x,a,b,a,b]: wrapped spaces keep the two (a,b) occurrences
    # independent — both merge in one round
    df = _words(spark, [("xabab", 1)])
    out = df.select(
        merged_rep(initial_rep(F.col("word")), [("a", "b")]).alias("rep")
    ).collect()[0]["rep"]
    assert out == " x  ab  ab "


def test_training_learns_frequent_pair_first(spark):
    # 'ab' appears in every word; 'cd' in one — (a,b) must be merge 1
    words = _words(spark, [("abc", 5), ("abd", 4), ("cdab", 3)])
    merges = train_bpe(words, 2)
    assert merges[0]["a"] == "a" and merges[0]["b"] == "b"
    assert merges[0]["weight"] == 12
    assert merges[0]["merged"] == "ab"


def test_tie_break_is_lexicographic(spark):
    # 'xy' and 'ab' both appear once → 'a b' < 'x y' wins round 1
    words = _words(spark, [("xy", 1), ("ab", 1)])
    merges = train_bpe(words, 1)
    assert (merges[0]["a"], merges[0]["b"]) == ("a", "b")


def test_early_stop_when_no_pairs_remain(spark):
    # single-char words: zero adjacent pairs → zero merges
    words = _words(spark, [("a", 3), ("b", 2)])
    assert train_bpe(words, 5) == []


def test_checkpoint_interval_does_not_change_merges(spark):
    """The rep checkpoint (depth bound) is a pure materialization:
    any checkpoint_every — including every round, and never — must
    learn the identical merge table."""
    words = _words(
        spark,
        [("banana", 7), ("bandana", 5), ("ananas", 3), ("cabana", 2)],
    )
    baseline = train_bpe(words, 10, checkpoint_every=10**9)
    assert len(baseline) >= 6  # enough rounds to cross B=1,2,3 blocks
    for every in (1, 2, 3):
        assert train_bpe(words, 10, checkpoint_every=every) == baseline


def test_rep_table_blocks_equal_single_projection(spark):
    """rep_table with mid-list checkpoints produces byte-identical
    reps to the one-shot chained replace."""
    from firefly_vcut_spark.operators.bpe import rep_table

    words = _words(spark, [("banana", 7), ("bandana", 5), ("ananas", 3)])
    merges = [(m["a"], m["b"]) for m in train_bpe(words, 8)]
    assert len(merges) >= 5
    one = {
        r["word"]: r["rep"]
        for r in rep_table(words, merges, checkpoint_every=10**9).collect()
    }
    for every in (1, 2):
        blocked = {
            r["word"]: r["rep"]
            for r in rep_table(words, merges, checkpoint_every=every).collect()
        }
        assert blocked == one


def test_bpe_frees_superseded_checkpoints(spark):
    """Training keeps no stored rows once it returns; a blocked
    rep_table keeps only the checkpoint its result reads."""
    from firefly_vcut_spark.operators.bpe import rep_table

    def persistent() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    words = _words(spark, [("banana", 7), ("bandana", 5), ("ananas", 3)])
    before = persistent()
    merges = [(m["a"], m["b"]) for m in train_bpe(words, 8, checkpoint_every=2)]
    assert persistent() == before
    rep_table(words, merges, checkpoint_every=1).collect()
    assert persistent() <= before + 1


def test_vocab_stats_counts_merged_symbols(spark):
    words = _words(spark, [("abab", 2), ("ab", 1)])
    merges = train_bpe(words, 1)  # learns (a, b) with weight 5
    assert merges[0]["weight"] == 5
    rows = {
        r["symbol"]: (r["total_freq"], r["n_words"])
        for r in vocab_stats(words, merges).collect()
    }
    # total: 'abab' contributes 2 positions x freq 2, 'ab' one x 1;
    # n_words counts DISTINCT words containing the symbol
    assert rows == {"ab": (2 * 2 + 1, 2)}


def test_word_freq_table_normalizes_and_drops_empties(spark):
    docs = spark.createDataFrame(
        [(1, "The  the a"), (2, ""), (3, "a")], "doc_id long, text string"
    )
    rows = {r["word"]: r["freq"] for r in word_freq_table(docs).collect()}
    assert rows == {"the": 2, "a": 2}
