"""Text-analysis operators for corpus pipelines: language-ID
heuristic, quality scoring, token counting, document fingerprinting.
All pure-Column (JVM, codegen) — no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from firefly_vcut_spark.operators.dedup import normalized_text

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

_MOD = 1_000_000_007
_BASE = 131


def tokens(text: Column) -> Column:
    return F.split(normalized_text(text), " ")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("long")


def subword_count(text: Column, piece: int = 4) -> Column:
    """BPE-ish subword estimate: ceil(len(word)/piece) per token —
    a deterministic stand-in for a real tokenizer's piece count."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / piece).cast("long"),
    )


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def mean_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0, 100]: length saturation,
    stopword-band fit, and mean-token-length band — the
    length/punct/stopword-ratio recipe of corpus filtering."""
    n = token_count(text)
    length_part = F.least(n / 50.0, F.lit(1.0)) * 40
    sw = stopword_ratio(text)
    sw_part = F.when((sw >= 0.03) & (sw <= 0.40), F.lit(30.0)).otherwise(
        F.lit(10.0)
    )
    mt = mean_token_len(text)
    mt_part = F.when((mt >= 3.0) & (mt <= 8.0), F.lit(30.0)).otherwise(F.lit(10.0))
    return F.round(length_part + sw_part + mt_part, 4)


def lang_id_heuristic(text: Column) -> Column:
    """n-gram-frequency language-ID heuristic. The synthetic corpus is
    one shared vocabulary, so the discriminator is necessarily crude:
    English-marker ('the'/'a'/'is') token ratio banded into en /
    en-like / und. Deterministic and engine-portable; a real model
    slots in behind the same Column interface."""
    toks = tokens(text)
    markers = F.size(F.filter(toks, lambda t: t.isin("the", "a", "is")))
    ratio = markers / F.greatest(F.size(toks), F.lit(1))
    return (
        F.when(ratio >= 0.08, F.lit("en"))
        .when(ratio >= 0.03, F.lit("en-like"))
        .otherwise(F.lit("und"))
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array, space-joined; empty array when
    the doc is shorter than n tokens (F.sequence would otherwise emit
    a DESCENDING range and fabricate grams)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_bigrams(text: Column) -> Column:
    """Character bigrams of the normalized text (array of length-2
    substrings); empty array for texts shorter than 2 chars."""
    t = normalized_text(text)
    return F.when(
        F.length(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 1),
            lambda i: F.substring(t, i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_lm_scores(docs, train_filter: Column):
    """CCNet-style language-model quality scoring with a character
    bigram model: train add-1-smoothed bigram probabilities on the
    ``train_filter`` slice of the corpus, score EVERY document by its
    length-normalized log-probability (the perplexity-filter signal —
    Wenzek et al., CCNet, LREC'20).

    Scale shape: the expensive explode is aggregated ONCE into
    per-doc bigram counts (map-side partial agg; key space = doc ×
    ~1k bigram vocab); the model, context totals, and vocab size all
    derive from that compact table and are vocab-bounded, so they
    BROADCAST — scoring is two broadcast joins plus the natural
    groupBy(doc_id). Per-bigram log-probs are quantized to 1e-6 and
    summed as INTEGERS, so partial-agg order can never move the hash.

    Returns (doc_id, lang, n_bigrams, avg_logp)."""
    spark = docs.sparkSession
    grams = docs.select(
        "doc_id", "lang", F.explode(char_bigrams(F.col("text"))).alias("bg")
    )
    doc_bg = grams.groupBy("doc_id", "lang", "bg").agg(F.count("*").alias("m"))

    # Model fit: ONE pass over the training slice, collected driver-side
    # (the model is vocab-bounded — O(charset²) rows, like the IVF/PQ
    # sample fits); context totals and vocab size are then free Python
    # folds instead of three more explode+aggregate lineages.
    model_rows = (
        docs.filter(train_filter)
        .select(F.explode(char_bigrams(F.col("text"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("nbg"))
        .collect()
    )
    if not model_rows:
        raise ValueError("char_lm_scores: empty training slice")
    ctx: dict[str, int] = {}
    for r in model_rows:
        ctx[r.bg[0]] = ctx.get(r.bg[0], 0) + r.nbg
    v_size = len({r.bg[1] for r in model_rows})
    model_df = spark.createDataFrame(
        [(r.bg, r.nbg) for r in model_rows], "bg string, nbg long"
    )
    ctx_df = spark.createDataFrame(list(ctx.items()), "c1 string, c1n long")

    lp = F.round(
        F.log(
            (F.coalesce(F.col("nbg"), F.lit(0)) + F.lit(1.0))
            / (F.coalesce(F.col("c1n"), F.lit(0)) + F.lit(v_size))
        )
        * 1e6
    ).cast("long")
    scored = (
        doc_bg.join(F.broadcast(model_df), "bg", "left")
        .withColumn("c1", F.substring("bg", 1, 1))
        .join(F.broadcast(ctx_df), "c1", "left")
        .withColumn("lp", lp)
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        F.round(F.sum(F.col("m") * F.col("lp")) / (F.lit(1e6) * F.sum("m")), 4).alias(
            "avg_logp"
        ),
    )


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 digest of normalized text."""
    return F.md5(normalized_text(text))


def fingerprint_rolling(text: Column) -> Column:
    """Order-sensitive rolling polynomial hash over tokens:
    acc·131 + (first-char code)·31 + token length (mod 1e9+7) —
    integer arithmetic only, so both engines agree exactly."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * _BASE + F.ascii(t) * 31 + F.length(t)) % _MOD,
    )


def winnow_fingerprints(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the
    MOSS algorithm): polynomial hashes of the k-char grams of the
    alnum-normalized text, then from every window of w consecutive
    gram hashes keep the RIGHTMOST minimal one. Guarantees: any shared
    substring of length ≥ k + w - 1 yields at least one shared
    fingerprint, and the density of selected positions is ~2/(w+1) —
    the position-robust alternative to MinHash for substring-level
    matching.

    Entirely pure-Column (transform/aggregate/slice — O(chars·k)
    inside codegen, no explode, no shuffle): each doc's fingerprint
    set rides the scan. Returns (id, n_grams, fps) with fps an array
    of distinct (h, pos) structs.

    Integer arithmetic mod 1e9+7 only, so the DuckDB oracle replays
    the hashes and the rightmost-min selection rule exactly.
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    out = docs.select(F.col(id_col).alias("id"), norm.alias("_s"))
    out = out.withColumn("_cs", F.filter(F.split(F.col("_s"), ""), lambda c: c != ""))
    out = out.withColumn("_m", F.greatest(F.size("_cs") - (k - 1), F.lit(0)))

    def gram_hash(i: Column) -> Column:
        return F.aggregate(
            F.slice(F.col("_cs"), i, k),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * 31 + F.ascii(c)) % _MOD,
        )

    hashes = F.when(
        F.col("_m") >= 1,
        F.transform(F.sequence(F.lit(1), F.col("_m")), gram_hash),
    ).otherwise(F.array().cast("array<bigint>"))
    out = out.withColumn("_hs", hashes)

    def window_best(s: Column) -> Column:
        # rightmost minimal hash in positions [s, s+w-1]: "<=" on the
        # running minimum makes later equal hashes win the tie
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(w - 1)),
            F.struct(
                F.lit(_MOD + 1).cast("long").alias("h"),
                F.lit(-1).cast("long").alias("pos"),
            ),
            lambda acc, j: F.when(
                F.element_at(F.col("_hs"), (s + j).cast("int")) <= acc["h"],
                F.struct(
                    F.element_at(F.col("_hs"), (s + j).cast("int")).alias("h"),
                    (s + j).cast("long").alias("pos"),
                ),
            ).otherwise(acc),
        )

    n_wins = F.col("_m") - (w - 1)
    sel = F.when(
        n_wins >= 1, F.transform(F.sequence(F.lit(1), n_wins), window_best)
    ).otherwise(F.array().cast("array<struct<h:bigint,pos:bigint>>"))
    return out.select(
        F.col("id").alias(id_col),
        F.col("_m").cast("long").alias("n_grams"),
        F.array_distinct(sel).alias("fps"),
    )


def postings_delta(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-term posting DELTA for one document batch: (term, post
    [sorted distinct doc ids], cf). Additive — deltas from disjoint
    batches merge with ``merge_postings``; the unit the streaming
    index sink appends as O(batch) segments."""
    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    return tok.groupBy("term").agg(
        F.sort_array(F.collect_set("_id")).alias("post"),
        F.count(F.lit(1)).cast("long").alias("cf"),
    )


def merge_postings(deltas: DataFrame) -> DataFrame:
    """Consolidate accumulated posting deltas (≥1 row per term) into
    the index view: term, df, cf, post. Doc-id sets union (distinct —
    re-delivered deltas collapse), counts sum."""
    return (
        deltas.groupBy("term")
        .agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("post")))
            ).alias("post"),
            F.sum("cf").cast("long").alias("cf"),
        )
        .select("term", F.size("post").cast("long").alias("df"), "cf", "post")
    )


def dsir_importance_scores(
    docs: DataFrame, target_filter: Column, n_buckets: int = 64
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS'23): hashed
    word uni+bigram bag-of-ngrams models fit on a target slice vs the
    raw corpus, each doc weighted by its feature log-likelihood ratio
    log p_target(x) − log p_raw(x) = Σ_g λ[h(g)].

    Engine shape (all hash-replayable, no RNG):
    - ONE explode produces (doc_id, is_target, bucket) with bucket =
      charfold(gram) mod n_buckets — a pure map-side projection —
      and is partial-aggregated ONCE into (doc_id, is_target, hb, m)
      counts. The model fit and the scoring pass both read that
      aggregate inside the returned plan, so Spark runs its exchange
      once and the second consumer reads it through ReusedExchange:
      the corpus is tokenized and hashed exactly once, and the
      builder runs no job.
    - Both models fall out of one n_buckets-row rollup of the shared
      aggregate; the corpus totals are a window over that tiny table,
      λ is computed on it with F.log (JVM log parity with the
      oracle's ln) and BROADCAST back.
    - Per-bucket log-ratios are quantized to integer micro-nats, so
      the per-doc sum is an INTEGER aggregation — partial-agg order
      can never flip the rounded weight.

    Deterministic-selection note: the paper resamples with Gumbel
    noise; callers here take top-k by weight with doc_id tie-break so
    the draw itself is oracle-replayable.

    Returns (doc_id, n_grams, w_micro) — total weight in micro-nats.
    At 100 TB the model side would fit on a sample; the λ table stays
    n_buckets rows either way."""
    from firefly_vcut_spark.operators.dedup import charfold_hash

    # bind the token array to a real column BEFORE gram derivation:
    # word_ngrams indexes the array per gram (element_at), and an
    # UNBOUND tokens(text) expression would re-run the regex split
    # inside every lambda step — O(len²) per doc (measured 9s → 0.6s
    # at sf0.1 for the explode stage alone)
    # full-width CPU parallelism for the hash scan (same pattern as
    # the dedup/ann operators): local SF tables are one small file,
    # so the scan alone yields too few splits for a per-char fold —
    # widen_if_narrow keeps that pin local-only (no exchange at scale)
    from firefly_vcut_spark.operators.skew import widen_if_narrow

    toked = widen_if_narrow(docs).select(
        "doc_id",
        target_filter.alias("is_target"),
        tokens(F.col("text")).alias("tk"),
    )
    grams = F.concat(F.col("tk"), word_ngrams(F.col("tk"), 2))
    bucketed = toked.select(
        "doc_id",
        "is_target",
        F.explode(grams).alias("g"),
    ).select(
        "doc_id",
        "is_target",
        # hb is never null (grams are non-null strings); coalesce
        # tells the optimizer so. A nullable hb would get a not-null
        # filter inferred from the scoring join on ONE consumer only,
        # and the two consumers' differing subtrees would block the
        # reuse of their shared exchange below.
        F.coalesce(charfold_hash(F.col("g")) % n_buckets, F.lit(0)).alias("hb"),
    )
    # the ONE shared aggregate both the fit and the scoring hang off:
    # both consumers sit in the returned plan, so its exchange runs once
    doc_bucket = bucketed.groupBy("doc_id", "is_target", "hb").agg(
        F.count(F.lit(1)).alias("m")
    )
    model = doc_bucket.groupBy("hb").agg(
        F.sum("m").alias("r"),
        F.sum(
            F.when(F.col("is_target"), F.col("m")).otherwise(F.lit(0))
        ).alias("t"),
    )
    # corpus totals as a window over the n_buckets-row model: one
    # single-partition pass, no driver round trip
    everything = Window.partitionBy()
    tr, tt = F.sum("r").over(everything), F.sum("t").over(everything)
    lam_df = model.select(
        "hb",
        F.round(
            F.log(
                ((F.col("t") + F.lit(1.0)) / (tt + F.lit(n_buckets)))
                * ((tr + F.lit(float(n_buckets))) / (F.col("r") + F.lit(1.0)))
            )
            * 1e6
        )
        .cast("long")
        .alias("lam"),
    )
    return (
        doc_bucket.join(F.broadcast(lam_df), "hb")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_grams"),
            F.sum(F.col("m") * F.col("lam")).cast("long").alias("w_micro"),
        )
    )
