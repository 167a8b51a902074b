"""Corpus-preparation operators for LLM training-data pipelines:
deterministic splits, stratified sampling, quality filter chains, PII
redaction, duplicate-cluster resolution (connected components), and
sequence packing.

Everything except the sequential packing fold is pure-Column JVM code.
The split/sample hashes are plain integer arithmetic (multiplicative
hashing) so the DuckDB oracle replays them exactly — same portable-hash
discipline as operators/dedup.perm_coeffs.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from firefly_vcut_spark.session import drop_checkpoint

# Knuth multiplicative constant (2^32 / phi); same family as dedup.py.
_SPLIT_A = 2654435761
_SPLIT_MOD = 4294967296  # 2^32
_SAMPLE_A = 40503
_SAMPLE_B = 7
_SAMPLE_P = 1_000_000_007
_MIX_A = 2246822519  # xxhash prime 2; decorrelated from _SPLIT_A


def split_bucket(key: Column, n_buckets: int = 1000) -> Column:
    """Deterministic [0, n_buckets) bucket from an integer key.

    Multiplicative hashing keeps the assignment stable across runs,
    engines, and cluster sizes — the property a train/val/test split
    must have so re-ingesting a document never migrates it between
    splits (no leakage). key*A stays < 2^63 for any realistic id."""
    return F.pmod(key.cast("long") * F.lit(_SPLIT_A), F.lit(_SPLIT_MOD)) % n_buckets


def split_label(key: Column, train_pct: int = 90, val_pct: int = 5) -> Column:
    """train/val/test label at train_pct/val_pct/(rest) percent."""
    b = split_bucket(key, 100)
    return (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def sample_hash(key: Column) -> Column:
    """Affine hash used as the deterministic 'random' sort key for
    stratified sampling — uniform enough over ids, exactly replayable
    in any engine with 64-bit integer arithmetic."""
    return (key.cast("long") * _SAMPLE_A + _SAMPLE_B) % _SAMPLE_P


def stratified_sample(
    df: DataFrame, stratum: Column, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank by
    (sample_hash, id) inside each stratum, keep rank <= k. One shuffle
    on the stratum key; at 100 TB the per-stratum top-k never
    materializes a global sort (rank window over the stratum
    partition only)."""
    from pyspark.sql import Window

    w = Window.partitionBy("stratum").orderBy("h", id_col)
    return (
        df.withColumn("stratum", stratum)
        .withColumn("h", sample_hash(F.col(id_col)))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .drop("h")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with an eval/benchmark set — the train-test-overlap removal
    step every published LLM pipeline runs before training (n-gram
    containment, the GPT-3/PaLM-style recipe).

    Returns (id, n_shared_grams) for contaminated docs only, where
    n_shared_grams counts the doc's DISTINCT n-grams that appear
    anywhere in the benchmark set.

    Scale shape: the benchmark side (eval suites — thousands of docs,
    MBs of grams) collapses to a DISTINCT gram set and broadcasts; the
    corpus side explodes grams map-side and broadcast-joins, so the
    only shuffle is the final per-doc count of surviving (id, gram)
    hits. 100 TB of corpus never shuffles text."""
    from firefly_vcut_spark.operators.dedup import normalized_text
    from firefly_vcut_spark.operators.text import word_ngrams

    def grams(df: DataFrame) -> DataFrame:
        # bind the token array in a child projection FIRST: an unbound
        # split(...) inside the n-gram lambda re-tokenizes the text per
        # element_at — O(len²) per doc, measured 25x at sf0.1 (the trap
        # plans/decon_sql.py documents; r8 sf10 probe caught this copy)
        t = df.select(
            F.col(id_col).alias("id"),
            F.split(normalized_text(F.col(text_col)), " ").alias("toks"),
        )
        return t.select(
            "id",
            F.explode(F.array_distinct(word_ngrams(F.col("toks"), n))).alias("gram"),
        )

    bench_grams = grams(benchmark).select("gram").distinct()
    return (
        grams(docs)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag-only variant of :func:`decontaminate`: the distinct ids of
    corpus docs sharing ANY word n-gram with the benchmark set, without
    the per-doc shared-gram counts. Two exchanges cheaper: the corpus
    gram stream LEFT-SEMI joins the broadcast benchmark grams raw (a
    semi probe only tests key existence, so the bench side needs no
    distinct-gram shuffle), and the only shuffle is the final id
    dedup. Use when a pipeline needs the drop set, not the audit
    counts."""
    from firefly_vcut_spark.operators.dedup import normalized_text
    from firefly_vcut_spark.operators.text import word_ngrams

    def grams(df: DataFrame) -> DataFrame:
        # bind the token array in a child projection FIRST: an unbound
        # split(...) inside the n-gram lambda re-tokenizes the text per
        # element_at — O(len²) per doc, measured 25x at sf0.1 (the trap
        # plans/decon_sql.py documents; r8 sf10 probe caught this copy)
        t = df.select(
            F.col(id_col).alias("id"),
            F.split(normalized_text(F.col(text_col)), " ").alias("toks"),
        )
        return t.select(
            "id",
            F.explode(F.array_distinct(word_ngrams(F.col("toks"), n))).alias("gram"),
        )

    bench_grams = grams(benchmark).select("gram")
    return (
        grams(docs)
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("id")
        .distinct()
    )


def mixture_hash(key: Column) -> Column:
    """Uniform [0, 2^32) mix of an integer key (Knuth multiplicative
    with a multiplier distinct from split_bucket's, so mixture keeps
    are independent of train/val/test assignment). NOT the affine
    sample_hash: that one is only rank-uniform (a sort key), while a
    Bernoulli threshold needs value-uniformity — for small ids the
    affine hash is tiny and would keep everything. key*A stays < 2^63
    for ids up to ~4e9."""
    return F.pmod(key.cast("long") * F.lit(_MIX_A), F.lit(_SPLIT_MOD))


def shard_bucket(key: Column, n_shards: int = 16) -> Column:
    """Map an integer key to one of ``n_shards`` output shards using
    the HIGH bits of the mixture hash (fixed-point range mapping:
    ``(hash * n) >> 32``). Knuth multiplicative hashing is only
    equidistributed in its high bits — taking ``hash % n`` with an odd
    multiplier and n | 2^32 degenerates to a fixed permutation of
    ``key % n`` (sequential ids round-robin in original order), which
    defeats the global-shuffle purpose. High bits of ``key * A mod
    2^32`` advance by ~0.523*n per sequential id (a Weyl sequence), so
    shard genuinely decorrelates from source/time ordering. hash*n
    stays < 2^63 for n up to ~2^30."""
    return F.shiftright(mixture_hash(key) * F.lit(int(n_shards)), 32)


def mixture_sample(
    df: DataFrame, target_frac: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Domain-mixture downsampling: keep each row with per-row
    probability ``target_frac`` (a Column, typically keyed off the
    domain/source), decided by the deterministic mixture hash — so the
    kept set is stable across runs, engines, and cluster resizes, and
    per-domain mixture weights are hit in expectation without any
    shuffle (pure projection + filter; the DoReMi-style static-weight
    remix step)."""
    return df.filter(
        mixture_hash(F.col(id_col))
        < F.floor(target_frac * F.lit(float(_SPLIT_MOD))).cast("long")
    )


# --- connected components (duplicate-cluster resolution) -------------------


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list → (id,
    component) where component = min id reachable. This is the
    dedup-cluster resolution step: near-dup *pairs* (from LSH/Jaccard)
    become *clusters*, from which one canonical doc per cluster
    survives.

    Adaptive strategy, the same shape as Spark's own broadcast-join
    decision: after materializing the symmetrized edge list, its size
    picks the solver.

    - ``<= local_threshold`` UNDIRECTED edges (the gate halves the
      symmetrized row count before comparing, so the threshold means
      what a caller thinks it means): collect the (long, long) pairs
      and run union-find with path compression on the driver — one
      job, zero iterative shuffles. 1M undirected edges is ~32 MB of
      symmetrized longs; the distributed loop below would pay 2
      shuffle joins + a checkpoint per round for the same answer.
      (This is NOT the 100 TB path; the gate routes any big graph
      away from it.)
    - otherwise: min-label propagation + pointer jumping. Each round
      does (a) a neighbor-min hop (edge-label join + min-agg) and (b) a
      pointer-jumping compression hop (labels joined to the labels OF
      their labels — components are always node ids, so the lookup is a
      self-join). (a) alone needs graph-diameter rounds, which for
      id-chained near-dup paths is O(n) — measured 36 rounds on the
      sf0.1 corpus; (b) doubles the compressed distance per round,
      giving O(log d): the same corpus converges in 7. Same recipe the
      map-reduce CC family (Hash-to-Min, large-star/small-star) uses at
      trillion-edge scale. Each round localCheckpoint()s to keep
      lineage flat and carries the previous label so convergence is a
      filter probe on the checkpoint, not an extra join. Raises if
      max_iter rounds don't converge — a silently truncated clustering
      would merge/split clusters wrongly.

    Both solvers compute the identical fixpoint;
    tests/test_corpus.py cross-checks them on random graphs."""
    # Materialize the symmetrized edge list ONCE: the size gate and
    # every propagation round read it, and without this the (possibly
    # expensive) upstream pair pipeline would be recomputed per use.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    try:
        # sym holds BOTH directions of every edge: halve before the
        # gate so local_threshold counts undirected edges as documented
        if sym.count() <= 2 * local_threshold:
            return _cc_local(sym)
        return _cc_distributed(sym, max_iter)
    finally:
        # both solvers return a result that no longer reads sym: the
        # local one is driver rows, the distributed one a checkpoint
        drop_checkpoint(sym)


def _cc_local(sym: DataFrame) -> DataFrame:
    """Driver union-find for gate-small graphs (min-id labeling)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in sym.toLocalIterator():
        u, v = int(row.u), int(row.v)
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min id so the root IS the component label
            lo, hi = min(ru, rv), max(ru, rv)
            parent[hi] = lo

    rows = [(x, find(x)) for x in parent]
    return sym.sparkSession.createDataFrame(rows, "id long, component long")


def _cc_distributed(sym: DataFrame, max_iter: int) -> DataFrame:
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for it in range(max_iter):
        neighbor_min = (
            sym.join(labels.select("id", "component"), sym.v == F.col("id"))
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        hopped = (
            labels.select("id", F.col("component").alias("old"))
            .join(neighbor_min, "id", "left")
            .select(
                "id",
                "old",
                F.least(F.col("old"), F.coalesce(F.col("nbr_min"), F.col("old"))).alias(
                    "component"
                ),
            )
        )
        if it == 0:
            # round 1's pointer jump is the identity (every label still
            # points to itself) — skip its join entirely
            updated = hopped.localCheckpoint(eager=True)
        else:
            parent = labels.select(
                F.col("id").alias("p_id"), F.col("component").alias("p_component")
            )
            updated = (
                hopped.join(parent, hopped.component == parent.p_id, "left")
                .select(
                    "id",
                    "old",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("p_component"), F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
        # convergence probe straight off the checkpoint — the carried
        # ``old`` column replaces the former labels-rejoin
        changed = updated.filter(F.col("component") != F.col("old")).limit(1).count()
        # Drop the superseded round's checkpoint blocks now: updated is
        # itself checkpointed (lineage cut), so nothing references the
        # old labels — without this every round leaks block-manager
        # memory for the rest of the session.
        drop_checkpoint(labels)
        labels = updated
        if changed == 0:
            return labels.select("id", "component")
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


# --- sequence packing (next-fit) -------------------------------------------

PACKED_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin_id", T.LongType()),
    ]
)


def pack_next_fit(
    docs: DataFrame,
    capacity: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Next-fit sequence packing: within each group, walk docs in id
    order and append to the current bin while it fits, else open a new
    bin (an oversize doc gets a bin of its own and closes it).

    The fold is inherently sequential *within* a group, so it runs as
    one applyInPandas pass per group — groups pack in parallel across
    executors, which is the scale axis that matters (sources/shards
    are many, docs per shard bounded). Token counts are computed
    JVM-side before the fold; Python only carries the (bin, fill)
    state."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins: list[int] = []
        fills = 0
        bin_id = -1
        for t in pdf[tokens_col]:
            if bin_id < 0 or fills + t > capacity:
                bin_id += 1
                fills = int(t)
            else:
                fills += int(t)
            bins.append(bin_id)
        return pd.DataFrame(
            {
                "source": pdf[group_col],
                "doc_id": pdf[id_col],
                "n_tokens": pdf[tokens_col],
                "bin_id": bins,
            }
        )

    sel = docs.select(
        F.col(group_col),
        F.col(id_col).cast("long"),
        F.col(tokens_col).cast("long"),
    )
    return sel.groupBy(group_col).applyInPandas(fold, PACKED_SCHEMA)


def weighted_sample_keys(
    id_col: Column, weight_col: Column, seed: int = 0
) -> Column:
    """A-ES weighted-sampling key (Efraimidis & Spirakis, "Weighted
    random sampling with a reservoir") in EXACT integer arithmetic:
    instead of the float key u^(1/w), use the equivalent min of w
    independent uniform hashes — the item with the global minimum is
    item i with probability w_i/Σw (each of the Σw draws is equally
    likely to be the overall minimum), and recursing on the remainder
    gives exact weighted sampling WITHOUT replacement. Take the k
    smallest keys to draw k items.

    Each draw j is a quadratically-mixed affine hash mod P — pure
    BIGINT (q² < 2^63), bit-identical in any engine, so the sampler
    is oracle-replayable, unlike ln(u)/w float keys. Cost is O(w) per
    row in codegen: quantize weights to a small integer range."""
    from firefly_vcut_spark.operators.dedup import MINHASH_P, perm_coeffs

    (a1, b1), (a2, b2) = perm_coeffs(2 + 2 * seed)[2 * seed : 2 * seed + 2]
    g = (F.lit(a1) * id_col.cast("long") + F.lit(b1)) % F.lit(MINHASH_P)
    # Guard weight ≤ 0 to the sentinel MINHASH_P: Spark's
    # sequence(1, w) with w < 1 yields a DESCENDING array (e.g.
    # [1, 0] for w=0), which would hand zero-weight rows a valid —
    # even competitive — key. Every real key is a residue mod
    # MINHASH_P (< MINHASH_P), so the sentinel loses under ANY
    # ordering — unlike a NULL key, which Spark's ASC default sorts
    # FIRST, silently selecting zero-weight rows in a caller that
    # forgot to order NULLs last. "Zero tickets in the w_i/Σw draw"
    # must never win regardless of caller discipline.
    return F.when(
        weight_col.cast("long") >= 1,
        F.array_min(
            F.transform(
                F.sequence(F.lit(1).cast("long"), weight_col.cast("long")),
                lambda j: (
                    lambda q: (q * q + q) % F.lit(MINHASH_P)
                )(
                    (g + F.lit(a2) * j.cast("long") + F.lit(b2))
                    % F.lit(MINHASH_P)
                ),
            )
        ),
    ).otherwise(F.lit(MINHASH_P))
