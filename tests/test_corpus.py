"""Corpus-preparation operator properties (operators/corpus.py):
split determinism and balance, stratified-sample exactness, next-fit
packing invariants, and connected-components correctness on a known
graph. The cross-engine value checks live in the oracle suite
(plans/pipeline_ops.py); these cover the properties SQL can't state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firefly_vcut_spark.operators import corpus as cp
from firefly_vcut_spark.sources.catalog import load_table


def test_split_deterministic_and_balanced(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    once = d.select("doc_id", cp.split_label(F.col("doc_id")).alias("s"))
    twice = d.select("doc_id", cp.split_label(F.col("doc_id")).alias("s2"))
    assert once.join(twice, "doc_id").filter(F.col("s") != F.col("s2")).count() == 0
    counts = {r["s"]: r["n"] for r in once.groupBy("s").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    # multiplicative hash over sequential ids: train band is wide; the
    # exact per-band counts are locked by the oracle, this is the sanity
    # envelope (train the clear majority, all three bands present)
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 0.8 * total


def test_stratified_sample_exactly_k(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    out = cp.stratified_sample(d, F.col("source"), k=3)
    per = out.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    assert per and all(r["n"] == 3 for r in per)
    # ranks are 1..k with no duplicates inside a stratum
    assert out.filter((F.col("sample_rank") < 1) | (F.col("sample_rank") > 3)).count() == 0
    assert (
        out.groupBy("stratum", "sample_rank").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_pack_next_fit_invariants(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    from firefly_vcut_spark.operators import text as tx

    toks = d.select("source", "doc_id", tx.subword_count(F.col("text")).alias("n_tokens"))
    capacity = 64  # small so both normal and oversize branches occur
    packed = cp.pack_next_fit(toks, capacity=capacity).cache()
    # every doc packed exactly once
    assert packed.count() == toks.count()
    assert packed.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    # a bin exceeds capacity only if it holds a single oversize doc
    bins = packed.groupBy("source", "bin_id").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("n")
    )
    assert bins.filter((F.col("fill") > capacity) & (F.col("n") > 1)).count() == 0
    # bin ids are contiguous from 0 per source
    per_src = bins.groupBy("source").agg(
        F.min("bin_id").alias("lo"), F.max("bin_id").alias("hi"), F.count("*").alias("nb")
    )
    assert per_src.filter(
        (F.col("lo") != 0) | (F.col("nb") != F.col("hi") + 1)
    ).count() == 0
    packed.unpersist()


def test_pack_respects_id_order(spark, sf_dir):
    """Next-fit never assigns a later doc to an earlier-closed bin:
    bin_id is monotone in doc_id within a source."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window
    from firefly_vcut_spark.operators import text as tx

    toks = d.select("source", "doc_id", tx.subword_count(F.col("text")).alias("n_tokens"))
    packed = cp.pack_next_fit(toks, capacity=128)
    w = Window.partitionBy("source").orderBy("doc_id")
    viol = (
        packed.withColumn("prev_bin", F.lag("bin_id").over(w))
        .filter(F.col("prev_bin").isNotNull() & (F.col("bin_id") < F.col("prev_bin")))
        .count()
    )
    assert viol == 0


@pytest.mark.parametrize("threshold", [1_000_000, 0])  # local / distributed solver
def test_connected_components_known_graph(spark, threshold):
    # two triangles bridged by one edge + an isolated pair:
    # {1,2,3,4,5,6} (bridge 3-4) and {10,11}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4), (10, 11)],
        ["id_a", "id_b"],
    )
    got = {
        r["id"]: r["component"]
        for r in cp.connected_components(edges, local_threshold=threshold).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_connected_components_frees_its_checkpoints(spark):
    """Storage held by a call returns to the block manager: the local
    solver keeps nothing, the distributed one only the checkpoint its
    result reads. DataFrame.unpersist() is a no-op on a checkpoint, so
    this fails if a superseded round is released that way."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6), (9, 10)],
        ["id_a", "id_b"],
    )
    before = _persistent_rdds(spark)
    cp.connected_components(edges).collect()
    assert _persistent_rdds(spark) == before
    cp.connected_components(edges, local_threshold=0).collect()
    assert _persistent_rdds(spark) <= before + 1


def test_connected_components_orientation_invariant(spark):
    """Flipping every edge's direction must not change the clustering
    (the operator symmetrizes internally)."""
    fwd = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    rev = fwd.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    a = {r["id"]: r["component"] for r in cp.connected_components(fwd).collect()}
    b = {r["id"]: r["component"] for r in cp.connected_components(rev).collect()}
    assert a == b == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def _uf_components(edges):
    """Pure-Python union-find reference."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize to min-reachable-id
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("threshold", [1_000_000, 0])  # local / distributed solver
def test_connected_components_vs_union_find_random(spark, threshold):
    import random

    rng = random.Random(7)
    for trial in range(3):
        nodes = list(range(trial * 100, trial * 100 + 60))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(40)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        expected = _uf_components(edges)
        got = {
            r["id"]: r["component"]
            for r in cp.connected_components(
                spark.createDataFrame(edges, ["id_a", "id_b"]),
                local_threshold=threshold,
            ).collect()
        }
        assert got == expected


def _nextfit_reference(items, capacity):
    """Pure-Python next-fit fold: [(id, tokens)] sorted by id → {id: bin}."""
    out, fill, bin_id = {}, 0, -1
    for i, t in sorted(items):
        if bin_id < 0 or fill + t > capacity:
            bin_id += 1
            fill = t
        else:
            fill += t
        out[i] = bin_id
    return out


def test_pack_next_fit_vs_reference_random(spark):
    import random

    rng = random.Random(11)
    rows = []
    expected = {}
    for g in range(4):
        items = [(g * 1000 + i, rng.randint(1, 120)) for i in range(50)]
        rows += [(f"g{g}", i, t) for i, t in items]
        for i, b in _nextfit_reference(items, 96).items():
            expected[i] = b
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_tokens"])
    got = {
        r["doc_id"]: r["bin_id"]
        for r in cp.pack_next_fit(df, capacity=96).collect()
    }
    assert got == expected


def test_word_ngrams_short_doc_guard(spark):
    from firefly_vcut_spark.operators.text import word_ngrams

    df = spark.createDataFrame([("a b",), ("a b c d",)], ["text"])
    toks = F.split(F.col("text"), " ")
    out = df.select(word_ngrams(toks, 3).alias("g")).collect()
    # 2 tokens < n=3 -> empty, NOT a descending-sequence artifact
    assert out[0]["g"] == []
    assert out[1]["g"] == ["a b c", "b c d"]


def test_decontaminate_flags_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "xx alpha beta gamma delta yy"),  # shares a 4-gram
            (2, "completely unrelated words here zz"),
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: r["n_shared_grams"] for r in cp.decontaminate(docs, bench, n=4).collect()}
    assert 1 in got and got[1] >= 1
    assert 2 not in got


def test_mixture_sample_fraction_and_nesting(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    kept_20 = {r.doc_id for r in cp.mixture_sample(df, F.lit(0.2)).collect()}
    kept_50 = {r.doc_id for r in cp.mixture_sample(df, F.lit(0.5)).collect()}
    # uniform-ish realized fractions (the affine sample_hash would
    # keep everything for small ids — regression guard)
    assert 0.15 < len(kept_20) / 2000 < 0.25
    assert 0.45 < len(kept_50) / 2000 < 0.55
    # thresholds nest: raising the target only ADDS docs
    assert kept_20 <= kept_50
    # deterministic across invocations
    again = {r.doc_id for r in cp.mixture_sample(df, F.lit(0.2)).collect()}
    assert again == kept_20


def test_mixture_sample_independent_of_split(spark):
    """mixture_hash uses a different multiplier than split_bucket so a
    domain remix cannot systematically starve one train/val/test split:
    the keep rate inside each split must track the global target."""
    df = spark.createDataFrame([(i,) for i in range(5000)], ["doc_id"])
    labeled = df.withColumn("split", cp.split_label(F.col("doc_id")))
    kept = cp.mixture_sample(labeled, F.lit(0.5))
    totals = {r["split"]: r["n"] for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    kept_n = {r["split"]: r["n"] for r in kept.groupBy("split").agg(F.count("*").alias("n")).collect()}
    for split, n in totals.items():
        rate = kept_n.get(split, 0) / n
        assert 0.4 < rate < 0.6, (split, rate)

def test_shard_bucket_not_round_robin(spark):
    """shard_bucket must use the HIGH bits of the multiplicative hash.
    The low-bits variant (hash % 16) is a fixed permutation of
    doc_id % 16: sequential ids round-robin in original order and every
    shard holds exactly the ids ≡ r (mod 16) — no global shuffle at
    all. High bits advance as a Weyl sequence, so id and id+16 must
    land in DIFFERENT shards for many ids, and balance still holds."""
    df = spark.createDataFrame([(i,) for i in range(1600)], ["doc_id"])
    shards = {
        r["doc_id"]: r["shard"]
        for r in df.select(
            "doc_id", cp.shard_bucket(F.col("doc_id"), 16).alias("shard")
        ).collect()
    }
    # not a function of doc_id % 16
    moved = sum(1 for i in range(1584) if shards[i] != shards[i + 16])
    assert moved > 500, f"shard looks residue-locked: only {moved} of 1584 moved"
    # consecutive ids are not a cyclic walk of all 16 shards either
    windows = {tuple(shards[i + j] for j in range(16)) for i in range(0, 1584, 16)}
    assert len(windows) > 10, "consecutive-16 windows repeat a fixed pattern"
    # ... while staying balanced
    from collections import Counter

    counts = Counter(shards.values())
    assert len(counts) == 16
    assert max(counts.values()) < 2 * min(counts.values())


def test_dup_span_removal_semantics(spark):
    """Planted-overlap truth table for dup_span_removal: a doc sharing
    a k-gram with another loses exactly the shared span; unique docs
    survive untouched (kept_md5 == md5 of their full normalized text);
    a doc that is a pure substring of another vanishes entirely."""
    import hashlib

    from firefly_vcut_spark.operators.dedup import dup_span_removal

    w = [f"w{i}" for i in range(30)]
    shared = w[:8]  # one shared 8-gram between docs 1 and 2
    d1 = " ".join(shared + w[10:20])  # 18 tokens, first 8 duplicated
    d2 = " ".join(w[20:25] + shared)  # 13 tokens, last 8 duplicated
    d3 = " ".join(f"u{i}" for i in range(12))  # unique, untouched
    d4 = " ".join(w[10:20])  # substring of d1's tail -> fully removed
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in dup_span_removal(df, k=8).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert rows[3]["n_removed"] == 0 and rows[3]["kept_md5"] == md5(d3)
    # d4 == d1[8:18]: every one of its 3 8-grams also occurs in d1
    assert rows[4]["n_removed"] == rows[4]["n_tokens"] == 10
    assert rows[4]["kept_md5"] == md5("")
    # d1 loses its first-8 span (shared with d2) AND its tail (shared
    # with d4 in full)
    assert rows[1]["n_removed"] == 18 and rows[1]["kept_md5"] == md5("")
    # d2 keeps only its unique 5-token prefix
    assert rows[2]["n_removed"] == 8
    assert rows[2]["kept_md5"] == md5(" ".join(w[20:25]))


def test_dup_span_removal_short_docs_pass_through(spark):
    """Docs shorter than k produce no grams and are never covered."""
    from firefly_vcut_spark.operators.dedup import dup_span_removal

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in dup_span_removal(df, k=8).collect()}
    assert all(rows[i]["n_removed"] == 0 for i in (1, 2, 3))
    assert rows[3]["n_tokens"] == 1  # split('') -> [''], same as oracle


def test_boilerplate_detector_fires_per_source(spark, sf_dir):
    """Every source with >=5 docs must surface its planted template
    gram at roughly the planted 1/3 rate."""
    from firefly_vcut_spark.plans import all_queries

    rows = all_queries()["corpus_boilerplate_grams"].fn(spark, sf_dir).collect()
    if not rows:  # sf too small for the >=5-docs-per-source guard
        return
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.gram] = r
    for src, grams in by_src.items():
        planted = f"follow {src} for updates"
        assert planted in grams, (src, sorted(grams))
        assert 0.25 <= grams[planted].frac <= 0.45


def test_quality_percentile_filter_keeps_about_ninety_pct(spark, sf_dir):
    """Per-source p10 cutoff keeps >=90% of each source's docs (>= is
    inclusive so ties at the cutoff keep MORE, never fewer)."""
    from firefly_vcut_spark.plans import all_queries

    rows = all_queries()["corpus_quality_percentile_filter"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_kept >= 0.9 * r.src_docs - 1, r
        assert r.n_kept <= r.src_docs


def test_prepare_manifest_composition_invariants(spark, sf_dir):
    """The chained pipeline's totals must be consistent with its
    standalone stages: total docs <= quality keepers; every holdout doc
    excluded; shard ids within [0, 16); split fractions roughly 90/5/5."""
    from firefly_vcut_spark.plans import all_queries

    QS2 = all_queries()
    manifest = QS2["corpus_prepare_manifest"].fn(spark, sf_dir).collect()
    assert manifest
    total = sum(r.n_docs for r in manifest)
    keepers = sum(
        r.n_docs
        for r in QS2["corpus_quality_filter_chain"].fn(spark, sf_dir).collect()
        if r.verdict == "keep"
    )
    assert 0 < total <= keepers
    assert all(0 <= r.shard < 16 for r in manifest)
    by_split = {}
    for r in manifest:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert by_split.get("train", 0) > by_split.get("val", 0)
    assert by_split.get("train", 0) > by_split.get("test", 0)


def test_temperature_mixture_upweights_small_sources(spark, sf_dir):
    """α=0.5 property: sampling RATE (k/n) decreases with source size
    — the whole point of temperature rebalancing — and every target is
    satisfiable (n_taken == min(k_target, n_docs))."""
    from firefly_vcut_spark.plans import all_queries

    rows = all_queries()["corpus_temperature_mixture"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_taken == min(r.k_target, r.n_docs), r
    big = max(rows, key=lambda r: r.n_docs)
    small = min(rows, key=lambda r: r.n_docs)
    if big.n_docs > 2 * small.n_docs and small.k_target > 0:
        assert small.k_target / small.n_docs > big.k_target / big.n_docs


def test_decontamination_finds_every_eligible_planted_twin(spark):
    """Every planted twin whose eval source has >= 13 tokens must be
    flagged with ALL of that doc's distinct 13-grams shared; an
    eval doc shorter than 13 tokens has no grams, so its twin is
    (correctly) invisible to a 13-gram scan."""
    from firefly_vcut_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    out = {
        r["train_id"]: r
        for r in all_queries()["corpus_decontaminate_vs_eval"]
        .fn(spark, sf)
        .collect()
    }
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    expect = con.execute(
        r"""
        WITH t AS (
            SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)),
                                '\s+', ' ', 'g'), ' ') AS toks
            FROM documents WHERE doc_id % 51 = 3
        )
        SELECT doc_id, count(DISTINCT array_to_string(toks[i:i+12], ' ')) AS n
        FROM (SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks) - 11, 1))) AS i
              FROM t)
        GROUP BY doc_id
        """
    ).fetchall()
    eligible = {doc_id: n for doc_id, n in expect if n > 0}
    assert eligible, "fixture must plant at least one eligible twin"
    for doc_id, n_grams in eligible.items():
        row = out.get(doc_id + 10_000_000)
        assert row is not None, f"planted twin of {doc_id} not flagged"
        assert row["n_shared_grams"] == n_grams
        assert row["n_eval_docs"] >= 1
