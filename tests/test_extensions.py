"""Extension-operator semantics tests beyond the oracle harness:
planted duplicates must be FOUND by every dedup path; multimodal
checksums must match a local hashlib computation; ANN bucketed recall
is sane."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from firefly_vcut_spark.plans import all_queries
from firefly_vcut_spark.sources.catalog import load_table

QS = all_queries()


def _planted_ids(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return {
        r.doc_id for r in d.filter(F.col("doc_id") % 17 == 0).select("doc_id").collect()
    }


def test_exact_dedup_finds_planted(spark, sf_dir):
    planted = _planted_ids(spark, sf_dir)
    rows = QS["dedup_exact"].fn(spark, sf_dir).collect()
    dup_groups = [r for r in rows if r.n_dups >= 2]
    assert {r.keep_id for r in dup_groups} == planted


def test_minhash_lsh_finds_planted(spark, sf_dir):
    planted = _planted_ids(spark, sf_dir)
    pairs = QS["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    found = {
        (r.id_a, r.id_b) for r in pairs if r.n_shared_bands == 8
    }
    # every planted (orig, orig+1e6) pair shares all 8 bands
    assert {(p, p + 1000000) for p in planted} <= found


def test_minhash_lsh_portable_finds_planted(spark, sf_dir):
    """The portable-hash variant must surface the same planted dups —
    identical texts have identical signatures under ANY hash family."""
    planted = _planted_ids(spark, sf_dir)
    pairs = QS["dedup_minhash_lsh_portable"].fn(spark, sf_dir).collect()
    found = {(r.id_a, r.id_b) for r in pairs if r.n_shared_bands == 8}
    assert {(p, p + 1000000) for p in planted} <= found


def test_simhash_finds_planted_at_hamming_zero(spark, sf_dir):
    planted = _planted_ids(spark, sf_dir)
    pairs = QS["dedup_simhash"].fn(spark, sf_dir).collect()
    zero = {(r.id_a, r.id_b) for r in pairs if r.hamming == 0}
    assert {(p, p + 1000000) for p in planted} <= zero


def test_simhash_portable_finds_planted_at_hamming_zero(spark, sf_dir):
    planted = _planted_ids(spark, sf_dir)
    pairs = QS["dedup_simhash_portable"].fn(spark, sf_dir).collect()
    zero = {(r.id_a, r.id_b) for r in pairs if r.hamming == 0}
    assert {(p, p + 1000000) for p in planted} <= zero


def test_minhash_signature_paths_agree(spark, sf_dir):
    """The per-row HOF signature (minhash_signature) and the operator's
    exploded flat-column path must produce identical signatures — they
    share the (seed, shingle) hash family by construction."""
    from pyspark.sql import functions as F

    from firefly_vcut_spark.operators.dedup import minhash_signature, word_shingles

    docs = load_table(spark, sf_dir, "documents").limit(50)
    hof = {
        r.doc_id: list(r.sig)
        for r in docs.select(
            "doc_id", minhash_signature(word_shingles(F.col("text")), 32).alias("sig")
        ).collect()
    }
    ex = docs.select("doc_id", F.explode(word_shingles(F.col("text"))).alias("sh"))
    flat = ex.select(
        "doc_id", *[F.xxhash64(F.lit(i), "sh").alias(f"h{i}") for i in range(32)]
    ).groupBy("doc_id").agg(
        F.array(*[F.min(f"h{i}") for i in range(32)]).alias("sig")
    )
    exploded = {r.doc_id: list(r.sig) for r in flat.collect()}
    assert hof == exploded


def test_mm_checksum_matches_hashlib(spark, sf_dir):
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").limit(2000).collect()
    }
    feats = QS["mm_decode_features"].fn(spark, sf_dir).collect()
    assert len(feats) == len(docs)
    for r in feats:
        raw = docs[r.doc_id].encode("utf-8")
        assert r.checksum == hashlib.md5(raw).hexdigest()
        assert r.n_bytes == len(raw)


def test_mm_frame_sample_shapes(spark, sf_dir):
    frames = QS["mm_frame_sample"].fn(spark, sf_dir)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in per_doc)
    total_bytes = frames.agg(F.sum("frame_bytes")).collect()[0][0]
    assert total_bytes > 0


def test_ann_ivf_kmeans_recall(spark, sf_dir):
    """IVF(nprobe=2/16 cells) must agree with brute force on scored
    pairs and reach reasonable recall@5 — clustered probing finds most
    true neighbors on this data."""
    bf = {}
    for r in QS["ann_bruteforce_topk"].fn(spark, sf_dir).collect():
        bf.setdefault(r.query_id, {})[r.neighbor_id] = r.cos_sim
    ivf_rows = QS["ann_ivf_kmeans_topk"].fn(spark, sf_dir).collect()
    assert ivf_rows
    hits = total = 0
    for r in ivf_rows:
        if r.neighbor_id in bf.get(r.query_id, {}):
            assert bf[r.query_id][r.neighbor_id] == r.cos_sim
            hits += 1
        total += 1
    assert hits / total >= 0.3, f"recall@5 too low: {hits}/{total}"


def test_ann_bucketed_is_subset_of_bruteforce_space(spark, sf_dir):
    """Bucketed top-k must return pairs whose cosine equals the
    brute-force cosine for the same pair (same scoring, smaller
    candidate set)."""
    bf = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in QS["ann_bruteforce_topk"].fn(spark, sf_dir).collect()
    }
    bk = QS["ann_lsh_bucketed_topk"].fn(spark, sf_dir).collect()
    assert bk, "bucketed ANN returned nothing"
    for r in bk:
        if (r.query_id, r.neighbor_id) in bf:
            assert bf[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_hll_sketch_error_bound(spark, sf_dir):
    """The tolerance-gated HLL query must agree with the exact twin on
    the exact counts AND assert its own sketch accuracy (hll_ok)."""
    exact = {
        r.day: r.n_users
        for r in QS["agg_distinct_users_daily"].fn(spark, sf_dir).collect()
    }
    rows = QS["agg_hll_distinct_users"].fn(spark, sf_dir).collect()
    assert exact.keys() == {r.day for r in rows}
    for r in rows:
        assert r.n_users_exact == exact[r.day]
        assert r.hll_ok, (r.day, r.n_users_exact)


def test_ann_pq_adc_structure_and_recall(spark, sf_dir):
    """PQ-ADC top-5: exactly 5 ranked rows per query (ranks 1..5), and
    recall@5 vs brute force well above chance. The synthetic embeddings
    are near-uniform (max within-label cosine ≈ 0.47), so an 8-codeword
    4-subspace quantizer keeps only coarse structure — measured recall
    is ~0.12-0.14, ~50× the 5/2000 chance rate; the gate is 0.05."""
    bf = {}
    for r in QS["ann_bruteforce_topk"].fn(spark, sf_dir).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    rows = QS["ann_pq_adc_topk"].fn(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5], (q, ranks)
    hits = sum(1 for r in rows if r.neighbor_id in bf.get(r.query_id, set()))
    assert hits / len(rows) >= 0.05, f"recall@5 below chance-adjusted floor: {hits}/{len(rows)}"


def test_pq_rerank_exact_scores_and_recall_gain(spark, sf_dir):
    """Two-stage PQ: every returned score must EQUAL the brute-force
    cosine for that pair (stage 2 is exact), and recall@5 must be ≥
    the raw ADC pass (re-ranking a 20-candidate shortlist can only
    fix orderings, never lose a hit)."""
    bf = {}
    for r in QS["ann_bruteforce_topk"].fn(spark, sf_dir).collect():
        bf.setdefault(r.query_id, {})[r.neighbor_id] = r.cos_sim
    adc = QS["ann_pq_adc_topk"].fn(spark, sf_dir).collect()
    rer = QS["ann_pq_rerank_topk"].fn(spark, sf_dir).collect()
    assert rer

    def recall(rows):
        hits = sum(1 for r in rows if r.neighbor_id in bf.get(r.query_id, {}))
        return hits / len(rows)

    for r in rer:
        if r.neighbor_id in bf.get(r.query_id, {}):
            assert bf[r.query_id][r.neighbor_id] == r.cos_sim, r
    assert recall(rer) >= recall(adc)


def test_pq_codebooks_shapes_and_determinism():
    """Codebook fit is a pure function: m books of ks centroids of
    dim/m coordinates, identical across calls, error on bad m."""
    import pytest as _pytest

    from firefly_vcut_spark.operators.ann import pq_codebooks

    vecs = [[float((i * 7 + j * 3) % 11) / 11 for j in range(8)] for i in range(40)]
    b1 = pq_codebooks(vecs, m=2, ks=4, iters=2)
    b2 = pq_codebooks(vecs, m=2, ks=4, iters=2)
    assert b1 == b2
    assert len(b1) == 2 and all(len(book) == 4 for book in b1)
    assert all(len(c) == 4 for book in b1 for c in book)
    with _pytest.raises(ValueError):
        pq_codebooks(vecs, m=3, ks=4, iters=1)


def test_char_lm_scores_structure(spark, sf_dir):
    """Every scored doc has a finite negative length-normalized
    log-prob and a positive bigram count; the synthetic corpus shares
    one vocabulary so per-language means cluster (~-1.71) — the
    discrimination property is asserted on a planted corpus below."""
    rows = QS["text_char_lm_scores"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_bigrams > 0
        assert -20.0 < r.avg_logp < 0.0, r


def test_char_lm_flags_gibberish(spark):
    """The perplexity-filter property: a gibberish doc (bigrams unseen
    in training) must score well below the in-distribution docs."""
    from firefly_vcut_spark.operators.text import char_lm_scores

    normal = [(i, "en", "the cat sat on the mat and the dog ran to the cat") for i in range(8)]
    docs = spark.createDataFrame(
        normal + [(99, "zz", "qxjzv wkqpx jvqzx zzqxj vkwpq xjqzv")],
        "doc_id long, lang string, text string",
    )
    rows = char_lm_scores(docs, F.col("lang") == "en").collect()
    scores = {r.doc_id: r.avg_logp for r in rows}
    in_dist = [s for d, s in scores.items() if d != 99]
    assert scores[99] < min(in_dist) - 1.0, scores


def test_funnel_ordered_semantics(spark):
    """Known micro-timeline: click before any view doesn't qualify;
    click within 30 min of a view does; purchase qualifies only after
    a QUALIFYING click within 30 min."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, typ, mins, user=1):
        return (i, user, typ, t0 + dt.timedelta(minutes=mins), 1.0, "{}")

    rows = [
        ev(1, "click", 0),      # no preceding view -> not qualified
        ev(2, "view", 5),
        ev(3, "click", 20),     # view 15 min before -> qualified
        ev(4, "purchase", 45),  # qual click 25 min before -> qualified
        ev(5, "purchase", 55),  # last qual click 35 min before -> NOT
        ev(6, "view", 100),
        ev(7, "click", 140),    # view 40 min before -> not qualified
        ev(8, "purchase", 145), # last qual click at t+20 -> not
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double, props string"
    )
    import os, tempfile

    with tempfile.TemporaryDirectory() as d:
        # write µs timestamps (Spark's default INT96 reads back as
        # timestamp[ns] in pyarrow and would trip the legacy-nanos path)
        prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            df.write.parquet(os.path.join(d, "events.parquet"))
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
        for t in ("region","nation","customer","supplier","part","orders","lineitem","documents","embeddings"):
            os.makedirs(os.path.join(d, f"{t}.parquet"), exist_ok=True)
        out = QS["win_funnel_conversion"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_views, r.n_funnel_clicks, r.n_funnel_purchases) == (2, 1, 1), r


def test_ivfpq_scores_agree_with_pq_adc(spark, sf_dir):
    """IVF-PQ shares the PQ codebooks with the pure-ADC query, so any
    (query, neighbor) pair appearing in both results must carry the
    IDENTICAL reconstructed cosine; 5 ranked rows per query."""
    adc = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in QS["ann_pq_adc_topk"].fn(spark, sf_dir).collect()
    }
    rows = QS["ann_ivfpq_topk"].fn(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
        if (r.query_id, r.neighbor_id) in adc:
            assert adc[(r.query_id, r.neighbor_id)] == r.cos_sim, r
    for q, ranks in by_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5], (q, ranks)


def test_sessionize_islands_invariants(spark, sf_dir):
    """session_idx starts at 1 per user, never decreases in event-time
    order, and increments exactly at >30-min gaps."""
    ev = {
        r.event_id: r.ts
        for r in load_table(spark, sf_dir, "events").select("event_id", "ts").collect()
    }
    rows = QS["win_sessionize_ids"].fn(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((ev[r.event_id], r.event_id, r.session_idx))
    for user, seq in by_user.items():
        seq.sort()
        assert seq[0][2] == 1, (user, seq[0])
        for (t0, _e0, s0), (t1, _e1, s1) in zip(seq, seq[1:]):
            gap = (t1 - t0).total_seconds()
            assert s1 == s0 + (1 if gap > 1800 else 0), (user, t0, t1, s0, s1)


def test_gram_matrix_matches_numpy(spark, sf_dir):
    """Gram entries must match a local numpy X^T X under the same
    floor-quantization, and be invariant to repartitioning."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    V = np.array([np.asarray(r.embedding, dtype=np.float64) for r in e.collect()])
    q = np.floor((V[:, :, None] * V[:, None, :]) * 1_000_000_000).astype(np.int64)
    expect = q.sum(axis=0)
    rows = QS["agg_gram_matrix"].fn(spark, sf_dir).collect()
    assert len(rows) == 64 * 65 // 2
    for r in rows[:200]:
        want = round(int(expect[r.i - 1, r.j - 1]) / 1e9, 4)
        assert r.gram == want, (r.i, r.j, r.gram, want)

    from firefly_vcut_spark.operators.linalg import gram_matrix

    re_rows = {
        (r.i, r.j): r.gram for r in gram_matrix(e.repartition(7)).collect()
    }
    for r in rows:
        assert re_rows[(r.i, r.j)] == r.gram


def test_power_iteration_finds_top_eigenvector(spark, sf_dir):
    """The quantized power iteration must align with numpy's exact top
    eigenvector of the same Gram matrix (|cosine| >= 0.99)."""
    import numpy as np

    from firefly_vcut_spark.operators.linalg import (
        gram_matrix,
        power_iteration_quantized,
    )

    e = load_table(spark, sf_dir, "embeddings")
    gram = {(r.i, r.j): r.gram for r in gram_matrix(e).collect()}
    x = np.array(power_iteration_quantized(gram, 64))
    G = np.zeros((64, 64))
    for (i, j), v in gram.items():
        G[i - 1, j - 1] = v
        G[j - 1, i - 1] = v
    w, vecs = np.linalg.eigh(G)
    top = vecs[:, np.argmax(w)]
    cos = abs(float(x @ top) / (np.linalg.norm(x) * np.linalg.norm(top)))
    assert cos >= 0.99, cos
