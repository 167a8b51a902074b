"""Physical-plan quality gate: the optimizations the 100 TB design
depends on must actually appear in the executed plans — pushed
filters, broadcast joins, TakeOrderedAndProject top-k, partial
(map-side) argmax aggregation, and full-width scoring parallelism."""

from __future__ import annotations

from firefly_vcut_spark.plans import all_queries

QS = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QS[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_s1_filters_and_projection_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_scan_pushdown")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_discount)" in plan or "GreaterThan(l_discount" in plan
    # column pruning: the scan must not read unused columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_tax" not in read_schema


def test_j1_broadcasts_the_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j1_join_archive_profile")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_t1_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "t1_topk_recent_archives")
    assert "TakeOrderedAndProject" in plan


def test_flagship_partial_argmax_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "w1_flagship_occurrence_scan")
    assert "partial_max_by" in plan  # map-side combine before shuffle
    assert "BroadcastHashJoin" in plan  # songs joined on k, broadcast
    assert plan.count("Exchange") <= 4  # window + repartition + argmax


def test_anti_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j7_anti_join_unknown_bvids")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "partial_" in plan  # map-side partial agg before exchange


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert plan.count("Exchange") == 1  # single-row aggregate exchange only


def test_q10_take_ordered_on_rounded_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_q19_disjunct_quantity_ranges_pushed(spark, sf_dir):
    """The OR-of-ANDs must factor a lineitem-only disjunct down to the
    scan (quantity ranges), not evaluate everything post-join."""
    plan = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_quantity" in pushed and "Or(" in pushed


def test_q21_single_fact_shuffle(spark, sf_dir):
    """Rollup, window, and regroup all reuse the one explicit
    l_orderkey partitioning; only the final tiny s_name aggregate and
    the two broadcasts add exchanges."""
    plan = _plan(spark, sf_dir, "q21_blocking_supplier")
    assert plan.count("Exchange") <= 4
    assert "SortMergeJoin" not in plan


def test_corpus_split_no_shuffle_before_rollup(spark, sf_dir):
    """The split assignment itself is a pure projection — exactly one
    exchange (the final (split,lang) rollup)."""
    plan = _plan(spark, sf_dir, "corpus_split_train_val_test")
    assert plan.count("Exchange") == 1


def test_jaccard_banded_join_no_cartesian(spark, sf_dir):
    """The token self-join must be an equi-join carrying the id-gap
    bucket in its keys — never a cartesian/nested-loop with the gap as
    a post-filter (the freq^2 blowup)."""
    plan = _plan(spark, sf_dir, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    join_line = next(
        ln
        for ln in plan.splitlines()
        if ("HashJoin" in ln or "SortMergeJoin" in ln) and "tok#" in ln
    )
    assert "g#" in join_line  # bucket column is part of the join key


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """Corpus side must never shuffle its grams: the benchmark gram
    set broadcasts and the only Exchange is the per-doc count."""
    plan = _plan(spark, sf_dir, "corpus_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_shard_single_rollup_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "corpus_shuffle_shard")
    assert plan.count("Exchange") <= 2  # rollup + AQE read, nothing else


def test_ivf_lloyd_broadcast_probe_no_cartesian(spark, sf_dir):
    """The IVF query's only join is the (cell)-key probe with the tiny
    probe side broadcast; cell assignment is a pure projection
    (array_min over center literals), so no join/exchange precedes it."""
    plan = _plan(spark, sf_dir, "ann_ivf_kmeans_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_canonical_docs_pairs_have_no_id_gap_blocking(spark, sf_dir):
    """corpus_canonical_docs composes the LSH chain: its pair source
    is the banded candidate join (band_id/band_hash equi-keys), not
    the id-gap demo blocking. The final query plan starts from the
    connected-components checkpoint, so the gate inspects the pair
    pipeline it composes."""
    from pyspark.sql import functions as F

    from firefly_vcut_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_verify,
    )
    from firefly_vcut_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cands = minhash_lsh_candidates(docs, hash_mode="portable").select("id_a", "id_b")
    pairs = ngram_jaccard_verify(docs, cands).filter(F.col("jaccard") >= 0.8)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "band_hash" in plan  # LSH banding feeds the pairs
    assert "CartesianProduct" not in plan
    assert "id_gap" not in plan and "max_id_gap" not in plan


def test_char_lm_scoring_single_explode_broadcast_model(spark, sf_dir):
    """The LM fit is a separate vocab-bounded collect job; the scoring
    plan itself must explode the corpus exactly ONCE and join the
    model/context as broadcasts (no re-aggregated training lineages)."""
    plan = _plan(spark, sf_dir, "text_char_lm_scores")
    assert plan.count("Generate explode") == 1
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_pq_adc_no_shuffle_before_rank(spark, sf_dir):
    """PQ-ADC: encode+reconstruct is map-side over the corpus scan; the
    only wide exchanges are the scan repartition and the per-query
    rank; the query side broadcasts."""
    plan = _plan(spark, sf_dir, "ann_pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan  # broadcast cross, not shuffle
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # rank only


def test_funnel_single_user_shuffle(spark, sf_dir):
    """The window-funnel's whole point: both conditional-MAX passes and
    the final rollup reuse ONE user_id exchange (vs the quadratic
    events×events interval join)."""
    plan = _plan(spark, sf_dir, "win_funnel_conversion")
    assert plan.count("Exchange") == 1


def test_grouped_topk_plans_window_group_limit(spark, sf_dir):
    """Grouped top-3 must plan the WindowGroupLimit pre-shuffle prune
    (partial heaps before the exchange)."""
    plan = _plan(spark, sf_dir, "t_topk_per_group")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[1] or plan.count("WindowGroupLimit") >= 2


def test_cms_probe_join_is_broadcast(spark, sf_dir):
    """The 2048-row Count-Min table must broadcast to the probe side —
    the only input-sized shuffles are the build's and the exact
    count's."""
    plan = _plan(spark, sf_dir, "agg_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20 is heap-merged


def test_winnow_stats_is_scan_shaped(spark, sf_dir):
    """Per-doc winnowing rides the scan: no Exchange, no Generate
    (explode) — the whole algorithm is array codegen per row."""
    plan = _plan(spark, sf_dir, "text_winnow_fingerprints")
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_kmv_two_level_build_two_exchanges(spark, sf_dir):
    """KMV distinct: exactly the two bounded-state aggregations
    (per-(group,salt) partials, per-group merge) — distinct's own
    exchange plus the merge regroup, nothing else."""
    plan = _plan(spark, sf_dir, "agg_kmv_distinct_users")
    assert plan.count("Exchange") <= 3  # distinct + salt-agg + merge
    assert "CartesianProduct" not in plan


def test_gapfill_windows_reuse_user_exchange(spark, sf_dir):
    """Gap-fill: grid explode is map-side (Generate above the bound
    agg, no extra shuffle for it) and no cartesian appears."""
    plan = _plan(spark, sf_dir, "win_gapfill_daily")
    assert "Generate" in plan  # the per-user date-sequence explode
    assert "CartesianProduct" not in plan


def test_scd2_single_user_sort_shuffle(spark, sf_dir):
    """SCD2 history: the lag, island sum, and rollup share the
    (user, ts) sort — exactly one input-keyed exchange feeds the
    window chain (plus the final version window's regroup)."""
    plan = _plan(spark, sf_dir, "win_scd2_history")
    assert plan.count("Exchange") <= 2
    assert "CartesianProduct" not in plan


def test_semdedup_pairs_blocked_on_cell(spark, sf_dir):
    """SemDeDup: the pair join must key on the cluster cell (the
    blocking key) — never a cartesian over the corpus."""
    plan = _plan(spark, sf_dir, "corpus_semdedup")
    assert "CartesianProduct" not in plan
    assert "cell" in plan


def test_pagerank_size_gate_and_distributed_plan(spark, sf_dir):
    """PageRank: at test scale the size gate resolves the rounds
    driver-side, so the registered query's plan is a local result
    scan — no iterative join chain, no cartesian. The at-scale path
    must build the (s, t) adjacency ONCE: in the executed plan its
    exchange runs once and every later round reads it through a
    ReusedExchange, so per round only the rank side moves."""
    plan = _plan(spark, sf_dir, "agg_graph_pagerank")
    assert "SortMergeJoin" not in plan  # gate took the local path
    assert "CartesianProduct" not in plan

    from firefly_vcut_spark.operators.graph import pagerank_quantized

    edges = spark.createDataFrame(
        [(i, (i + 1) % 30) for i in range(30)] + [(0, i) for i in range(2, 15)],
        ["u", "v"],
    )
    iters = 5
    pr = pagerank_quantized(edges, iters=iters, local_threshold=0)
    pr.collect()
    # the final adaptive plan: what actually ran
    dplan = pr._jdf.queryExecution().executedPlan().executedPlan().toString()
    import re

    # a round reads the adjacency's (s, t) rows through one exchange;
    # all rounds after the first must point at the same one
    adj_reads = re.findall(r"ReusedExchange \[s#\d+L, t#\d+L\].*\[plan_id=(\d+)\]", dplan)
    assert len(adj_reads) == iters - 1, dplan
    (adj_id,) = set(adj_reads)
    fresh = [
        ln
        for ln in dplan.splitlines()
        if f"[plan_id={adj_id}]" in ln and "ReusedExchange" not in ln
    ]
    assert len(fresh) == 1, dplan  # the adjacency exchange runs once
    assert "InMemoryTableScan" not in dplan  # no cache behind the rounds
    assert "CartesianProduct" not in dplan


def test_cooccurrence_pairs_from_explode_counts_broadcast(spark, sf_dir):
    """Co-occurrence: pairs must come from the map-side basket
    explode (Generate), never a fact self-join, and the per-item
    count joins must broadcast."""
    plan = _plan(spark, sf_dir, "agg_item_cooccurrence")
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_inverted_index_single_term_exchange(spark, sf_dir):
    """Inverted index: one grouped pass — a single term-keyed
    exchange feeds df/cf/postings together (plus AQE reads)."""
    plan = _plan(spark, sf_dir, "text_inverted_index")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "sort_array" in plan or "collect_set" in plan


def test_unpivot_is_expand_not_union(spark, sf_dir):
    """Native UNPIVOT: one Expand over one scan — not three
    unioned rescans of the fact."""
    plan = _plan(spark, sf_dir, "agg_unpivot_lineitem_metrics")
    assert "Expand" in plan
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 1


def test_allpairs_no_cartesian_prefix_equi_join(spark, sf_dir):
    """AllPairs: the candidate join keys on the prefix term (an
    equi-join) and verification joins candidate ids — the plan may
    never contain a cartesian or nested-loop pair sweep."""
    plan = _plan(spark, sf_dir, "dedup_allpairs_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan


def test_dsir_broadcasts_model_and_no_text_in_shuffle(spark, sf_dir):
    """DSIR: the 64-row λ table must BROADCAST back onto the gram
    stream (no shuffled join on hb), the doc aggregate is the only
    wide exchange, and the final draw is a TakeOrdered — never a
    global sort."""
    plan = _plan(spark, sf_dir, "corpus_dsir_select")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    # scoring exchange is keyed on doc_id only — text never shuffles
    import re

    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m


def test_er_blocking_is_equi_join_with_verify_after(spark, sf_dir):
    """ER: candidates must come from an equi-join on the blocking key
    (hash or sort-merge — never a cartesian/BNLJ), with levenshtein
    only in the post-join filter."""
    plan = _plan(spark, sf_dir, "er_blocked_name_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)
    assert "levenshtein" in plan


def test_bpe_encode_broadcasts_word_pieces(spark, sf_dir):
    """BPE encode: the vocab-bounded word-piece table broadcasts; the
    corpus side aggregates on doc_id. No doc text in any exchange."""
    plan = _plan(spark, sf_dir, "text_bpe_encode_docs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    import re

    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m


def test_rag_retrieval_broadcasts_queries_and_id_joins_text(spark, sf_dir):
    """RAG assembly: the query set must be the broadcast side of the
    scoring join (corpus never re-shuffles for retrieval); the text
    join is keyed; no CartesianProduct beyond the broadcast NLJ that
    implements the scored cross (build side = the tiny query set)."""
    plan = _plan(spark, sf_dir, "rag_context_assembly")
    assert "BroadcastNestedLoopJoin BuildRight" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontamination_broadcasts_eval_grams_no_text_shuffle(spark, sf_dir):
    """Decontamination: the eval gram-key set broadcasts (a real
    benchmark suite is O(fixed) next to the corpus), the overlap join
    is never a cartesian, and no exchange carries document text —
    only 16-hex gram keys and ids shuffle."""
    import re

    plan = _plan(spark, sf_dir, "corpus_decontaminate_vs_eval")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m


def test_exact_quantile_single_histogram_and_broadcast_spec(spark, sf_dir):
    """Two-pass exact quantile: ONE histogram subtree feeds both
    quantiles (exactly two parquet scans of events total — per-q
    branches would rescan), the (group,bucket,q,k) spec reaches the
    second pass as a broadcast, and no Sort ever runs over the raw
    events relation — the only row-level sorts are the small-histogram
    window and the within-target-bucket window."""
    import re

    plan = _plan(spark, sf_dir, "agg_exact_quantile_twopass")
    assert len(re.findall(r"Scan parquet", plan)) == 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the within-bucket selection sorts on (event_type, q, value) —
    # never a per-group sort of the full relation (no global Sort
    # without the q column present)
    sorts = re.findall(r"Sort \[([^\]]*)\]", plan)
    assert sorts, plan
    assert all(("q#" in s) or ("bucket#" in s) for s in sorts), sorts


def test_unigram_encode_words_is_single_exchange_projection(spark, sf_dir):
    """Unigram Viterbi decode: the whole DP must fold into a
    projection over the word table — the only exchange is the shared
    (word, count) tokenization; no join, no window, no Python in the
    plan (the piece table rides as a literal map)."""
    plan = _plan(spark, sf_dir, "text_unigram_encode_words")
    assert plan.count("Exchange") == 1, plan
    for marker in ("Join", "Window", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_unigram_encode_docs_broadcasts_word_encodes(spark, sf_dir):
    """Doc-level unigram encode: the vocab-bounded word-encode
    projection broadcasts; the corpus side aggregates on doc_id.
    Document text never enters an exchange."""
    import re

    plan = _plan(spark, sf_dir, "text_unigram_encode_docs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m


def test_audit_card_single_ledger_pass_no_stage_recompute(spark, sf_dir):
    """Pipeline audit card: the six ledger rows must inline() out of
    ONE aggregation chain over one flags subtree — exactly three
    parquet scans of documents total (featurization, corpus grams,
    eval grams); a per-stage materialization would rescan per stage.
    The contamination flag set and the eval gram set broadcast; no
    exchange carries document text; lint-clean (<= 6 exchanges)."""
    import re

    from firefly_vcut_spark.plans.lint import lint_plan

    df = QS["corpus_pipeline_audit_card"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 3, plan
    assert plan.count("Generate inline") == 1
    assert plan.count("BroadcastExchange") == 2
    assert "CartesianProduct" not in plan
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m
    assert lint_plan(df) == []


def test_valid_lyrics_base_predicate_equals_hof_filter(spark, sf_dir):
    """fx.songs_with_valid_lyrics must select EXACTLY the songs whose
    constructed lyrics_fragment is non-null and non-empty — the
    base-column predicate (n%7 plant + surviving-window arithmetic) is
    the pushdown-safe form a3/j2 filter with, after the HOF-column
    filter mis-bound under AQE at sf10 (Spark 4.1
    ATTRIBUTE_NOT_FOUND; SCALING.md §sf10)."""
    from pyspark.sql import functions as F

    from firefly_vcut_spark.sources import fixtures as fx

    via_hof = {
        r.song_id
        for r in fx.songs(spark, sf_dir)
        .filter(
            F.col("lyrics_fragment").isNotNull() & (F.col("lyrics_fragment") != "")
        )
        .select("song_id")
        .collect()
    }
    via_base = {
        r.song_id
        for r in fx.songs_with_valid_lyrics(spark, sf_dir).select("song_id").collect()
    }
    assert via_base == via_hof and via_hof


def test_join_mv_no_hard_broadcast_on_watermark_deltas(spark, sf_dir):
    """agg_incremental_join_mv: the watermark-derived "delta" branches
    must carry NO hard broadcast hint — a fixed (or backfilled)
    watermark makes a delta O(SF), and an unconditional F.broadcast on
    one killed the sf10 sweep with a driver-side build OOM (SCALING.md
    §sf10). The join strategy is AQE's call from runtime sizes: the
    analyzed plan must be hint-free, and locally (post-filter deltas
    small) AQE should still pick broadcast joins on its own."""
    df = QS["agg_incremental_join_mv"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed
    # AQE (not a hint) chooses broadcast at this scale — the plan
    # adapts instead of being pinned to the OOM shape
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in executed
