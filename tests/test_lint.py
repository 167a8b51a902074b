"""Plan linter: fires on each anti-pattern, silent on the registry's
tuned plans."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from firefly_vcut_spark.plans import all_queries
from firefly_vcut_spark.plans.lint import lint_plan

QS = all_queries()


def test_fires_on_cartesian(spark):
    a = spark.range(1000)
    b = spark.range(1000).withColumnRenamed("id", "id2")
    # disable auto-broadcast so the cross join plans as CartesianProduct
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        findings = lint_plan(a.crossJoin(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert any(f.startswith("cartesian-product") for f in findings), findings


def test_fires_on_row_python_udf(spark):
    plus_one = F.udf(lambda x: x + 1, T.LongType())
    df = spark.range(100).select(plus_one("id").alias("y"))
    findings = lint_plan(df)
    assert any(f.startswith("row-python-udf") for f in findings), findings


def test_fires_on_sort_merge_join(spark):
    a = spark.range(100000).withColumn("k", F.col("id") % 1000)
    b = spark.range(100000).withColumn("k", F.col("id") % 1000)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # also suppress the shuffled-hash fallback preference
        df = a.join(b.hint("merge"), "k")
        findings = lint_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert any(f.startswith("sort-merge-join") for f in findings), findings


def test_silent_on_tuned_registry_plans(spark, sf_dir):
    """The headline plans this repo ships must lint clean — the same
    properties the individual plan gates assert."""
    for name in (
        "q1_pricing_summary",
        "j1_join_archive_profile",
        "layout_zorder_files",
        "win_funnel_conversion",
        "text_char_lm_scores",
    ):
        findings = lint_plan(QS[name].fn(spark, sf_dir))
        assert findings == [], (name, findings)


# Registry-wide allowlist: every entry is a JUSTIFIED finding — a code
# the named query is allowed to carry, with the reason it is not an
# anti-pattern there. Anything not listed fails the sweep, so a new
# query shipping a cartesian, a row-Python UDF, or an unexpected
# unpushed filter breaks CI.
#
# Justification key:
#   expr-filter  — the filter is an EXPRESSION over text/array/JSON
#                  columns (get_json_object, tokenization size,
#                  date_trunc of the join key); parquet cannot push
#                  expression predicates, and the scan reads only the
#                  referenced columns, so there is nothing to push.
#   big-big SMJ  — both join sides are fact-derived at scale
#                  (pair tables, full-outer merges, cluster splits);
#                  broadcast would be wrong at 100 TB, SMJ is the
#                  intended physical strategy.
#   multi-stage  — the pipeline is genuinely k-stage (LSH chain,
#                  prefix join, TF-IDF's two corpus passes, market
#                  share's 6-table star): each exchange is a distinct
#                  keyed agg/join the docstring's shuffle ledger
#                  accounts for; folding further would change the
#                  algorithm.
_LINT_ALLOW: dict[str, set[str]] = {
    "a6_insert_ignore": {"exchange-count"},  # multi-stage: anti-join + dedup + union
    "agg_cms_join_size_estimate": {"exchange-count"},  # multi-stage: 2 sketch builds + join
    "agg_dq_expectations": {"exchange-count"},  # multi-stage: per-rule agg union
    "agg_graph_triangles": {"exchange-count"},  # multi-stage: edges + orientation + wedge join
    "agg_incremental_join_mv": {"sort-merge-join"},  # big-big by design: bootstrap state join + full-outer MV-key merge; delta joins ARE broadcast
    "agg_incremental_mv_merge": {"sort-merge-join"},  # big-big SMJ: full-outer delta merge can't broadcast
    "agg_kmv_click_purchase_overlap": {"exchange-count"},  # multi-stage: 2 sketch builds + algebra
    "ann_ivf_recall": {"exchange-count"},  # eval harness: composes the full IVF + brute-force pipelines by design
    "corpus_centroid_assignment": {"unpushed-filter"},  # expr-filter: embedding array expressions
    "corpus_cluster_safe_split": {"exchange-count", "sort-merge-join"},  # big-big SMJ on cluster id; CC chain is multi-stage
    "corpus_dup_span_removal": {"unpushed-filter"},  # expr-filter: tokenization size predicate
    "corpus_temperature_mixture": {"sort-merge-join"},  # big-big SMJ: per-source sampled union at scale
    "dedup_allpairs_prefix": {"exchange-count", "unpushed-filter"},  # multi-stage by design (df + prefix + verify); expr-filter on token arrays
    "dedup_lsh_band_tuning": {"exchange-count", "unpushed-filter"},  # eval harness: inherits the AllPairs chain's findings (allowlisted on its own above); the sweep adds only a scalar agg + 6-row unpivot
    "dedup_lsh_recall": {"exchange-count", "unpushed-filter"},  # eval harness: composes the full AllPairs + LSH pipelines by design (each allowlisted on its own); the eval adds only the pair-key join (r11: the LSH bucket-array rewrite dropped its last SMJ)
    "dedup_lsh_then_verify": {"exchange-count", "sort-merge-join"},  # big-big SMJ: candidate-pair text join; LSH chain is multi-stage
    "fjson_props_extract": {"unpushed-filter"},  # expr-filter: get_json_object derivation
    "ml_kmeans_full_lloyd": {"unpushed-filter"},  # expr-filter: isnotnull on the expression-derived cell join key (argmin over embedding) — not a scan predicate
    "q8_market_share": {"exchange-count"},  # multi-stage: 6-table star + year rollup
    "search_bm25_mrr": {"exchange-count"},  # multi-stage by design: same tf/dl/df rollup chain as search_bm25_topk plus the per-query (qid) exchange shared by score aggregate and rank window
    "search_bm25_topk": {"exchange-count"},  # multi-stage by design: tf/dl/df rollups off one shared tf aggregate (its exchange reused) + doc-keyed score join + per-term rank window; dl is O(docs) so it must stay a keyed join (not broadcast) at scale
    "text_nb_langid_confusion": {"exchange-count"},  # multi-stage: train/apply/confusion passes
    "win_rolling_active_users": {"unpushed-filter"},  # expr-filter: date_trunc(ts) join key
}


def test_registry_wide_lint_sweep(spark, sf_dir):
    """EVERY registry query's executed plan must lint clean modulo
    the justified allowlist above — the r4 verdict's task 3: no new
    query can ship a cartesian, row-Python UDF, unpushed filter, or
    exchange explosion without either fixing it or writing down why
    it is intended. Also fails when an allowlist entry goes stale
    (the query stops producing the finding), so the list can only
    shrink."""
    unexpected: dict[str, list[str]] = {}
    stale: dict[str, set[str]] = {}
    for name, q in sorted(QS.items()):
        findings = lint_plan(q.fn(spark, sf_dir))
        codes = {f.split(":")[0] for f in findings}
        allowed = _LINT_ALLOW.get(name, set())
        extra = codes - allowed
        if extra:
            unexpected[name] = sorted(extra)
        gone = allowed - codes
        if gone:
            stale[name] = gone
    assert not unexpected, f"lint findings outside allowlist: {unexpected}"
    assert not stale, f"stale allowlist entries (remove them): {stale}"


def test_exchange_count_dedups_cached_subtrees(spark):
    """A cached subtree is reprinted under every InMemoryRelation
    reference, but its exchange executes once — the linter must count
    it once (same plan_id), not per reference."""
    df = (
        spark.range(100000)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .count()
        .persist()
    )
    try:
        tripled = df.union(df).union(df)
        findings = lint_plan(tripled, max_exchanges=1)
        assert not any(f.startswith("exchange-count") for f in findings), findings
    finally:
        df.unpersist()


def test_exchange_count_dedups_reused_exchanges(spark):
    """An UNCACHED aggregate read by three consumers of one plan runs
    its exchange once (the copies become ReusedExchange) — count once."""
    agg = spark.range(100000).withColumn("k", F.col("id") % 7).groupBy("k").count()
    tripled = agg.union(agg).union(agg)
    findings = lint_plan(tripled, max_exchanges=1)
    assert not any(f.startswith("exchange-count") for f in findings), findings


def test_exchange_count_fires_on_distinct_exchanges(spark):
    """Seven aggregates on seven different keys are seven exchanges:
    reuse must not hide them."""
    base = spark.range(100000)
    parts = [
        base.groupBy((F.col("id") % (m + 2)).alias("k")).count() for m in range(7)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.union(p)
    findings = lint_plan(df, max_exchanges=6)
    assert any(f.startswith("exchange-count: 7 exchanges") for f in findings), findings
