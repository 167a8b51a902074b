"""BM25 ranked retrieval (Robertson-Spärck Jones / Okapi BM25) over
the documents corpus — the scoring half of the search-index story
(inverted-index build and AllPairs/winnowing live in affinity_sql /
winnow_sql; this is the query-time ranker).

Reference scope note: the reference's `search --bvid --text` CLI
(fuzzy single-doc scan) is the W1 flagship here; corpus-wide ranked
keyword retrieval is this repo's search extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from firefly_vcut_spark.plans.registry import query
from firefly_vcut_spark.sources.catalog import load_table

_K1 = 1.2
_B = 0.75
_K1_PLUS_1 = _K1 + 1.0  # pre-folded so both engines carry the same double literal
_ONE_MINUS_B = 1.0 - _B
_TOPK = 10
# query terms: document-frequency ranks 20-24 (df DESC, term ASC) — a
# data-derived, engine-replayable query set that skips the stopword
# head but stays on terms with plenty of matches
_QLO, _QHI = 20, 24

_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


@query(
    "search_bm25_topk",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    qterms AS (
        SELECT term, df FROM (
            SELECT term, df,
                   row_number() OVER (ORDER BY df DESC, term ASC) AS r
            FROM dfreq
        ) WHERE r BETWEEN {_QLO} AND {_QHI}
    ),
    scored AS (
        SELECT q.term, tf.doc_id,
               round(
                   ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
                   * ((tf.tf * {_K1_PLUS_1})
                      / (tf.tf + {_K1} * ({_ONE_MINUS_B} + {_B} * (dl.dl / s.avgdl)))),
                   6) AS score
        FROM tf
        JOIN qterms q USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY term
                     ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored
    )
    SELECT term AS query_term,
           CAST(rank AS BIGINT) AS rank,
           CAST(doc_id AS BIGINT) AS doc_id,
           score
    FROM ranked WHERE rank <= {_TOPK}
    """,
    tags=("text", "search", "extension", "topk"),
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 per query term (k1=1.2, b=0.75): idf =
    ln((N-df+0.5)/(df+0.5)+1), length-normalized tf saturation. The
    query set is data-derived (df ranks 20-24), so the oracle replays
    query selection, every score, and the ranked cut.

    Scale: ONE token explode feeds tf; doc lengths and df are rollups
    of that same aggregate, whose exchange Spark computes once and
    reuses for every consumer (ReusedExchange); corpus stats are a 1-row broadcast; the
    per-term rank is a window over only the matching postings (query
    terms broadcast). Ordering compares the ROUNDED score so the
    boundary is engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    from firefly_vcut_spark.operators.text import tokens

    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # TakeOrdered (per-partition heaps) fetches the df head; the
    # rank window then runs over ≤ _QHI rows — no vocab-sized
    # single-partition sort
    qterms = (
        dfreq.orderBy(F.desc("df"), F.asc("term"))
        .limit(_QHI)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("df"), F.asc("term"))
            ),
        )
        .filter(F.col("r") >= _QLO)
        .select("term", "df")
    )
    score = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        * (
            (F.col("tf") * F.lit(_K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(_K1)
                * (F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl") / F.col("avgdl")))
            )
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("term", "doc_id", score.alias("score"))
    )
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select(
            F.col("term").alias("query_term"),
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "score",
        )
    )


_QMOD, _QRES = 29, 1  # query docs: doc_id % 29 == 1
_NQT = 3  # rarest terms per query doc


@query(
    "search_bm25_mrr",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    qterms AS (
        SELECT qid, term, df FROM (
            SELECT tf.doc_id AS qid, tf.term, d.df,
                   row_number() OVER (PARTITION BY tf.doc_id
                        ORDER BY d.df ASC, tf.term ASC) AS r
            FROM tf JOIN dfreq d USING (term)
            WHERE tf.doc_id % {_QMOD} = {_QRES}
        ) WHERE r <= {_NQT}
    ),
    scored AS (
        SELECT q.qid, tf.doc_id,
               round(sum(
                   round(
                       ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
                       * ((tf.tf * {_K1_PLUS_1})
                          / (tf.tf + {_K1} * ({_ONE_MINUS_B}
                               + {_B} * (dl.dl / s.avgdl)))),
                       6)
               ), 6) AS score
        FROM tf
        JOIN qterms q USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
        GROUP BY q.qid, tf.doc_id
    ),
    ranked AS (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored
    )
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(rank AS BIGINT) AS rel_rank,
           round(CASE WHEN rank <= {_TOPK} THEN 1.0 / rank ELSE 0.0 END, 6)
               AS reciprocal_rank
    FROM ranked WHERE doc_id = qid
    """,
    tags=("text", "search", "extension", "eval"),
)
def search_bm25_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval-quality eval (the search twin of ann_ivf_recall):
    every 29th document becomes a QUERY made of its own 3 rarest terms
    (df ASC, term ASC — engine-replayable query construction), the
    source doc is the planted relevant result, and the metric is its
    reciprocal rank @10 under MULTI-TERM BM25 (per-term scores summed
    per candidate doc — the piece search_bm25_topk's per-term ranking
    doesn't exercise). Self-retrieval is not guaranteed (near-dup twins
    can outrank the source): the eval MEASURES that, deterministically.

    Scale: same single token-explode feeding tf as search_bm25_topk
    (one exchange, reused by every consumer); the query-term table is O(queries x
    3) and broadcasts into the postings join; per-query scoring
    aggregates O(matching postings) rows keyed on (qid, doc); the
    relevant-rank filter is a window over each query's candidate set.
    Both levels of score are rounded to 1e-6 so rank boundaries are
    engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    from firefly_vcut_spark.operators.text import tokens

    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    wq = Window.partitionBy("qid").orderBy(F.asc("df"), F.asc("term"))
    qterms = (
        tf.filter(F.col("doc_id") % _QMOD == _QRES)
        .select(F.col("doc_id").alias("qid"), "term")
        .join(dfreq, "term")
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= _NQT)
        .select("qid", "term", "df")
    )
    term_score = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        * (
            (F.col("tf") * F.lit(_K1_PLUS_1))
            / (
                F.col("tf")
                + F.lit(_K1)
                * (F.lit(_ONE_MINUS_B) + F.lit(_B) * (F.col("dl") / F.col("avgdl")))
            )
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        # ONE qid exchange serves both the (qid, doc) aggregate
        # (subset-partitioning satisfies its clustering) and the
        # per-query rank window — the tfidf single-exchange trick
        .repartition("qid")
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("score"))
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("doc_id") == F.col("qid"))
        .select(
            F.col("qid").cast("long").alias("query_id"),
            F.col("rank").cast("long").alias("rel_rank"),
            F.round(
                F.when(F.col("rank") <= _TOPK, F.lit(1.0) / F.col("rank"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("reciprocal_rank"),
        )
    )
