"""Graph analytics over a self-derived co-activity graph: triangle
counting (degree-ordered orientation) and integer-quantized PageRank.

The engine's graph story so far is connected components
(operators/corpus.py — the dedup-cluster solver); these add the two
other staples a distributed engine is expected to run on
relationship data, built the same way CC is: plain DataFrame joins,
deterministic integer arithmetic, every step SQL-replayable.

Graph derivation (`cooccurrence_edges`): users co-active in the same
time bucket, with buckets above a hot cap DROPPED — the same
bounded-fan-out principle as the LSH band cap and the winnowing
stop-gram cap. At 100 TB a raw co-occurrence projection is
quadratically dense in bucket size; the cap makes the edge count
O(buckets · cap²) by construction.

Triangle counting uses the standard degree-ordered orientation
(each edge directed from the (deg, id)-smaller endpoint), which
bounds the wedge-join fan-out by the ORIENTED out-degree — O(sqrt(m))
per node on skewed graphs instead of O(max degree) — the
MapReduce-era trick (Suri & Vassilvitskii) that makes the join plan
survive power-law graphs.

PageRank runs d = 17/20 damping entirely in BIGINT (ranks scaled to
1e12, per-step floor division), so five rounds are bit-identical
under any partitioning and the oracle can replay them as five
unrolled CTEs — same recipe that made the PCA power iteration
(operators/linalg.py) hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGERANK_SCALE = 10**12
_DAMP_NUM, _DAMP_DEN = 17, 20  # d = 0.85 as an exact rational


def cooccurrence_edges(
    events: DataFrame,
    event_type: str = "purchase",
    min_bucket: int = 2,
    max_bucket: int = 15,
) -> DataFrame:
    """Undirected co-activity edges (u < v): distinct user pairs that
    share an hour bucket of the given event type, skipping buckets
    with more than ``max_bucket`` users (hot-key cap — keeps the
    pair fan-out per bucket bounded at C(cap, 2)).

    Shape: the bucket-size prefilter is a streaming window count over
    the hour partitioning (bounded state — a pathological hot hour is
    dropped without ever buffering its user set), then the surviving
    ≤ max_bucket users per bucket collect into a sorted basket whose
    pairs explode MAP-SIDE (the agg_item_cooccurrence recipe: the
    bucket is the natural blocking key, no self-join). Exchanges: ONE
    h-keyed shuffle feeds the whole per-bucket pipeline — hash
    partitioning on h alone satisfies the (h, user) dedup's clustering
    requirement (every (h, *) row co-locates), the h window, AND the
    basket groupBy, so the event-derived stream moves once, not twice
    (a `.distinct()` first would add its own (h, user) exchange and
    re-shuffle for the window) — plus the final small pair distinct."""
    from pyspark.sql import Window

    pu = (
        events.filter(F.col("event_type") == event_type)
        .select(
            F.date_trunc("hour", "ts").alias("h"),
            "user_id",
        )
        .repartition("h")
        .dropDuplicates(["h", "user_id"])
    )
    sized = pu.withColumn(
        "nh", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter((F.col("nh") >= min_bucket) & (F.col("nh") <= max_bucket))
    baskets = sized.groupBy("h").agg(
        F.sort_array(F.collect_set("user_id")).alias("us")
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("us"),
            lambda x, i: F.transform(
                F.slice(F.col("us"), i + 2, F.size(F.col("us"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over undirected (u < v) edges."""
    ends = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    return ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One-row graph summary: node/edge/triangle counts and global
    transitivity (3·T / wedges).

    Orientation: every edge directed from its (deg, id)-smaller
    endpoint; a triangle {a,b,c} is counted exactly once, as the
    wedge at its smallest vertex closed by the oriented (mid → max)
    edge. The wedge self-join fans out by oriented out-degree only."""
    deg = degrees(edges)
    e = (
        edges.join(
            deg.withColumnRenamed("node", "u").withColumnRenamed(
                "deg", "du"
            ),
            "u",
        )
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed(
                "deg", "dv"
            ),
            "v",
        )
    )
    lower_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_u, F.struct("dv", "v")).otherwise(
            F.struct(F.col("du").alias("dv"), F.col("u").alias("v"))
        ).alias("t"),
    ).select("s", F.col("t.v").alias("t"), F.col("t.dv").alias("dt"))
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # wedge (s → a, s → b) ordered by the same (deg, id) rank so the
    # closing edge (a → b) exists in oriented form iff the triangle does
    wedges = w1.join(
        w2,
        (F.col("w1.s") == F.col("w2.s"))
        & (
            (F.col("w1.dt") < F.col("w2.dt"))
            | (
                (F.col("w1.dt") == F.col("w2.dt"))
                & (F.col("w1.t") < F.col("w2.t"))
            )
        ),
    ).select(F.col("w1.t").alias("a"), F.col("w2.t").alias("b"))
    closing = oriented.select(
        F.col("s").alias("a"), F.col("t").alias("b")
    )
    tri = wedges.join(closing, ["a", "b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    summary = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    return summary.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        F.round(
            3.0
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double"),
            4,
        ).alias("transitivity"),
    )


def pagerank_quantized(
    edges: DataFrame,
    iters: int = 5,
    scale: int = PAGERANK_SCALE,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """PageRank over the undirected graph in exact BIGINT arithmetic:
    ranks scaled to ``scale``, r ← base + (17 · Σ_{u~v} (r_u div
    deg_u)) div 20 with base = ((3·scale) div 20) div N. Every step is
    integer division, so ``iters`` rounds are deterministic under any
    partitioning — replayable as unrolled SQL CTEs.

    Returns (node, deg, rank). Adaptive solver, the same size-gated
    strategy as ``connected_components``: after materializing the
    edge list once, its COUNT (a real statistic, not a guess) picks
    the execution.

    - ``<= local_threshold`` edges: collect the (long, long) pairs
      and run the rounds as exact int64 numpy folds on the driver —
      one job, zero iterative shuffles. 1M edges is ~16 MB of longs;
      the distributed loop would pay a join + an agg exchange per
      round (~10 scheduler round-trips) for the same answer. (NOT
      the 100 TB path; the gate routes any big graph away from it.)
    - otherwise: the (s, t, sdeg) adjacency is a join on the source
      key, so it comes out hash-partitioned on ``s``, and every
      round's join on ``s`` consumes that partitioning. All rounds
      live in ONE plan, so Spark runs the adjacency's exchanges once
      and every later round reads them through ReusedExchange; per
      round only the O(nodes) rank table moves — one exchange for the
      target groupBy (plus whatever AQE does to re-key the small rank
      side). iters is a fixed small constant, so the rounds stay ONE
      linear DataFrame lineage — no per-round RDD checkpoint that
      would demote the loop to row-format ExistingRDD scans and
      forfeit the shared partitioning.

    Both solvers compute the identical fixpoint (cross-checked in
    tests/test_graph.py)."""
    # cache the upstream edge derivation for the driver-side jobs: the
    # size gate and the distributed path's node count. The gate and
    # the local path's materialization FUSE into one action —
    # limit(threshold+1).toPandas() (Arrow: two int64 columns, ~16 MB
    # at the 1M default — NOT driver Row objects) either returns the
    # whole edge list, which IS the local solver's input, or proves
    # the graph is gate-big with one extra row.
    edges = edges.select("u", "v").persist()
    try:
        head = edges.limit(local_threshold + 1).toPandas()
        if len(head) <= local_threshold:
            return _pagerank_local_frame(
                edges.sparkSession, head, iters, scale
            )
        return _pagerank_distributed(edges, iters, scale)
    finally:
        edges.unpersist()


def _pagerank_local_frame(
    spark: SparkSession, pairs, iters: int, scale: int
) -> DataFrame:
    """Driver numpy rounds for gate-small graphs — bit-identical to
    the distributed fold (int64 floor division on non-negative
    ranks). ``pairs`` is the (u, v) pandas frame from the gate."""
    import numpy as np

    u = pairs["u"].to_numpy(dtype=np.int64)
    v = pairs["v"].to_numpy(dtype=np.int64)
    s = np.concatenate([u, v])  # both directions: undirected graph
    t = np.concatenate([v, u])
    nodes, s_idx = np.unique(s, return_inverse=True)
    t_idx = np.searchsorted(nodes, t)  # targets ⊆ sources by symmetry
    deg = np.bincount(s_idx, minlength=len(nodes)).astype(np.int64)
    n = len(nodes)
    base = (3 * scale // _DAMP_DEN) // n
    pr = np.full(n, scale // n, dtype=np.int64)
    for _ in range(iters):
        contrib = pr[s_idx] // deg[s_idx]
        acc = np.zeros(n, dtype=np.int64)
        np.add.at(acc, t_idx, contrib)  # exact int64 (bincount would float)
        pr = base + (_DAMP_NUM * acc) // _DAMP_DEN
    return spark.createDataFrame(
        [
            (int(nd), int(dg), int(r))
            for nd, dg, r in zip(nodes.tolist(), deg.tolist(), pr.tolist())
        ],
        schema="node long, deg long, rank long",
    )


def _pagerank_distributed(
    edges: DataFrame, iters: int, scale: int
) -> DataFrame:
    """Columnar join-agg rounds over a source-partitioned adjacency
    that every round shares — the at-scale path (see
    pagerank_quantized)."""
    deg = degrees(edges)
    both = edges.select(
        F.col("u").alias("s"), F.col("v").alias("t")
    ).unionAll(edges.select(F.col("v").alias("s"), F.col("u").alias("t")))
    adj = both.join(
        deg.withColumnRenamed("node", "s").withColumnRenamed("deg", "sdeg"),
        "s",
    )
    n_nodes = deg.count()
    base = (3 * scale // _DAMP_DEN) // n_nodes
    ranks = deg.select(
        "node", F.lit(scale // n_nodes).cast("long").alias("pr")
    )
    for _ in range(iters):
        contrib = adj.join(
            ranks.withColumnRenamed("node", "s"), "s"
        ).select("t", F.expr("pr div sdeg").alias("c"))
        ranks = (
            contrib.groupBy("t")
            .agg(
                (
                    F.lit(base)
                    + F.expr(f"({_DAMP_NUM} * sum(c)) div {_DAMP_DEN}")
                )
                .cast("long")
                .alias("pr")
            )
            .withColumnRenamed("t", "node")
        )
    return ranks.join(deg, "node").select(
        "node", "deg", F.col("pr").alias("rank")
    )
