"""Approximate-nearest-neighbor search over an embedding column.

Two paths, same interface:
- ``brute_force_topk`` — the exactness baseline: query set (small,
  broadcast) × corpus, cosine per pair, per-query top-k via a
  partial-aggregating min-heap equivalent (max_by over an ordering
  struct would keep only k=1; here a window rank bounded to the
  query-partitioned scored set — the scored set is |queries|·|corpus|
  rows, but never materialized wider than the shuffle on query_id).
- ``bucketed_topk`` — the scale path: corpus pre-bucketed by a
  coarse quantizer (IVF-style cell = any deterministic bucket column,
  e.g. a cluster label or a sign-bit LSH code); each query probes only
  its own cell, cutting the scored pairs by the bucket fan-out factor.

Ranking is on the ROUNDED cosine with id tiebreak, so result order is
engine-stable (FP last-ulp drift cannot flip the hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from firefly_vcut_spark.functions.vectors import cosine, dot, norm
from firefly_vcut_spark.operators.skew import widen_if_narrow


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set over the
    corpus; one shuffle on query_id for the per-query rank. Norms are
    precomputed once per ROW (not per pair) — same arithmetic as
    dot/(|a|·|b|), so DuckDB hash parity holds, at a third of the
    per-pair HOF work."""
    c = widen_if_narrow(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    ).withColumn("cn", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, k)


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    bucket: Column,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF/LSH-style top-k: score only pairs sharing the bucket
    (nprobe=1). ``bucket`` is evaluated against both sides' rows."""
    c = widen_if_narrow(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            bucket.alias("bucket"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    ).withColumn("cn", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        bucket.alias("bucket"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, k)


# Knuth multiplicative hash for the deterministic fit-sample order —
# mirrored verbatim in the DuckDB oracle (extensions._ivf_lloyd_sql).
IVF_FIT_HASH_A = 2654435761
IVF_FIT_HASH_MOD = 1 << 32


def lloyd_centers(
    vecs: list[list[float]], n_cells: int, iters: int
) -> list[list[float]]:
    """Fixed-iteration Lloyd KMeans on the (driver-side) fit sample,
    with every intermediate quantized so an independent engine can
    replay it exactly: distances and per-coordinate means round to 6
    decimals, assignment ties break toward the lowest cell (argmin
    returns the first minimum), and an empty cell keeps its previous
    center. Init = the first ``n_cells`` vectors in fit order."""
    import numpy as np

    V = np.asarray(vecs, dtype=np.float64)
    C = V[: n_cells].copy()
    for _ in range(iters):
        d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).round(6)
        assign = d2.argmin(axis=1)
        for j in range(len(C)):
            members = V[assign == j]
            if len(members):
                C[j] = members.mean(axis=0).round(6)
    return [[float(x) for x in row] for row in C]


def ivf_lloyd_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_sample_rows: int = 20_000,
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC learned quantizer: a hash-ordered
    sample (TakeOrdered — top-N selection, not a full sort, so the fit
    collect stays O(sample) at 100 TB) trains fixed-iteration Lloyd
    KMeans on the driver (coarse quantizers are sample-fit in practice:
    ~10³ points per cell suffice, the standard IVF recipe); corpus
    vectors are assigned to their nearest (quantized-distance) center
    by a pure-Column array_min — no join, stays in codegen — and each
    query probes its ``nprobe`` nearest centroids. Every step is
    integer/rounded-double arithmetic an oracle replays exactly, so
    this IVF is hash-checkable end to end."""
    emb = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    centers = fit_lloyd_sample(emb, n_cells, iters, fit_sample_rows)
    centers_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("cell"),
                F.array(*[F.lit(x) for x in c]).alias("c"),
            )
            for j, c in enumerate(centers)
        ]
    )

    assigned = assign_cells(emb, centers).withColumn("cn", norm(F.col("v")))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    probes = (
        q.withColumn(
            "pc",
            F.slice(
                F.array_sort(
                    F.transform(
                        centers_arr,
                        lambda ct: F.struct(
                            (-F.round(cosine(F.col("qv"), ct["c"]), 4)).alias(
                                "negc"
                            ),
                            ct["cell"].alias("cell"),
                        ),
                    )
                ),
                1,
                nprobe,
            ),
        )
        .select("query_id", "qv", "qn", F.explode("pc").alias("p"))
        .select("query_id", "qv", "qn", F.col("p.cell").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, k)


def _d2(v: Column, c: Column) -> Column:
    """Round-6 squared distance — the quantized arithmetic both the
    driver Lloyd fit (numpy) and the DuckDB oracle replay exactly."""
    return F.round(
        F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _best_codeword(book: list[list[float]], sub: Column) -> Column:
    """Nearest sub-centroid (ties toward the lowest code) for one
    subspace slice; returns the chosen CODEWORD array. code is unique
    per entry, so the trailing centroid array never participates in
    the lexicographic min."""
    book_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("code"),
                F.array(*[F.lit(x) for x in c]).alias("c"),
            )
            for j, c in enumerate(book)
        ]
    )
    return F.array_min(
        F.transform(
            book_arr,
            lambda ct: F.struct(
                _d2(sub, ct["c"]).alias("d"),
                ct["code"].alias("code"),
                ct["c"].alias("c"),
            ),
        )
    )["c"]


def _recon_parts(books: list[list[list[float]]], d_sub: int) -> list[Column]:
    """Per-subspace codeword choices over F.col('v') — concat these
    for the per-row PQ reconstruction."""
    return [
        _best_codeword(book, F.slice(F.col("v"), s * d_sub + 1, d_sub))
        for s, book in enumerate(books)
    ]


def _nearest_cell(centers_arr: Column) -> Column:
    """Nearest coarse centroid (round-6 distance, ties toward the
    lowest cell) over F.col('v') — pure Column, no join."""
    return F.array_min(
        F.transform(
            centers_arr,
            lambda ct: F.struct(
                _d2(F.col("v"), ct["c"]).alias("d"),
                ct["cell"].alias("cell"),
            ),
        )
    )["cell"]


def _centers_arr(centers: list[list[float]]) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("cell"),
                F.array(*[F.lit(x) for x in c]).alias("c"),
            )
            for j, c in enumerate(centers)
        ]
    )


def pq_codebooks(
    vecs: list[list[float]], m: int, ks: int, iters: int
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split each fit vector into ``m``
    contiguous subspaces and run the deterministic Lloyd fit
    (``lloyd_centers``) independently per subspace. Returns
    ``m`` codebooks of ``ks`` sub-centroids each — every intermediate
    quantized exactly as in the IVF fit so an independent engine can
    replay the codebooks bit-for-bit."""
    if not vecs:
        return [[] for _ in range(m)]
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    return [
        lloyd_centers([v[s * d_sub : (s + 1) * d_sub] for v in vecs], ks, iters)
        for s in range(m)
    ]


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ks: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_sample_rows: int = 20_000,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    the memory-compression scale path. Each corpus vector is encoded as
    ``m`` sub-centroid codes (dim·4 bytes → m bytes: 64-dim float32 →
    4 bytes, a 64× compression), and queries score against the
    RECONSTRUCTION (codeword concatenation) while staying exact on
    their own side — the standard IVF-PQ inner loop (Jégou et al.,
    TPAMI'11).

    At 100 TB the codes column (m bytes/row) replaces the embedding
    column in the scan: the ADC sweep reads ~1/250th the bytes of a
    brute-force scan and the codebooks (m·ks·d_sub doubles) broadcast
    for free. Here the reconstruction happens once per CORPUS ROW (not
    per pair) in pure Column code, then pairs score through the same
    rounded-cosine rank as every other ANN query.

    Deterministic end to end: hash-ordered fit sample (same order as
    the IVF fit), quantized Lloyd per subspace, argmin ties toward the
    lowest code — the DuckDB oracle replays the whole fit in SQL."""
    spark = corpus.sparkSession
    emb = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    h = (F.col("vec_id") * F.lit(IVF_FIT_HASH_A)) % F.lit(IVF_FIT_HASH_MOD)
    fit_rows = (
        emb.withColumn("h", h)
        .orderBy("h", "vec_id")
        .limit(fit_sample_rows)
        .select("v")
        .collect()
    )
    books = pq_codebooks([r.v for r in fit_rows], m, ks, iters)
    dim = len(fit_rows[0].v)
    recon_parts = _recon_parts(books, dim // m)
    encoded = (
        widen_if_narrow(emb)
        .withColumn("recon", F.concat(*recon_parts))
        .select(F.col("vec_id").alias("neighbor_id"), "recon")
        .withColumn("rn_", norm(F.col("recon")))
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        encoded.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("recon")) / (F.col("qn") * F.col("rn_")), 4
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    cell_iters: int = 3,
    m: int = 4,
    ks: int = 8,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_sample_rows: int = 20_000,
) -> DataFrame:
    """IVF-PQ: the canonical production ANN layout (FAISS IVFPQ /
    Jégou et al.) — a coarse quantizer restricts each query to its
    ``nprobe`` cells AND the in-cell sweep reads PQ codes instead of
    vectors. ONE hash-ordered fit sample trains both quantizers
    (driver-side deterministic Lloyd); the corpus projection computes
    cell + reconstruction in a single codegen pass. At 100 TB: cell is
    the partition column (probe reads nprobe/n_cells of the data) and
    the scan inside each cell touches m bytes/row — the two savings
    multiply. Fully hash-checked: the oracle replays both fits."""
    spark = corpus.sparkSession
    emb = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    h = (F.col("vec_id") * F.lit(IVF_FIT_HASH_A)) % F.lit(IVF_FIT_HASH_MOD)
    fit_rows = (
        emb.withColumn("h", h)
        .orderBy("h", "vec_id")
        .limit(fit_sample_rows)
        .select("v")
        .collect()
    )
    fit = [r.v for r in fit_rows]
    centers = lloyd_centers(fit, n_cells, cell_iters)
    books = pq_codebooks(fit, m, ks, pq_iters)
    centers_arr = _centers_arr(centers)
    dim = len(fit[0])

    assigned = (
        widen_if_narrow(emb)
        .withColumn("cell", _nearest_cell(centers_arr))
        .withColumn("recon", F.concat(*_recon_parts(books, dim // m)))
        .select("vec_id", "cell", "recon")
        .withColumn("rn_", norm(F.col("recon")))
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    probes = (
        q.withColumn(
            "pc",
            F.slice(
                F.array_sort(
                    F.transform(
                        centers_arr,
                        lambda ct: F.struct(
                            (-F.round(cosine(F.col("qv"), ct["c"]), 4)).alias("negc"),
                            ct["cell"].alias("cell"),
                        ),
                    )
                ),
                1,
                nprobe,
            ),
        )
        .select("query_id", "qv", "qn", F.explode("pc").alias("p"))
        .select("query_id", "qv", "qn", F.col("p.cell").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("recon")) / (F.col("qn") * F.col("rn_")), 4
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, k)


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k_prime: int = 20,
    m: int = 4,
    ks: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-ADC candidate generation + EXACT re-rank: the two-stage
    retrieval layout. Stage 1 sweeps the compressed codes for a
    k'-candidate shortlist per query (all the I/O savings of
    ``pq_adc_topk``); stage 2 fetches the TRUE vectors for only the
    |queries|·k' shortlist rows — broadcast back against the corpus
    scan, a semi-join-shaped gather — and re-scores them exactly.

    Result quality: exact cosine on everything returned, so wherever
    the shortlist contains a true neighbor the final ranking is the
    brute-force ranking (the pytest gate asserts score equality with
    brute force pair-for-pair and recall ≥ the raw ADC pass)."""
    cand = pq_adc_topk(
        corpus, queries, k=k_prime, m=m, ks=ks, iters=iters,
        vec_col=vec_col, id_col=id_col,
    ).select("query_id", "neighbor_id")
    emb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        emb.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, k)


def fit_lloyd_sample(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    fit_sample_rows: int = 20_000,
) -> list[list[float]]:
    """The IVF fit recipe as a reusable step: hash-ordered TakeOrdered
    sample (O(sample) driver collect at any corpus size) → quantized
    fixed-iteration Lloyd. ``emb`` must carry (vec_id, v). Shared by
    ivf_lloyd_topk and the SemDeDup operator so both learn the SAME
    oracle-replayable quantizer."""
    h = (F.col("vec_id") * F.lit(IVF_FIT_HASH_A)) % F.lit(IVF_FIT_HASH_MOD)
    fit_rows = (
        emb.withColumn("h", h)
        .orderBy("h", "vec_id")
        .limit(fit_sample_rows)
        .select("v")
        .collect()
    )
    return lloyd_centers([r.v for r in fit_rows], n_cells, iters)


def assign_cells(emb: DataFrame, centers: list[list[float]]) -> DataFrame:
    """Nearest-center assignment as a pure-Column array_min over the
    center literals (no join, stays in codegen): returns
    (vec_id, v, cell) with round-6 distances and lowest-cell
    tiebreak — exactly the arithmetic the SQL twins replay."""
    centers_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("cell"),
                F.array(*[F.lit(x) for x in c]).alias("c"),
            )
            for j, c in enumerate(centers)
        ]
    )
    return (
        widen_if_narrow(emb)
        .withColumn(
            "best",
            F.array_min(
                F.transform(
                    centers_arr,
                    lambda ct: F.struct(
                        _d2(F.col("v"), ct["c"]).alias("d"),
                        ct["cell"].alias("cell"),
                    ),
                )
            ),
        )
        .select("vec_id", "v", F.col("best.cell").alias("cell"))
    )


def semdedup(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    tau: float = 0.30,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space with the sample-fit quantizer, then inside each
    cluster drop every vector that has a HIGHER-PRIORITY semantic
    near-duplicate (rounded cosine ≥ tau), where priority is (cosine
    to own centroid ASC, id ASC) — the paper's keep-the-least-
    redundant-example rule made into a deterministic total order.

    Returns (vec_id, cell, cent_cos, keep). Pairwise cosines are only
    computed WITHIN a cell: the cluster assignment is the blocking
    key, which is the whole point of the algorithm at 100 TB — global
    O(n²) cosine becomes Σ O(|cell|²) with cells balanced by the
    quantizer. One shuffle on cell for the pair join; centroids ride
    as plan literals."""
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    centers = fit_lloyd_sample(emb, n_cells, iters)
    cent_lit = F.array(
        *[F.array(*[F.lit(x) for x in c]) for c in centers]
    )
    assigned = assign_cells(emb, centers).withColumn(
        "cent_cos",
        F.round(
            cosine(F.col("v"), F.element_at(cent_lit, F.col("cell") + 1)), 4
        ),
    )
    # One LEFT join decides every vector's fate in a single pass:
    # candidate a keeps iff NO cell-mate b with higher priority
    # (centroid-cosine ASC, id ASC) is a semantic near-dup. The old
    # shape materialized a DISTINCT dropped-id set (its own exchange)
    # and LEFT-joined it back to a THIRD evaluation of the assignment
    # subtree — the quantizer argmin is the expensive per-row stage,
    # so that join-back re-paid the whole scan+assign pipeline and
    # added a vec_id-keyed sort-merge join (guide §2.4: don't compute
    # things twice; §3: fewer joins). Now the assignment evaluates
    # once per join side only, the flag is a partial-aggregating
    # MIN over the join output (ints, map-side), and no second
    # join-back exists. Pair cosines stay cell-blocked either way;
    # cosine is exactly symmetric (IEEE mult/add order unchanged), so
    # the flipped orientation is bit-identical to the old condition.
    a, b = assigned.alias("a"), assigned.alias("b")
    b_beats_a = (F.col("b.cent_cos") < F.col("a.cent_cos")) | (
        (F.col("b.cent_cos") == F.col("a.cent_cos"))
        & (F.col("b.vec_id") < F.col("a.vec_id"))
    )
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            & b_beats_a
            & (F.round(cosine(F.col("a.v"), F.col("b.v")), 4) >= tau),
            "left",
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_id"),
            F.col("a.cell").alias("cell"),
            F.col("a.cent_cos").alias("cent_cos"),
        )
        .agg(
            F.min(F.when(F.col("b.vec_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("keep")
        )
    )
