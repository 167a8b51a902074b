"""North-star extension queries: dedup family, similarity search,
text analysis, multimodal columns (BASELINE.json's LLM-data-pipeline
operator set; SURVEY.md §7.2 step 7).

Thresholds are fixture-tuned (synthetic embeddings have max
within-label cosine ≈ 0.47; documents have no natural exact dups, so
the exact-dedup corpus plants them via a shifted union)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firefly_vcut_spark.functions.vectors import sign_bucket
from firefly_vcut_spark.operators import text as tx
from firefly_vcut_spark.operators.skew import widen_if_narrow
from firefly_vcut_spark.operators.ann import (
    brute_force_topk,
    bucketed_topk,
    ivf_lloyd_topk,
    pq_adc_topk,
)
from firefly_vcut_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
    simhash_near_dups_portable,
)
from firefly_vcut_spark.operators.multimodal import (
    attach_fake_blobs,
    decode_features,
    sample_frames,
)
from firefly_vcut_spark.plans.registry import query
from firefly_vcut_spark.sources.catalog import load_table

# DuckDB mirror of operators/dedup.py::normalized_text ('g' flag: DuckDB
# regexp_replace is first-match-only by default, Spark replaces all).
_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"

# ---------------------------------------------------------------------------
# dedup: exact (oracle), minhash+LSH (rows-only), simhash (rows-only),
#        n-gram jaccard (oracle), embedding-cosine (oracle)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    sql=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
    )
    SELECT md5({_NORM}) AS digest,
           min(doc_id)  AS keep_id,
           count(*)     AS n_dups
    FROM corpus GROUP BY 1
    """,
    tags=("dedup", "extension"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(normalized text) group-by keeping the lowest
    id. The corpus plants duplicates (every 17th doc re-appears under
    a shifted id) so the detector provably fires. Shuffles digests,
    not documents."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return exact_dedup(d.unionByName(planted))


def _minhash_xxh_sql(num_hashes: int = 32, bands: int = 8) -> str:
    """DuckDB twin of minhash_lsh_candidates(xxhash64): replays Spark's
    XXH64 bit-for-bit via oracle_bits' generated SQL — per-shingle
    seed-chained hashes (xxhash64(i, sh) = XXH64 with the int-literal
    seed chain), signed MIN signatures, and the comma-joined band
    re-hash. Distinct shingles are hashed once and joined back."""
    from firefly_vcut_spark import oracle_bits as ob

    rpb = num_hashes // bands
    seeds = "[" + ", ".join(
        f"{ob.seed_after_int_lit(i)}::HUGEINT" for i in range(num_hashes)
    ) + "]"
    sh_base = (
        f"(SELECT s, {ob.bytes_list('s')} AS bs, "
        f"octet_length(encode(s)) AS bn FROM dsh)"
    )
    sh_chain = ob.chain_sql(sh_base, ["s", "bs", "bn"], ob.xxh64_prep_steps("bs", "bn", "pp"))
    sig_cols = ",\n               ".join(
        f"min({ob.signed64(f'hs[{i + 1}]')}) AS s{i}" for i in range(num_hashes)
    )
    band_strs = "\n        UNION ALL\n        ".join(
        f"SELECT id, {b} AS band_id, "
        + " || ',' || ".join(
            f"CAST(s{b * rpb + j} AS VARCHAR)" for j in range(rpb)
        )
        + " AS bstr FROM sig"
        for b in range(bands)
    )
    bh_base = (
        f"(SELECT id, band_id, {ob.bytes_list('bstr')} AS bs, "
        f"octet_length(encode(bstr)) AS bn FROM bandstr)"
    )
    bh_chain = ob.chain_sql(
        bh_base, ["id", "band_id", "bs", "bn"], ob.xxh64_prep_steps("bs", "bn", "qq")
    )
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
    ),
    toks AS (SELECT doc_id AS id, {_TOKS} AS t FROM corpus),
    shingled AS (
        SELECT id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - 3, 0) + 2),
                   i -> array_to_string(list_slice(t, i, i + 2), ' ')
               )) AS shs
        FROM toks
    ),
    sh AS (SELECT id, unnest(shs) AS s FROM shingled),
    dsh AS (SELECT DISTINCT s FROM sh),
    hashed AS MATERIALIZED (
        SELECT s, {ob.xxh64_multi_expr('pp', 'bn', seeds)} AS hs
        FROM {sh_chain}
    ),
    sig AS MATERIALIZED (
        SELECT sh.id,
               {sig_cols}
        FROM sh JOIN hashed h ON sh.s = h.s
        GROUP BY sh.id
    ),
    bandstr AS (
        {band_strs}
    ),
    banded AS MATERIALIZED (
        SELECT id, band_id,
               {ob.signed64(f"{ob.xxh64_multi_expr('qq', 'bn', f'[{ob.SPARK_HASH_SEED}::HUGEINT]')}[1]")} AS band_hash
        FROM {bh_chain}
    )
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared_bands
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
    GROUP BY 1, 2
    """


@query("dedup_minhash_lsh", sql=_minhash_xxh_sql(), tags=("dedup", "extension", "lsh", "bench"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms)+LSH(8 bands) near-dup candidates over the
    planted-duplicate corpus, xxhash64 engine path — now fully
    hash-checked: the DuckDB oracle replays Spark's XXH64 (seed-chained
    per-perm shingle hashes, signed MIN signature, comma-joined band
    re-hash) through oracle_bits' generated bitwise-HUGEINT SQL.
    Planted dups additionally pytest-asserted at all-8-bands."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return minhash_lsh_candidates(d.unionByName(planted))


_PLANTED_CORPUS_SQL = """SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0"""


def _minhash_portable_sql(
    num_hashes: int = 32, bands: int = 8, corpus_sql: str | None = None
) -> str:
    """Generate the DuckDB twin of minhash_lsh_candidates(portable):
    same shingling, charfold shingle hash, affine perms, band folds.
    ``corpus_sql`` must yield (doc_id, text); defaults to the
    planted-duplicate corpus the dedup_* queries run on."""
    from firefly_vcut_spark.operators.dedup import MINHASH_P, perm_coeffs

    corpus_sql = corpus_sql or _PLANTED_CORPUS_SQL

    p = MINHASH_P
    rpb = num_hashes // bands
    charfold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_filter(string_split(s, ''), c -> c != ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % {p})"
    )
    sig_cols = ",\n               ".join(
        f"min(({a} * h + {b}) % {p}) AS s{i}"
        for i, (a, b) in enumerate(perm_coeffs(num_hashes))
    )

    def fold(cols: list[str]) -> str:
        expr = "CAST(0 AS BIGINT)"
        for c in cols:
            expr = f"(({expr}) * 131 + {c}) % {p}"
        return expr

    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT id, {b} AS band_id, "
        f"{fold([f's{b * rpb + j}' for j in range(rpb)])} AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH corpus AS (
        {corpus_sql}
    ),
    toks AS (SELECT doc_id AS id, {_TOKS} AS t FROM corpus),
    shingled AS (
        SELECT id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - 3, 0) + 2),
                   i -> array_to_string(list_slice(t, i, i + 2), ' ')
               )) AS shs
        FROM toks
    ),
    sh AS (SELECT id, unnest(shs) AS s FROM shingled),
    uniq AS MATERIALIZED (SELECT DISTINCT s FROM sh),
    uh AS (SELECT s, {charfold} AS h FROM uniq),
    shh AS (SELECT id, h FROM sh JOIN uh USING (s)),
    sig AS MATERIALIZED (SELECT id,
               {sig_cols}
            FROM shh GROUP BY id),
    banded AS MATERIALIZED (
        {band_selects}
    )
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared_bands
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
    GROUP BY 1, 2
    """


@query(
    "dedup_minhash_lsh_portable",
    sql=_minhash_portable_sql(),
    tags=("dedup", "extension", "lsh"),
)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME MinHash+LSH banding pipeline as dedup_minhash_lsh, run
    with the portable affine-over-charfold hash family so DuckDB can
    replay every intermediate exactly — a full oracle check of the
    shingle → signature → band → bucket-join → pair-group logic (the
    engine-default xxhash64 variant stays rows-only)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return minhash_lsh_candidates(d.unionByName(planted), hash_mode="portable")


def _simhash_portable_sql(max_hamming: int = 3) -> str:
    """DuckDB twin of simhash_near_dups_portable: 64 affine bitplane
    signs over charfold token hashes, 4x16-bit bands, popcount-xor
    hamming on candidates."""
    from firefly_vcut_spark.operators.dedup import MINHASH_P, simhash_coeffs

    p = MINHASH_P
    half = p // 2
    charfold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_filter(string_split(tok, ''), c -> c != ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % {p})"
    )
    plane_sums = ",\n               ".join(
        f"sum(CASE WHEN ({a} * h + {b}) % {p} > {half} THEN 1 ELSE -1 END) AS p{j}"
        for j, (a, b) in enumerate(simhash_coeffs(64))
    )
    band_cols = ",\n               ".join(
        "("
        + " + ".join(
            f"CASE WHEN p{k * 16 + j} > 0 THEN {1 << j} ELSE 0 END"
            for j in range(16)
        )
        + f") AS band{k}"
        for k in range(4)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT id, band0, band1, band2, band3, {k} AS band_id, "
        f"band{k} AS band_val FROM sigs"
        for k in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(a{k}, b{k}))" for k in range(4))
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
    ),
    toks AS (SELECT doc_id AS id, unnest({_TOKS}) AS tok FROM corpus),
    dtok AS MATERIALIZED (SELECT DISTINCT tok FROM toks),
    th AS (SELECT tok, {charfold} AS h FROM dtok),
    hashed AS (SELECT id, h FROM toks JOIN th USING (tok)),
    planes AS (SELECT id,
               {plane_sums}
            FROM hashed GROUP BY id),
    sigs AS MATERIALIZED (SELECT id,
               {band_cols}
            FROM planes),
    banded AS MATERIALIZED (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3,
               b.band0 AS b0, b.band1 AS b1, b.band2 AS b2, b.band3 AS b3
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
    )
    SELECT id_a, id_b, CAST({hamming} AS BIGINT) AS hamming
    FROM cand WHERE {hamming} <= {max_hamming}
    """


@query(
    "dedup_simhash_portable",
    sql=_simhash_portable_sql(),
    tags=("dedup", "extension"),
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (Hamming <= 3) with the portable bitplane
    family: the banding/pigeonhole/popcount pipeline is identical to
    dedup_simhash but every intermediate is integer arithmetic DuckDB
    replays exactly — full oracle check (the xxhash64 engine default
    stays rows-only)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return simhash_near_dups_portable(d.unionByName(planted))


def _simhash_xxh_sql(max_hamming: int = 3) -> str:
    """DuckDB twin of simhash_near_dups (xxhash64): per-token XXH64
    (seed 42) replayed via oracle_bits, 64 bitplane ±1 sums (bit b of
    the unsigned hash == Spark's signed shiftright-and-1), unsigned
    HUGEINT signature, 4x16-bit pigeonhole bands, popcount-xor hamming.
    Distinct tokens are hashed once and joined back."""
    from firefly_vcut_spark import oracle_bits as ob

    tok_base = (
        f"(SELECT tok, {ob.bytes_list('tok')} AS bs, "
        f"octet_length(encode(tok)) AS bn FROM dtok)"
    )
    tok_chain = ob.chain_sql(
        tok_base, ["tok", "bs", "bn"], ob.xxh64_prep_steps("bs", "bn", "pp")
    )
    plane_sums = ",\n               ".join(
        f"sum(CASE WHEN (hh >> {b}) & 1::HUGEINT = 1::HUGEINT THEN 1 ELSE -1 END) AS p{b}"
        for b in range(64)
    )
    sim = (
        "("
        + " + ".join(
            f"CASE WHEN p{b} > 0 THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END"
            for b in range(64)
        )
        + ")"
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT id, sim, {k} AS band_id, "
        f"CAST((sim >> {16 * k}) & 65535::HUGEINT AS BIGINT) AS band_val FROM sigs"
        for k in range(4)
    )
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
    ),
    toks AS (SELECT doc_id AS id, unnest({_TOKS}) AS tok FROM corpus),
    dtok AS (SELECT DISTINCT tok FROM toks),
    hashed AS (
        SELECT tok,
               {ob.xxh64_multi_expr('pp', 'bn', f'[{ob.SPARK_HASH_SEED}::HUGEINT]')}[1] AS hh
        FROM {tok_chain}
    ),
    planes AS (
        SELECT t.id,
               {plane_sums}
        FROM toks t JOIN hashed h ON t.tok = h.tok
        GROUP BY t.id
    ),
    sigs AS MATERIALIZED (SELECT id, {sim} AS sim FROM planes),
    banded AS MATERIALIZED (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sim AS sim_a, b.sim AS sim_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
    """


@query("dedup_simhash", sql=_simhash_xxh_sql(), tags=("dedup", "extension"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 near-dups (Hamming ≤ 3) via 16-bit band buckets over
    the planted-duplicate corpus, xxhash64 engine path — now fully
    hash-checked: the oracle replays Spark's XXH64 per token and the
    whole bitplane/banding/popcount pipeline in DuckDB SQL. Planted
    dups additionally pytest-asserted at Hamming 0."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return simhash_near_dups(d.unionByName(planted))


def _lsh_then_verify_sql() -> str:
    """Oracle for the chained LSH→exact-Jaccard recipe: the portable
    MinHash banding SQL produces the candidate pairs, then exact
    token-set Jaccard is computed for exactly those pairs (left join:
    a candidate with no shared token keeps jaccard 0.0)."""
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
    ),
    cands AS MATERIALIZED (SELECT id_a, id_b FROM ({_minhash_portable_sql()}) q),
    wanted AS (
        SELECT DISTINCT id
        FROM (SELECT id_a AS id FROM cands UNION ALL SELECT id_b AS id FROM cands)
    ),
    base AS MATERIALIZED (
        SELECT doc_id AS id, list_distinct({_TOKS}) AS toks,
               len(list_distinct({_TOKS})) AS n_toks
        FROM corpus JOIN wanted ON wanted.id = corpus.doc_id
    ),
    tok AS MATERIALIZED (SELECT id, unnest(toks) AS tok FROM base),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cands c
        JOIN tok a ON a.id = c.id_a
        JOIN tok b ON b.id = c.id_b AND a.tok = b.tok
        GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                 / (na.n_toks + nb.n_toks - coalesce(i.n_inter, 0)), 4) AS jaccard
    FROM cands c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN base na ON na.id = c.id_a
    JOIN base nb ON nb.id = c.id_b
    """


@query(
    "dedup_lsh_then_verify",
    sql=_lsh_then_verify_sql(),
    tags=("dedup", "extension", "lsh"),
)
def dedup_lsh_then_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup recipe END TO END: MinHash+LSH banding
    proposes candidate pairs (one bucket shuffle, no all-pairs join),
    then exact token-set Jaccard verifies EXACTLY those pairs — the
    verification cost is O(candidates), so the id-gap demo blocking of
    dedup_ngram_jaccard is gone. Portable hash family ⇒ the whole
    chain (banding AND verification) is DuckDB-hash-checked."""
    from firefly_vcut_spark.operators.dedup import ngram_jaccard_verify

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(planted)
    cands = minhash_lsh_candidates(corpus, hash_mode="portable")
    return ngram_jaccard_verify(corpus, cands)


@query(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH base AS (
        SELECT doc_id AS id, source AS block,
               list_distinct({_TOKS}) AS toks
        FROM documents
    ),
    sized AS (SELECT id, block, toks, len(toks) AS n_toks FROM base),
    tok AS (SELECT id, block, n_toks, unnest(toks) AS tok FROM sized),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM tok a JOIN tok b
          ON a.block = b.block AND a.tok = b.tok
         AND a.id < b.id AND b.id - a.id <= 60
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.n_inter AS DOUBLE)
                 / (na.n_toks + nb.n_toks - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sized na ON na.id = i.id_a
    JOIN sized nb ON nb.id = i.id_b
    """,
    tags=("dedup", "extension"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard on blocked candidate pairs (same
    source, id gap ≤ 60) — the verification stage behind a banding
    pass. Pure set algebra: one explode, one equi-join on
    (block, token), inclusion–exclusion for the union."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, blocking=F.col("source"), max_id_gap=60)


@query(
    "dedup_embedding_cosine",
    sql="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.30
    """,
    tags=("dedup", "extension", "vector"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within a label bucket
    (threshold 0.30, fixture-tuned: synthetic max ≈ 0.47). Cosine is
    pure-Column JVM math; filter compares the rounded value so the
    boundary is engine-stable."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dups(e, bucket=F.col("label"), threshold=0.30)


# ---------------------------------------------------------------------------
# similarity search: brute-force top-k (oracle) + bucketed scale path (oracle)
# ---------------------------------------------------------------------------

_ANN_Q = """
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id % 50 = 0
"""


@query(
    "ann_bruteforce_topk",
    sql=f"""
    WITH q AS ({_ANN_Q}),
    c AS (SELECT vec_id AS neighbor_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
          FROM embeddings),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               round(list_cosine_similarity(q.qv, c.cv), 4) AS cos_sim
        FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    tags=("ann", "extension", "vector", "bench", "latency"),
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5: broadcast query set (every 50th
    vector) over the corpus; ranking on rounded cosine + id tiebreak
    for engine-stable order. The exactness baseline for ANN."""
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter(F.col("vec_id") % 50 == 0), k=5)


@query(
    "ann_lsh_bucketed_topk",
    sql=f"""
    WITH b AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               concat(
                   CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END
               ) AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id % 50 = 0),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.qv, c.v), 4) AS cos_sim
        FROM b c JOIN q ON c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    tags=("ann", "extension", "vector"),
)
def ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed top-5 (the scale path): sign-bit bucket over the
    first 6 components (axis-aligned hyperplanes, nprobe=1) — each
    query scores only its own bucket, cutting pairs ~64×."""
    e = load_table(spark, sf_dir, "embeddings")
    return bucketed_topk(
        e,
        e.filter(F.col("vec_id") % 50 == 0),
        bucket=sign_bucket(F.col("embedding"), 6),
        k=5,
    )


def lloyd_assign_cte(
    n_cells: int = 16,
    iters: int = 3,
    fit_limit: int = 20_000,
) -> tuple[str, str]:
    """Shared CTE prefix replaying the deterministic quantizer
    (operators/ann.fit_lloyd_sample + assign_cells): hash-ordered fit
    sample, unrolled Lloyd rounds, and the full-corpus nearest-cell
    `assign`. Returns (cte_sql, final_centers_cte_name) so IVF and
    SemDeDup twins share one fit replay."""
    from firefly_vcut_spark.operators.ann import IVF_FIT_HASH_A, IVF_FIT_HASH_MOD

    dist = (
        "round(list_aggregate(list_transform(range(1, len({v}) + 1), "
        "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), 'sum'), 6)"
    )
    hord = f"(vec_id * {IVF_FIT_HASH_A}) % {IVF_FIT_HASH_MOD}"
    steps = []
    prev = "c0"
    for t in range(1, iters + 1):
        d = dist.format(v="f.v", c="ct.c")
        steps.append(f"""
    a{t} AS (
      SELECT vec_id, v, cell FROM (
        SELECT f.vec_id, f.v, ct.cell,
               row_number() OVER (PARTITION BY f.vec_id
                   ORDER BY {d} ASC, ct.cell ASC) AS rn
        FROM fit f CROSS JOIN {prev} ct) t WHERE rn = 1
    ),
    m{t} AS (
      SELECT cell, idx, round(avg(v[idx]), 6) AS mu FROM (
        SELECT cell, v, unnest(range(1, len(v) + 1)) AS idx FROM a{t}) t
      GROUP BY cell, idx
    ),
    u{t} AS (SELECT cell, list(mu ORDER BY idx) AS c FROM m{t} GROUP BY cell),
    c{t} AS (
      SELECT p.cell, coalesce(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN u{t} u USING (cell)
    )""")
        prev = f"c{t}"
    lloyd = ",".join(steps)
    final_d = dist.format(v="e.v", c="ct.c")
    cte = f"""emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    fit AS (SELECT vec_id, v FROM emb ORDER BY {hord}, vec_id LIMIT {fit_limit}),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY {hord}, vec_id) AS INTEGER) - 1 AS cell,
             v AS c
      FROM fit ORDER BY {hord}, vec_id LIMIT {n_cells}
    ),{lloyd},
    assign AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, ct.cell,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {final_d} ASC, ct.cell ASC) AS rn
        FROM emb e CROSS JOIN {prev} ct) t WHERE rn = 1
    )"""
    return cte, prev


def _ivf_lloyd_sql(
    n_cells: int = 16,
    nprobe: int = 2,
    iters: int = 3,
    k: int = 5,
    fit_limit: int = 20_000,
) -> str:
    """DuckDB twin of ivf_lloyd_topk: the shared quantizer replay
    (lloyd_assign_cte) + the nprobe centroid probe and final rank."""
    cte, prev = lloyd_assign_cte(n_cells, iters, fit_limit)
    return f"""
    WITH {cte},
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
    probe AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, ct.cell,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qv, ct.c), 4) DESC,
                            ct.cell ASC) AS rn
        FROM q CROSS JOIN {prev} ct) t WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(list_cosine_similarity(p.qv, a.v), 4) AS cos_sim
      FROM assign a JOIN probe p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@query(
    "ann_ivf_kmeans_topk",
    sql=_ivf_lloyd_sql(),
    tags=("ann", "extension", "vector", "ml"),
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with a learned coarse quantizer — now the
    DETERMINISTIC sample-fit Lloyd path (operators/ann.ivf_lloyd_topk):
    hash-ordered fit sample, 3 quantized Lloyd iterations on the
    driver, array_min cell assignment, 2-centroid probe. Fully
    hash-checked: the oracle unrolls the identical Lloyd fit in SQL;
    tests/test_extensions.py checks its recall@5 against brute force."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_lloyd_topk(e, e.filter(F.col("vec_id") % 50 == 0), k=5)


@query(
    "ann_ivf_recall",
    sql=f"""
    WITH ivf AS ({_ivf_lloyd_sql()}),
    truth AS (
        WITH q AS ({_ANN_Q}),
        c AS (SELECT vec_id AS neighbor_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
              FROM embeddings),
        scored AS (
            SELECT q.query_id, c.neighbor_id,
                   round(list_cosine_similarity(q.qv, c.cv), 4) AS cos_sim
            FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5
    ),
    hits AS (
        SELECT t.query_id, count(*) AS n_hits
        FROM truth t JOIN ivf i
          ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
        GROUP BY t.query_id
    )
    SELECT t.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5, 4) AS recall
    FROM (SELECT DISTINCT query_id FROM truth) t
    LEFT JOIN hits h USING (query_id)
    """,
    tags=("ann", "extension", "vector", "ml", "eval"),
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality-evaluation harness: per-query recall@5 of the IVF
    path against the exact brute-force ground truth, in ONE plan —
    the measurement a pipeline needs before swapping a quantized
    index in for exact search at 100 TB. Both sides are the already
    hash-checked deterministic pipelines (ivf_lloyd_topk /
    brute_force_topk), so the recall numbers themselves are
    oracle-replayable — no other ANN system exposes its recall as a
    hash-checkable query. Scale shape: ground truth is only computed
    for the (bounded, broadcast) query sample — the corpus-sized work
    is the same two scans the component queries already do; the
    per-query rollup shuffles O(queries · k) id pairs."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    # truth is consumed TWICE below (the hits join + the per-query
    # anchor list); without materialization the brute-force exact
    # scoring pass — the most expensive subtree in this query — runs
    # once per consumer. localCheckpoint the O(queries x k) id-pair
    # result (tiny: the corpus-sized work stays one pass) so both
    # consumers read the materialized rows (guide §2.4 don't duplicate
    # subtrees / §5 cache exactly the re-read state; rebuilt inside
    # the query on every invocation — nothing persists across runs).
    truth = (
        brute_force_topk(e, q, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    approx = ivf_lloyd_topk(e, q, k=5).select("query_id", "neighbor_id")
    # both result sets are O(queries · k) — broadcast the probe side
    # so the overlap never sort-merges
    hits = (
        truth.join(F.broadcast(approx), ["query_id", "neighbor_id"], "inner")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        truth.select("query_id")
        .distinct()
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / 5, 4
            ).alias("recall"),
        )
    )


def _pq_adc_sql(
    m: int = 4,
    ks: int = 8,
    iters: int = 2,
    k: int = 5,
    dim: int = 64,
    fit_limit: int = 20_000,
) -> str:
    """DuckDB twin of pq_adc_topk: replays the hash-ordered fit sample,
    the per-subspace fixed-iteration Lloyd codebooks (unrolled, same
    round-6 quantization as the Spark/numpy side), the per-row codeword
    choice, the reconstruction concat, and the ADC cosine rank."""
    from firefly_vcut_spark.operators.ann import IVF_FIT_HASH_A, IVF_FIT_HASH_MOD

    d_sub = dim // m
    dist = (
        "round(list_aggregate(list_transform(range(1, len({v}) + 1), "
        "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), 'sum'), 6)"
    )
    hord = f"(vec_id * {IVF_FIT_HASH_A}) % {IVF_FIT_HASH_MOD}"
    blocks = []
    for s in range(m):
        lo, hi = s * d_sub + 1, (s + 1) * d_sub
        blocks.append(f"""
    fs{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM fit),
    s{s}c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY {hord}, vec_id) AS INTEGER) - 1 AS cell,
             v AS c
      FROM fs{s} ORDER BY {hord}, vec_id LIMIT {ks}
    )""")
        prev = f"s{s}c0"
        for t in range(1, iters + 1):
            d = dist.format(v="f.v", c="ct.c")
            blocks.append(f"""
    s{s}a{t} AS (
      SELECT vec_id, v, cell FROM (
        SELECT f.vec_id, f.v, ct.cell,
               row_number() OVER (PARTITION BY f.vec_id
                   ORDER BY {d} ASC, ct.cell ASC) AS rn
        FROM fs{s} f CROSS JOIN {prev} ct) t WHERE rn = 1
    ),
    s{s}m{t} AS (
      SELECT cell, idx, round(avg(v[idx]), 6) AS mu FROM (
        SELECT cell, v, unnest(range(1, len(v) + 1)) AS idx FROM s{s}a{t}) t
      GROUP BY cell, idx
    ),
    s{s}u{t} AS (SELECT cell, list(mu ORDER BY idx) AS c FROM s{s}m{t} GROUP BY cell),
    s{s}c{t} AS (
      SELECT p.cell, coalesce(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN s{s}u{t} u USING (cell)
    )""")
            prev = f"s{s}c{t}"
        enc_d = dist.format(v="e.sv", c="ct.c")
        blocks.append(f"""
    es{s} AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM emb),
    enc{s} AS (
      SELECT vec_id, c FROM (
        SELECT e.vec_id, ct.c,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {enc_d} ASC, ct.cell ASC) AS rn
        FROM es{s} e CROSS JOIN {prev} ct) t WHERE rn = 1
    )""")
    fit_cte = ",".join(blocks)
    concat = " || ".join(f"e{s}.c" for s in range(m))
    joins = " ".join(f"JOIN enc{s} e{s} ON e{s}.vec_id = e0.vec_id" for s in range(1, m))
    return f"""
    WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    fit AS (SELECT vec_id, v FROM emb ORDER BY {hord}, vec_id LIMIT {fit_limit}),{fit_cte},
    recon AS (
      SELECT e0.vec_id AS neighbor_id, {concat} AS recon
      FROM enc0 e0 {joins}
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, r.neighbor_id,
             round(list_cosine_similarity(q.qv, r.recon), 4) AS cos_sim
      FROM recon r CROSS JOIN q
      WHERE r.neighbor_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


def _ivfpq_sql(
    n_cells: int = 16,
    nprobe: int = 2,
    cell_iters: int = 3,
    m: int = 4,
    ks: int = 8,
    pq_iters: int = 2,
    k: int = 5,
    dim: int = 64,
    fit_limit: int = 20_000,
) -> str:
    """DuckDB twin of ivfpq_topk: ONE fit CTE feeds BOTH replayed
    quantizers (coarse Lloyd cells + per-subspace PQ codebooks), then
    cell assignment, codeword encoding/reconstruction, the nprobe
    probe, and the ADC cosine rank."""
    from firefly_vcut_spark.operators.ann import IVF_FIT_HASH_A, IVF_FIT_HASH_MOD

    d_sub = dim // m
    dist = (
        "round(list_aggregate(list_transform(range(1, len({v}) + 1), "
        "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), 'sum'), 6)"
    )
    hord = f"(vec_id * {IVF_FIT_HASH_A}) % {IVF_FIT_HASH_MOD}"

    # coarse quantizer: unrolled Lloyd on the shared fit sample
    blocks = [f"""
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY {hord}, vec_id) AS INTEGER) - 1 AS cell,
             v AS c
      FROM fit ORDER BY {hord}, vec_id LIMIT {n_cells}
    )"""]
    prev = "c0"
    for t in range(1, cell_iters + 1):
        d = dist.format(v="f.v", c="ct.c")
        blocks.append(f"""
    a{t} AS (
      SELECT vec_id, v, cell FROM (
        SELECT f.vec_id, f.v, ct.cell,
               row_number() OVER (PARTITION BY f.vec_id
                   ORDER BY {d} ASC, ct.cell ASC) AS rn
        FROM fit f CROSS JOIN {prev} ct) t WHERE rn = 1
    ),
    m{t} AS (
      SELECT cell, idx, round(avg(v[idx]), 6) AS mu FROM (
        SELECT cell, v, unnest(range(1, len(v) + 1)) AS idx FROM a{t}) t
      GROUP BY cell, idx
    ),
    u{t} AS (SELECT cell, list(mu ORDER BY idx) AS c FROM m{t} GROUP BY cell),
    c{t} AS (
      SELECT p.cell, coalesce(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN u{t} u USING (cell)
    )""")
        prev = f"c{t}"
    coarse_final = prev

    # PQ codebooks per subspace, then per-row encoding
    for s in range(m):
        lo, hi = s * d_sub + 1, (s + 1) * d_sub
        blocks.append(f"""
    fs{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM fit),
    s{s}c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY {hord}, vec_id) AS INTEGER) - 1 AS cell,
             v AS c
      FROM fs{s} ORDER BY {hord}, vec_id LIMIT {ks}
    )""")
        sprev = f"s{s}c0"
        for t in range(1, pq_iters + 1):
            d = dist.format(v="f.v", c="ct.c")
            blocks.append(f"""
    s{s}a{t} AS (
      SELECT vec_id, v, cell FROM (
        SELECT f.vec_id, f.v, ct.cell,
               row_number() OVER (PARTITION BY f.vec_id
                   ORDER BY {d} ASC, ct.cell ASC) AS rn
        FROM fs{s} f CROSS JOIN {sprev} ct) t WHERE rn = 1
    ),
    s{s}m{t} AS (
      SELECT cell, idx, round(avg(v[idx]), 6) AS mu FROM (
        SELECT cell, v, unnest(range(1, len(v) + 1)) AS idx FROM s{s}a{t}) t
      GROUP BY cell, idx
    ),
    s{s}u{t} AS (SELECT cell, list(mu ORDER BY idx) AS c FROM s{s}m{t} GROUP BY cell),
    s{s}c{t} AS (
      SELECT p.cell, coalesce(u.c, p.c) AS c
      FROM {sprev} p LEFT JOIN s{s}u{t} u USING (cell)
    )""")
            sprev = f"s{s}c{t}"
        enc_d = dist.format(v="e.sv", c="ct.c")
        blocks.append(f"""
    es{s} AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM emb),
    enc{s} AS (
      SELECT vec_id, c FROM (
        SELECT e.vec_id, ct.c,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {enc_d} ASC, ct.cell ASC) AS rn
        FROM es{s} e CROSS JOIN {sprev} ct) t WHERE rn = 1
    )""")
    all_blocks = ",".join(blocks)
    assign_d = dist.format(v="e.v", c="ct.c")
    concat = " || ".join(f"e{s}.c" for s in range(m))
    joins = " ".join(f"JOIN enc{s} e{s} ON e{s}.vec_id = e0.vec_id" for s in range(1, m))
    return f"""
    WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    fit AS (SELECT vec_id, v FROM emb ORDER BY {hord}, vec_id LIMIT {fit_limit}),{all_blocks},
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, ct.cell,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {assign_d} ASC, ct.cell ASC) AS rn
        FROM emb e CROSS JOIN {coarse_final} ct) t WHERE rn = 1
    ),
    recon AS (
      SELECT e0.vec_id, {concat} AS recon
      FROM enc0 e0 {joins}
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
    probe AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, ct.cell,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qv, ct.c), 4) DESC,
                            ct.cell ASC) AS rn
        FROM q CROSS JOIN {coarse_final} ct) t WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(list_cosine_similarity(p.qv, r.recon), 4) AS cos_sim
      FROM assign a
      JOIN recon r ON r.vec_id = a.vec_id
      JOIN probe p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@query(
    "ann_ivfpq_topk",
    sql=_ivfpq_sql(),
    tags=("ann", "extension", "vector"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (FAISS-style): coarse Lloyd cells restrict
    each query to 2 of 16 cells AND the in-cell sweep scores PQ
    reconstructions (4×8 codebooks) — partition pruning × 64× scan
    compression, both quantizers trained on ONE shared sample and both
    replayed in the oracle."""
    from firefly_vcut_spark.operators.ann import ivfpq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(e, e.filter(F.col("vec_id") % 50 == 0), k=5)


def _pq_rerank_sql(k: int = 5, k_prime: int = 20, **kw) -> str:
    """Wrap the PQ-ADC twin: shortlist at rank ≤ k', re-score the
    shortlist with the TRUE vectors, re-rank to k."""
    base = _pq_adc_sql(k=k_prime, **kw)
    head, _sep, _tail = base.rpartition("SELECT query_id, neighbor_id, cos_sim")
    return f"""{head.rstrip()},
    cand AS (
      SELECT query_id, neighbor_id FROM ranked WHERE rank <= {k_prime}
    ),
    rescored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.qv, e.v), 4) AS cos_sim
      FROM cand c
      JOIN emb e ON e.vec_id = c.neighbor_id
      JOIN q ON q.query_id = c.query_id
    ),
    rranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM rescored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM rranked WHERE rank <= {k}
    """


@query(
    "ann_pq_rerank_topk",
    sql=_pq_rerank_sql(),
    tags=("ann", "extension", "vector"),
)
def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: PQ-ADC shortlist (k'=20 over the 4-byte
    codes) + exact cosine re-rank of the shortlist (true vectors
    gathered by broadcast semi-join). Exact scores on everything
    returned; fully hash-checked end to end."""
    from firefly_vcut_spark.operators.ann import pq_rerank_topk

    e = load_table(spark, sf_dir, "embeddings")
    return pq_rerank_topk(e, e.filter(F.col("vec_id") % 50 == 0), k=5)


@query(
    "ann_pq_adc_topk",
    sql=_pq_adc_sql(),
    tags=("ann", "extension", "vector"),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (the memory-compression scale
    path): 4 subspaces × 8 codewords fit by the deterministic Lloyd
    recipe on the hash-ordered sample, corpus rows encoded to 4 codes
    (64-dim float32 → 4 bytes/row), queries score exact-vs-
    reconstruction cosine. Fully hash-checked: the oracle replays the
    per-subspace codebooks, encoding, and reconstruction in SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(e, e.filter(F.col("vec_id") % 50 == 0), k=5)


# ---------------------------------------------------------------------------
# text analysis: quality, lang-id, token stats, fingerprints (all oracle)
# ---------------------------------------------------------------------------


@query(
    "text_quality_scores",
    sql=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
        SELECT doc_id,
               len(toks) AS n,
               CAST(len(list_filter(toks,
                    x -> list_contains(['the','a','of','and','to','in','is'], x)))
                    AS DOUBLE) / greatest(len(toks), 1) AS sw,
               CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                    AS DOUBLE) / greatest(len(toks), 1) AS mt
        FROM t
    )
    SELECT doc_id,
           round(least(n / 50.0, 1.0) * 40
                 + CASE WHEN sw >= 0.03 AND sw <= 0.40 THEN 30.0 ELSE 10.0 END
                 + CASE WHEN mt >= 3.0 AND mt <= 8.0 THEN 30.0 ELSE 10.0 END,
                 4) AS quality
    FROM m
    """,
    tags=("text", "extension"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (length saturation + stopword
    band + mean-token-length band) — the classic corpus-filter
    recipe, all JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))


@query(
    "text_lang_id",
    sql=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    m AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(toks, x -> list_contains(['the','a','is'], x)))
                    AS DOUBLE) / greatest(len(toks), 1) AS r
        FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN r >= 0.08 THEN 'en'
                WHEN r >= 0.03 THEN 'en-like'
                ELSE 'und' END AS predicted_lang
    FROM m
    """,
    tags=("text", "extension"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic next to the dataset label.
    The synthetic corpus shares one vocabulary across langs, so the
    discriminator is deliberately crude; a real n-gram profile slots
    in behind the same Column interface."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tx.lang_id_heuristic(F.col("text")).alias("predicted_lang"),
    )


@query(
    "text_token_stats",
    sql=f"""
    WITH t AS (SELECT doc_id, n_chars, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_aggregate(list_transform(toks,
                x -> CAST(ceil(length(x) / 4.0) AS BIGINT)), 'sum') AS BIGINT)
               AS n_subwords,
           n_chars
    FROM t
    """,
    tags=("text", "extension"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword estimate
    (ceil(len/4) pieces per token) beside the dataset's n_chars."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.subword_count(F.col("text")).alias("n_subwords"),
        "n_chars",
    )


@query(
    "text_fingerprints",
    sql=f"""
    WITH t AS (SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           md5(norm) AS fp_md5,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks,
                       x -> CAST(ascii(x) * 31 + length(x) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 1000000007
           ) AS fp_rolling
    FROM t
    """,
    tags=("text", "extension"),
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 content digest + order-sensitive
    rolling polynomial hash over tokens (integer arithmetic → exact
    cross-engine parity)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.fingerprint_md5(F.col("text")).alias("fp_md5"),
        tx.fingerprint_rolling(F.col("text")).alias("fp_rolling"),
    )


# ---------------------------------------------------------------------------
# multimodal: binary blobs + mapInPandas decode / frame-sampling
# (hash-oracled since r4: the synthetic blobs are the documents' UTF-8
# bytes, so DuckDB can recompute every feature — md5(text) for the full
# blob, the oracle_bits XXH64 emitters for byte-range frames)
# ---------------------------------------------------------------------------


def _mm_decode_sql() -> str:
    from firefly_vcut_spark import oracle_bits as ob

    return f"""
    WITH b AS (
        SELECT doc_id, text, octet_length(encode(text)) AS n,
               {ob.bytes_list('text')} AS bs
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CASE WHEN n = 0 THEN 0.0
                ELSE CAST(list_aggregate(bs, 'sum') AS DOUBLE) / n
           END AS mean_byte,
           CAST(64 + doc_id % 193 AS INTEGER) AS width,
           CAST(64 + (doc_id * 7) % 129 AS INTEGER) AS height
    FROM b
    """


@query(
    "mm_decode_features",
    sql=_mm_decode_sql(),
    tags=("multimodal", "extension", "udf"),
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: documents as binary blobs with typed
    metadata, pushed through an Arrow mapInPandas kernel producing
    (checksum, mean_byte, dims). The synthetic blobs use the fake
    decode (real BMP/PPM/PNG decode lives in decode_features_real with
    its own fixture tests); the Spark plumbing is real and the whole
    output is hash-checked — DuckDB recomputes md5/mean/dims from the
    same text bytes."""
    d = load_table(spark, sf_dir, "documents")
    return decode_features(attach_fake_blobs(d))


def _mm_frame_sql(n_frames: int = 4) -> str:
    from firefly_vcut_spark import oracle_bits as ob

    idxs = ", ".join(str(i) for i in range(n_frames))
    base = f"""(
        SELECT doc_id, frame_idx, step AS bn,
               list_slice(allbs, frame_idx * step + 1,
                          frame_idx * step + step) AS bs
        FROM (
            SELECT doc_id, unnest([{idxs}]) AS frame_idx, n, step, allbs
            FROM (
                SELECT doc_id, octet_length(encode(text)) AS n,
                       greatest(octet_length(encode(text)) // {n_frames}, 1)
                           AS step,
                       {ob.bytes_list('text')} AS allbs
                FROM documents) b) f
        WHERE frame_idx * step < n)"""
    # chain emitter, not the multi-seed one: for ONE seed over many
    # short frames the nested-projection chain measures ~24s at sf0.01
    # vs ~120s for xxh64_multi_expr's list_reduce lambdas (those
    # amortize only across many seeds per row, as in MinHash)
    chain = ob.chain_sql(
        base,
        ["doc_id", "frame_idx", "bn", "bs"],
        ob.xxh64_sql_steps("bs", "bn", str(ob.SPARK_HASH_SEED), "hh"),
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(bn AS BIGINT) AS frame_bytes,
           {ob.signed64('hh')} AS frame_xxh64
    FROM {chain}
    """


@query(
    "mm_real_decode_roundtrip",
    sql="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(range(w * h * 3)) AS i FROM dims
    ),
    v AS (
      SELECT doc_id, w, h, i,
             ((((i // 3) % w) * 7 + (i // (3 * w)) * 31
               + (i % 3) * 101 + doc_id) % 256) AS val
      FROM px
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           round(CAST(sum(val) AS DOUBLE) / count(*), 6) AS mean_pixel,
           CAST(sum(val * (i + 1)) % 2147483647 AS BIGINT) AS pos_checksum
    FROM v GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "extension", "udf"),
)
def mm_real_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container round-trip inside the engine: every doc's
    deterministic pixel pattern is encoded as an actual PPM blob
    (mapInPandas), then decoded back by the real stdlib decoder
    (decode_image_real) and reduced to features. Because the pixels
    are a pure function of (doc_id, x, y, c), DuckDB recomputes the
    expected dims/mean directly — the oracle catches any decoder
    corruption (a single wrong byte moves the mean)."""
    from firefly_vcut_spark.operators.multimodal import (
        decode_features_real,
        encode_synthetic_ppm,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = decode_features_real(encode_synthetic_ppm(d))
    return feats.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        F.col("mean_pixel").cast("double").alias("mean_pixel"),
        F.col("pos_checksum").cast("bigint").alias("pos_checksum"),
    )


@query(
    "mm_webp_decode_roundtrip",
    sql="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(range(w * h * 4)) AS i FROM dims
    ),
    v AS (
      SELECT doc_id, w, h, i,
             ((((i // 4) % w) * 7 + (i // (4 * w)) * 31
               + (i % 4) * 101 + doc_id) % 256) AS val
      FROM px
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(4 AS INTEGER) AS channels,
           round(CAST(sum(val) AS DOUBLE) / count(*), 6) AS mean_pixel,
           CAST(sum(val * (i + 1)) % 2147483647 AS BIGINT) AS pos_checksum
    FROM v GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "extension", "udf"),
)
def mm_webp_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP-lossless (VP8L) round-trip inside the engine (r7 verdict
    item 8 — the last declared codec guard): every doc's deterministic
    4-channel pattern is encoded as a real RIFF/VP8L container with
    the encode mode rotating by doc_id (plain LZ77 / subtract-green /
    all 14 predictor modes / color transform / color cache /
    meta-prefix — operators/webp.py), then decoded back by the
    from-scratch VP8L decoder and reduced to features. The pixels are
    a pure function of (doc_id, x, y, c), so DuckDB recomputes the
    expected dims/mean/position-weighted checksum directly — one
    corrupted byte anywhere in prefix-code, LZ77, cache, or transform
    handling moves the hash."""
    from firefly_vcut_spark.operators.multimodal import (
        decode_features_real,
        encode_synthetic_webp,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = decode_features_real(encode_synthetic_webp(d))
    return feats.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        F.col("mean_pixel").cast("double").alias("mean_pixel"),
        F.col("pos_checksum").cast("bigint").alias("pos_checksum"),
    )


@query(
    "mm_tiff_decode_roundtrip",
    sql="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(range(w * h * 3)) AS i FROM dims
    ),
    v AS (
      SELECT doc_id, w, h, i,
             ((((i // 3) % w) * 7 + (i // (3 * w)) * 31
               + (i % 3) * 101 + doc_id) % 256) AS val
      FROM px
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           round(CAST(sum(val) AS DOUBLE) / count(*), 6) AS mean_pixel,
           CAST(sum(val * (i + 1)) % 2147483647 AS BIGINT) AS pos_checksum
    FROM v GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "extension", "udf"),
)
def mm_tiff_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF round-trip inside the engine: the SAME deterministic
    pixel pattern as mm_real_decode_roundtrip, but carried through
    real baseline TIFF containers with the compression rotating
    none/LZW/PackBits by doc_id (LZW half with the differencing
    predictor, byte order alternating II/MM, some multi-strip) — the
    whole strip/LZW/PackBits matrix exercised corpus-wide under one
    closed-form DuckDB oracle."""
    from firefly_vcut_spark.operators.multimodal import (
        decode_features_real,
        encode_synthetic_tiff,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = decode_features_real(encode_synthetic_tiff(d))
    return feats.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        F.col("mean_pixel").cast("double").alias("mean_pixel"),
        F.col("pos_checksum").cast("bigint").alias("pos_checksum"),
    )


@query(
    "mm_gif_decode_roundtrip",
    sql="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(range(w * h * 3)) AS i FROM dims
    ),
    v AS (
      SELECT doc_id, w, h, i,
             ((((i // 3) % w) * 7 + (i // (3 * w)) * 31 + doc_id) % 16) AS ci,
             (i % 3) AS ch
      FROM px
    ),
    val AS (
      SELECT doc_id, w, h, i,
             (ci * CASE ch WHEN 0 THEN 17 WHEN 1 THEN 53 ELSE 97 END) % 256
               AS pv
      FROM v
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           round(CAST(sum(pv) AS DOUBLE) / count(*), 6) AS mean_pixel,
           CAST(sum(pv * (i + 1)) % 2147483647 AS BIGINT) AS pos_checksum
    FROM val GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "extension", "udf"),
)
def mm_gif_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF (LZW) round-trip inside the engine: every doc's 16-color
    palette pattern is LZW-compressed into a real single-frame GIF89a
    (every 3rd doc interlaced), decoded back by the from-scratch
    decoder, and reduced to features. Pixels are a pure function of
    (doc_id, x, y, c), so DuckDB recomputes the expected dims/mean
    without touching a codec. The mean pins the LZW byte stream (any
    wrong byte moves it) but is invariant under pixel permutation, so
    the oracle ALSO checks pos_checksum = sum(px[i]*(i+1)) mod 2^31-1,
    which a row-order/interlace regression (e.g. a swapped pass in
    _interlace_order) cannot leave fixed."""
    from firefly_vcut_spark.operators.multimodal import (
        decode_features_real,
        encode_synthetic_gif,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = decode_features_real(encode_synthetic_gif(d))
    return feats.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        F.col("mean_pixel").cast("double").alias("mean_pixel"),
        F.col("pos_checksum").cast("bigint").alias("pos_checksum"),
    )


@query(
    "mm_frame_sample",
    sql=_mm_frame_sql(),
    tags=("multimodal", "extension", "udf"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: each blob split into 4 byte-range
    'frames', one row per frame (mapInPandas flat-map — output
    cardinality ≠ input). Frames are fingerprinted with
    Spark-compatible XXH64 (seed 42), which the oracle replays over
    byte-list slices via the oracle_bits emitters — byte-range slicing
    can split multi-byte UTF-8, so md5 (VARCHAR-only in DuckDB) could
    not be checked; xxhash64 can."""
    d = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_fake_blobs(d), n_frames=4)


@query(
    "text_tfidf_topterms",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
    doclen AS (SELECT doc_id, sum(cnt) AS n_toks FROM tf GROUP BY 1),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round((CAST(tf.cnt AS DOUBLE) / doclen.n_toks)
                     * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
        FROM tf
        JOIN doclen ON doclen.doc_id = tf.doc_id
        JOIN dfreq  ON dfreq.term = tf.term
        CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, term ASC) AS rnk
        FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    tags=("text", "extension", "tfidf", "bench", "latency"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document. Term-stats plan: ONE doc-keyed
    shuffle carries the whole per-document pipeline — hash partitioning
    on doc_id alone satisfies the (doc, term) count's clustering
    requirement (subset partitioning), the doc-length WINDOW sum over
    the same grouped set (no join, no second pass over text), and the
    final per-doc rank — so doc lengths never materialize as a join
    side (an O(docs) relation that only bench-scale auto-broadcast
    made look cheap; at 100 TB it would be a second fact-sized
    shuffle). Document frequency is the one genuinely term-keyed
    aggregate: a vocabulary-bounded dictionary, broadcast back; N is a
    1-row broadcast. Ranking on the ROUNDED score with a term tiebreak
    keeps the hash engine-stable."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from firefly_vcut_spark.operators.dedup import normalized_text
    from pyspark.sql import Window

    toks = d.repartition("doc_id").select(
        "doc_id", F.explode(F.split(normalized_text(F.col("text")), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    tf = tf.withColumn(
        "n_toks", F.sum("cnt").over(Window.partitionBy("doc_id"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("cnt").cast("double") / F.col("n_toks"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rnk").cast("long").alias("rnk"))
    )


@query(
    "text_top_bigrams",
    sql=f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    bg AS (
        SELECT source,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks
    ),
    counted AS (SELECT source, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY cnt DESC, bigram ASC) AS rnk
        FROM counted
    )
    SELECT source, bigram, cnt, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
    tags=("text", "extension", "ngram"),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 bigrams per source corpus: n-gram frequency analysis.
    Bigrams built from the token array in place (no self-join); one
    shuffle for the (source, bigram) count, per-source rank on the
    small counted set. The count-desc/bigram-asc tiebreak keeps rank
    deterministic."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    from firefly_vcut_spark.operators.dedup import normalized_text

    t = F.split(normalized_text(F.col("text")), " ")
    bigrams = F.when(F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = widen_if_narrow(d).select(
        "source", F.explode(bigrams).alias("bigram")
    )
    counted = bg.groupBy("source", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "bigram", "cnt", F.col("rnk").cast("long").alias("rnk"))
    )


@query(
    "text_repetition_scores",
    sql=f"""
    WITH norm AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g3 AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN [array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]
                    ELSE []::VARCHAR[] END AS gs
        FROM norm
    ),
    dup3 AS (
        SELECT doc_id,
               CASE WHEN len(gs) > 0
                    THEN round(1 - len(list_distinct(gs)) * 1.0 / len(gs), 4)
                    ELSE 0.0 END AS dup3_frac
        FROM g3
    ),
    g2 AS (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 2
                           THEN [array_to_string(t[i:i+1], ' ')
                                 for i in range(1, len(t))]
                           ELSE []::VARCHAR[] END) AS gram
        FROM norm
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
    t2 AS (
        SELECT doc_id, round(max(cnt) * 1.0 / sum(cnt), 4) AS top2_frac
        FROM c2 GROUP BY doc_id
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           d.dup3_frac AS dup3_frac,
           coalesce(t2.top2_frac, 0.0) AS top2_frac
    FROM dup3 d LEFT JOIN t2 USING (doc_id)
    """,
    tags=("text", "extension"),
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rule family): per doc,
    (a) duplicate-3-gram fraction 1 - distinct/total, computed in the
    token array in place — JVM codegen, zero shuffle — and (b) the
    most-frequent-2-gram coverage fraction, one (doc_id, gram) count
    shuffle + per-doc max/sum. Docs dominated by boilerplate repeat a
    few n-grams; both signals feed the filter chain upstream of
    training. 100 TB shape: (a) rides the scan; (b) shuffles only
    (id, gram-hash, count) partial aggregates."""
    # bind the token array in a child projection first: an unbound
    # tokens(...) inside the n-gram lambda re-splits the text per
    # element_at — O(len²) per doc (decon_sql's documented trap; r8)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens(F.col("text")).alias("tk")
    )
    g3 = tx.word_ngrams(F.col("tk"), 3)
    dup3 = d.select(
        "doc_id",
        F.when(
            F.size(g3) > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct(g3)) * 1.0 / F.size(g3), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup3_frac"),
    )
    g2 = widen_if_narrow(d).select(
        "doc_id", F.explode(tx.word_ngrams(F.col("tk"), 2)).alias("gram")
    )
    counted = g2.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    top2 = counted.groupBy("doc_id").agg(
        F.round(F.max("cnt") * 1.0 / F.sum("cnt"), 4).alias("top2_frac")
    )
    return dup3.join(top2, "doc_id", "left").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("dup3_frac").cast("double").alias("dup3_frac"),
        F.coalesce(F.col("top2_frac"), F.lit(0.0)).cast("double").alias("top2_frac"),
    )


@query(
    "text_char_lm_scores",
    sql=f"""
    WITH norm AS (SELECT doc_id, lang, {_NORM} AS t FROM documents),
    bg_all AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, length(t)), i -> substr(t, i, 2))) AS bg
      FROM norm WHERE length(t) >= 2
    ),
    doc_bg AS (SELECT doc_id, lang, bg, count(*) AS m FROM bg_all GROUP BY 1, 2, 3),
    model AS (
      SELECT bg, CAST(sum(m) AS BIGINT) AS nbg FROM doc_bg
      WHERE lang = 'en' GROUP BY 1
    ),
    ctx AS (SELECT substr(bg, 1, 1) AS c1, CAST(sum(nbg) AS BIGINT) AS c1n
            FROM model GROUP BY 1),
    voc AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v_size FROM model),
    scored AS (
      SELECT d.doc_id, d.lang, d.m,
             CAST(round(ln((coalesce(mo.nbg, 0) + 1.0)
                           / (coalesce(c.c1n, 0) + v.v_size)) * 1000000)
                  AS BIGINT) AS lp
      FROM doc_bg d
      LEFT JOIN model mo USING (bg)
      LEFT JOIN ctx c ON c.c1 = substr(d.bg, 1, 1)
      CROSS JOIN voc v
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(sum(m * lp) / (1000000.0 * sum(m)), 4) AS avg_logp
    FROM scored GROUP BY 1, 2
    """,
    tags=("text", "extension"),
)
def text_char_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style LM quality scores (CCNet recipe): add-1
    character-bigram model trained on the lang='en' slice, every doc
    scored by length-normalized log-prob. One explode aggregated once,
    vocab-bounded model broadcast, integer-quantized log-probs for
    engine-exact summation."""
    docs = load_table(spark, sf_dir, "documents")
    return text_char_lm_filter_impl(docs)


def text_char_lm_filter_impl(docs: DataFrame) -> DataFrame:
    from firefly_vcut_spark.operators.text import char_lm_scores

    return char_lm_scores(docs, F.col("lang") == "en").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("lang").cast("string").alias("lang"),
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("avg_logp").cast("double").alias("avg_logp"),
    )


@query(
    "mm_audio_wav_features",
    sql="""
    WITH params AS (
      SELECT doc_id,
             64 + doc_id % 129 AS n,
             8000 + (doc_id % 3) * 4000 AS rate
      FROM documents
    ),
    s AS (
      SELECT doc_id, n, rate,
             list_transform(range(0, n),
                 i -> ((doc_id * 31 + i * 7) % 2048) - 1024) AS smp
      FROM params
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(list_aggregate(list_transform(smp, x -> x * x), 'sum')
                AS BIGINT) AS sum_sq,
           CAST(list_aggregate(list_transform(smp, x -> abs(x)), 'sum')
                AS BIGINT) AS sum_abs,
           md5(list_aggregate(list_transform(smp,
               x -> printf('%02x%02x',
                           (CASE WHEN x < 0 THEN x + 65536 ELSE x END) % 256,
                           (CASE WHEN x < 0 THEN x + 65536 ELSE x END) // 256)),
               'string_agg', '')) AS pcm_checksum
    FROM s
    """,
    tags=("multimodal", "extension", "udf"),
)
def mm_audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio container round-trip: every doc gets a PCM16 WAV
    (RIFF header + synthetic int16 pattern), the decode kernel parses
    the chunk list and the samples, and the features are integer-exact
    (duration, energy, mean-abs, PCM-hex md5). The oracle re-derives
    everything — including the little-endian byte checksum — from the
    generation parameters in SQL, so the container parse is
    hash-checked end to end. Blobs never shuffle: encode and decode
    fuse into one mapInPandas pipeline over the scan."""
    from firefly_vcut_spark.operators.multimodal import (
        decode_wav_features,
        encode_synthetic_wav,
    )

    d = load_table(spark, sf_dir, "documents")
    return decode_wav_features(encode_synthetic_wav(d))


@query(
    "mm_video_rvid_frames",
    sql="""
    WITH params AS (
      SELECT doc_id,
             6 + doc_id % 5 AS w,
             4 + doc_id % 3 AS h,
             10 + doc_id % 5 AS fps,
             3 + doc_id % 4 AS nf
      FROM documents
    ),
    frames AS (
      SELECT doc_id, w, h, fps, nf, unnest(range(0, nf)) AS f
      FROM params
    ),
    px AS (
      SELECT doc_id, w, h, fps, nf, f,
             list_transform(range(0, w * h * 3),
                 p -> ((p % (w * 3)) // 3 * 7
                       + (p // (w * 3)) * 31
                       + (p % 3) * 101
                       + doc_id + f * 13) % 256) AS vals
      FROM frames
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(fps AS BIGINT) AS fps,
           CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
           CAST(list_aggregate(vals, 'sum') AS BIGINT) AS sum_px,
           md5(list_aggregate(list_transform(vals, v -> printf('%02x', v)),
               'string_agg', '')) AS px_checksum
    FROM px
    """,
    tags=("multimodal", "extension", "udf"),
)
def mm_video_rvid_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video container round-trip: every doc gets an RVID raw
    container (magic + dims/fps/count header + raw RGB frames), the
    decode kernel validates and splits exact frames, and each frame
    reduces to integer-exact features (pixel sum, hex md5) plus the
    container duration. The oracle re-derives every pixel from the
    generation parameters in SQL — container parse and frame split are
    hash-checked end to end."""
    from firefly_vcut_spark.operators.multimodal import (
        decode_rvid_features,
        encode_synthetic_rvid,
    )

    d = load_table(spark, sf_dir, "documents")
    return decode_rvid_features(encode_synthetic_rvid(d))


@query(
    "agg_gram_matrix",
    sql="""
    WITH emb AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pairs AS (
      SELECT unnest(range(1, 65)) AS i FROM (SELECT 1)
    ),
    cells AS (
      SELECT p1.i AS i, p2.i AS j
      FROM pairs p1 CROSS JOIN pairs p2
      WHERE p1.i <= p2.i
    )
    SELECT CAST(c.i AS BIGINT) AS i, CAST(c.j AS BIGINT) AS j,
           round(sum(CAST(floor(e.v[c.i] * e.v[c.j] * 1000000000) AS BIGINT))
                 / 1000000000.0, 4) AS gram
    FROM cells c CROSS JOIN emb e
    GROUP BY c.i, c.j
    """,
    tags=("vector", "extension", "linalg"),
)
def agg_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix (X^T X) over the embedding corpus — the
    PCA / covariance / linear-probe building block. Map-side: each
    partition folds its rows into ONE 64×64 integer partial (Arrow
    numpy kernel); only 32 KB partials shuffle. FLOOR-quantized
    products summed as integers make the result partition-order
    independent — bit-identical to the oracle's row-by-row SQL sum."""
    from firefly_vcut_spark.operators.linalg import gram_matrix

    e = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(e)


def _pca_projection_sql(d: int = 64, squarings: int = 7) -> str:
    """DuckDB twin of agg_pca_projection: replay the integer-quantized
    Gram matrix, the floor-quantized repeated matrix squaring
    (M → M², ``squarings`` times ≡ 2^squarings power-iteration steps),
    and the per-label projection rollup."""
    steps = []
    prev = "m0"
    for t in range(1, squarings + 1):
        steps.append(f"""
    p{t} AS MATERIALIZED (
      SELECT a.i, b.j,
             sum(CAST(floor(a.val * b.val * 1000000) AS BIGINT)) AS v
      FROM {prev} a JOIN {prev} b ON a.j = b.i
      GROUP BY a.i, b.j
    ),
    n{t} AS (SELECT max(abs(v)) AS m FROM p{t}),
    m{t} AS MATERIALIZED (
      SELECT i, j, floor(v * 1000000 / m) / 1000000.0 AS val
      FROM p{t} CROSS JOIN n{t}
    )""")
        prev = f"m{t}"
    unrolled = ",".join(steps)
    return f"""
    WITH emb AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cells AS (
      SELECT p1.i AS i, p2.i AS j
      FROM (SELECT unnest(range(1, {d + 1})) AS i) p1
      CROSS JOIN (SELECT unnest(range(1, {d + 1})) AS i) p2
      WHERE p1.i <= p2.i
    ),
    gq AS MATERIALIZED (
      SELECT c.i, c.j,
             round(sum(CAST(floor(e.v[c.i] * e.v[c.j] * 1000000000) AS BIGINT))
                   / 1000000000.0, 4) AS gram
      FROM cells c CROSS JOIN emb e
      GROUP BY c.i, c.j
    ),
    gfull AS MATERIALIZED (
      SELECT i, j, gram FROM gq
      UNION ALL
      SELECT j AS i, i AS j, gram FROM gq WHERE i <> j
    ),
    n0 AS (SELECT max(abs(gram)) AS m FROM gfull),
    m0 AS MATERIALIZED (
      SELECT i, j, floor(gram * 1000000 / m) / 1000000.0 AS val
      FROM gfull CROSS JOIN n0
    ),{unrolled},
    xl AS (SELECT list(val ORDER BY i) AS xv FROM {prev} WHERE j = 1),
    proj AS (
      SELECT e.label,
             CAST(floor(list_aggregate(
                 list_transform(range(1, {d + 1}),
                     k -> e.v[k] * x.xv[k]), 'sum') * 10000) AS BIGINT) AS pq
      FROM emb e CROSS JOIN xl x
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(sum(pq) / 10000.0 / count(*), 4) AS avg_proj
    FROM proj GROUP BY label
    """


@query(
    "agg_pca_projection",
    sql=_pca_projection_sql(),
    tags=("vector", "extension", "linalg", "ml"),
)
def agg_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative ML, oracle-checked end to end: top principal
    direction over the distributed Gram matrix via repeated MATRIX
    SQUARING (7 floor-quantized squarings ≡ 128 power-iteration steps
    — the synthetic spectrum is nearly flat, λ1/λ2 ≈ 1.07, so plain
    short iteration doesn't converge; squaring gets 2^k steps from k
    replayable rounds), then every embedding projected onto it
    (codegen dot with the literal eigvec) and rolled up per label with
    integer-quantized sums. The 100 TB shape: Gram reduces map-side
    (32 KB partials), the O(d³)·7 squaring runs on the driver, and the
    projection is a second scan-shaped pass — the standard two-pass
    PCA layout."""
    from firefly_vcut_spark.functions.vectors import dot as vdot
    from firefly_vcut_spark.operators.linalg import (
        gram_matrix,
        power_iteration_quantized,
    )

    e = load_table(spark, sf_dir, "embeddings")
    gram = {(r.i, r.j): r.gram for r in gram_matrix(e).collect()}
    x = power_iteration_quantized(gram, 64)
    lit_x = F.array(*[F.lit(v) for v in x])
    proj = e.select(
        "label",
        F.floor(
            vdot(F.col("embedding").cast("array<double>"), lit_x) * 10000
        ).cast("long").alias("pq"),
    )
    return proj.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.round(F.sum("pq") / 10000.0 / F.count(F.lit(1)), 4).alias("avg_proj"),
    ).select(F.col("label").cast("bigint").alias("label"), "n_vecs", "avg_proj")


@query(
    "mm_vp8_lossy_decode",
    sql="""
    SELECT CAST(name AS VARCHAR) AS name,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(y_md5 AS VARCHAR) AS y_md5,
           CAST(u_md5 AS VARCHAR) AS u_md5,
           CAST(v_md5 AS VARCHAR) AS v_md5,
           CAST(alpha_md5 AS VARCHAR) AS alpha_md5,
           CAST(mean_y AS DOUBLE) AS mean_y
    FROM (VALUES
      ('flat_16x16_q75', 16, 16, 'c54a2d44c8a73ab63d892b8b3d1c336f', 'f8a4e25e94538cb6397dcbefef497031', 'baf13e8b16d8c06324d7c9ab32cb7ff0', '', 129.0),
      ('grad_128x96_q60', 128, 96, 'd6309b8e114f0790d4ea735d5f0d2175', '9fd30bd00452b72e29aeee9db9e5c1a7', 'f395a6b881fff2a5f5a68a0575ae025e', '', 123.718994),
      ('grad_33x17_q75', 33, 17, '038b7567f1473cc3e35afffe6be6385f', 'd0e900c89a55e80f22b91d072e94e1b0', '31acace45de31a0d835e643ef7bb2d16', '', 114.525847),
      ('grad_48x32_q5', 48, 32, 'f4e3be22486425117ed0cc8ad02a9921', 'e15fae154b6f33989c54b596c7b561f9', 'acfda436efe742c85bbfa6e6ebd39f90', '', 134.460938),
      ('grad_48x32_q75', 48, 32, 'b6c30c3212300068ab9fe91a2f079f20', '354b40bd00b43fabe4eaff9ee142a80f', 'd66c32fdee8d64720ea3b44177a3d35c', '', 134.402344),
      ('mix_80x48_q75', 80, 48, '32b7e8de48ee67debaa78e5001c4715c', '2e9526a23c9201697e28029a62d42888', '7684afb7608d74a2689024c8c58fbce3', '', 144.822917),
      ('mix_80x48_q99', 80, 48, 'c940973d81fdcef3a30996a92a1654fc', '0373a248ed77a32d4371f3278c3f9319', '9a66e26ac5b3509cd2f4cdcc0b9dcd11', '', 144.949219),
      ('mix_96x80_sharp', 96, 80, 'e72916baeecff74a599f1939e337b874', '8669d1f4831705f9a2c1e8e173621982', '6fb463bae34fdab73fdbc967a9061e51', '', 128.835026),
      ('mix_96x80_simplefilter', 96, 80, 'b885779f500dae77c4ae669b7aa31a38', 'b1e5eaf7f626ba2cf480435691474e93', '68a43a1d685370b43e6080b2565665ff', '', 128.809115),
      ('noise_32x32_q40', 32, 32, '59a2b8a4e4f8db7601da7051878b6aa2', '0a4bc9cbcb67b797b50138f70411ef84', '55205026ecefa3808773f04d0179907d', '', 126.930664),
      ('noise_32x32_q99', 32, 32, '69a6c97b71060c6f5bf303e8d16c38e5', '04bbd1b8fb0556091ab92904b8460b6d', '577e1f11e54e3a16ec254296357e12df', '', 126.880859),
      ('rgba_48x32_q75_gradalpha', 48, 32, '2aa8e3f950ae48fb442b6c3ae497c648', '21b3249ab3aa31ce5460daffea654d92', 'fb1a6b522ba126468a3762f127dd9e33', '207564c3ee5bd49d791b1356cc2b9cc5', 113.367839),
      ('rgba_64x48_q60_noisealpha', 64, 48, 'c1240614e874b202d9e3d65f415675b0', '56825033fc7329864b9fc7979c507da0', '0b90900c9d139cf838c5401632e7f58b', '0e89c475905b129581c1d7833dcc21e4', 110.097656)
    ) AS t(name, width, height, y_md5, u_md5, v_md5, alpha_md5, mean_y)
    """,
    tags=("multimodal", "extension", "udf", "fixture-local"),
)
def mm_vp8_lossy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy / extended WebP decode against REFERENCE-CODEC truth: the
    committed real libwebp-ENCODED blobs (operators/vp8_fixture_data,
    13 streams covering q5..q99 loop-filter levels, both filter
    families, segmentation, odd dims, B_PRED-heavy content, VP8X raw +
    VP8L-compressed alpha) decode with the from-scratch VP8 keyframe
    decoder in an Arrow mapInPandas kernel, reducing to plane md5s +
    mean luma. The oracle's VALUES rows are what LIBWEBP'S OWN DECODER
    produced for the same blobs, recorded at fixture-build time by
    tools/gen_vp8_fixtures.py — so parity here is engine-vs-reference-
    codec, not a self-roundtrip; one wrong probability byte, filter
    tap, or border pixel in the decoder flips a plane md5.

    The engine has no VP8 ENCODER (lossy blobs cannot be synthesized
    per-doc the way the VP8L/PPM round-trips are), so the relation is
    the 13 committed streams at every SF — sf_dir-independent by
    construction, like the production shape of a parquet blob column
    scanned where it sits; blobs never shuffle."""
    import base64

    from firefly_vcut_spark.operators.multimodal import decode_vp8_features
    from firefly_vcut_spark.operators.vp8_fixture_data import BLOBS_B64

    rows = [
        (name, bytearray(base64.b64decode(b64)))
        for name, b64 in sorted(BLOBS_B64.items())
    ]
    blobs = spark.createDataFrame(rows, "name string, blob binary")
    return decode_vp8_features(blobs).select(
        F.col("name").cast("string").alias("name"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "y_md5", "u_md5", "v_md5", "alpha_md5",
        F.col("mean_y").cast("double").alias("mean_y"),
    )
