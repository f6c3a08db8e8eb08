"""L1-L6 — LLM-data-pipeline queries (SURVEY.md §2.9), oracle-checked where
SQL-expressible (exact dedup, inverted-index Jaccard, brute-force cosine,
text stats/quality/lang-id/fingerprint), rows-only + pytest self-checks for
the LSH internals (minhash/simhash/ANN — verified against their exact
counterparts in tests/test_llm.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import load_table
from ..functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    LANG_STOPWORDS,
    fingerprint,
    predict_lang,
    quality_features,
    tokens,
)
from ..llm.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
)
from ..llm.components import connected_components
from ..llm.multimodal import attach_fake_media, decode_image_features
from ..functions.vectors import dot as vdot, l2_norm as vl2
from ..llm.similarity import (
    ivf_topk,
    ivfpq_topk,
    lsh_topk,
    pq_topk,
    semantic_dedup_pairs,
    topk_bruteforce,
)
from .registry import query

# DuckDB fragments mirroring functions/text.py exactly.
_SQL_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"
_SQL_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)), "
    "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


#: Featurize-once: the (doc, shingle-set) frame is the shared input of the
#: Jaccard, MinHash and components queries. Cache the lazily-checkpointed
#: frame per (session, sf_dir, n) so consecutive dedup queries in one
#: session reuse ONE materialization instead of re-tokenizing the corpus —
#: at 100 TB the featurization pass dwarfs the joins, so sharing it is the
#: single biggest saving across a dedup pipeline.
_SHINGLE_CACHE: dict[tuple, DataFrame] = {}


def _shingle_sets(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    from ..llm.dedup import _doc_shingle_sets

    key = (spark.sparkContext.applicationId, sf_dir, n)
    if key not in _SHINGLE_CACHE:
        _SHINGLE_CACHE[key] = _doc_shingle_sets(
            _docs(spark, sf_dir), "doc_id", "text", n
        )
    return _SHINGLE_CACHE[key]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------- L1 --
@query(
    "llm_exact_dedup",
    oracle="""
    SELECT sha256(text) AS content_hash,
           min(doc_id)  AS keep_id,
           count(*)     AS n_copies
    FROM documents GROUP BY 1
    """,
)
def llm_exact_dedup(spark, sf_dir):
    """Exact dedup (L1): canonical id + copy count per distinct content;
    only the 32-byte hash shuffles, not the documents."""
    return exact_dedup_groups(_docs(spark, sf_dir), "text", "doc_id")


# --------------------------------------------------------------------- L2 --
# Hot-shingle cap for the flagship Jaccard query: one shingle shared by f
# docs creates f^2 join rows, so uncapped inverted-index joins blow up on
# stopword-ish shingles at corpus scale. The cap binds even at sf0.01
# (max shingle df there is 7), so the gate exercises the guard; the oracle
# mirrors it with a QUALIFY on the shingle's window count. Denominators use
# the FULL set sizes — only the join is capped — on both sides.
JACCARD_MAX_SHINGLE_FREQ = 5

_SQL_SHINGLE_EX = f"""
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks),
    ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh)"""

_SQL_CAPPED_PAIRS = f"""
    kept AS (SELECT * FROM ex
             QUALIFY count(*) OVER (PARTITION BY shingle)
                     <= {JACCARD_MAX_SHINGLE_FREQ}),
    pairs AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(count(*)::DOUBLE /
                     (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6)
                 AS jaccard
        FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      WHERE jaccard >= 0.2)"""


@query(
    "llm_jaccard_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLE_EX},
    {_SQL_CAPPED_PAIRS}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def llm_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (L2) via the inverted-index
    self-join — docs meet only in shared-shingle buckets, never n^2, and
    the hot-shingle cap bounds the worst bucket's fan-out at corpus scale."""
    return jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.2,
        max_shingle_freq=JACCARD_MAX_SHINGLE_FREQ,
        shingle_sets=_shingle_sets(spark, sf_dir),
    )


@query(
    "llm_dedup_delta",
    oracle=f"""
    WITH delta AS (
      SELECT doc_id + 1000000 AS doc_id,
             concat(text, ' qq7 qq7 qq7') AS text
      FROM documents WHERE doc_id < 50),
    alld AS (
      SELECT doc_id, text, 0 AS is_delta FROM documents
      UNION ALL SELECT doc_id, text, 1 FROM delta),
    toks AS (SELECT doc_id, is_delta, {_SQL_TOKS} AS t FROM alld),
    sh AS (SELECT doc_id, is_delta, {_SQL_SHINGLES} AS s FROM toks),
    ex AS (SELECT doc_id, is_delta, len(s) AS n_sh, unnest(s) AS shingle
           FROM sh),
    kept AS (SELECT * FROM ex
             QUALIFY count(*) OVER (PARTITION BY shingle)
                     <= {JACCARD_MAX_SHINGLE_FREQ}),
    pairs AS (
      SELECT d.doc_id AS doc_new, m.doc_id AS doc_match,
             round(count(*)::DOUBLE /
                   (any_value(d.n_sh) + any_value(m.n_sh) - count(*)), 6)
               AS jaccard
      FROM kept d JOIN kept m ON d.shingle = m.shingle
      WHERE d.is_delta = 1 AND (m.is_delta = 0 OR d.doc_id < m.doc_id)
      GROUP BY 1, 2)
    SELECT doc_new, doc_match, jaccard FROM pairs WHERE jaccard >= 0.2
    """,
)
def llm_dedup_delta(spark, sf_dir):
    """Incremental near-dup dedup (the daily-ingest shape): a delta batch
    of 50 modified copies (suffix-appended, ids offset by 1e6) probes the
    STANDING corpus shingle index — only delta postings drive the join, so
    batch cost is |delta| x capped-posting-length, never corpus². The
    shared suffix shingle lands in all 50 delta docs and is dropped by the
    hot-shingle cap (df 50 > {JACCARD_MAX_SHINGLE_FREQ}) — the guard binds
    — while every copy still finds its source through the original
    shingles (superset => jaccard = n/(n+3)). The corpus index is the
    cached featurize-once frame shared with the other dedup queries."""
    from ..llm.dedup import _doc_shingle_sets, jaccard_delta_pairs

    delta = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq7 qq7 qq7")).alias("text"),
        )
    )
    return jaccard_delta_pairs(
        _shingle_sets(spark, sf_dir),
        _doc_shingle_sets(delta, "doc_id", "text", 3),
        threshold=0.2,
        max_shingle_freq=JACCARD_MAX_SHINGLE_FREQ,
    )


@query(
    "llm_minhash_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLE_EX},
    pairs AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(count(*)::DOUBLE /
                     (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6)
                 AS jaccard
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      WHERE jaccard >= 0.2)
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           1 AS recall_ok, 1 AS precision_ok
    FROM pairs
    """,
)
def llm_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup (L2 scale path): banded signature bucket join,
    exact-Jaccard verify. The LSH output is engine-specific, so the gate
    checks the DERIVED facts — the exact-pair count (DuckDB-reproducible),
    recall >= 0.9 vs the exact pairs, and precision == 1.0 (every LSH pair
    is an exact pair; guaranteed by the verify step). Deterministic: every
    MinHash seed is a literal."""
    docs = _docs(spark, sf_dir)
    sh = _shingle_sets(spark, sf_dir)
    mh = minhash_near_dup_pairs(
        docs, "doc_id", "text", n=3, n_hashes=32, bands=16, threshold=0.2,
        shingle_sets=sh,
    ).select("doc_a", "doc_b")
    ex = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, shingle_sets=sh
    ).select("doc_a", "doc_b")
    n_exact = ex.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_hit = mh.join(ex, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("__n_hit")
    )
    n_extra = mh.join(ex, ["doc_a", "doc_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("__n_extra")
    )
    return (
        n_exact.crossJoin(n_hit)
        .crossJoin(n_extra)
        .select(
            "n_exact_pairs",
            (
                F.col("__n_hit").cast("double")
                >= 0.9 * F.col("n_exact_pairs").cast("double")
            )
            .cast("int")
            .alias("recall_ok"),
            (F.col("__n_extra") == 0).cast("int").alias("precision_ok"),
        )
    )


# SimHash with the portable polynomial token hash is bit-exact
# cross-engine, so the pair set itself is the oracle: DuckDB rebuilds the
# 28-bit signatures (per-token char fold, per-bit +-1 votes, sign bits)
# and compares ALL pairs by xor/bit_count — O(n^2) is fine for the oracle
# at sf0.01; the Spark side keeps the banded bucket join (the scale shape).
_SIMHASH_BITS = 28
_SIMHASH_MAX_HAMMING = 3
_SQL_TOKHASH = (
    "list_reduce(list_prepend(0::BIGINT, list_transform("
    "generate_series(1, len(t)), i -> ascii(substr(t, i, 1))::BIGINT)), "
    "(h, c) -> (h * 131 + c) % 2147483647)"
)
_SQL_SIMHASH_VOTES = ", ".join(
    f"list_aggregate(list_transform(hl, h -> CASE WHEN (h // {1 << i}) % 2 = 1 "
    f"THEN 1 ELSE -1 END), 'sum') AS v{i}"
    for i in range(_SIMHASH_BITS)
)
_SQL_SIMHASH_SIG = " + ".join(
    f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(_SIMHASH_BITS)
)


@query(
    "llm_simhash_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    hl AS (SELECT doc_id, list_transform(tk, t -> {_SQL_TOKHASH}) AS hl
           FROM toks),
    votes AS (SELECT doc_id, {_SQL_SIMHASH_VOTES} FROM hl),
    sigs AS (SELECT doc_id, CAST({_SQL_SIMHASH_SIG} AS BIGINT) AS sig
             FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {_SIMHASH_MAX_HAMMING}
    """,
)
def llm_simhash_pairs(spark, sf_dir):
    """SimHash near-dup (L2): block-banded bucket join, Hamming <= 3
    (exhaustive by pigeonhole for <= blocks-1 differing bits). Uses the
    portable polynomial token hash so DuckDB reproduces the signatures
    bit-exactly; the xxhash64 fast path is covered in tests/test_llm.py."""
    from ..llm.dedup import portable_token_hash

    return simhash_near_dup_pairs(
        _docs(spark, sf_dir), "doc_id", "text",
        max_hamming=_SIMHASH_MAX_HAMMING, blocks=4,
        n_bits=_SIMHASH_BITS, token_hash=portable_token_hash,
    )


@query(
    "llm_embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
             list_aggregate(list_transform(generate_series(1, 64),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
             / (sqrt(list_aggregate(list_transform(generate_series(1, 64),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                 i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))),
           6) AS cos_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
      AND cos_sim >= 0.3
    """,
)
def llm_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (L2/L3 hybrid) — exact pairwise on a
    bounded slice; the LSH path (llm_lsh_topk) is the full-corpus shape."""
    from ..functions.vectors import dot, l2_norm

    # norms hoisted below the join (r11): once per vector, not per pair
    # (same sequential folds, same order — cos_sim bit-identical)
    e = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("__na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("__nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot(F.col("ea"), F.col("eb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


# --------------------------------------------------------------------- L3 --
@query(
    "llm_topk_similarity",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(
               list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum'))
                * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))),
             6) AS cos_sim
      FROM q, embeddings c WHERE c.vec_id != q.query_id)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def llm_topk_similarity(spark, sf_dir):
    """Brute-force cosine top-5 (L3 baseline): broadcast query set x corpus,
    per-query window top-k; corpus never shuffles."""
    e = _emb(spark, sf_dir)
    return topk_bruteforce(
        e.filter(F.col("vec_id") < 10), e, k=5
    ).withColumn("rank", F.col("rank").cast("int"))


@query(
    "llm_semantic_dedup",
    oracle="""
    WITH s AS (
      SELECT a.vec_id ia, b.vec_id ib,
             round(
               list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum'))
                * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                   i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))),
             6) AS cs
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           1 AS precision_ok, 1 AS recall_ok
    FROM s WHERE cs >= 0.4
    """,
)
def llm_semantic_dedup(spark, sf_dir):
    """Full-corpus embedding near-dup via cluster scoping (the SemDeDup
    shape, L2/L3): k-means lists bound the candidate set, exact re-scoring
    makes precision 1 by construction, and probing each vector's 3 nearest
    lists catches boundary-straddling pairs (recall 1.0 at the gate SF,
    0.97 at smoke; gated at >= 0.8). The oracle reproduces the exact
    above-threshold pair count by brute force — affordable for DuckDB at
    gate scale, exactly the O(n²) the operator itself avoids."""
    e = _emb(spark, sf_dir)
    found = semantic_dedup_pairs(
        e, threshold=0.4, n_lists=8, n_probe=3, kmeans_iters=2
    ).select("id_a", "id_b")
    # norms hoisted below the cross join (r11): once per vector, not per
    # pair (same sequential folds, same order — cs bit-identical)
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        vl2(F.col("embedding")).alias("__na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        vl2(F.col("embedding")).alias("__nb"),
    )
    exact = (
        F.broadcast(a)
        .crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                vdot(F.col("va"), F.col("vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cs"),
        )
        .filter(F.col("cs") >= 0.4)
        .select("id_a", "id_b")
    )
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nf = found.agg(F.count(F.lit(1)).alias("__nf"))
    nh = found.join(exact, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("__nh")
    )
    return (
        ne.crossJoin(nf)
        .crossJoin(nh)
        .select(
            "n_exact",
            (F.col("__nf") == F.col("__nh")).cast("int").alias("precision_ok"),
            (F.col("__nh") >= 0.8 * F.col("n_exact")).cast("int").alias("recall_ok"),
        )
    )


def _ann_recall_query(spark, sf_dir, approx_fn, min_hits: int):
    """Derived-fact harness for ANN variants: per query, the exact top-5
    size (DuckDB-reproducible) and whether the approximate top-5 recovers
    at least ``min_hits`` of the exact neighbors. Both sides rank by
    (rounded cosine, id), so the hit count is deterministic."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    exact = topk_bruteforce(q, e, k=5).select("query_id", "neighbor_id")
    approx = approx_fn(q, e).select("query_id", "neighbor_id")
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n_hit"))
    )
    n_ex = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return n_ex.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        (F.coalesce(F.col("__n_hit"), F.lit(0)) >= min_hits)
        .cast("int")
        .alias("recall_ok"),
    )


_SQL_ANN_RECALL = """
    SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_exact, 1 AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """


@query("llm_lsh_topk", oracle=_SQL_ANN_RECALL)
def llm_lsh_topk(spark, sf_dir):
    """ANN top-5 via random-hyperplane LSH (L3 scale path): bucket join on
    signature bands + exact re-rank. The gate checks recall >= 3/5 per
    query vs the exact top-5 (empirically 4-5/5 at sf0.01; deterministic —
    hyperplanes derive from a literal seed)."""
    return _ann_recall_query(
        spark, sf_dir,
        lambda q, e: lsh_topk(q, e, dim=64, k=5, n_planes=16, bands=8),
        min_hits=3,
    )


@query(
    "llm_unigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(log10(f.c / tot.n)), 4) AS mean_log10_prob
    FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def llm_unigram_logprob(spark, sf_dir):
    """Corpus-unigram language-model score per document (L4): the KenLM-ish
    quality proxy — mean log10 probability of the document's tokens under
    the corpus's own unigram distribution. Low scores = rare-token-heavy
    documents (boilerplate/garbage candidates).

    Scale shape is TF-IDF's: token explode -> frequency aggregate ->
    shuffle join back on token (NO broadcast hint — the vocabulary has
    billions of rows at corpus scale; whether it broadcasts is a size
    statistics decision), corpus total attached as a 1-row scalar
    crossJoin. Mean rounds to 4 decimals so partial-avg summation order
    can't leak last-ulp noise across engines."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    return (
        tok.join(freq, "tok")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(F.log10(F.col("c") / F.col("n"))), 4
            ).alias("mean_log10_prob"),
        )
    )


# --------------------------------------------------------------------- L4 --
@query(
    "llm_text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks, text FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                 AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT)  AS n_distinct_tokens,
           round(list_aggregate(list_transform(toks, x -> len(x)), 'sum')::DOUBLE
                 / greatest(len(toks), 1), 4)        AS avg_token_len,
           CAST(list_reduce(
                 list_prepend(0::BIGINT, list_transform(
                     generate_series(1, greatest(len(substring(text, 1, 64)), 0)),
                     i -> ascii(substring(substring(text, 1, 64), i, 1)))),
                 (h, c) -> (h * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD})
               AS BIGINT)                            AS fingerprint
    FROM t
    """,
)
def llm_text_stats(spark, sf_dir):
    """Token counting + document fingerprinting (L4): whitespace tokens,
    distinct counts, mean token length, 64-char polynomial rolling hash.

    Served by the Arrow-vectorized featurizer (functions/text.py::
    text_stats_arrow): Spark evaluates higher-order lambdas interpreted,
    outside codegen, so the mapInPandas batch path measures ~2.2x faster
    at sf0.1/local[32]; the two are proven element-identical in
    tests/test_llm.py and the mean is rounded JVM-side so oracle rounding
    parity (HALF_UP) is preserved."""
    from ..functions.text import text_stats_arrow

    return text_stats_arrow(_docs(spark, sf_dir))


@query(
    "llm_token_counts",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ws,
                      list_filter(string_split_regex(lower(text),
                        '[[:punct:][:space:]]+'), x -> x != '') AS bp
               FROM documents)
    SELECT doc_id,
           CAST(len(ws) AS BIGINT)                AS n_ws_tokens,
           CAST(len(bp) AS BIGINT)                AS n_bpe_tokens,
           CAST(len(list_distinct(bp)) AS BIGINT) AS n_distinct_bpe
    FROM t
    """,
)
def llm_token_counts(spark, sf_dir):
    """Token counting, both tokenizations (L4): whitespace tokens and the
    BPE-pre-tokenizer stand-in (split on whitespace AND punctuation
    boundaries) — the budget/length accounting every training-data
    pipeline runs. Pure expression trees; both regex classes are ASCII in
    Java and RE2, so counts are engine-portable."""
    d = _docs(spark, sf_dir)
    from ..functions.text import bpe_ish_tokens

    ws = tokens(F.col("text"))
    bp = bpe_ish_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
        F.size(bp).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bp)).cast("bigint").alias("n_distinct_bpe"),
    )


@query(
    "llm_quality_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, text, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           round((len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                 / greatest(len(text), 1), 6) AS digit_ratio,
           round(len(list_filter(toks, x -> list_contains(
                 {LANG_STOPWORDS['en']}, x)))::DOUBLE
                 / greatest(len(toks), 1), 6) AS stopword_ratio_en,
           CAST(len(text) >= 50 AND len(toks) >= 10
                AND len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) > 0.3
                AS INTEGER) AS passes_quality
    FROM t
    """,
)
def llm_quality_scores(spark, sf_dir):
    """Quality scoring + filter flag (L4/L6): digit ratio, stopword ratio,
    lexical diversity gate — the heuristic pre-filters of a training-data
    pipeline."""
    d = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    feats = quality_features(F.col("text"))
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    )
    return d.select(
        "doc_id",
        feats["digit_ratio"].alias("digit_ratio"),
        feats["stopword_ratio_en"].alias("stopword_ratio_en"),
        (
            (F.length("text") >= 50) & (F.size(toks) >= 10) & (diversity > 0.3)
        ).cast("int").alias("passes_quality"),
    )


@query(
    "llm_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains({LANG_STOPWORDS['en']}, x)))::DOUBLE
               / greatest(len(toks), 1) AS s_en,
             len(list_filter(toks, x -> list_contains({LANG_STOPWORDS['es']}, x)))::DOUBLE
               / greatest(len(toks), 1) AS s_es,
             len(list_filter(toks, x -> list_contains({LANG_STOPWORDS['fr']}, x)))::DOUBLE
               / greatest(len(toks), 1) AS s_fr
      FROM t)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN greatest(s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
)
def llm_lang_id(spark, sf_dir):
    """Language-ID heuristic (L4): stopword-ratio argmax with deterministic
    tie-break (en > es > fr), 'und' when no list matches."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predict_lang(tokens(F.col("text"))).alias("predicted_lang"),
    )


# --------------------------------------------------------------------- L6 --
@query(
    "llm_quality_filter",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE lang IN ('en', 'es') AND n_chars BETWEEN 200 AND 2000
      AND source NOT IN ('src0', 'src13')
    """,
)
def llm_quality_filter(spark, sf_dir):
    """Corpus filter (L6) on language/length/source metadata — pushed to the
    parquet scan."""
    d = _docs(spark, sf_dir)
    return d.filter(
        F.col("lang").isin("en", "es")
        & F.col("n_chars").between(200, 2000)
        & ~F.col("source").isin("src0", "src13")
    ).select("doc_id", "lang", "source", "n_chars")


# --------------------------------------------------------------------- L5 --
def _sql_hex_byte(pos: int) -> str:
    """DuckDB: hex-pair at 1-based char ``pos`` of column d -> byte value."""
    return (
        f"((strpos('0123456789abcdef', substr(d, {pos}, 1)) - 1) * 16 + "
        f"strpos('0123456789abcdef', substr(d, {pos + 1}, 1)) - 1)"
    )


@query(
    "llm_multimodal_features",
    oracle=f"""
    WITH h AS (SELECT doc_id, sha256(sha256(CAST(doc_id AS VARCHAR))) AS d
               FROM documents)
    SELECT doc_id,
           concat('mem://img/', CAST(doc_id AS VARCHAR)) AS uri,
           'image/png' AS mime,
           CAST(64 AS BIGINT) AS byte_len,
           CAST(64 + {_sql_hex_byte(1)} % 192 AS INTEGER) AS width,
           CAST(64 + {_sql_hex_byte(3)} % 192 AS INTEGER) AS height,
           round({_sql_hex_byte(5)} / 255.0, 6) AS channel_mean
    FROM h
    """,
)
def llm_multimodal_features(spark, sf_dir):
    """Multimodal decode plumbing (L5): binary media struct -> mapInPandas
    feature extraction (decoder stubbed deterministically; Spark contract —
    schema, Arrow batching, struct flattening — real). The stub features
    derive from sha256 digests, which DuckDB reproduces byte-for-byte, so
    even the stubbed path is hash-checked end-to-end."""
    return decode_image_features(attach_fake_media(_docs(spark, sf_dir)))


@query(
    "llm_binaryfile_features",
    oracle=f"""
    WITH h AS (SELECT doc_id, source,
                      sha256(sha256(CAST(doc_id AS VARCHAR))) AS d
               FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           concat('doc_', CAST(doc_id AS VARCHAR), '.bin') AS file_name,
           source,
           CAST(64 AS BIGINT) AS byte_len,
           d AS content_sha,
           CAST(64 + {_sql_hex_byte(1)} % 192 AS INTEGER) AS width,
           CAST(64 + {_sql_hex_byte(3)} % 192 AS INTEGER) AS height,
           round({_sql_hex_byte(5)} / 255.0, 6) AS channel_mean
    FROM h
    """,
)
def llm_binaryfile_features(spark, sf_dir):
    """Real media-file ingest (L5, the un-stubbed half of the plumbing):
    deterministic per-document byte files land on disk, are scanned with
    ``spark.read.format("binaryFile")`` (path/length/content — the actual
    production entry point for image corpora on object storage; the scan
    parallelizes per file), joined back to ``documents`` on the doc id
    parsed from the file name, wrapped into the STRUCT media column, and
    pushed through the SAME ``mapInPandas`` decode stage as
    ``llm_multimodal_features``. Facts DuckDB reproduces: file name,
    length, content sha, and the digest-derived stub features.

    The fixture writer (driver loop over <=200 tiny files) is test
    scaffolding, not the data path — at corpus scale the files already
    exist on storage and only the binaryFile scan + decode run."""
    import hashlib as _hl
    import os as _os
    import tempfile as _tf

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    media_dir = _tf.mkdtemp(prefix="spark_binfile_")
    for (did,) in d.select("doc_id").collect():
        content = _hl.sha256(str(did).encode()).hexdigest().encode()
        with open(_os.path.join(media_dir, f"doc_{did}.bin"), "wb") as fh:
            fh.write(content)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(media_dir)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
            F.col("content"),
        )
    )
    enriched = files.join(d.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "file_name",
        "source",
        F.sha2(F.col("content"), 256).alias("content_sha"),
        F.struct(
            F.col("file_name").alias("uri"),
            F.col("content").alias("bytes"),
            F.lit("image/png").alias("mime"),
        ).alias("media"),
    )
    feats = decode_image_features(enriched).select(
        "doc_id", "byte_len", "width", "height", "channel_mean"
    )
    return enriched.select(
        "doc_id", "file_name", "source", "content_sha"
    ).join(feats, "doc_id").select(
        "doc_id", "file_name", "source", "byte_len", "content_sha",
        "width", "height", "channel_mean",
    )


@query(
    "llm_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_EX},
    {_SQL_CAPPED_PAIRS},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(a, b) AS (
      SELECT v, v FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS vertex, min(b) AS component FROM reach GROUP BY a
    """,
)
def llm_dedup_components(spark, sf_dir):
    """Near-dup groups (L2 final step): connected components over the exact
    Jaccard pair graph via min-label propagation with pointer doubling —
    O(log diameter) join rounds, no driver-side graph. Oracle: transitive
    closure by recursive CTE, component = min reachable vertex."""
    pairs = jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.2,
        max_shingle_freq=JACCARD_MAX_SHINGLE_FREQ,
        shingle_sets=_shingle_sets(spark, sf_dir),
    )
    return connected_components(pairs)


@query("llm_ivf_topk", oracle=_SQL_ANN_RECALL)
def llm_ivf_topk(spark, sf_dir):
    """IVF-flat ANN top-5 (L3 alternative scale path): coarse-quantizer
    inverted lists, n_probe nearest lists per query, exact re-rank inside.
    The gate checks recall >= 2/5 per query vs the exact top-5 (empirically
    3-5/5 at sf0.01 with n_probe=4 of 16 lists; deterministic quantizer)."""
    return _ann_recall_query(
        spark, sf_dir,
        lambda q, e: ivf_topk(q, e, k=5, n_lists=16, n_probe=4),
        min_hits=2,
    )


@query("llm_pq_topk", oracle=_SQL_ANN_RECALL)
def llm_pq_topk(spark, sf_dir):
    """PQ-compressed ANN top-5 (L3 memory-bound scale path): per-subspace
    codebooks (8 subspaces x 16 codes, trained in shared Lloyd rounds),
    corpus compressed to 8 codeword indices per vector, candidate scan by
    asymmetric-distance lookup over the CODE column only (8 adds per
    candidate, ~64x less memory traffic than raw floats), exact cosine
    re-rank of the top-60 candidates. The gate checks recall >= 2/5 per
    query vs the exact top-5 (empirically 3-5/5 at sf0.01; fully
    deterministic: init-by-id codebooks, 6-dp rounding)."""
    return _ann_recall_query(
        spark, sf_dir,
        lambda q, e: pq_topk(q, e, dim=64, k=5, m=8, k_codes=16,
                             n_candidates=60),
        min_hits=2,
    )


@query("llm_ivfpq_topk", oracle=_SQL_ANN_RECALL)
def llm_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN top-5 (L3, the FAISS IVFPQ composition): the coarse
    quantizer bounds WHICH rows a query touches (only its probed lists
    are scored — the operator plan has no cross join), PQ codes bound
    WHAT each touched row costs (8 lookup-adds vs 64 float multiplies),
    exact re-rank of the ADC top-60. The gate checks recall >= 2/5 per
    query vs the exact top-5 (empirically 3-5/5 at sf0.01; deterministic
    end to end)."""
    return _ann_recall_query(
        spark, sf_dir,
        lambda q, e: ivfpq_topk(q, e, dim=64, k=5, n_lists=16, n_probe=4,
                                m=8, k_codes=16, n_candidates=60),
        min_hits=2,
    )


@query(
    "llm_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n)
    SELECT doc_id, token, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rn
      FROM scored)
    WHERE rn <= 3
    """,
)
def llm_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document (L4): term frequency via
    explode+groupBy, document frequency via a distinct count, joined back
    on the token key — the manual (non-MLlib) formulation whose shuffles
    are all on token/doc keys. The vocabulary is NOT broadcast (one row per
    distinct token — billions at corpus scale) and the corpus count is a
    one-row aggregate joined in, not a driver action: zero driver-side
    data, one job."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = tf.join(dfreq, "token").crossJoin(n_docs).select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * F.log(F.col("__n_docs").cast("double") / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@query(
    "llm_stratified_sample",
    oracle="""
    SELECT lang, count(*) AS n_total, 1 AS in_bounds
    FROM documents
    WHERE lang IN ('en', 'es', 'fr', 'de', 'zh')
    GROUP BY lang
    """,
)
def llm_stratified_sample(spark, sf_dir):
    """Stratified sampling by language (training-data mixture control):
    seeded sampleBy with per-stratum fractions. The draw is deterministic
    for the seed but engine-specific, so the gate checks the DERIVED facts:
    the per-stratum population (DuckDB-reproducible) and the sampled count
    landing within 4 binomial standard deviations (+2 slack) of f*n —
    stable because the seed is fixed."""
    d = _docs(spark, sf_dir)
    fractions = {"en": 0.5, "es": 0.8, "fr": 0.8, "de": 1.0, "zh": 1.0}
    frac_col = F.element_at(
        F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv]),
        F.col("lang"),
    )
    sampled = (
        d.sampleBy("lang", fractions, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("__n_sampled"))
    )
    totals = d.filter(F.col("lang").isin(*fractions)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    joined = totals.join(sampled, "lang", "left").select(
        "lang",
        "n_total",
        F.coalesce(F.col("__n_sampled"), F.lit(0)).alias("__n_sampled"),
        frac_col.alias("__f"),
    )
    expect = F.col("__f") * F.col("n_total").cast("double")
    sd = F.sqrt(F.col("__f") * (1 - F.col("__f")) * F.col("n_total").cast("double"))
    return joined.select(
        "lang",
        "n_total",
        (F.abs(F.col("__n_sampled").cast("double") - expect) <= 4 * sd + 2)
        .cast("int")
        .alias("in_bounds"),
    )


# ------------------------------------------------- pipeline ops, round 2 --
@query(
    "llm_sequence_packing",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT)
                 AS n_tokens FROM documents),
    c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
    FROM c
    """,
)
def llm_sequence_packing(spark, sf_dir):
    """Sequence packing (pretraining batch assembly): assign each document
    to a ~2048-token pack by running token count, packed in id order WITHIN
    each source partition — the partitioned window is the scale-safe
    formulation (a global ORDER BY window would funnel the corpus through
    one task)."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens(F.col("text"))).cast("bigint")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        d.select("doc_id", "source", n_tok.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr("(cum - n_tokens) div 2048").alias("pack_id"),
        )
    )


@query(
    "llm_contamination",
    oracle=f"""
    WITH {_SQL_SHINGLE_EX},
    ev AS (SELECT shingle FROM ex WHERE doc_id < 20),
    corp AS (SELECT doc_id, shingle FROM ex WHERE doc_id >= 20)
    SELECT corp.doc_id,
           count(DISTINCT corp.shingle) AS n_shared,
           CAST(count(DISTINCT corp.shingle) >= 5 AS INTEGER) AS flagged
    FROM corp JOIN ev ON corp.shingle = ev.shingle
    GROUP BY corp.doc_id
    """,
)
def llm_contamination(spark, sf_dir):
    """Eval-set contamination check: corpus documents sharing 3-gram
    shingles with the held-out set (doc_id < 20 stands in for the eval
    set), flagged at >= 5 distinct shared shingles. Inverted-index join on
    the shingle key — the eval side is tiny, so this is a broadcast-scale
    probe of the whole corpus."""
    sh = _shingle_sets(spark, sf_dir)
    ex = sh.select("doc", F.explode("sh").alias("shingle"))
    ev = ex.filter(F.col("doc") < 20).select("shingle")
    corp = ex.filter(F.col("doc") >= 20)
    return (
        corp.join(ev, "shingle")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.countDistinct("shingle").alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            (F.col("n_shared") >= 5).cast("int").alias("flagged"),
        )
    )


@query(
    "llm_pii_scrub",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER)
             AS n_redactions,
           substr(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), 1, 80)
             AS scrubbed_head
    FROM documents
    """,
)
def llm_pii_scrub(spark, sf_dir):
    """Pattern scrubbing (the PII-redaction shape): replace every digit run
    with a placeholder and count redactions — one codegen'd regex pass; the
    same pipeline takes email/phone patterns in production."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0)))
        .cast("int")
        .alias("n_redactions"),
        F.substring(
            F.regexp_replace("text", "[0-9]+", "<NUM>"), 1, 80
        ).alias("scrubbed_head"),
    )


@query(
    "llm_mixture_weights",
    oracle="""
    WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(count(DISTINCT source) AS DOUBLE) AS k FROM documents)
    SELECT source, n_docs,
           round((tot.n / tot.k) / n_docs, 6) AS weight
    FROM s CROSS JOIN tot
    """,
)
def llm_mixture_weights(spark, sf_dir):
    """Mixture reweighting (training-data composition control): per-source
    sampling weight that equalizes the source mixture — corpus count via a
    one-row aggregate join, nothing driver-side."""
    d = _docs(spark, sf_dir)
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = d.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.countDistinct("source").cast("double").alias("__k"),
    )
    return per.crossJoin(tot).select(
        "source",
        "n_docs",
        F.round(
            (F.col("__n") / F.col("__k")) / F.col("n_docs").cast("double"), 6
        ).alias("weight"),
    )


@query(
    "llm_doc_sample_per_source",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS sample_rank
      FROM documents)
    SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 3
    """,
)
def llm_doc_sample_per_source(spark, sf_dir):
    """Deterministic per-stratum sample: exactly min(3, |stratum|) docs per
    source, ranked by md5 of the doc id — a seeded, engine-portable
    pseudorandom order (both engines produce identical lowercase-hex md5),
    unlike sample()/TABLESAMPLE whose RNG streams differ. One window per
    stratum; at scale this is the 'give me K spot-check docs per source'
    primitive with reproducible output across reruns and engines."""
    d = _docs(spark, sf_dir)
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 3)
    )


@query(
    "llm_embed_centroids",
    oracle="""
    WITH u AS (
      SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings)
    SELECT label, CAST(pos AS INTEGER) AS pos,
           round(avg(CAST(v AS DOUBLE)), 6) AS centroid
    FROM u GROUP BY 1, 2
    """,
)
def llm_embed_centroids(spark, sf_dir):
    """Per-label embedding centroids (the class-prototype primitive behind
    semantic dedup / clustering QA): posexplode each vector and average
    per (label, dimension). The explode shuffles (label, pos, float) rows
    — 4x the raw vector bytes, partial-aggregated before the exchange, so
    shuffle volume ~ labels x dims, not corpus size."""
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


@query(
    "llm_train_val_split",
    oracle="""
    WITH b AS (
      SELECT source, n_chars,
             CAST(('0x' || substr(md5('split-seed-7:' || CAST(doc_id AS VARCHAR)), 1, 4))
                  AS INTEGER) % 100 AS bucket
      FROM documents)
    SELECT source,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1, 2
    """,
)
def llm_train_val_split(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5) by seeded md5
    bucket of the document id — the split every training pipeline needs to
    be reproducible across reruns, engines, and corpus growth (a doc's
    split never changes when other docs are added, unlike fraction-based
    sample()). Pure expression per row, no shuffle for the assignment
    itself; the report aggregates per (source, split)."""
    d = _docs(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split-seed-7:"), F.col("doc_id").cast("string"))),
                1, 4,
            ),
            16, 10,
        ).cast("int") % 100
    )
    return (
        d.withColumn("bucket", bucket)
        .withColumn(
            "split",
            F.when(F.col("bucket") < 90, "train")
            .when(F.col("bucket") < 95, "val")
            .otherwise("test"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "llm_global_shuffle",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5('shuffle-seed-11:' || CAST(doc_id AS VARCHAR)) AS hkey
      FROM documents)
    SELECT CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT)
             AS shuffle_pos,
           doc_id
    FROM h ORDER BY hkey, doc_id LIMIT 100
    """,
)
def llm_global_shuffle(spark, sf_dir):
    """Deterministic global shuffle order (seeded md5 over the doc id) —
    the write-once permutation a training run consumes. The full-corpus
    form is a single range-partitioned sort by hash key, the one place a
    global sort is the *point* (sort once at write, read sequentially
    forever). This query banks the head: top-100 by hash via
    TakeOrderedAndProject (no full sort materialized), positions assigned
    on the 100-row result."""
    d = _docs(spark, sf_dir)
    h = d.select(
        "doc_id",
        F.md5(
            F.concat(F.lit("shuffle-seed-11:"), F.col("doc_id").cast("string"))
        ).alias("hkey"),
    )
    head = h.orderBy("hkey", "doc_id").limit(100)
    w = W.orderBy("hkey", "doc_id")
    return head.select(
        F.row_number().over(w).cast("bigint").alias("shuffle_pos"), "doc_id"
    )


@query(
    "llm_fuzzy_name_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def llm_fuzzy_name_pairs(spark, sf_dir):
    """Edit-distance-1 entity dedup over customer names via the SymSpell
    deletion-neighborhood join (exact recall for dist <= 1 by the
    pigeonhole argument — see ``llm/dedup.py::fuzzy_pairs_dist1``). The
    oracle brute-forces levenshtein over all pairs — the O(n²) the
    operator exists to avoid."""
    from ..llm.dedup import fuzzy_pairs_dist1

    c = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs_dist1(c, "c_custkey", "c_name").select(
        "id_a", "id_b", F.col("dist").cast("int").alias("dist")
    )


@query(
    "llm_fuzzy_name_pairs_dist2",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def llm_fuzzy_name_pairs_dist2(spark, sf_dir):
    """Edit-distance-2 entity dedup (the standard SymSpell generalization):
    each name buckets on its delete-<=2 neighborhood — 1 + L + L(L-1)/2
    keys, quadratic in STRING length, constant in corpus size — with full
    recall by the deletion-cover argument (``llm/dedup.py::fuzzy_pairs``).
    The brute-force levenshtein oracle compares ALL pairs, so a bit-exact
    match proves recall == 1 AND precision == 1 at the gate scale, while
    the operator itself never materializes the O(n²) compare."""
    from ..llm.dedup import fuzzy_pairs

    c = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs(c, "c_custkey", "c_name", max_dist=2).select(
        "id_a", "id_b", F.col("dist").cast("int").alias("dist")
    )


@query(
    "llm_corpus_clean_pipeline",
    oracle=f"""
    WITH RECURSIVE meta AS (
      SELECT doc_id, text FROM documents
      WHERE lang IN ('en', 'es') AND n_chars BETWEEN 200 AND 2000
        AND source NOT IN ('src0', 'src13')),
    ex_keep AS (
      SELECT min(doc_id) AS doc_id FROM meta GROUP BY sha256(text)),
    surv AS (SELECT m.doc_id, m.text FROM meta m
             JOIN ex_keep k ON m.doc_id = k.doc_id),
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM surv),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks),
    ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
    {_SQL_CAPPED_PAIRS},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(a, b) AS (
      SELECT v, v FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS v, min(b) AS c FROM reach GROUP BY a)
    SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_raw,
           CAST((SELECT count(*) FROM meta) AS BIGINT)      AS n_after_meta,
           CAST((SELECT count(*) FROM surv) AS BIGINT)      AS n_after_exact,
           CAST((SELECT count(*) FROM surv)
                - (SELECT count(*) FROM comp WHERE v <> c)
                AS BIGINT)                                  AS n_final
    """,
)
def llm_corpus_clean_pipeline(spark, sf_dir):
    """The corpus-cleaning pipeline END TO END (L1+L2+L6 composed, the
    pass a training-data team runs nightly): metadata quality filter ->
    exact dedup (keep min id per content hash) -> near-dup removal (exact
    Jaccard pairs over the survivors, connected components, keep each
    cluster's min id). Returns the funnel counts; the oracle re-derives
    every stage in SQL including the recursive-CTE closure.

    Composition is where the featurize-once discipline pays: the survivors'
    shingle sets are the CACHED corpus featurization semi-join-filtered by
    the surviving ids — no re-tokenization, and the near-dup stage still
    uses the capped inverted-index join."""
    d = _docs(spark, sf_dir)
    meta = d.filter(
        F.col("lang").isin("en", "es")
        & F.col("n_chars").between(200, 2000)
        & ~F.col("source").isin("src0", "src13")
    ).select("doc_id", "text")
    groups = exact_dedup_groups(meta, "text", "doc_id")
    surv = meta.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    sh = _shingle_sets(spark, sf_dir).join(
        surv.select(F.col("doc_id").alias("doc")), "doc", "left_semi"
    )
    pairs = jaccard_pairs(
        surv, "doc_id", "text", n=3, threshold=0.2,
        max_shingle_freq=JACCARD_MAX_SHINGLE_FREQ, shingle_sets=sh,
    )
    comp = connected_components(pairs)
    n_raw = d.agg(F.count(F.lit(1)).alias("n_raw"))
    n_meta = meta.agg(F.count(F.lit(1)).alias("n_after_meta"))
    n_exact = surv.agg(F.count(F.lit(1)).alias("n_after_exact"))
    n_drop = comp.filter(F.col("vertex") != F.col("component")).agg(
        F.count(F.lit(1)).alias("__n_drop")
    )
    return (
        n_raw.crossJoin(n_meta)
        .crossJoin(n_exact)
        .crossJoin(n_drop)
        .select(
            "n_raw",
            "n_after_meta",
            "n_after_exact",
            (F.col("n_after_exact") - F.col("__n_drop")).alias("n_final"),
        )
    )


@query(
    "llm_contamination_bloom",
    oracle=f"""
    WITH {_SQL_SHINGLE_EX},
    ev AS (SELECT shingle FROM ex WHERE doc_id < 20),
    corp AS (SELECT doc_id, shingle FROM ex WHERE doc_id >= 20)
    SELECT corp.doc_id,
           count(DISTINCT corp.shingle) AS n_shared,
           CAST(count(DISTINCT corp.shingle) >= 5 AS INTEGER) AS flagged
    FROM corp JOIN ev ON corp.shingle = ev.shingle
    GROUP BY corp.doc_id
    """,
)
def llm_contamination_bloom(spark, sf_dir):
    """Decontamination at corpus scale: the same eval-overlap semantics as
    ``llm_contamination``, but the corpus shingle stream is screened by a
    BLOOM FILTER of the eval set's shingles BEFORE the exact join — the
    composition every production decontamination pass uses, because the
    benchmark side is tiny and ~all corpus shingles drop map-side instead
    of shuffling into the join (at 100 TB that's the difference between
    shuffling the tokenized corpus and shuffling a candidate trickle).
    The filter is semantically invisible — false positives are removed by
    the exact join, false negatives are impossible — so the oracle is the
    plain overlap query, and the screening benefit is asserted in
    tests/test_bloom.py."""
    from ..operators.bloom import bloom_build, bloom_prefilter

    sh = _shingle_sets(spark, sf_dir)
    ex = sh.select("doc", F.explode("sh").alias("shingle"))
    ev = ex.filter(F.col("doc") < 20).select("shingle").distinct()
    corp = ex.filter(F.col("doc") >= 20)
    bitset = bloom_build(ev, "shingle")
    cand = bloom_prefilter(corp, "shingle", bitset)
    return (
        cand.join(ev, "shingle")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.countDistinct("shingle").alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            (F.col("n_shared") >= 5).cast("int").alias("flagged"),
        )
    )


#: Fixed classifier weights — the stand-in for an offline-trained quality
#: model (fasttext-style): in production these arrive from a training job;
#: the ENGINE's job is the vectorized scoring pass, which is identical.
#: All weights are DYADIC rationals (sums of powers of two), so every
#: weight*count product and the running sum are EXACT in IEEE doubles —
#: the margin is bit-identical in any engine, with no rounding step to
#: diverge at a .5-ulp boundary (ratio features + round(6) on both sides
#: still differed in the last ulp between Spark and DuckDB).
_QC_W = {"bias": -2.0, "stop": 0.25, "digit": -0.5,
         "distinct": 0.0625, "len": 0.03125}


@query(
    "llm_quality_classifier",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    f AS (
      SELECT doc_id,
             len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
               AS n_digits,
             len(list_filter(toks, x -> list_contains(
                 {LANG_STOPWORDS['en']}, x))) AS n_stop,
             len(list_distinct(toks)) AS n_distinct,
             least(len(toks), 100) AS len_capped
      FROM t)
    SELECT doc_id,
           {_QC_W['bias']} + {_QC_W['stop']} * n_stop
             + {_QC_W['digit']} * n_digits
             + {_QC_W['distinct']} * n_distinct
             + {_QC_W['len']} * len_capped AS margin,
           CAST(({_QC_W['bias']} + {_QC_W['stop']} * n_stop
             + {_QC_W['digit']} * n_digits
             + {_QC_W['distinct']} * n_distinct
             + {_QC_W['len']} * len_capped) >= 1.5 AS INTEGER) AS keep
    FROM f
    """,
)
def llm_quality_classifier(spark, sf_dir):
    """Model-based quality filtering (L6, the fasttext-classifier shape):
    a linear scorer over count features (stopword hits, digit chars,
    distinct tokens, capped length) with FIXED offline-trained weights,
    emitting the decision margin and keep flag. The margin stays in the
    linear domain (apply sigmoid downstream if a probability is needed),
    and the weights are dyadic rationals over integer counts, so the
    double arithmetic is EXACT — the oracle reproduces the margin
    bit-for-bit with no rounding anywhere (see _QC_W note). One
    expression tree per document: embarrassingly parallel, codegen'd,
    no shuffle."""
    d = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_digits = F.length("text") - F.length(
        F.regexp_replace("text", r"[0-9]", "")
    )
    n_distinct = F.size(F.array_distinct(toks))
    len_capped = F.least(F.size(toks), F.lit(100))
    z = (
        F.lit(_QC_W["bias"])
        + F.lit(_QC_W["stop"]) * n_stop
        + F.lit(_QC_W["digit"]) * n_digits
        + F.lit(_QC_W["distinct"]) * n_distinct
        + F.lit(_QC_W["len"]) * len_capped
    )
    return d.select(
        "doc_id",
        z.alias("margin"),
        (z >= 1.5).cast("int").alias("keep"),
    )


@query(
    "llm_normalized_dedup",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(lower(text), '[\.,;:!\?''"()\[\]{}]', '', 'g'),
               '\s+', ' ', 'g')) AS n
      FROM documents)
    SELECT sha256(n) AS norm_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM norm GROUP BY 1
    """,
)
def llm_normalized_dedup(spark, sf_dir):
    """Normalization-aware exact dedup (L1): documents hashed on their
    canonical form (lowercase, punctuation stripped, whitespace
    collapsed, trimmed) — the standard pre-hash pass that collapses
    case/punct/spacing variants before any fuzzy machinery runs. Same
    scale shape as ``llm_exact_dedup``: only the 32-byte digest shuffles.
    The oracle re-derives the normalization regexes byte-for-byte, so
    canonicalization AND grouping are value-hash-checked."""
    from ..llm.dedup import normalized_dedup_groups

    return normalized_dedup_groups(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "llm_vocab_oov",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    vocab AS (
      SELECT tok FROM freq
      QUALIFY row_number() OVER (ORDER BY c DESC, tok) <= 1000)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
           round(count(*) FILTER (WHERE v.tok IS NULL)::DOUBLE
                 / count(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def llm_vocab_oov(spark, sf_dir):
    """Vocabulary induction + OOV coverage (the tokenizer-prep step): the
    corpus's top-1000 tokens by frequency (ties by token) form the vocab;
    each document reports its token count, out-of-vocabulary count and
    OOV rate. Scale shape: the frequency table shuffles on the token key
    (billions of distinct tokens stay distributed), the top-K truncation
    is a TakeOrderedAndProject (never a global sort), and the K-row vocab
    joins back BROADCAST — the corpus re-scan never shuffles for the
    membership test."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(1000)
        .select("tok", F.lit(1).alias("__in_v"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


@query(
    "llm_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, source, n_chars,
             pow((CAST(('0x' || substr(md5('ws-seed-5:' || CAST(doc_id AS VARCHAR)), 1, 8))
                       AS UBIGINT) + 0.5) / 4294967296.0,
                 1.0 / n_chars) AS k
      FROM documents)
    SELECT doc_id, lang, source, n_chars
    FROM keyed ORDER BY k DESC, doc_id LIMIT 50
    """,
)
def llm_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    each doc draws a seeded uniform u from md5(doc_id) and keeps key =
    u^(1/weight); the global top-k by key is EXACTLY a weighted sample
    without replacement with inclusion probability proportional to the
    weight (here n_chars — sampling long documents preferentially, the
    standard curriculum/quality-weighted corpus draw). One-pass and
    mergeable: top-k by key is per-partition top-k + TakeOrderedAndProject
    (never a global sort of the corpus), so at 100 TB each executor ships
    only its k best keys. Deterministic across engines and reruns — the
    uniform is a seeded hash, not a PRNG, so a doc's key never changes as
    the corpus grows, and DuckDB reproduces the draw bit-for-bit."""
    d = _docs(spark, sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ws-seed-5:"), F.col("doc_id").cast("string")
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    return (
        d.withColumn("k", key)
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(50)
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "llm_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS vid
      FROM documents)
    SELECT doc_id,
           'mem://img/' || CAST(doc_id AS VARCHAR) AS uri,
           CAST(t.i AS INTEGER) AS frame_idx,
           CAST(t.i * 16 AS BIGINT) AS frame_offset,
           sha256(substr(vid, CAST(t.i * 16 + 1 AS INTEGER), 16))
             AS frame_sha
    FROM f CROSS JOIN range(4) t(i)
    """,
)
def llm_frame_sample(spark, sf_dir):
    """Multimodal frame sampling (L5's video shape): each media item fans
    out to 4 evenly-spaced frames via the 1->N ``mapInPandas`` stage in
    `llm/multimodal.py::sample_frames` — the plumbing (media STRUCT in,
    typed thin frame rows out, Arrow batching, per-executor byte
    locality) is real; the ffmpeg decode is a deterministic byte-slice
    stub, which is exactly what lets DuckDB reproduce every frame hash:
    the fake video is sha256(doc_id) and a frame is its 16-byte slice, so
    the oracle recomputes frame_sha = sha256(substr(video, off, 16))
    bit-for-bit. Output rows carry offsets + hashes, never pixels — at
    100 TB the heavy bytes never cross a shuffle."""
    from ..llm.multimodal import sample_frames

    return sample_frames(attach_fake_media(_docs(spark, sf_dir)), 4)


@query(
    "llm_word_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS l
      FROM documents),
    bg AS (
      SELECT unnest(list_zip(l[1:length(l)-1], l[2:length(l)])) AS p
      FROM toks WHERE length(l) >= 2)
    SELECT p[1] || ' ' || p[2] AS bigram, count(*) AS n
    FROM bg GROUP BY 1 ORDER BY n DESC, bigram LIMIT 100
    """,
)
def llm_word_bigrams(spark, sf_dir):
    """Corpus bigram counting — the transition-count table of an n-gram
    language model and the inner loop of merge-based tokenizer training
    (BPE counts adjacent-pair frequencies exactly like this, over symbols
    instead of words). Adjacent pairs are built INSIDE the array domain
    (zip_with over two slices — no posexplode self-join, so a d-token
    document costs d rows once, not a d x d join); the single shuffle
    groups by the bigram key, partial-aggregated map-side, and the top-100
    report is TakeOrderedAndProject with a total tiebreak order. At 100 TB
    the pair space shards by key exactly like any aggregation — no
    vocabulary bottleneck on one node."""
    d = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
    )
    l = F.col("l")
    pairs = F.zip_with(
        F.slice(l, F.lit(1), F.size(l) - 1),
        F.slice(l, F.lit(2), F.size(l) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(toks.alias("l"))
        .filter(F.size("l") >= 2)
        .select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(100)
    )


# ----------------------- BPE merge training loop (R19's other half) ----
_BPE_K = 6  # bounded merge count; each iteration is ONE aggregated shuffle


def _bpe_oracle(k: int) -> str:
    """DuckDB replay of the same K greedy merges, unrolled as a CTE chain
    (pair-count -> deterministic top pair -> left-to-right fold-merge per
    word). The fold accumulates a chr(1)-delimited symbol string, merging
    when the accumulator's TRAILING SYMBOL is exactly the pair's left and
    the next symbol is its right — the same expression the Spark side
    evaluates, so the merge tables are bit-exact."""
    parts = [
        """WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                t -> t <> '')) AS w
  FROM documents),
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks
  WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w ORDER BY freq DESC, w LIMIT 50),
w0 AS (
  SELECT freq, chr(1) || array_to_string(
           list_filter(string_split(w, ''), t -> t <> ''), chr(1)) AS seq
  FROM words)"""
    ]
    for i in range(k):
        parts.append(
            f"""p{i} AS (
  SELECT p[1] AS a, p[2] AS b, CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT unnest(list_zip(l[1:length(l)-1], l[2:length(l)])) AS p,
               freq
        FROM (SELECT string_split(seq[2:], chr(1)) AS l, freq FROM w{i})
        WHERE length(l) >= 2)
  GROUP BY 1, 2),
t{i} AS (SELECT {i + 1} AS step, a, b, n FROM p{i}
         ORDER BY n DESC, a, b LIMIT 1),
w{i + 1} AS (
  SELECT freq, list_reduce(list_prepend('', string_split(seq[2:], chr(1))),
          (acc, x) -> CASE WHEN x = t.b AND ends_with(acc, chr(1) || t.a)
                           THEN acc || x ELSE acc || chr(1) || x END) AS seq
  FROM w{i}, t{i} AS t)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM t{i}" for i in range(k))
    return (
        ",\n".join(parts)
        + "\nSELECT step, a AS left_sym, b AS right_sym,"
        " n AS pair_count FROM (" + union + ") ORDER BY step"
    )


@query("llm_bpe_merges", oracle=_bpe_oracle(_BPE_K))
def llm_bpe_merges(spark, sf_dir):
    """BPE merge TRAINING loop — the iterative half of tokenizer prep
    whose inner loop ``llm_word_bigrams`` already covers: start from the
    character sequences of the corpus's top-50 words (frequency-weighted
    vocabulary, deterministic (freq, word) order), then K times (a) count
    adjacent symbol pairs weighted by word frequency — ONE partial+final
    aggregated shuffle over vocabulary-scale rows, (b) pick the top pair
    under a total (count desc, pair) order, (c) merge it greedily
    left-to-right inside every word via an expression-only fold
    (``F.aggregate`` over the symbol array — no UDF, no per-row Python).
    Driver traffic is K single-row collects (the chosen pair — exactly
    what any BPE trainer materializes per step), and ``localCheckpoint``
    truncates the growing lineage each round. At 100 TB the word-freq
    table is vocabulary-scale (millions of rows, shuffled once up
    front); each merge iteration then costs one bounded aggregation, so
    the loop's cost is K aggregations over the vocabulary — never a
    corpus rescan. Symbols accumulate in a chr(1)-delimited string; the
    merge condition (next symbol == right AND accumulator ends with
    delimiter+left) is the same expression the DuckDB oracle folds
    with, making the merge table bit-exact, multi-character merges
    included."""
    D = "\x01"
    d = _docs(spark, sf_dir)
    toks = F.explode(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
        )
    ).alias("w")
    words = (
        d.select(toks)
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(50)
    )
    cur = words.select(
        "freq",
        F.concat(
            F.lit(D),
            F.array_join(
                F.filter(F.split("w", ""), lambda t: t != ""), D
            ),
        ).alias("seq"),
    ).localCheckpoint()
    merges: list[tuple] = []
    for step in range(_BPE_K):
        l = F.split(F.expr("substring(seq, 2)"), D)
        pairs_col = F.zip_with(
            F.slice(l, 1, F.size(l) - 1),
            F.slice(l, 2, F.size(l) - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        top = (
            cur.select(F.explode(pairs_col).alias("p"), "freq")
            .groupBy(
                F.col("p.a").alias("a"), F.col("p.b").alias("b")
            )
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((step + 1, a, b, n))
        cur = cur.withColumn(
            "seq",
            F.aggregate(
                F.split(F.expr("substring(seq, 2)"), D),
                F.lit(""),
                lambda acc, x: F.when(
                    (x == F.lit(b)) & acc.endswith(F.lit(D + a)),
                    F.concat(acc, x),
                ).otherwise(F.concat(acc, F.lit(D), x)),
            ),
        ).localCheckpoint()
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, pair_count bigint",
    )


def _bpe_encode_oracle(k: int) -> str:
    """DuckDB replay of TRAIN (top-50 words, as in ``_bpe_oracle``) then
    APPLY: the K learned merges fold over EVERY corpus word, and the
    output is the corpus-level compression fact row."""
    train = _bpe_oracle(k)
    # reuse the training chain up to its final SELECT; keep the CTEs
    chain = train[: train.rindex("\nSELECT ")]
    parts = [chain]
    parts.append(
        """e0 AS (
  SELECT w, freq, chr(1) || array_to_string(
           list_filter(string_split(w, ''), t -> t <> ''), chr(1)) AS seq
  FROM (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks
        WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w))"""
    )
    for i in range(k):
        parts.append(
            f"""e{i + 1} AS (
  SELECT w, freq, list_reduce(
          list_prepend('', string_split(seq[2:], chr(1))),
          (acc, x) -> CASE WHEN x = t.b AND ends_with(acc, chr(1) || t.a)
                           THEN acc || x ELSE acc || chr(1) || x END) AS seq
  FROM e{i}, t{i} AS t)"""
        )
    parts.append(
        f"""fin AS (
  SELECT freq, length(string_split(seq[2:], chr(1))) AS n_sym,
         length(w) AS n_chr
  FROM e{k})"""
    )
    return (
        ",\n".join(parts)
        + """
SELECT CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(freq * n_chr) AS BIGINT) AS char_tokens,
       CAST(sum(freq * n_sym) AS BIGINT) AS bpe_tokens,
       """
        + f"{k} AS n_merges FROM fin"
    )


@query("llm_bpe_encode", oracle=_bpe_encode_oracle(_BPE_K))
def llm_bpe_encode(spark, sf_dir):
    """BPE ENCODE — the apply half of tokenizer prep: the K merges
    trained by ``llm_bpe_merges``' loop fold over EVERY corpus word
    (not just the training sample), producing the corpus-level
    compression facts (char tokens vs BPE tokens) a tokenizer-budget
    decision needs. The merge application is the same expression-only
    fold, mapped over the full vocabulary-scale word table — no UDF, no
    driver loop beyond the K trained pairs (already-collected 1-row
    results). At 100 TB: corpus → word-frequency table is one shuffle;
    each merge application is a map-side expression pass over the vocab;
    the fact row aggregates once. Oracle replays train+apply in one
    unrolled CTE chain — bit-exact."""
    D = "\x01"
    d = _docs(spark, sf_dir)
    toks = F.explode(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
        )
    ).alias("w")
    allwords = (
        d.select(toks)
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = allwords.orderBy(F.desc("freq"), "w").limit(50)
    seq_of = F.concat(
        F.lit(D),
        F.array_join(F.filter(F.split("w", ""), lambda t: t != ""), D),
    )
    cur = top.select("freq", seq_of.alias("seq")).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(_BPE_K):
        l = F.split(F.expr("substring(seq, 2)"), D)
        pairs_col = F.zip_with(
            F.slice(l, 1, F.size(l) - 1),
            F.slice(l, 2, F.size(l) - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        topp = (
            cur.select(F.explode(pairs_col).alias("p"), "freq")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not topp:
            break
        a, b = topp[0]["a"], topp[0]["b"]
        merges.append((a, b))

        def fold(col, a=a, b=b):
            return F.aggregate(
                F.split(F.expr(f"substring({col}, 2)"), D),
                F.lit(""),
                lambda acc, x: F.when(
                    (x == F.lit(b)) & acc.endswith(F.lit(D + a)),
                    F.concat(acc, x),
                ).otherwise(F.concat(acc, F.lit(D), x)),
            )

        cur = cur.withColumn("seq", fold("seq")).localCheckpoint()
    def merge_fold(a: str, b: str):
        # closure factory: PySpark introspects higher-order lambdas'
        # arity, so the pair must bind via closure, not default args
        def _f(acc, x):
            return F.when(
                (x == F.lit(b)) & acc.endswith(F.lit(D + a)),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit(D), x))

        return _f

    enc = allwords.select("w", "freq", seq_of.alias("seq"))
    for a, b in merges:
        enc = enc.withColumn(
            "seq",
            F.aggregate(
                F.split(F.expr("substring(seq, 2)"), D),
                F.lit(""),
                merge_fold(a, b),
            ),
        )
    return enc.select(
        "freq",
        F.size(F.split(F.expr("substring(seq, 2)"), D)).alias("n_sym"),
        F.length("w").alias("n_chr"),
    ).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.col("freq") * F.col("n_chr"))
        .cast("long")
        .alias("char_tokens"),
        F.sum(F.col("freq") * F.col("n_sym"))
        .cast("long")
        .alias("bpe_tokens"),
        F.lit(_BPE_K).cast("int").alias("n_merges"),
    )


@query(
    "llm_canonical_selection",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_EX},
    {_SQL_CAPPED_PAIRS},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(a, b) AS (
      SELECT v, v FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS vertex, min(b) AS component FROM reach GROUP BY a),
    scored AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS component,
             len(string_split(d.text, ' ')) AS n_words
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.vertex)
    SELECT doc_id, component,
           CASE WHEN row_number() OVER (
                  PARTITION BY component
                  ORDER BY n_words DESC, doc_id) = 1
                THEN 1 ELSE 0 END AS keep
    FROM scored
    """,
)
def llm_canonical_selection(spark, sf_dir):
    """CANONICAL-DOCUMENT selection — the step that ENDS a near-dup
    pipeline in production: near-dup pairs (capped inverted-index
    Jaccard) → connected components (pointer-doubling label
    propagation, no driver-side graph) → keep exactly ONE doc per
    cluster, the longest (ties to the smallest id), singletons keep
    themselves. Dropping all-but-canonical is what training-data dedup
    actually ships — pair lists and cluster ids are intermediates. At
    100 TB every stage stays bounded: the pair join meets docs only in
    shared-shingle buckets, components run O(log diameter) join rounds
    carrying (vertex, label) scalars, and the final argmax is one
    window pass partitioned by cluster — documents themselves never
    shuffle (only ids, labels, and word counts). Oracle: recursive-CTE
    transitive closure + the same window, value-exact."""
    from ..llm.components import connected_components
    from ..llm.dedup import jaccard_pairs

    from pyspark.sql import Window

    pairs = jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.2,
        max_shingle_freq=JACCARD_MAX_SHINGLE_FREQ,
        shingle_sets=_shingle_sets(spark, sf_dir),
    )
    comp = connected_components(pairs)
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    scored = docs.join(
        comp, docs["doc_id"] == comp["vertex"], "left"
    ).select(
        docs["doc_id"],
        F.coalesce(comp["component"], docs["doc_id"]).alias(
            "component"
        ),
        "n_words",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_words"), F.asc("doc_id")
    )
    return scored.select(
        "doc_id",
        "component",
        F.when(F.row_number().over(w) == 1, 1)
        .otherwise(0)
        .alias("keep"),
    )


# ------------------- DSIR importance resampling (R23) ------------------
_DSIR_B = 512  # hashed feature buckets (the paper's 10k, scaled to SF)
_DSIR_K = 50   # selection size


@query(
    "llm_dsir_resample",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS l
      FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(l) AS g FROM docs
      UNION ALL
      SELECT doc_id, lang, p[1] || ' ' || p[2] AS g
      FROM (SELECT doc_id, lang,
                   unnest(list_zip(l[1:length(l)-1], l[2:length(l)])) AS p
            FROM docs WHERE length(l) >= 2)),
    fb AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
               % {_DSIR_B} AS b
      FROM grams),
    raw AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en'
            GROUP BY b),
    tots AS (SELECT count(*) AS nr,
                    count(*) FILTER (WHERE lang = 'en') AS nt
             FROM fb),
    model AS (
      SELECT r.b,
             log10((COALESCE(t.ct, 0) + 1.0) / (tots.nt + {_DSIR_B}))
           - log10((r.cr + 1.0) / (tots.nr + {_DSIR_B})) AS ratio
      FROM raw r LEFT JOIN tgt t ON r.b = t.b CROSS JOIN tots),
    perdoc AS (
      SELECT doc_id, b, count(*) AS nb FROM fb GROUP BY doc_id, b)
    SELECT p.doc_id,
           CAST(sum(p.nb) AS BIGINT) AS n_grams,
           round(sum(p.nb * m.ratio), 4) AS logw
    FROM perdoc p JOIN model m ON p.b = m.b
    GROUP BY p.doc_id
    ORDER BY logw DESC, p.doc_id
    LIMIT {_DSIR_K}
    """,
)
def llm_dsir_resample(spark, sf_dir):
    """DSIR-style data selection via importance resampling (R23; Xie et
    al. 2023, public): score every raw document by how much more likely
    its HASHED n-gram features are under a TARGET-domain bag-of-ngrams
    model (here ``lang = 'en'``) than under the raw-corpus model, then
    keep the top-k — the standard recipe for skewing a crawl toward a
    quality/domain target without training a classifier.

    Feature hashing bounds the vocabulary at B=512 buckets regardless
    of corpus size (uni+bigrams, portable md5 bucket hash), so both
    models are B-row aggregates — broadcastable scalars at ANY corpus
    scale — and the per-doc score is one bucket-key join + one doc-key
    aggregation: corpus touched twice, all shuffles carry (doc, bucket)
    scalar rows, selection is TakeOrderedAndProject. Add-1 smoothing
    keeps unseen buckets finite; the weight rounds to 4 decimals so
    partial-sum order can't leak last-ulp noise across engines
    (deterministic doc_id tiebreak)."""
    B, K = _DSIR_B, _DSIR_K
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
    )
    l = F.col("l")
    pairs = F.zip_with(
        F.slice(l, F.lit(1), F.size(l) - 1),
        F.slice(l, F.lit(2), F.size(l) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(
        l,
        F.when(F.size(l) >= 2, pairs).otherwise(
            F.array().cast("array<string>")
        ),
    )
    fb = (
        d.select("doc_id", "lang", toks.alias("l"))
        .select("doc_id", "lang", F.explode(grams).alias("g"))
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10)
                .cast("bigint")
                % B
            ).alias("b"),
        )
    )
    raw = fb.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        fb.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tots = fb.agg(
        F.count(F.lit(1)).alias("nr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("nt"),
    )
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log10(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nt") + F.lit(B))
                )
                - F.log10(
                    (F.col("cr") + F.lit(1.0)) / (F.col("nr") + F.lit(B))
                )
            ).alias("ratio"),
        )
    )
    perdoc = fb.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("nb")
    )
    return (
        perdoc.join(model, "b")
        .groupBy("doc_id")
        .agg(
            F.sum("nb").cast("bigint").alias("n_grams"),
            F.round(F.sum(F.col("nb") * F.col("ratio")), 4).alias(
                "logw"
            ),
        )
        .orderBy(F.col("logw").desc(), "doc_id")
        .limit(K)
    )


# -------------- interpolated bigram LM scoring (R24) -------------------
_BILM_LAM = 0.75  # bigram weight; 1-λ backs off to the unigram model


@query(
    "llm_bigram_logprob",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS l
      FROM documents),
    toks AS (SELECT doc_id, unnest(l) AS w FROM docs),
    uni AS (SELECT w, count(*) AS cu FROM toks GROUP BY w),
    tot AS (SELECT count(*) AS n FROM toks),
    bg AS (
      SELECT doc_id, p[1] AS w1, p[2] AS w2
      FROM (SELECT doc_id,
                   unnest(list_zip(l[1:length(l)-1], l[2:length(l)])) AS p
            FROM docs WHERE length(l) >= 2)),
    bic AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, count(*) AS cc FROM bg GROUP BY w1)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(log10({_BILM_LAM} * b.cb / x.cc
                           + {1 - _BILM_LAM} * u.cu / t.n)), 4)
             AS mean_log10_p
    FROM bg g
    JOIN bic b ON g.w1 = b.w1 AND g.w2 = b.w2
    JOIN ctx x ON g.w1 = x.w1
    JOIN uni u ON g.w2 = u.w
    CROSS JOIN tot t
    GROUP BY g.doc_id
    """,
)
def llm_bigram_logprob(spark, sf_dir):
    """Interpolated bigram language-model scoring (R24) — the KenLM-ish
    perplexity filter one order up from R6's unigram score: each
    document's mean log10 of λ·p(w2|w1) + (1−λ)·p(w2), both models
    trained on the corpus itself (Jelinek-Mercer interpolation, so an
    unseen-in-context bigram backs off to the unigram instead of −inf).
    Low scores flag locally-incoherent text (shuffled words, OCR
    damage) that per-token frequency alone cannot see.

    Scale shape: the bigram table shards by (w1, w2) exactly like any
    aggregation (a billion-bigram vocabulary is fine — no broadcast
    hints anywhere near the big tables); per-doc scoring is three
    equi-joins back on token keys plus the 1-row corpus total; the
    corpus is touched twice (token explode, pair explode), both in the
    array domain with no self-joins. The mean rounds to 4 decimals so
    partial-avg summation order can't leak last-ulp noise across
    engines."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
    )
    docs = d.select("doc_id", toks.alias("l"))
    uni_t = docs.select("doc_id", F.explode("l").alias("w"))
    uni = uni_t.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    tot = uni_t.agg(F.count(F.lit(1)).alias("n"))
    l = F.col("l")
    pairs = F.arrays_zip(
        F.slice(l, F.lit(1), F.size(l) - 1).alias("w1"),
        F.slice(l, F.lit(2), F.size(l) - 1).alias("w2"),
    )
    bg = (
        docs.filter(F.size("l") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.col("p.w1").alias("w1"),
            F.col("p.w2").alias("w2"),
        )
    )
    bic = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cc"))
    return (
        bg.join(bic, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni, F.col("w2") == F.col("w"))
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log10(
                        F.lit(_BILM_LAM) * F.col("cb") / F.col("cc")
                        + F.lit(1 - _BILM_LAM)
                        * F.col("cu")
                        / F.col("n")
                    )
                ),
                4,
            ).alias("mean_log10_p"),
        )
    )


# ------------------------------------------------------------------ R25 --
@query(
    "llm_contamination_spans",
    oracle="""
    WITH toks AS (SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\\s+'),
                        x -> x != '') AS t
          FROM documents),
    grams AS (SELECT doc_id, i AS pos,
                     concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
              FROM toks,
                   unnest(generate_series(1, greatest(len(t) - 2, 0)))
                     AS u(i)),
    ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
    corp AS (SELECT doc_id, pos, g FROM grams WHERE doc_id >= 20),
    hits AS (SELECT doc_id, pos FROM corp
             WHERE g IN (SELECT g FROM ev)),
    runs AS (SELECT doc_id,
                    pos - row_number()
                            OVER (PARTITION BY doc_id ORDER BY pos)
                      AS grp
             FROM hits),
    island AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
               FROM runs GROUP BY doc_id, grp),
    per_doc AS (SELECT doc_id, max(run_len) AS max_run,
                       CAST(sum(run_len) AS BIGINT) AS n_hits
                FROM island GROUP BY doc_id),
    corp_docs AS (SELECT doc_id,
                         CAST(count(*) AS BIGINT) AS n_grams
                  FROM corp GROUP BY doc_id)
    SELECT c.doc_id,
           c.n_grams,
           COALESCE(p.n_hits, 0) AS n_hit_positions,
           COALESCE(p.max_run, 0) AS max_overlap_run,
           CAST(COALESCE(p.max_run, 0) >= 8 AS INTEGER) AS flagged
    FROM corp_docs c LEFT JOIN per_doc p USING (doc_id)
    """,
)
def llm_contamination_spans(spark, sf_dir):
    """Span-level decontamination (R25, the GPT-3/PaLM protocol): the
    existing `llm_contamination` counts distinct shared shingles, which
    flags topical overlap; production decontamination instead asks for
    the LONGEST CONTIGUOUS overlapping token span — a 10-gram lifted
    verbatim from an eval benchmark is contamination, ten scattered
    3-grams are not. Per corpus document: positional 3-grams (an
    expression-only posexplode — no UDF), a LEFT SEMI probe into the
    eval set's distinct grams (the eval side is small by construction:
    broadcast-scale), then the gaps-and-islands trick
    (``pos - row_number()`` per doc) turns consecutive hit positions
    into groups whose size is the run length. Max run >= 8 positions
    (~10 contiguous shared tokens) flags the doc. At 100 TB: grams
    shuffle only for the per-doc window (one shuffle keyed by doc_id,
    volume ~ HIT positions only — misses drop at the semi-join), and
    the eval probe is a broadcast; documents themselves never move."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    t = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    gram_idx = F.when(
        F.size(t) >= 3, F.sequence(F.lit(1), F.size(t) - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                gram_idx,
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i),
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                ),
            )
        ).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    ev = grams.filter(F.col("doc_id") < 20).select("g").distinct()
    corp = grams.filter(F.col("doc_id") >= 20)
    hits = corp.join(F.broadcast(ev), "g", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    island = runs.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    per_doc = island.groupBy("doc_id").agg(
        F.max("run_len").alias("max_run"),
        F.sum("run_len").alias("n_hits"),
    )
    corp_docs = corp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    return corp_docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hit_positions"),
        F.coalesce(F.col("max_run"), F.lit(0)).alias(
            "max_overlap_run"
        ),
        (F.coalesce(F.col("max_run"), F.lit(0)) >= 8)
        .cast("int")
        .alias("flagged"),
    )


@query(
    "llm_bm25_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS token
                  FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT avg(dl::DOUBLE) AS avgdl,
                     count(*)::DOUBLE AS n_docs FROM dl),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
           WHERE token IN ('table', 'scan', 'join') GROUP BY 1, 2),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
               * 1000000) AS BIGINT) AS c
      FROM tf
      JOIN df USING (token)
      JOIN dl USING (doc_id)
      CROSS JOIN stats)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_micros
    FROM contrib GROUP BY doc_id
    ORDER BY score_micros DESC, doc_id LIMIT 10
    """,
)
def llm_bm25_topk(spark, sf_dir):
    """BM25 document ranking (L4's retrieval-grade scorer, beyond
    TF-IDF): Okapi BM25 with k1 = 1.2, b = 0.75 and the Lucene
    ``ln((N - df + 0.5)/(df + 0.5) + 1)`` idf, scoring the corpus for
    the 3-term query {table, scan, join} and returning the top-10 docs.

    Scale shape: term frequencies restrict to the QUERY'S terms before
    any aggregation (the posting lists of 3 terms, not the corpus
    vocabulary), document length and the global avgdl come from one
    doc-keyed aggregate plus a 1-row broadcast, and the per-term df is
    |query| rows. Per-term contributions are scaled to integer
    MICRO-points before the per-doc sum, so the sum is exact and
    order-independent — the cross-engine float hazard (3-way double
    addition order) is eliminated rather than rounded away. Top-10
    plans as TakeOrderedAndProject."""
    d = _docs(spark, sf_dir)
    q_terms = ["table", "scan", "join"]
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    tf = (
        toks.filter(F.col("token").isin(q_terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    denom = F.col("tf") + 1.2 * (
        0.25 + 0.75 * F.col("dl") / F.col("avgdl")
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * (F.col("tf") * 2.2) / denom * 1000000)
            .cast("bigint")
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "llm_ann_index_probe",
    oracle="""
    SELECT vec_id AS query_id, 1 AS identical_topk,
           1 AS probe_no_training, 1 AS refresh_no_training,
           1 AS fresh_visible, 1 AS deleted_gone
    FROM embeddings WHERE vec_id < 10
    """,
)
def llm_ann_index_probe(spark, sf_dir):
    """Persisted IVF-PQ ANN index (L3 production read path, round 8):
    ``ann_index_build`` trains once and banks quantizer + corpus codes
    as snapshot-table sidecars; ``ann_probe`` then answers top-k with
    ZERO Lloyd rounds (``TRAIN_METRICS`` pinned per probe) and ranks
    IDENTICALLY to the in-query-trained ``ivfpq_topk`` (same search
    code + deterministic training ⇒ value-exact per query).
    ``ann_index_refresh`` encodes ONLY the appended vectors (each
    query's embedding duplicated under a fresh id → its duplicate
    must surface at cos 1.0), again zero rounds; deleting the
    duplicates makes them vanish from probes WITHOUT touching the
    index — the exact re-rank joins the LIVE table, so a stale code
    entry can never resurrect a deleted row."""
    import tempfile as _tf

    from ..llm import similarity as _sim
    from ..llm.ann_index import (
        ann_index_build,
        ann_index_refresh,
        ann_probe,
    )
    from ..sources.snapshots import SnapshotTable

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 10)
    params = dict(k=5, n_probe=4, n_candidates=60)
    t = SnapshotTable(spark, _tf.mkdtemp(prefix="spark_annidx_"))
    t.commit_append(e)
    ann_index_build(
        t, dim=64, n_lists=16, m=8, k_codes=16, kmeans_iters=2
    )
    in_query = ivfpq_topk(
        q, e, dim=64, n_lists=16, m=8, k_codes=16, kmeans_iters=2,
        **params,
    ).collect()
    _sim.TRAIN_METRICS["lloyd_rounds"] = 0
    probe1 = ann_probe(t, q, **params).collect()
    probe_rounds = _sim.TRAIN_METRICS["lloyd_rounds"]
    by_q_exp: dict = {}
    for r in in_query:
        by_q_exp.setdefault(r["query_id"], set()).add(
            (r["neighbor_id"], r["cos_sim"], r["rank"])
        )
    by_q_got: dict = {}
    for r in probe1:
        by_q_got.setdefault(r["query_id"], set()).add(
            (r["neighbor_id"], r["cos_sim"], r["rank"])
        )
    # append each query vector under a fresh id; refresh = encode-only
    fresh = q.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    t.commit_append(fresh)
    _sim.TRAIN_METRICS["lloyd_rounds"] = 0
    ann_index_refresh(t)
    refresh_rounds = _sim.TRAIN_METRICS["lloyd_rounds"]
    probe2 = ann_probe(t, q, **params).collect()
    found_dup = {
        r["query_id"]
        for r in probe2
        if r["neighbor_id"] == r["query_id"] + 1000000
    }
    t.delete_where(F.col("vec_id") >= 1000000)
    probe3 = ann_probe(t, q, **params).collect()
    gone_ok = {
        r["query_id"]
        for r in probe3
        if r["neighbor_id"] >= 1000000
    }
    n3 = {}
    for r in probe3:
        n3[r["query_id"]] = n3.get(r["query_id"], 0) + 1
    rows = [
        (
            int(qid),
            int(by_q_got.get(qid) == by_q_exp[qid]),
            int(probe_rounds == 0),
            int(refresh_rounds == 0),
            int(qid in found_dup),
            int(qid not in gone_ok and n3.get(qid, 0) == 5),
        )
        for qid in sorted(by_q_exp)
    ]
    return spark.createDataFrame(
        rows,
        "query_id long, identical_topk int, probe_no_training int, "
        "refresh_no_training int, fresh_visible int, deleted_gone int",
    )


# ------------------------------------------------------------------ T24 --
_SQL_NEARDUP_STREAM = f"""
    WITH e1 AS (SELECT doc_id AS doc, text FROM documents
                WHERE doc_id < 40),
    e2 AS (SELECT doc_id + 1000000 AS doc, text FROM documents
           WHERE doc_id < 10
           UNION ALL
           SELECT doc_id, text FROM documents
           WHERE doc_id >= 40 AND doc_id < 60),
    t1 AS (SELECT doc, {_SQL_TOKS} AS t FROM e1),
    s1 AS (SELECT doc, {_SQL_SHINGLES} AS s FROM t1),
    x1 AS (SELECT doc, len(s) AS n_sh, unnest(s) AS shingle FROM s1),
    k1 AS (SELECT * FROM x1
           QUALIFY count(*) OVER (PARTITION BY shingle)
                   <= {JACCARD_MAX_SHINGLE_FREQ}),
    p1 AS (SELECT a.doc AS doc_new, b.doc AS doc_match,
                  round(count(*)::DOUBLE /
                        (any_value(a.n_sh) + any_value(b.n_sh)
                         - count(*)), 6) AS j
           FROM k1 a JOIN k1 b
             ON a.shingle = b.shingle AND a.doc < b.doc
           GROUP BY 1, 2),
    drop1 AS (SELECT DISTINCT doc_match AS doc FROM p1 WHERE j >= 0.2),
    surv1 AS (SELECT doc FROM e1
              WHERE doc NOT IN (SELECT doc FROM drop1)),
    t2 AS (SELECT doc, {_SQL_TOKS} AS t FROM e2),
    s2 AS (SELECT doc, {_SQL_SHINGLES} AS s FROM t2),
    x2 AS (SELECT doc, len(s) AS n_sh, unnest(s) AS shingle,
                  1 AS is_delta FROM s2),
    xc AS (SELECT doc, n_sh, shingle, 0 AS is_delta FROM x1
           WHERE doc IN (SELECT doc FROM surv1)),
    cx AS (SELECT * FROM xc UNION ALL SELECT * FROM x2),
    k2 AS (SELECT * FROM cx
           QUALIFY count(*) OVER (PARTITION BY shingle)
                   <= {JACCARD_MAX_SHINGLE_FREQ}),
    p2 AS (SELECT d.doc AS doc_new, m.doc AS doc_match,
                  m.is_delta AS mdelta,
                  round(count(*)::DOUBLE /
                        (any_value(d.n_sh) + any_value(m.n_sh)
                         - count(*)), 6) AS j
           FROM k2 d JOIN k2 m ON d.shingle = m.shingle
           WHERE d.is_delta = 1
             AND (m.is_delta = 0 OR d.doc < m.doc)
           GROUP BY 1, 2, 3),
    drop2 AS (SELECT DISTINCT
                CASE WHEN mdelta = 1 THEN doc_match ELSE doc_new END
                  AS doc
              FROM p2 WHERE j >= 0.2),
    surv2 AS (SELECT doc FROM e2
              WHERE doc NOT IN (SELECT doc FROM drop2))
    SELECT doc, 1 AS replay_noop, 1 AS empty_epoch_advanced
    FROM (SELECT doc FROM surv1 UNION ALL SELECT doc FROM surv2)
    """


@query("llm_stream_near_dup", oracle=_SQL_NEARDUP_STREAM)
def llm_stream_near_dup(spark, sf_dir):
    """Streaming near-duplicate filtering (round 8 — the R10 delta
    dedup as an ALWAYS-ON stream, ``streaming/neardup.py``): a real
    2-epoch file-source stream folds each micro-batch through
    ``jaccard_delta_pairs`` against the STANDING index (a snapshot
    table banking each accepted doc's shingle set — the corpus side is
    a column read, never a re-featurization), keep-first policy (drop
    on a match to the index or to a smaller-id batchmate). Epoch 2
    carries 10 EXACT copies of epoch-1 docs (Jaccard 1.0 — all must
    drop against the index) plus 20 fresh docs. A FORCED REPLAY of the
    final epoch is a watermark-detected no-op (version pinned), and an
    ALL-DUPLICATE epoch still advances the watermark through a
    metadata-only commit (rows pinned, version +1) — the two
    exactly-once edges a restart loop exercises. Oracle: the full
    two-fold keep-first computation in SQL, value-exact on the
    surviving doc ids."""
    import os as _os
    import tempfile as _tf

    from ..sources.snapshots import SnapshotTable
    from ..streaming.neardup import StreamingNearDupFilter

    docs = _docs(spark, sf_dir)
    base = _tf.mkdtemp(prefix="spark_neardup_stream_")
    inbox = _os.path.join(base, "inbox")
    ckpt = _os.path.join(base, "ckpt")
    root = _os.path.join(base, "index")
    _os.makedirs(inbox)
    e1 = docs.filter(F.col("doc_id") < 40).select("doc_id", "text")
    e2 = (
        docs.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        .unionByName(
            docs.filter(
                (F.col("doc_id") >= 40) & (F.col("doc_id") < 60)
            ).select("doc_id", "text")
        )
    )
    f = StreamingNearDupFilter(
        spark,
        root,
        n=3,
        threshold=0.2,
        max_shingle_freq=JACCARD_MAX_SHINGLE_FREQ,
    )

    def _drain_once() -> None:
        q = (
            spark.readStream.schema(e1.schema)
            .parquet(inbox)
            .writeStream.foreachBatch(f.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    e1.coalesce(1).write.mode("append").parquet(inbox)
    _drain_once()
    e2.coalesce(1).write.mode("append").parquet(inbox)
    _drain_once()
    t = SnapshotTable(spark, root)
    v_before = t.current_version()
    rows_before = t.read().count()
    f.process_batch(e2, 1)  # forced replay of the final epoch
    replay_noop = int(t.current_version() == v_before)
    # an all-duplicate epoch: copies of already-accepted docs under
    # fresh ids — zero rows land, the watermark still advances
    dupes = t.read().select(
        (F.col("doc") + 5000000).alias("doc_id"), "text"
    ).limit(10)
    f.process_batch(dupes, 2)
    empty_epoch_advanced = int(
        t.current_version() == v_before + 1
        and t.read().count() == rows_before
        and int(t.txn_watermark(f.app_id)) == 2
    )
    return t.read().select(
        "doc",
        F.lit(replay_noop).alias("replay_noop"),
        F.lit(empty_epoch_advanced).alias("empty_epoch_advanced"),
    )


# -------- L10/Q7: ANN index SQL lifecycle + replayed refresh stream ----
@query(
    "llm_ann_sql_lifecycle",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_ids, 0 AS duplicate_ids,
           2 AS generations, 1 AS sql_equals_method, 1 AS replay_noop,
           1 AS gens_after_optimize
    FROM embeddings
    """,
)
def llm_ann_sql_lifecycle(spark, sf_dir):
    """ANN index maintenance through the SQL surface + exactly-once
    refresh under epoch replay (VERDICT-r8 directive #5). All three
    verbs run: ``CREATE ANN INDEX ON tbl (col) WITH (dim = ...)``
    builds and banks the index, ``REFRESH ANN INDEX`` encodes ONLY an
    appended batch (generation 1), ``OPTIMIZE ANN INDEX`` compacts the
    generations back to one. SQL ≡ method is proved on the
    DETERMINISTIC path: the SQL refresh's generation-1 codes must
    equal ``_encode_frame`` run directly over the appended rows
    through the BANKED quantizer — a fixed-quantizer encode involves
    zero training, so equality is exact, not
    aggregation-order-lucky. Exactly-once: a FORCED FULL REPLAY (the
    always-on ``ann_refresh_stream`` on a brand-new checkpoint
    redelivers every CDF epoch) must leave the code-generation list
    IDENTICAL and the deduped scan free of duplicate ids — the
    refresh is keyed on the banked ``covered_version`` cursor, so a
    redelivered epoch can advance metadata but never re-encode. At
    100 TB idempotence lives in the manifest cursor, not in
    re-reading data."""
    import json as _json
    import tempfile as _tf

    from ..llm.ann_index import _deduped_scan, ann_refresh_stream
    from ..llm.similarity import _encode_frame
    from ..sources.snapshots import SnapshotTable, load_manifest
    from ..sql_dml import snapshot_sql

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = e.filter(F.col("vec_id") % 4 != 0)
    fresh = e.filter(F.col("vec_id") % 4 == 0)
    ta = SnapshotTable(spark, _tf.mkdtemp(prefix="ann_sql_"))
    ta.commit_append(base)
    snapshot_sql(
        spark,
        f"CREATE ANN INDEX ON pysnapshot.`{ta.root}` (embedding) "
        "WITH (dim = 64, id_col = 'vec_id', n_lists = 16, m = 8, "
        "k_codes = 16, iters = 2)",
    )
    ta.commit_append(fresh)
    snapshot_sql(
        spark, f"REFRESH ANN INDEX ON pysnapshot.`{ta.root}`"
    )
    ann1 = load_manifest(ta.root, ta.current_version())["ann"]
    gens1 = len(ann1["codes"])
    with open(ann1["quantizer"]) as f:
        qz = _json.load(f)

    def _rows(df):
        return {
            (r["neighbor_id"], r["list_id"], tuple(r["codes"]))
            for r in df.collect()
        }

    got = _rows(spark.read.parquet(ann1["codes"][-1]))
    want = _rows(
        _encode_frame(fresh, qz["cents"], qz["pq"], "vec_id", "embedding")
    )
    sql_eq = int(got == want)
    # FORCED REPLAY: a brand-new checkpoint redelivers every CDF epoch;
    # each redelivery triggers a refresh that must find its cursor at
    # (or past) the head — codes list byte-unchanged, files unchanged
    ann_refresh_stream(
        ta, _tf.mkdtemp(prefix="ann_ck_"), available_now=True
    )
    m2 = load_manifest(ta.root, ta.current_version())
    replay_noop = int(list(m2["ann"]["codes"]) == list(ann1["codes"]))
    snapshot_sql(
        spark, f"OPTIMIZE ANN INDEX ON pysnapshot.`{ta.root}`"
    )
    ann3 = load_manifest(ta.root, ta.current_version())["ann"]
    counts = (
        _deduped_scan(spark, ann3)
        .agg(
            F.countDistinct("neighbor_id").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [
            (
                int(counts["n"]),
                int(counts["n"] - counts["d"]),
                gens1,
                sql_eq,
                replay_noop,
                len(ann3["codes"]),
            )
        ],
        "n_ids bigint, duplicate_ids int, generations int, "
        "sql_equals_method int, replay_noop int, "
        "gens_after_optimize int",
    )


@query(
    "llm_minhash_capped",
    oracle="""
    SELECT CAST(301 AS BIGINT) AS n_cluster_docs,
           CAST(300 AS BIGINT) AS n_cluster_pairs,
           CAST(1.0 AS DOUBLE) AS min_jaccard
    """,
)
def llm_minhash_capped(spark, sf_dir):
    """MinHash-LSH with the BAND-BUCKET CAP engaged (round 10 — the
    guard the sf10 probe motivated: uncapped, a low-diversity corpus
    grows band-bucket pair counts ~n², exponent 1.77 measured;
    BENCH_NOTES.md round-10 table). A 301-copy boilerplate cluster is
    injected into the corpus, so every band bucket it occupies exceeds
    ``max_band_bucket=16`` and emits HUB-STAR edges: exactly
    ``n-1 = 300`` pairs instead of C(301,2) = 45 150 — the O(k) bound
    — while every member still reaches the hub (301 distinct docs in
    the pair set: connectivity for downstream connected-components
    dedup is intact) and the exact-Jaccard verify step keeps precision
    exact (identical clones: every pair's jaccard is exactly 1.0).
    All three facts are corpus-independent constants, so DuckDB pins
    them without reproducing the LSH internals."""
    from ..llm.dedup import minhash_near_dup_pairs

    base = (
        "the quick brown fox jumps over the lazy dog "
        "again and again and again"
    )
    clones = spark.range(301).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(base).alias("text"),
    )
    corpus = _docs(spark, sf_dir).select("doc_id", "text").unionAll(
        clones
    )
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text", n=3, n_hashes=32, bands=16,
        threshold=0.2, max_band_bucket=16,
    )
    cl = pairs.filter(
        (F.col("doc_a") >= 10_000_000) & (F.col("doc_b") >= 10_000_000)
    )
    reached = (
        cl.select(
            F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_cluster_docs"))
    )
    facts = cl.agg(
        F.count(F.lit(1)).alias("n_cluster_pairs"),
        F.round(F.min("jaccard"), 6).cast("double").alias("min_jaccard"),
    )
    return reached.crossJoin(facts).select(
        "n_cluster_docs", "n_cluster_pairs", "min_jaccard"
    )
