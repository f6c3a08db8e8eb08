"""M5 — self-checks for the LSH-based LLM ops (no SQL oracle): minhash
candidates vs exact Jaccard, simhash exhaustiveness, ANN recall vs brute
force, multimodal decode determinism."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.catalog import load_table
from s3_glue_redshift_guide_spark.llm import (
    jaccard_pairs,
    lsh_topk,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
    topk_bruteforce,
)
from s3_glue_redshift_guide_spark.queries import REGISTRY

from .conftest import SF_SMOKE


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_minhash_is_subset_of_exact_with_recall(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = _pairs(jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2))
    lsh = _pairs(
        minhash_near_dup_pairs(docs, "doc_id", "text", n=3,
                               n_hashes=32, bands=16, threshold=0.2)
    )
    assert lsh <= exact  # precision 1.0 by construction (verify step)
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.3, (len(lsh), len(exact))


def test_simhash_pairs_are_exhaustive_within_hamming(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    got = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3, blocks=4)
    # exhaustiveness: brute-force all pairs' hamming distances
    from s3_glue_redshift_guide_spark.llm.dedup import simhash_signature

    sigs = docs.select(
        F.col("doc_id").alias("doc"), simhash_signature(F.col("text")).alias("sig")
    )
    a = sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sb"))
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("h"),
        )
        .filter(F.col("h") <= 3)
    )
    assert _pairs(got) == _pairs(brute)


def test_lsh_topk_recall_vs_bruteforce(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = topk_bruteforce(q, e, k=5).collect()
    approx = lsh_topk(q, e, dim=64, k=5, n_planes=16, bands=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, recall  # random-ish vectors; bands=8 of 2 bits


def test_multimodal_decode_deterministic_and_correct(spark):
    df = REGISTRY["llm_multimodal_features"].fn(spark, SF_SMOKE)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert len(rows) == 500
    # re-derive one row's features in plain Python (the mapInPandas contract)
    doc_id = 7
    raw = hashlib.sha256(str(doc_id).encode()).hexdigest().encode()
    digest = hashlib.sha256(raw).digest()
    r = rows[doc_id]
    assert r["byte_len"] == 64  # sha2 hex string -> 64 bytes
    assert r["width"] == 64 + digest[0] % 192
    assert r["height"] == 64 + digest[1] % 192
    assert r["uri"] == "mem://img/7" and r["mime"] == "image/png"


def test_exact_dedup_counts_all_docs_once(spark):
    df = REGISTRY["llm_exact_dedup"].fn(spark, SF_SMOKE)
    agg = df.agg(F.sum("n_copies").alias("total"),
                 F.count(F.lit(1)).alias("groups")).collect()[0]
    assert agg["total"] == 500 and agg["groups"] == 500


def test_connected_components_match_union_find(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.15)
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert edges, "need a non-trivial pair graph for this test"

    from s3_glue_redshift_guide_spark.llm import connected_components

    got = {
        r["vertex"]: r["component"]
        for r in connected_components(pairs).collect()
    }

    # reference union-find over the collected edges
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {v: find(v) for v in parent}
    # normalize: component id must be the min member on both sides
    from collections import defaultdict

    def canon(labels):
        groups = defaultdict(set)
        for v, c in labels.items():
            groups[c].add(v)
        return {frozenset(g | {c}) if c not in g else frozenset(g)
                for c, g in groups.items()}

    assert canon(got) == canon(want)


def test_ivf_topk_recall_vs_bruteforce(spark):
    from s3_glue_redshift_guide_spark.llm import ivf_topk

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in topk_bruteforce(q, e, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_topk(q, e, k=5, n_lists=16, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall  # near-random vectors; 4/16 lists probed


def test_stratified_sample_proportions_and_determinism(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    fractions = {"en": 0.5, "es": 0.8, "fr": 0.8, "de": 1.0, "zh": 1.0}
    s1 = d.sampleBy("lang", fractions, seed=42)
    s2 = d.sampleBy("lang", fractions, seed=42)
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in s2.collect())
    assert ids1 == ids2  # seeded => reproducible
    totals = {r["lang"]: r["n"] for r in
              d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in
           s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # de/zh kept wholesale; en sampled at ~50% (loose bounds, seed fixed)
    assert got["de"] == totals["de"] and got["zh"] == totals["zh"]
    assert 0.3 * totals["en"] < got["en"] < 0.7 * totals["en"]
    # the registered derived-fact query reports every stratum in bounds
    rows = REGISTRY["llm_stratified_sample"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 5 and all(r["in_bounds"] == 1 for r in rows)


def test_train_val_split_stable_and_proportional(spark):
    """Split assignment is a pure function of doc_id: re-running gives the
    same buckets, proportions land near 90/5/5, and adding documents never
    reassigns existing ones (hash-bucket splits are growth-stable)."""
    q = REGISTRY["llm_train_val_split"].fn
    a = {(r["source"], r["split"]): r["n_docs"] for r in q(spark, SF_SMOKE).collect()}
    b = {(r["source"], r["split"]): r["n_docs"] for r in q(spark, SF_SMOKE).collect()}
    assert a == b
    total = sum(a.values())
    train = sum(v for (s, sp), v in a.items() if sp == "train")
    assert 0.85 <= train / total <= 0.95


def test_global_shuffle_is_permutation_prefix(spark):
    """The shuffle head is 100 distinct docs with positions 1..100, and the
    order differs from doc_id order (it actually shuffles)."""
    rows = REGISTRY["llm_global_shuffle"].fn(spark, SF_SMOKE).collect()
    assert [r["shuffle_pos"] for r in rows] == list(range(1, 101))
    ids = [r["doc_id"] for r in rows]
    assert len(set(ids)) == 100
    assert ids != sorted(ids)


def test_text_stats_arrow_equals_expression_path(spark):
    """The Arrow featurizer behind llm_text_stats is element-identical to
    the expression-tree formulation (tokens + fingerprint HOFs) — same
    tokens, same rounding, same hash, every row."""
    from s3_glue_redshift_guide_spark.functions.text import (
        fingerprint,
        text_stats_arrow,
        tokens,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    toks = tokens(F.col("text"))
    expr = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
        fingerprint(F.col("text"), 64).alias("fingerprint"),
    )
    arrow = text_stats_arrow(d)
    assert arrow.exceptAll(expr).count() == 0
    assert expr.exceptAll(arrow).count() == 0
    assert arrow.count() == d.count()


def test_semantic_dedup_precision_one_and_high_recall(spark):
    """Cluster-scoped embedding dedup: every emitted pair must truly clear
    the threshold (precision 1 — exact re-scoring), and probing 3 lists
    recovers nearly all exact pairs (0.97 at smoke, 1.0 at the gate SF)."""
    from s3_glue_redshift_guide_spark.functions.vectors import cosine
    from s3_glue_redshift_guide_spark.llm.similarity import semantic_dedup_pairs

    e = load_table(spark, SF_SMOKE, "embeddings")
    found = semantic_dedup_pairs(e, threshold=0.4, n_lists=8, n_probe=3)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = (
        F.broadcast(a).crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cs"))
        .filter(F.col("cs") >= 0.4)
        .select("id_a", "id_b")
    )
    n_exact = exact.count()
    n_found = found.count()
    n_hits = found.select("id_a", "id_b").join(
        exact, ["id_a", "id_b"], "left_semi"
    ).count()
    assert n_exact > 0
    assert n_hits == n_found  # precision 1: no emitted pair below threshold
    assert n_hits >= 0.9 * n_exact


def test_fuzzy_pairs_dist1_matches_bruteforce_on_random_strings(spark):
    """Exact-recall claim hardened beyond the name-shaped gate data: on a
    seeded random corpus (short strings over a 3-letter alphabet, empty
    strings included, heavy collision structure) the deletion-neighborhood
    join must return EXACTLY the brute-force levenshtein<=1 pair set."""
    import random

    from s3_glue_redshift_guide_spark.llm.dedup import fuzzy_pairs_dist1

    rng = random.Random(11)
    strings = [
        "".join(rng.choice("abc") for _ in range(rng.randint(0, 5)))
        for _ in range(120)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "id bigint, s string"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_pairs_dist1(df, "id", "s").collect()
    )

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = sorted(
        (i, j, lev(strings[i], strings[j]))
        for i in range(len(strings))
        for j in range(i + 1, len(strings))
        if lev(strings[i], strings[j]) <= 1
    )
    assert want  # the corpus genuinely contains near-pairs
    assert got == want


def test_fuzzy_pairs_dist2_matches_bruteforce_on_random_strings(spark):
    """SymSpell delete-distance-2 generalization: on a seeded random corpus
    (short strings, empty strings included — exercising the L=0/1 guards in
    the nested 2-deletion generator) the neighborhood join must return
    EXACTLY the brute-force levenshtein<=2 pair set: recall 1 by the
    deletion-cover argument, precision 1 from the verify filter."""
    import random

    from s3_glue_redshift_guide_spark.llm.dedup import fuzzy_pairs

    rng = random.Random(7)
    strings = [
        "".join(rng.choice("abc") for _ in range(rng.randint(0, 6)))
        for _ in range(90)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "id bigint, s string"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_pairs(df, "id", "s", max_dist=2).collect()
    )

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = sorted(
        (i, j, lev(strings[i], strings[j]))
        for i in range(len(strings))
        for j in range(i + 1, len(strings))
        if lev(strings[i], strings[j]) <= 2
    )
    assert want
    assert got == want


def test_ivf_assignment_plan_size_constant_in_k(spark):
    """The IVF quantizer must not embed centroids as plan literals: the
    compiled-plan TEXT for a k=256 assignment must be no bigger than for
    k=8 (centroids ride a broadcast data column), and the k=256 assignment
    must compile and run in bounded time — the regression this guards is
    ~k*dim literal nodes making plan compile time explode at realistic k."""
    import time

    from s3_glue_redshift_guide_spark.llm.similarity import _nearest_lists

    dim = 8
    corpus = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            # +i keeps every vector nonzero (cosine needs a nonzero norm)
            lambda i: (((F.col("id") * i + i) % 97).cast("double") + 1.0),
        ).alias("embedding"),
    )

    def plan_len(k):
        cents = [[float((i * j + 1) % 13) for j in range(dim)] for i in range(k)]
        df = _nearest_lists(
            corpus, cents, "embedding", ("vec_id", "id"), "v", 2
        )
        return df, len(df._jdf.queryExecution().executedPlan().toString())

    t0 = time.time()
    small_df, small_len = plan_len(8)
    big_df, big_len = plan_len(256)
    assert time.time() - t0 < 60, "k=256 assignment failed to compile in time"
    assert big_len <= small_len * 1.5, (small_len, big_len)
    # and the big-k assignment actually executes: 2 lists per vector
    assert big_df.count() == 600


def test_pq_topk_recall_and_code_compression(spark):
    from s3_glue_redshift_guide_spark.llm.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in topk_bruteforce(q, e, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in pq_topk(q, e, dim=64, n_candidates=60).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, recall  # exact re-rank of a 60-candidate pool

    # the compressed representation really is m small codes per vector
    cents = pq_codebooks(e, dim=64, m=8, k_codes=16, iters=1)
    assert len(cents) == 8 and len(cents[0]) == 16 and len(cents[0][0]) == 8
    codes = pq_encode(e, cents, "vec_id").collect()
    assert len(codes) == e.count()
    for r in codes[:20]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])


def test_ivfpq_topk_recall_vs_bruteforce(spark):
    from s3_glue_redshift_guide_spark.llm.similarity import ivfpq_topk

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in topk_bruteforce(q, e, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivfpq_topk(q, e, dim=64).collect()}
    recall = len(exact & approx) / len(exact)
    # IVF bounds which rows are touched; the exact re-rank of the ADC
    # pool keeps recall near the IVF ceiling
    assert recall >= 0.3, recall


def test_sample_frames_fanout_and_hashes(spark):
    import hashlib

    from s3_glue_redshift_guide_spark.llm.multimodal import (
        attach_fake_media,
        sample_frames,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    out = sample_frames(attach_fake_media(docs), n_frames=4).collect()
    assert len(out) == 40  # exact 1->4 fan-out, one row per frame
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, rows in by_doc.items():
        rows.sort(key=lambda r: r["frame_idx"])
        video = hashlib.sha256(str(did).encode()).hexdigest().encode()
        assert [r["frame_offset"] for r in rows] == [0, 16, 32, 48]
        for r in rows:
            frame = video[r["frame_offset"]:r["frame_offset"] + 16]
            assert r["frame_sha"] == hashlib.sha256(frame).hexdigest()
