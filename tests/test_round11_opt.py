"""Round-11 optimization regressions: the near-dup operators' new
internals (window-count hot-shingle cap; single-evaluation minhash
verify) must keep their plan shape AND their exact values.

Values are pinned against the pre-optimization reference shapes
(groupBy+join cap; condition-pushed verify) built inline here, so a
future refactor cannot silently drift either path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.catalog import load_table
from s3_glue_redshift_guide_spark.llm.dedup import (
    _doc_shingle_sets,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_near_dup_pairs,
)

SF = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark):
    return load_table(spark, SF, "documents")


def test_jaccard_cap_matches_groupby_join_reference(spark):
    docs = _docs(spark)
    sets = _doc_shingle_sets(docs, "doc_id", "text", 3)
    got = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2,
        max_shingle_freq=5, shingle_sets=sets,
    )
    # pre-r11 reference: df via groupBy + join-back
    ex = sets.select(
        "doc", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    )
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    kept = ex.join(freq.filter(F.col("df") <= 5), "shingle")
    a = kept.select(
        "shingle", F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    b = kept.select(
        "shingle", F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    ref = inter.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= 0.2)
    assert _rows(got) == _rows(ref)


def test_jaccard_cap_plans_as_window_not_freq_join(spark):
    docs = _docs(spark)
    q = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_shingle_freq=5
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the capped postings frame is served from the materialization
    # barrier (the window-count cap runs once, below it) ...
    assert "ExistingRDD" in plan
    # ... and the former groupBy(shingle) + join-back is gone: the ONLY
    # physical join left is the a/b pair self-join (pre-r11 the plan
    # carried two extra freq joins, one per self-join side)
    import re

    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
    )
    assert len(joins) == 1, plan


def test_minhash_verify_threshold_not_in_join_condition(spark):
    """The jaccard threshold must evaluate AFTER the verify barrier —
    pushed into the join condition it re-evaluates array_intersect per
    candidate pair (the pre-r11 dominant cost)."""
    docs = _docs(spark)
    plan = minhash_near_dup_pairs(
        docs, "doc_id", "text", n=3, n_hashes=32, bands=16, threshold=0.2
    )._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Join condition" in line:
            assert "array_intersect" not in line, line


def test_minhash_verify_values_match_condition_pushed_reference(spark):
    docs = _docs(spark)
    sets = _doc_shingle_sets(docs, "doc_id", "text", 3)
    for cap in (None, 64):
        got = minhash_near_dup_pairs(
            docs, "doc_id", "text", n=3, n_hashes=32, bands=16,
            threshold=0.2, shingle_sets=sets, max_band_bucket=cap,
        )
        cands = minhash_lsh_candidates(
            docs, "doc_id", "text", 3, 32, 16,
            shingle_sets=sets, max_band_bucket=cap,
        )
        a = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
        b = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
        joined = cands.join(a, "doc_a").join(b, "doc_b")
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
        ref = joined.select(
            "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
        ).filter(F.col("jaccard") >= 0.2)
        assert _rows(got) == _rows(ref)


# ---------------------- similarity norm hoisting (r11) ----------------------


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def test_topk_bruteforce_matches_per_pair_cosine_reference(spark):
    """Hoisted-norm scoring must stay bit-identical to the pre-r11 shape
    (cosine() evaluated wholly per pair) — same sequential folds, same
    order, so exact equality is the contract, not approximate."""
    from s3_glue_redshift_guide_spark.functions.vectors import cosine
    from s3_glue_redshift_guide_spark.llm.similarity import topk_bruteforce
    from pyspark.sql import Window as W

    e = _emb(spark)
    got = topk_bruteforce(e.filter(F.col("vec_id") < 10), e, k=5)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    ref = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
    assert _rows(got) == _rows(ref)


def test_topk_bruteforce_pair_projection_folds_once(spark):
    """The join-output projection must carry exactly ONE aggregate() fold
    (the dot product) — the two norm folds live in the side projections
    below the join (r11 hoisting). Three folds per pair is the regression."""
    from s3_glue_redshift_guide_spark.llm.similarity import topk_bruteforce

    e = _emb(spark)
    plan = topk_bruteforce(
        e.filter(F.col("vec_id") < 10), e, k=5
    )._jdf.queryExecution().executedPlan().toString()
    pair_lines = [
        ln for ln in plan.splitlines() if "cos_sim" in ln and "aggregate(" in ln
    ]
    assert pair_lines, plan
    for ln in pair_lines:
        assert ln.count("aggregate(") == 1, ln
        assert "__qn" in ln and "__cn" in ln, ln


def test_lsh_topk_matches_per_pair_cosine_reference(spark):
    """lsh_topk's banded-norm scoring vs an inline reference that scores
    candidates with the whole-expression cosine (pre-r11 shape)."""
    from s3_glue_redshift_guide_spark.llm.similarity import lsh_topk

    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 10)
    got = lsh_topk(q, e, dim=64, k=5, n_planes=16, bands=8)
    ref = _lsh_topk_reference(q, e, dim=64, k=5, n_planes=16, bands=8)
    assert _rows(got) == _rows(ref)


def _lsh_topk_reference(queries, corpus, dim, k, n_planes, bands):
    """Pre-r11 lsh_topk: identical banding, per-pair cosine()."""
    from pyspark.sql import Window as W

    from s3_glue_redshift_guide_spark.functions.vectors import cosine
    from s3_glue_redshift_guide_spark.llm.dedup import (
        _materialize,
        _spread,
    )
    from s3_glue_redshift_guide_spark.llm.similarity import (
        _signature,
        hyperplanes,
    )

    planes = hyperplanes(dim, n_planes)
    width = n_planes // bands
    mask = (1 << width) - 1

    def banded(df, id_alias):
        sig = _signature(F.col("embedding"), planes)
        return _materialize(
            df.select(F.col("*"), sig.alias("__sig"))
        ).select(
            F.col(id_alias[0]).alias(id_alias[1]),
            F.col("embedding").alias(id_alias[2]),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright("__sig", i * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("key"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(id_alias[1], id_alias[2], "bk.band", "bk.key")

    qb = banded(queries, ("vec_id", "query_id", "qv"))
    cb = banded(_spread(corpus), ("vec_id", "neighbor_id", "cv"))
    scored = (
        qb.join(cb, ["band", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
