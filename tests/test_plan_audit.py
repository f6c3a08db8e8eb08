"""The plan advisor must flag the classic scale anti-patterns and give a
clean bill to the engine's own headline plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.catalog import load_table
from s3_glue_redshift_guide_spark.plans import audit_plan
from s3_glue_redshift_guide_spark.queries import REGISTRY

from .conftest import SF_SMOKE


def _codes(warnings):
    return {w.code for w in warnings}


def test_flags_cartesian_join(spark):
    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "region")
    bad = a.join(b, a["n_nationkey"] > b["r_regionkey"])  # theta, no equi-key
    assert "cartesian" in _codes(audit_plan(bad))


def test_flags_row_python_udf(spark):
    from pyspark.sql.types import StringType

    shout = F.udf(lambda s: s.upper(), StringType())
    df = load_table(spark, SF_SMOKE, "nation").select(shout("n_name"))
    assert "python-row-udf" in _codes(audit_plan(df))


def test_flags_unpushed_filter(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    # wrapping the column in a non-pushable expression blocks pushdown
    df = li.filter(F.sha2(F.col("l_returnflag"), 256).startswith("a"))
    assert "unpushed-filter" in _codes(audit_plan(df))


def test_flags_mid_pipeline_global_sort(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    # (a sort feeding an aggregate is eliminated by Catalyst outright —
    # also the right call; this one survives because it orders the output)
    df = li.orderBy("l_extendedprice").withColumn(
        "rank_hint", F.monotonically_increasing_id()
    )
    assert "global-sort" in _codes(audit_plan(df))


# Queries allowed to trip a high-severity rule, each deliberately bounded
# and documented (PLANS.md "Known deliberate non-scale paths"):
#   join_theta / join_cross       — theta/cross demos over constant-size dims
#   llm_topk_similarity           — broadcast(query set) x corpus baseline;
#                                   the full-corpus paths are LSH/IVF
#   llm_embedding_near_dup        — exact pairwise on a bounded slice
#   llm_lsh_topk / llm_ivf_topk   — the flag is the recall HARNESS's exact
#                                   side (same bounded broadcast x corpus as
#                                   llm_topk_similarity; query side is a
#                                   10-id filter Catalyst can't bound); the
#                                   LSH/IVF operator plans themselves are
#                                   bucket joins, asserted payload-clean in
#                                   test_plans.py
#   llm_semantic_dedup            — same: the exact-pair count in the facts
#                                   harness is a deliberate brute force the
#                                   operator itself avoids
#   llm_pq_topk                   — the recall harness's exact side (as
#                                   above). The PQ operator's own ADC pass
#                                   is no longer a cross join: one kernel
#                                   pass scores each code row against the
#                                   broadcast query tables in-task (a
#                                   compressed-domain linear scan, the
#                                   FAISS IndexPQ design point), so the
#                                   operator plan holds no cartesian node
ALLOWED_HIGH = {
    "join_theta",
    "join_cross",
    "llm_topk_similarity",
    "llm_embedding_near_dup",
    "llm_lsh_topk",
    "llm_ivf_topk",
    "llm_semantic_dedup",
    "llm_pq_topk",
    # llm_ivfpq_topk — ONLY the recall harness's exact side; the IVFPQ
    # operator plan itself is cartesian-free (asserted in test_plans.py)
    "llm_ivfpq_topk",
}


def test_every_registry_query_plans_clean_of_high_severity(spark):
    """The full registry sweep: no query may compile to a genuinely
    cartesian plan (scalar broadcasts are downgraded by the audit itself)
    unless it is on the documented bounded-demo allowlist. This is the
    mechanized version of '.explain and iterate' applied to ALL operators,
    so a new query can't silently regress to an O(|L|x|R|) plan."""
    offenders = {}
    for name, q in REGISTRY.items():
        if name in ALLOWED_HIGH:
            continue
        highs = [
            w for w in audit_plan(q.fn(spark, SF_SMOKE)) if w.severity == "high"
        ]
        if highs:
            offenders[name] = [w.code for w in highs]
    assert not offenders, offenders


def test_headline_queries_audit_clean_of_high_severity(spark):
    # the engine's own flagship plans must never trip a high-severity rule
    for name in (
        "q1_pricing_summary",
        "q5_regional_revenue",
        "join_range_events",
        "join_asof_events",
        "llm_exact_dedup",
        "ts_gap_fill",
        "dq_profile",
    ):
        warnings = audit_plan(REGISTRY[name].fn(spark, SF_SMOKE))
        highs = [w for w in warnings if w.severity == "high"]
        assert not highs, f"{name}: {highs}"
