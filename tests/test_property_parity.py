"""Property-style parity (SURVEY.md §5 plan d): randomized filter/aggregate
queries built from a small grammar, executed by both engines on the same
parquet — any divergence in predicate, null, or aggregation semantics
surfaces here rather than in a hand-picked case.

Determinism: hypothesis drives the query shapes; every generated query is
itself deterministic, and numeric outputs follow the engine-wide decimal
policy so comparisons are bit-exact.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.catalog import load_table

from .conftest import SF_SMOKE
from .parity import compare_frames

COMPARABLE = {
    "o_totalprice": st.floats(min_value=1000, max_value=500000).map(lambda x: round(x, 2)),
    "o_custkey": st.integers(min_value=0, max_value=160),
    "o_orderkey": st.integers(min_value=0, max_value=1600),
}
OPS = ["<", "<=", ">", ">=", "=", "!="]
STATUSES = ["O", "F", "P"]


@st.composite
def predicates(draw):
    clauses = []
    for _ in range(draw(st.integers(1, 3))):
        kind = draw(st.sampled_from(["num", "status", "in"]))
        if kind == "num":
            col = draw(st.sampled_from(sorted(COMPARABLE)))
            op = draw(st.sampled_from(OPS))
            val = draw(COMPARABLE[col])
            clauses.append(f"{col} {op} {val}")
        elif kind == "status":
            s = draw(st.sampled_from(STATUSES))
            neg = draw(st.booleans())
            clauses.append(f"o_orderstatus {'!=' if neg else '='} '{s}'")
        else:
            vals = draw(st.lists(st.sampled_from(STATUSES), min_size=1, max_size=3,
                                 unique=True))
            quoted = ", ".join(f"'{v}'" for v in vals)
            clauses.append(f"o_orderpriority IS NOT NULL AND o_orderstatus IN ({quoted})")
    conj = draw(st.sampled_from([" AND ", " OR "]))
    return conj.join(f"({c})" for c in clauses)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pred=predicates(), group=st.booleans())
def test_random_filters_match_duckdb(spark, duck, pred, group):
    orders = load_table(spark, SF_SMOKE, "orders")
    con = duck(SF_SMOKE)
    if group:
        sdf = (
            orders.filter(F.expr(pred))
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("double")
                .alias("total"),
            )
        )
        sql = f"""
            SELECT o_orderstatus,
                   count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
            FROM orders WHERE {pred} GROUP BY o_orderstatus
        """
    else:
        sdf = orders.filter(F.expr(pred)).select("o_orderkey", "o_orderstatus")
        sql = f"SELECT o_orderkey, o_orderstatus FROM orders WHERE {pred}"
    problems = compare_frames(sdf.toPandas(), con.sql(sql).df(), pred)
    assert not problems, problems


# --------------------------- snapshot change-feed algebra ----------------
@st.composite
def commit_scripts(draw):
    """A random commit history: an append and a deletion-vector delete,
    then steps that append a key slice, delete by predicate (surgical
    replace of every file, or a deletion vector), compact, or restore an
    earlier version (a restore past a DV delete shrinks the DV set)."""
    steps = [
        ("append", 0, draw(st.integers(20, 80))),
        ("dv_delete", draw(st.integers(2, 7)), 0),
    ]
    for _ in range(draw(st.integers(1, 3))):
        kind = draw(st.sampled_from(
            ["append", "delete", "rewrite", "dv_delete", "restore"]
        ))
        if kind == "append":
            lo = draw(st.integers(0, 200))
            steps.append(("append", lo, lo + draw(st.integers(10, 60))))
        elif kind in ("delete", "dv_delete"):
            steps.append((kind, draw(st.integers(2, 7)), 0))
        elif kind == "restore":
            steps.append(("restore", draw(st.integers(1, 3)), 0))
        else:
            steps.append(("rewrite", 0, 0))
    return steps


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(commit_scripts(), st.data())
def test_change_feed_reconstructs_any_version_pair(spark, script, data):
    """CDF algebra: for ANY two versions a < b of ANY commit history,
    read(a) + inserts(a,b) - deletes(a,b) == read(b) as multisets — the
    invariant that makes a downstream incremental consumer exact. The
    histories hold deletion-vector deletes and restores, so the DV legs
    run under the call's shared reader too."""
    import collections
    import tempfile

    from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="prop_cdf_"))
    for kind, x, y in script:
        if kind == "append":
            t.commit_append(
                o.filter(F.col("o_orderkey").between(x, y)).coalesce(1)
            )
        elif kind == "delete":
            files = t._load_manifest(t.current_version())
            t.commit_replace(
                files,
                t.read().filter(F.col("o_orderkey") % x != 0).coalesce(1),
            )
        elif kind == "dv_delete":
            t.delete_where(F.col("o_orderkey") % x == 1)
        elif kind == "restore":  # x versions back, never before v1
            t.restore(max(1, t.current_version() - x))
        else:
            t.commit_rewrite(t.read().coalesce(1))
    head = t.current_version()
    a = data.draw(st.integers(1, head))
    b = data.draw(st.integers(a, head))

    def bag(df):
        return collections.Counter(r["o_orderkey"] for r in df.collect())

    chg = t.read_changes(a, b)
    ins = bag(chg.filter(F.col("_change_type") == "insert"))
    dels = bag(chg.filter(F.col("_change_type") == "delete"))
    want = bag(t.read(b))
    got = bag(t.read(a)) + ins
    got.subtract(dels)
    assert +got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 500)),
        min_size=2,
        max_size=4,
    ),
    st.integers(0, 550),
    st.integers(0, 550),
)
def test_manifest_pruning_never_loses_rows(spark, ranges, a, b):
    """Zone-map safety: for ANY commit layout and ANY range predicate,
    pruned-read + residual filter == full-table filter, and every pruned
    file's banked range is genuinely disjoint from the predicate."""
    import tempfile

    from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

    lo, hi = min(a, b), max(a, b)
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="prop_zm_"))
    for x, y in ranges:
        x, y = min(x, y), max(x, y)
        t.commit_append(
            o.filter(F.col("o_orderkey").between(x, y)).coalesce(1),
            stats_cols=["o_orderkey"],
        )
    got = (
        t.read_where("o_orderkey", lo, hi)
        .filter(F.col("o_orderkey").between(lo, hi))
        .count()
    )
    want = (
        t.read().filter(F.col("o_orderkey").between(lo, hi)).count()
    )
    assert got == want
    kept, total = t.pruned_files("o_orderkey", lo, hi)
    stats = t._load_stats(t.current_version())
    for f in set(t._load_manifest(t.current_version())) - set(kept):
        mn, mx = stats[f]["o_orderkey"]
        assert mx < lo or mn > hi  # only provably-disjoint files skip
