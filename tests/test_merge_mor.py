"""``SnapshotTable.merge_mor`` against a pandas reference, plus the
single-scan execution contract: nondeterministic clause conditions are
evaluated once, and a steady-state merge runs a pinned number of Spark
jobs."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

SCHEMA = "k long, v long, s string"
TARGET = [(k, 10 * k, f"t{k}") for k in range(1, 13)] + [(None, -1, "tn")]
SOURCE = [(k, 100 + k, f"s{k}") for k in range(7, 19)] + [
    (None, -2, "sn"),
    (None, -3, "sn2"),
]


def _pdf(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["k", "v", "s"]).astype(
        {"k": "Int64", "v": "Int64"}
    )


def _sdf(spark, rows):
    # built from pandas: a local relation with size statistics, so the
    # planner broadcasts the source exactly as it does a file-backed one
    return spark.createDataFrame(_pdf(rows), SCHEMA)


def _rows(df) -> list[tuple]:
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: tuple((x is None, x) for x in r),
    )


def _frame_rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    out = [
        tuple(None if pd.isna(x) else x for x in rec)
        for rec in pdf[cols].astype(object).itertuples(index=False)
    ]
    return sorted(out, key=lambda r: tuple((x is None, x) for x in r))


def reference_merge(
    tgt: pd.DataFrame,
    src: pd.DataFrame,
    on: list[str],
    delete=None,
    update: dict | None = None,
    update_cond=None,
    insert=True,
    nmbs=None,
) -> pd.DataFrame:
    """Delta MERGE semantics in pandas. Clause callables take the
    matched frame (target columns + ``__src_<col>`` source columns), or
    the source frame (insert) or target frame (NOT MATCHED BY SOURCE),
    and return a boolean Series."""
    t = tgt.reset_index(drop=True).rename_axis("__tid").reset_index()
    s = src.add_prefix("__src_")
    skeys = [f"__src_{k}" for k in on]
    # `=` matching: NULL keys never match (pandas would pair NaN keys)
    j = t.dropna(subset=on).merge(
        s.dropna(subset=skeys), left_on=on, right_on=skeys, how="inner"
    )
    if (delete is not None or update is not None) and j[
        "__tid"
    ].duplicated().any():
        raise ValueError("multiple source rows match a single target row")
    j = j.drop_duplicates("__tid")
    dele = delete(j) if delete is not None else pd.Series(False, j.index)
    upd = ~dele & (
        update_cond(j) if update_cond is not None
        else pd.Series(update is not None, j.index)
    )
    post = j[upd].copy()
    for c, fn in (update or {}).items():
        post[c] = fn(post)
    gone = set(j.loc[dele | upd, "__tid"])
    unmatched_t = t[~t["__tid"].isin(j["__tid"])]
    if nmbs is not None:
        gone |= set(unmatched_t.loc[nmbs(unmatched_t), "__tid"])
    kept = t[~t["__tid"].isin(gone)]
    hit = s.merge(
        t.dropna(subset=on)[on].drop_duplicates(),
        left_on=skeys, right_on=on, how="left", indicator=True,
    )
    new = hit[hit["_merge"] == "left_only"]
    if insert is not True:
        new = new[insert(new)]
    ins = pd.DataFrame(
        {c: new[f"__src_{c}"] for c in src.columns}
    ).reindex(columns=tgt.columns)
    return pd.concat(
        [kept[tgt.columns], post[tgt.columns], ins], ignore_index=True
    )


#: case -> (merge_mor kwargs, built lazily: Columns need a live
#: session; reference_merge kwargs)
CASES = {
    "update_insert": (
        lambda: dict(when_matched_update={"v": F.col("__src_v"), "s": F.col("__src_s")}),
        dict(update={"v": lambda j: j["__src_v"], "s": lambda j: j["__src_s"]}),
    ),
    "cond_delete_update": (
        lambda: dict(
            when_matched_delete=F.col("__src_v") % 2 == 0,
            when_matched_update={"v": F.col("v") + F.col("__src_v")},
            insert_not_matched=False,
        ),
        dict(
            delete=lambda j: j["__src_v"] % 2 == 0,
            update={"v": lambda j: j["v"] + j["__src_v"]},
            insert=lambda s: pd.Series(False, s.index),
        ),
    ),
    "cond_update_cond_insert": (
        lambda: dict(
            when_matched_update={"s": F.col("__src_s")},
            when_matched_update_condition=F.col("v") > 90,
            insert_not_matched=F.col("__src_v") > 115,
        ),
        dict(
            update={"s": lambda j: j["__src_s"]},
            update_cond=lambda j: j["v"] > 90,
            insert=lambda s: s["__src_v"] > 115,
        ),
    ),
    "insert_only_conditional": (
        lambda: dict(insert_not_matched=F.col("__src_v") % 3 == 0),
        dict(insert=lambda s: s["__src_v"] % 3 == 0),
    ),
    "nmbs_plain": (
        lambda: dict(
            when_matched_update={"v": F.col("__src_v")},
            when_not_matched_by_source_delete=True,
        ),
        dict(
            update={"v": lambda j: j["__src_v"]},
            nmbs=lambda t: pd.Series(True, t.index),
        ),
    ),
    "nmbs_conditional": (
        lambda: dict(
            when_matched_delete=F.lit(True),
            insert_not_matched=False,
            when_not_matched_by_source_delete=F.col("v") < 40,
        ),
        dict(
            delete=lambda j: pd.Series(True, j.index),
            insert=lambda s: pd.Series(False, s.index),
            nmbs=lambda t: t["v"] < 40,
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_merge_mor_matches_pandas_reference(spark, tmp_path, case):
    spark_kw, ref_kw = CASES[case]
    t = SnapshotTable(spark, str(tmp_path / case))
    t.commit_append(_sdf(spark, TARGET).coalesce(2))
    src = _sdf(spark, SOURCE)
    t.merge_mor(src, on=["k"], **spark_kw())
    want = reference_merge(
        _pdf(TARGET),
        _pdf(SOURCE),
        ["k"],
        **ref_kw,
    )
    assert _rows(t.read().select("k", "v", "s")) == _frame_rows(
        want, ["k", "v", "s"]
    )


def test_merge_mor_duplicate_source_keys(spark, tmp_path):
    """Duplicate keys matching one target row raise with a matched
    clause; an insert-only merge ignores them, and not-matched
    duplicates all insert (both agree with the reference)."""
    t = SnapshotTable(spark, str(tmp_path / "dups"))
    t.commit_append(_sdf(spark, TARGET).coalesce(1))
    dup = SOURCE + [(8, 900, "dup8"), (30, 301, "n30"), (30, 302, "n30b")]
    src = _sdf(spark, dup)
    v0 = t.current_version()
    with pytest.raises(ValueError, match="multiple source rows match"):
        t.merge_mor(src, on=["k"], when_matched_update={"v": F.col("__src_v")})
    with pytest.raises(ValueError, match="multiple source rows"):
        reference_merge(
            _pdf(TARGET),
            _pdf(dup),
            ["k"],
            update={"v": lambda j: j["__src_v"]},
        )
    assert t.current_version() == v0  # nothing published
    t.merge_mor(src, on=["k"])
    want = reference_merge(_pdf(TARGET), _pdf(dup), ["k"])
    got = _rows(t.read().select("k", "v", "s"))
    assert got == _frame_rows(want, ["k", "v", "s"])
    assert sum(1 for r in got if r[0] == 30) == 2


def test_merge_mor_identity_generated_row_tracking(spark, tmp_path):
    """Engine-managed columns through the single-frame path: inserts
    draw fresh identity ids above the watermark, generated columns
    recompute on post-images and inserts, and post-images keep their
    permanent row ids while inserts get new ones."""
    t = SnapshotTable(spark, str(tmp_path / "managed"))
    t.add_generated_column("g", "v * 2")
    t.add_identity_column("rid", start=1000, step=5)
    t.commit_append(_sdf(spark, TARGET[:12]).coalesce(1))
    t.enable_row_tracking()
    before = {
        r["k"]: (r["rid"], r["_row_id"])
        for r in t.read_with_row_ids().collect()
    }
    src = _sdf(spark, SOURCE[:12])
    t.merge_mor(
        src, on=["k"],
        when_matched_update={"v": F.col("__src_v"), "s": F.col("__src_s")},
    )
    after = {r["k"]: r for r in t.read_with_row_ids().collect()}
    want = reference_merge(
        _pdf(TARGET[:12]),
        _pdf(SOURCE[:12]),
        ["k"],
        update={"v": lambda j: j["__src_v"], "s": lambda j: j["__src_s"]},
    )
    assert sorted(
        (r["k"], r["v"], r["s"]) for r in after.values()
    ) == _frame_rows(want, ["k", "v", "s"])
    assert all(r["g"] == 2 * r["v"] for r in after.values())
    for k, (rid, row_id) in before.items():
        # rewrite paths carry identity values and row ids untouched
        assert after[k]["rid"] == rid and after[k]["_row_id"] == row_id
    fresh = [after[k] for k in after if k not in before]
    assert len(fresh) == 6
    ids = [r["rid"] for r in fresh]
    assert len(set(ids)) == len(ids)
    assert all(i % 5 == 0 for i in ids)
    assert min(ids) > max(rid for rid, _row_id in before.values())
    old_row_ids = {row_id for _rid, row_id in before.values()}
    new_row_ids = {r["_row_id"] for r in fresh}
    assert None not in new_row_ids and len(new_row_ids) == 6
    assert not new_row_ids & old_row_ids


def test_merge_mor_nondeterministic_delete_evaluated_once(spark, tmp_path):
    """A rand()-driven delete clause is evaluated once per matched row:
    every matched target row ends deleted XOR updated, the row count
    balances, and the change feed agrees with the table."""
    t = SnapshotTable(spark, str(tmp_path / "rand"))
    t.commit_append(
        spark.range(200).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        )
    )
    v0 = t.current_version()
    src = spark.range(100, 260).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    t.merge_mor(
        src, on=["k"],
        when_matched_delete=F.rand(7) < 0.5,
        when_matched_update={"v": F.col("__src_v")},
    )
    rows = t.read().collect()
    got = {r["k"]: r["v"] for r in rows}
    assert len(got) == len(rows)  # no key appears twice
    matched = range(100, 200)
    deleted = [k for k in matched if k not in got]
    updated = [k for k in matched if got.get(k) == 1]
    # deleted XOR updated: never both (a post-image of a deleted row)
    # and never neither (a matched row left at its old value)
    assert len(deleted) + len(updated) == len(matched)
    assert 0 < len(deleted) < len(matched)
    assert all(got[k] == 0 for k in range(100))
    assert all(got[k] == 1 for k in range(200, 260))
    assert len(got) == 200 - len(deleted) + 60
    ch = t.read_changes(v0, t.current_version()).collect()
    dels = {r["k"] for r in ch if r["_change_type"] == "delete"}
    ins = {r["k"]: r["v"] for r in ch if r["_change_type"] == "insert"}
    assert dels == set(matched)
    assert set(ins) == set(updated) | set(range(200, 260))
    assert all(v == 1 for v in ins.values())


def test_merge_mor_steady_state_job_count(spark, tmp_path):
    """One steady-state update+insert merge (the table already carries
    a deletion vector from an earlier merge) runs a pinned number of
    Spark jobs: the masked target read's schema job, the broadcasts
    (source keys, deletion vectors, matched rows), ONE checkpoint, the
    driver aggregate's stages, and one write each for the sidecar, the
    post-images and the inserts. A regression that re-scans the target
    or adds an emptiness probe moves this number."""
    t = SnapshotTable(spark, str(tmp_path / "jobs"))
    t.commit_append(
        spark.range(2000).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        ).repartition(2)
    )
    update = {"v": F.col("__src_v")}

    def src(lo):
        return spark.range(lo, lo + 300).select(
            F.col("id").alias("k"), F.lit(lo).cast("long").alias("v")
        )

    t.merge_mor(src(1800), on=["k"], when_matched_update=update)
    sc = spark.sparkContext
    group = f"merge-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "steady-state merge_mor")
    try:
        t.merge_mor(src(1900), on=["k"], when_matched_update=update)
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 12, n_jobs


def test_merge_mor_null_key_duplicates_never_raise(spark, tmp_path):
    """Pin the null-key duplicate-source behavior on BOTH merge paths.
    NULL join keys never `=`-match a target row (Delta's matching), so
    they can never be ambiguous — a matched-clause merge
    must not raise for them; and an insert-only merge must never raise
    at all (matched rows are ignored whatever their multiplicity)."""
    tgt = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    )
    # matched-clause path: two NULL-key source rows + one real update
    t1 = SnapshotTable(spark, str(tmp_path / "nullkey_matched"))
    t1.commit_append(tgt.coalesce(1))
    src = spark.createDataFrame(
        [(None, 91), (None, 92), (2, 200)], "k long, v long"
    )
    t1.merge_mor(src, on=["k"], when_matched_update={"v": F.col("__src_v")})
    rows = {r["k"]: r["v"] for r in t1.read().filter("k is not null").collect()}
    assert rows == {1: 10, 2: 200, 3: 30}
    # the null-key rows are not-matched: they insert (Delta `=` join)
    assert t1.read().filter("k is null").count() == 2

    # insert-only path: duplicate keys MATCHING a target row are
    # ignored (no raise — Delta), not-matched duplicates both insert
    t2 = SnapshotTable(spark, str(tmp_path / "nullkey_insert_only"))
    t2.commit_append(tgt.coalesce(1))
    src2 = spark.createDataFrame(
        [(2, 201), (2, 202), (9, 90), (9, 91), (None, 1)],
        "k long, v long",
    )
    t2.merge_mor(src2, on=["k"])  # insert-only: must not raise
    out = t2.read()
    assert out.filter("k = 2").collect()[0]["v"] == 20  # untouched
    assert out.filter("k = 9").count() == 2  # both inserted
    assert out.filter("k is null").count() == 1
