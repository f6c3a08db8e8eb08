"""Snapshot table: version reads are frozen by their manifest, commits are
O(new files), and a rewrite never disturbs historical readers."""

from __future__ import annotations

import itertools
import tempfile

import pytest
from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.catalog import load_table
from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

from .conftest import SF_SMOKE
from .parity import canon_cell, digest


def test_time_travel_and_isolation_across_rewrite(spark):
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_t_"))
    assert t.current_version() == 0
    v1 = t.commit_append(o.filter(F.col("o_orderkey") < 100).repartition(2))
    v2 = t.commit_append(
        o.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 200))
        .repartition(2)
    )
    assert (v1, v2) == (1, 2)
    n1, n2 = t.read(1).count(), t.read(2).count()
    assert n1 < n2
    assert t.file_count(2) == 4

    # compaction rewrite: same rows, new layout
    t.commit_rewrite(t.read(2).coalesce(1))
    assert t.file_count(3) == 1
    assert t.read(3).count() == n2
    # historical reads unchanged after the rewrite
    assert t.read(1).count() == n1
    assert t.file_count(1) == 2
    # default read = latest
    assert t.read().count() == n2


def test_failed_writer_leaves_no_visible_commit(spark):
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey").limit(10)
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_f_"))
    t.commit_append(o)
    # simulate a crashed commit: data files written, manifest never
    # published — the table must still serve version 1 untouched
    t._write_files(o)
    assert t.current_version() == 1
    assert t.read().count() == 10


def test_surgical_replace_keeps_untouched_file_identity(spark):
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_r_"))
    for yr in (1995, 1996, 1997):
        t.commit_append(o.filter(F.col("yr") == yr).coalesce(1))
    before = set(t._load_manifest(3))
    assert len(before) == 3
    victim = sorted(before)[0]
    kept_rows_before = t.read().count()
    removed = spark.read.parquet(victim).count()
    t.commit_replace([victim], spark.read.parquet(victim).limit(0))
    after = set(t._load_manifest(t.current_version()))
    # two untouched files keep their byte identity; victim gone
    assert len(before & after) == 2 and victim not in after
    assert t.read().count() == kept_rows_before - removed
    # pre-delete version remains fully readable (audit trail)
    assert t.read(3).count() == kept_rows_before


def test_concurrent_commit_conflict_detected(spark):
    from s3_glue_redshift_guide_spark.sources.snapshots import (
        CommitConflict,
    )

    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey").limit(5)
    root = tempfile.mkdtemp(prefix="snap_c_")
    a, b = SnapshotTable(spark, root), SnapshotTable(spark, root)
    a.commit_append(o)
    # writer B computes its commit against v1, writer A lands v2 first
    files_b = b._write_files(o)
    a.commit_append(o)
    import pytest as _pt

    with _pt.raises(CommitConflict):
        # B still believes current==1 → tries v2, which now exists
        b._publish(b._load_manifest(1) + files_b, base_version=1)
    # the standard retry: re-read state, publish against the new head
    assert b.commit_append(o) == 3


def test_vacuum_reclaims_unreferenced_files_only(spark):
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_v_"))
    t.commit_append(o.filter(F.col("o_orderkey") < 100).repartition(2))
    t.commit_rewrite(t.read(1).coalesce(1))  # v2: compacted layout
    n = t.read(2).count()
    deleted = t.vacuum(retain_versions=1)
    assert len(deleted) == 2  # the two pre-compaction files
    # latest still fully readable; old version is out of retention
    assert t.read(2).count() == n
    import pytest as _pt

    from s3_glue_redshift_guide_spark.sources.snapshots import LogTruncated

    with _pt.raises(LogTruncated):
        t._load_manifest(1)


def test_merge_rewrites_only_affected_files(spark):
    """The MERGE composition (mirrors sink_snapshot_merge at smoke SF):
    only files whose key range intersects the log rewrite; the rest keep
    byte identity."""
    from s3_glue_redshift_guide_spark.operators.dataskip import (
        file_stats_index,
    )
    from s3_glue_redshift_guide_spark.sinks.upsert import apply_cdc

    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_m_"))
    for lo in range(0, 2000, 500):
        t.commit_append(
            o.filter((F.col("k") >= lo) & (F.col("k") < lo + 500)).coalesce(1)
        )
    before = set(t._load_manifest(t.current_version()))

    log = o.filter((F.col("k") >= 600) & (F.col("k") < 700)).select(
        "k", F.lit(1).alias("v"), F.lit("U").alias("op"),
        F.lit("UU").alias("status"),
    )
    index = file_stats_index(t.read(), ["k"])
    hit = (
        log.select("k")
        .join(
            F.broadcast(index.select("file", "min_k", "max_k")),
            (F.col("k") >= F.col("min_k")) & (F.col("k") <= F.col("max_k")),
        )
        .select("file")
        .distinct()
    )
    affected = [r["file"].removeprefix("file://") for r in hit.collect()]
    assert len(affected) == 1  # only the [500,1000) file

    base_rows = spark.read.parquet(*affected).select(
        "k", F.lit(0).alias("v"), F.lit("I").alias("op"), "status"
    )
    merged = apply_cdc(base_rows.unionByName(log), ["k"], "v").select(
        "k", "status"
    )
    t.commit_replace(affected, merged)
    after = set(t._load_manifest(t.current_version()))
    assert len(before & after) == 3  # three untouched files kept identity
    got = {
        r["k"]: r["status"]
        for r in t.read().filter(
            (F.col("k") >= 590) & (F.col("k") < 710)
        ).collect()
    }
    for k, st in got.items():
        assert st == ("UU" if 600 <= k < 700 else st)
    assert t.read().count() == o.filter(F.col("k") < 2000).count()


def test_additive_schema_evolution_across_commits(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_ev_"))
    t.commit_append(
        o.filter(F.col("o_orderkey") < 50).select("o_orderkey").coalesce(1)
    )
    # a later commit ADDS a column; older files surface it as NULL
    t.commit_append(
        o.filter((F.col("o_orderkey") >= 50) & (F.col("o_orderkey") < 100))
        .select("o_orderkey", "o_orderstatus")
        .coalesce(1)
    )
    cur = t.read()
    assert set(cur.columns) == {"o_orderkey", "o_orderstatus"}
    nulls = cur.filter(
        F.col("o_orderstatus").isNull() & (F.col("o_orderkey") < 50)
    ).count()
    assert nulls == cur.filter(F.col("o_orderkey") < 50).count() > 0
    # time travel to v1 shows the ORIGINAL schema
    assert t.read(1).columns == ["o_orderkey"]


def test_change_feed_reads_only_churned_files(spark):
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_cdf_"))
    t.commit_append(o.filter(F.col("o_orderkey") < 100).coalesce(1))
    t.commit_append(
        o.filter(F.col("o_orderkey").between(100, 199)).coalesce(1)
    )
    # append-only changes: all inserts, no deletes
    chg = t.read_changes(1, 2)
    assert chg.filter(F.col("_change_type") == "delete").count() == 0
    assert (
        chg.filter(F.col("_change_type") == "insert").count()
        == o.filter(F.col("o_orderkey").between(100, 199)).count()
    )
    # compaction rewrite: zero changes (each row's signed counts net
    # to zero)
    t.commit_rewrite(t.read(2).coalesce(1))
    assert t.read_changes(2, 3).count() == 0
    # update = delete/insert pair, and the untouched file is not scanned:
    # the scan's input files must exclude the file shared by both versions
    f3 = t._load_manifest(3)
    upd = t.read(3).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    t.commit_replace(f3, upd.coalesce(1))
    pair = t.read_changes(3, 4)
    n = t.read(3).count()
    assert pair.filter(F.col("_change_type") == "insert").count() == n
    assert pair.filter(F.col("_change_type") == "delete").count() == n


def test_change_feed_skips_shared_files_and_aligns_evolved_schema(spark):
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_cdfe_"))
    t.commit_append(o.filter(F.col("o_orderkey") < 100).coalesce(1))
    # additive evolution: the appended file carries an extra column
    t.commit_append(
        o.filter(F.col("o_orderkey").between(100, 149))
        .withColumn("flag", F.lit(1))
        .coalesce(1)
    )
    chg = t.read_changes(1, 2)
    # schema aligned to the to-version (includes the evolved column)
    assert "flag" in chg.columns
    rows = chg.collect()
    assert all(r["_change_type"] == "insert" for r in rows)
    assert all(r["flag"] == 1 for r in rows)
    # only the churned file is in the scan: the v1 file is shared by both
    # manifests and must not appear in the change-feed plan's input
    shared = set(t._load_manifest(1))
    scanned = {
        f.removeprefix("file:")
        for f in chg.inputFiles()
    }
    assert not (shared & scanned)


def test_manifest_stats_prune_and_carry_forward(spark):
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_ms_"))
    for yr in (1995, 1996, 1997):
        t.commit_append(
            o.filter(F.col("yr") == yr).coalesce(1),
            stats_cols=["o_orderkey", "yr"],
        )
    # manifest-only pruning: exactly the 1996 file survives a yr in
    # [1996,1996] predicate, with zero Spark jobs
    files, total = t.pruned_files("yr", 1996, 1996)
    assert total == 3 and len(files) == 1
    assert t.read_where("yr", 1996, 1996).count() == o.filter(
        F.col("yr") == 1996
    ).count()
    # surgical replace: carried-forward files keep their banked stats,
    # replacement files get fresh footer stats automatically
    survivors = spark.read.parquet(*files).filter(
        F.col("o_orderkey") % 2 == 0
    )
    t.commit_replace(files, survivors.coalesce(1))
    files2, total2 = t.pruned_files("yr", 1996, 1996)
    assert total2 == 3 and len(files2) == 1 and files2 != files
    # a column never tracked prunes nothing (conservative keep-all)
    allf, _ = t.pruned_files("no_such_col", 0, 1)
    assert len(allf) == 3
    # out-of-range predicate prunes everything; read stays empty+typed
    none_files, _ = t.pruned_files("yr", 2050, 2060)
    assert none_files == []
    assert t.read_where("yr", 2050, 2060).count() == 0


def test_changes_since_exactly_once_per_version(spark):
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_cs_"))
    assert t.changes_since(0) == (None, 0)  # empty table: no work
    t.commit_append(o.filter(F.col("o_orderkey") < 100).coalesce(1))
    df1, c1 = t.changes_since(0)
    n1 = df1.count()
    assert c1 == 1 and n1 == o.filter(F.col("o_orderkey") < 100).count()
    # caught up: nothing to do, cursor unchanged
    assert t.changes_since(c1) == (None, 1)
    # two commits between polls arrive as one combined batch
    t.commit_append(
        o.filter(F.col("o_orderkey").between(100, 149)).coalesce(1)
    )
    t.commit_append(
        o.filter(F.col("o_orderkey").between(150, 199)).coalesce(1)
    )
    df2, c2 = t.changes_since(c1)
    assert c2 == 3
    assert df2.count() == o.filter(
        F.col("o_orderkey").between(100, 199)
    ).count()


def test_optimize_small_files_noop_and_isolation(spark):
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_opt_"))
    t.commit_append(o.filter(F.col("o_orderkey") < 50).coalesce(1))
    t.commit_append(
        o.filter(F.col("o_orderkey").between(50, 299)).coalesce(1)
    )
    import os

    sizes = [os.path.getsize(f) for f in t._load_manifest(2)]
    # threshold below every file: nothing to do, no commit published
    facts = t.optimize_small_files(min(sizes), 1 << 30)
    assert facts["version"] == 2 and facts["n_files_after"] == 2
    # threshold above both: both pack into one file in ONE new commit;
    # the pre-OPTIMIZE version still reads its old layout
    n_before = t.read().count()
    facts = t.optimize_small_files(max(sizes) + 1, 1 << 30)
    assert facts["version"] == 3 and facts["n_files_after"] == 1
    assert t.read().count() == n_before
    assert t.file_count(2) == 2 and t.read(2).count() == n_before


def test_optimize_zorder_clusters_both_dimensions(spark):
    """OPTIMIZE ... ZORDER BY: the compacted files must each own a
    bounded region in BOTH clustering dimensions, so a point filter on
    either column admits fewer files than scattered input would."""
    import os

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey"
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_optz_"))
    # six scattered small commits: each spans the FULL range of both
    # columns (hash-sliced), the worst case for any pruning
    for i in range(6):
        t.commit_append(
            o.filter(F.col("o_orderkey") % 6 == i).coalesce(1),
            stats_cols=["o_orderkey", "o_custkey"],
        )
    sizes = [os.path.getsize(f) for f in t._load_manifest(6)]
    total = sum(sizes)
    # 8+ output files: with only ~4, one point probe occasionally
    # lands inside every file's (coarse) curve segment under unlucky
    # range-sampling — smaller segments make both-dimension pruning
    # robust, which is the property under test
    facts = t.optimize_small_files(
        max(sizes) + 1, total // 8, z_cols=("o_custkey", "o_orderkey")
    )
    assert facts["n_small"] == 6 and facts["n_files_after"] >= 6
    # post-OPTIMIZE manifest stats: a mid-range point in either
    # dimension must be admitted by fewer files than exist
    kept_k, n = t.pruned_files(
        "o_orderkey", 300, 300, version=facts["version"]
    )
    kept_c, _ = t.pruned_files(
        "o_custkey", 80, 80, version=facts["version"]
    )
    assert n == facts["n_files_after"]
    assert len(kept_k) < n and len(kept_c) < n
    # content unchanged by the layout commit
    assert t.read().count() == o.count()


def test_distributed_footer_stats_matches_driver_path(spark):
    """Past the threshold, footer-stat collection fans out as a Spark
    job; the stats it banks must be identical to the driver-side loop."""
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_dstats_"))
    t.commit_append(
        o.filter(F.col("o_orderkey") < 2000).repartition(4),
        stats_cols=["o_orderkey"],
    )
    files = t._load_manifest(1)
    driver_side = t._footer_stats(files, ["o_orderkey"])
    old = SnapshotTable.DISTRIBUTED_STATS_THRESHOLD
    SnapshotTable.DISTRIBUTED_STATS_THRESHOLD = 1
    try:
        exec_side = t._footer_stats(files, ["o_orderkey"])
    finally:
        SnapshotTable.DISTRIBUTED_STATS_THRESHOLD = old
    assert exec_side == driver_side
    assert all(st.get("o_orderkey") for st in exec_side.values())


def test_changes_since_past_retention_raises_log_truncated(spark):
    import pytest

    from s3_glue_redshift_guide_spark.sources.snapshots import LogTruncated

    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_lt_"))
    t.commit_append(o.filter(F.col("o_orderkey") < 50).coalesce(1))
    t.commit_append(
        o.filter(F.col("o_orderkey").between(50, 99)).coalesce(1)
    )
    t.commit_rewrite(t.read().coalesce(1))
    t.vacuum(retain_versions=1)
    # a consumer whose cursor predates retention gets a TYPED signal to
    # re-bootstrap, never a raw FileNotFoundError mid-poll
    with pytest.raises(LogTruncated):
        t.changes_since(1)
    # head-relative consumption still works
    df, c = t.changes_since(t.current_version())
    assert df is None and c == 3


def _dv_table(spark, tmp_path, name):
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = SnapshotTable(spark, str(tmp_path / name))
    for lo, hi in ((0, 199), (200, 399), (400, 599)):
        t.commit_append(
            o.filter(F.col("o_orderkey").between(lo, hi)).coalesce(1),
            stats_cols=["o_orderkey"],
        )
    return o, t


def test_delete_where_is_merge_on_read(spark, tmp_path):
    from s3_glue_redshift_guide_spark.sources.snapshots import (
        load_manifest,
    )

    o, t = _dv_table(spark, tmp_path, "mor")
    v0 = t.current_version()
    v1 = t.delete_where(F.col("o_orderkey") % 7 == 0)
    m0, m1 = load_manifest(t.root, v0), load_manifest(t.root, v1)
    # data files BYTE-IDENTICAL (same paths, untouched), only dv added
    assert m0["files"] == m1["files"]
    assert len(m1["dv"]) == 3 and not m0["dv"]
    want = o.filter(
        (F.col("o_orderkey") < 600) & (F.col("o_orderkey") % 7 != 0)
    ).count()
    assert t.read().count() == want
    # history intact: the pre-delete version still shows every row
    assert t.read(v0).count() == 600
    # replaying the delete is a no-op commit (DV-masked matching scan)
    assert t.delete_where(F.col("o_orderkey") % 7 == 0) == v1


def test_delete_where_cost_is_o_of_deletes(spark, tmp_path):
    import os

    _, t = _dv_table(spark, tmp_path, "cost")
    data_bytes = sum(
        os.path.getsize(f) for f in t._load_manifest(t.current_version())
    )
    t.delete_where(F.col("o_orderkey").isin(3, 77, 501))
    from s3_glue_redshift_guide_spark.sources.snapshots import (
        load_manifest,
    )

    m = load_manifest(t.root, t.current_version())
    dv_dirs = {d for lst in m["dv"].values() for d in lst}
    dv_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d in dv_dirs
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    # the commit wrote a position ledger, not data: orders of magnitude
    # under the table (3 rows of (path, pos) vs 600 rows of data)
    assert dv_bytes < data_bytes
    assert t.read().count() == 597


def test_materialize_deletes_folds_dvs(spark, tmp_path):
    from s3_glue_redshift_guide_spark.sources.snapshots import (
        load_manifest,
    )

    _, t = _dv_table(spark, tmp_path, "mat")
    t.delete_where(F.col("o_orderkey") % 7 == 0)
    n = t.read().count()
    v = t.materialize_deletes()
    m = load_manifest(t.root, v)
    assert not m["dv"] and t.read().count() == n


def test_change_feed_reports_dv_deletes(spark, tmp_path):
    _, t = _dv_table(spark, tmp_path, "cdfdv")
    v0 = t.current_version()
    v1 = t.delete_where(F.col("o_orderkey") % 7 == 0)
    chg = t.read_changes(v0, v1)
    assert chg.filter(F.col("_change_type") == "insert").count() == 0
    deleted = chg.filter(F.col("_change_type") == "delete")
    assert deleted.count() == 86  # keys 0,7,...,595
    assert deleted.filter(F.col("o_orderkey") % 7 != 0).count() == 0


def test_rename_round_trips_across_commits(spark, tmp_path):
    o, t = _dv_table(spark, tmp_path, "ren")
    t.rename_column("o_totalprice", "price")
    # append AFTER the rename under the new physical name
    t.commit_append(
        o.filter(F.col("o_orderkey").between(600, 699))
        .withColumnRenamed("o_totalprice", "price")
        .coalesce(1),
        stats_cols=["o_orderkey"],
    )
    df = t.read()
    assert df.columns == ["o_orderkey", "price"]
    got = {r["o_orderkey"]: r["price"] for r in df.collect()}
    exp = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in o.filter(F.col("o_orderkey") < 700).collect()
    }
    assert got == exp  # BOTH eras read under the new name, values exact
    # manifest pruning works under the renamed logical name
    keep, total = t.pruned_files("o_orderkey", 0, 50)
    assert (len(keep), total) == (1, 4)
    # old name is gone; reusing a historical name is rejected
    import pytest

    with pytest.raises(KeyError):
        t.rename_column("o_totalprice", "x")
    with pytest.raises(ValueError):
        t.rename_column("o_orderkey", "o_totalprice")


def test_drop_column_is_metadata_only(spark, tmp_path):
    import os

    _, t = _dv_table(spark, tmp_path, "drop")
    before = {
        f: os.path.getmtime(f)
        for f in t._load_manifest(t.current_version())
    }
    t.drop_column("o_totalprice")
    assert t.read().columns == ["o_orderkey"]
    after = {
        f: os.path.getmtime(f)
        for f in t._load_manifest(t.current_version())
    }
    assert before == after  # zero data files touched


def test_update_where_is_one_atomic_mor_commit(spark, tmp_path):
    from s3_glue_redshift_guide_spark.sources.snapshots import (
        load_manifest,
    )

    o, t = _dv_table(spark, tmp_path, "morupd")
    v0 = t.current_version()
    v1 = t.update_where(
        F.col("o_orderkey") % 10 == 3,
        {"o_totalprice": F.col("o_totalprice") + F.lit(1000.0)},
    )
    assert v1 == v0 + 1  # tombstone + reinsert in ONE commit
    m0, m1 = load_manifest(t.root, v0), load_manifest(t.root, v1)
    # every base file still visible (byte identity), plus the post-image
    # files; tombstones mask exactly the matched pre-images
    assert set(m0["files"]) < set(m1["files"])
    assert len(m1["dv"]) == 3
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in t.read().select("o_orderkey", "o_totalprice").collect()
    }
    exp = {
        r["o_orderkey"]: (
            r["o_totalprice"] + 1000.0
            if r["o_orderkey"] % 10 == 3
            else r["o_totalprice"]
        )
        for r in o.filter(F.col("o_orderkey") < 600).collect()
    }
    assert got == exp
    assert len(got) == 600  # row count preserved: update, not upsert
    # history: pre-update version unchanged
    pre = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in t.read(v0).collect()
    }
    assert pre == {
        r["o_orderkey"]: r["o_totalprice"]
        for r in o.filter(F.col("o_orderkey") < 600).collect()
    }
    # change feed reports the update as delete/insert pairs
    chg = t.read_changes(v0, v1)
    n_upd = sum(1 for k in pre if k % 10 == 3)
    assert (
        chg.filter(F.col("_change_type") == "delete").count() == n_upd
    )
    assert (
        chg.filter(F.col("_change_type") == "insert").count() == n_upd
    )


def test_restore_is_a_metadata_commit(spark, tmp_path):
    from s3_glue_redshift_guide_spark.sources.snapshots import (
        load_manifest,
    )

    o, t = _dv_table(spark, tmp_path, "restore")
    v3 = t.current_version()
    t.delete_where(F.col("o_orderkey") % 7 == 0)
    t.commit_append(
        o.filter(F.col("o_orderkey").between(600, 699)).coalesce(1)
    )
    assert t.read().count() == 514 + 100
    v_restored = t.restore(v3)
    assert v_restored == t.current_version()
    # head now shows exactly version 3's content...
    assert t.read().count() == 600
    m = load_manifest(t.root, v_restored)
    assert m["files"] == load_manifest(t.root, v3)["files"]
    # ...and the restore is itself a commit: the pre-restore head is
    # still addressable (auditable, revertible)
    assert t.read(v_restored - 1).count() == 614


def test_shallow_clone_is_zero_copy_and_diverges(spark, tmp_path):
    import os

    from s3_glue_redshift_guide_spark.sources.snapshots import (
        load_manifest,
    )

    o, t = _dv_table(spark, tmp_path, "clsrc")
    t.delete_where(F.col("o_orderkey") % 7 == 0)
    clone = t.clone_shallow(str(tmp_path / "cltgt"))
    # zero copy: the clone's manifest references the SOURCE's files,
    # and no data lives under the clone's root
    m = load_manifest(clone.root, 1)
    assert m["files"] == load_manifest(t.root, t.current_version())["files"]
    assert not os.path.isdir(os.path.join(clone.root, "data")) or not any(
        os.scandir(os.path.join(clone.root, "data"))
    )
    # content identical, deletion vectors included
    assert clone.read().count() == t.read().count() == 514
    # divergence: a commit to the clone never touches the source
    src_v = t.current_version()
    clone.commit_append(
        o.filter(F.col("o_orderkey").between(600, 649)).coalesce(1)
    )
    assert clone.read().count() == 564
    assert t.current_version() == src_v and t.read().count() == 514
    # and source commits don't leak into the clone
    t.delete_where(F.col("o_orderkey") % 11 == 0)
    assert clone.read().count() == 564


def test_check_constraints_enforced_on_every_write(spark, tmp_path):
    import pytest

    o, t = _dv_table(spark, tmp_path, "chk")
    # adding a constraint the current data violates is rejected
    with pytest.raises(ValueError, match="violated by"):
        t.add_constraint("pricey", "o_totalprice > 100000")
    t.add_constraint("key_range", "o_orderkey >= 0 AND o_orderkey < 10000")
    t.add_constraint("price_pos", "o_totalprice > 0")
    # a clean append passes; a violating one is rejected with counts
    t.commit_append(
        o.filter(F.col("o_orderkey").between(600, 649)).coalesce(1)
    )
    with pytest.raises(ValueError, match="key_range.*50 row"):
        t.commit_append(
            o.filter(F.col("o_orderkey").between(650, 699))
            .withColumn("o_orderkey", F.col("o_orderkey") + 100_000)
            .coalesce(1)
        )
    # NULL evaluations are conservative violations
    with pytest.raises(ValueError, match="price_pos"):
        t.commit_append(
            o.filter(F.col("o_orderkey").between(650, 651))
            .withColumn("o_totalprice", F.lit(None).cast("double"))
            .coalesce(1)
        )
    # constraints survive unrelated commits and update paths
    t.delete_where(F.col("o_orderkey") % 97 == 0)
    with pytest.raises(ValueError, match="price_pos"):
        t.update_where(
            F.col("o_orderkey") == 3,
            {"o_totalprice": F.lit(-1.0)},
        )
    # drop lifts the contract
    t.drop_constraint("key_range")
    t.commit_append(
        o.filter(F.col("o_orderkey").between(650, 659))
        .withColumn("o_orderkey", F.col("o_orderkey") + 100_000)
        .coalesce(1)
    )


def test_vacuum_orphan_grace_protects_inflight_writes(spark):
    """A file in data/ that NO manifest has ever referenced is
    indistinguishable from a racing writer's staged-but-unpublished
    output — VACUUM must not unlink it until it is older than the
    orphan grace window. Files that aged OUT of the log stay
    immediately collectable (they are provably dead), and grace=0
    restores unconditional sweeping for crash-cleanup jobs."""
    import os

    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_og_"))
    t.commit_append(o.filter(F.col("o_orderkey") < 100).repartition(2))
    t.commit_rewrite(t.read(1).coalesce(1))  # v1's two files age out
    # simulate a concurrent writer: staged parquet, publish not yet run
    staged = os.path.join(t.root, "data", "staged-inflight.parquet")
    o.limit(5).coalesce(1).write.mode("overwrite").parquet(staged + ".d")
    src = next(
        f for f in os.listdir(staged + ".d") if f.endswith(".parquet")
    )
    os.rename(os.path.join(staged + ".d", src), staged)
    deleted = t.vacuum(retain_versions=1)
    # the two ever-referenced v1 files reclaim; the fresh orphan stays
    assert len(deleted) == 2
    assert os.path.exists(staged)
    # dry-run agrees with the real sweep's grace decision
    assert staged not in t.vacuum(retain_versions=1, dry_run=True)
    # explicit zero grace: the orphan is now collectable
    deleted = t.vacuum(retain_versions=1, orphan_grace_seconds=0.0)
    assert staged in deleted
    assert not os.path.exists(staged)


# ------------------------------------------- frozen change-feed outputs ----
# One history that holds every commit kind the change feed reads: appends,
# a DV update, a DV delete, a restore that shrinks the DV set (resurrected
# rows come back as inserts), a copy-on-write replace that removes a file,
# a compaction, and additive, renaming and widening schema changes. Rows
# repeat exactly and carry NULL, NaN and -0.0. The digests below were
# recorded before the change feed moved from two EXCEPT ALLs and a footer
# union per side onto one footer union and one signed aggregate per call:
# ``read_changes`` for every version pair, and on a row-tracked copy (whose
# version 1 enables tracking) the per-commit ``read_changes``,
# ``read_changes_images`` per commit and from version 0, and
# ``read_change_feed`` per commit plus one range across the rename.
CDF_DIGESTS = {
    "read_changes": {
        "0-1": "0605d3f35960b207b643aa22a6eed3c2c28d3d3dc934c1ba511233f6921812d9",
        "0-2": "5406e39bf3e53c1c5b639e822b81225b475fcd1e69815daea53cecc46cb02321",
        "0-3": "3eb725dd057fda4babd8206208c694586b272b645db62abe58860be7ea5684d5",
        "0-4": "3dcb028ec038099790a2ed8d76e96cbe40a835dcb0aaf0ef24882033d21ac164",
        "0-5": "3eb725dd057fda4babd8206208c694586b272b645db62abe58860be7ea5684d5",
        "0-6": "637b54f4644af01d88118583472c4516bfdd19016d1eb920f3242d11ffc7b46a",
        "0-7": "637b54f4644af01d88118583472c4516bfdd19016d1eb920f3242d11ffc7b46a",
        "0-8": "e94854d9b54781ceea324f0112c954cf52c12bfa566a228c086925a1762fdd25",
        "0-9": "8c59fe9ec715829a225b78e3d225bba80a4f93266a03aae6a2fb5830295fd5e0",
        "0-10": "b7bec193c328722e8a5bebf81b2a9d89506fdec30ccd6d4eeff6ce096fa00992",
        "0-11": "2e98e5f4260df21b54f90c03c2613632ac8cb18610d3a3372b7654fbd84fc237",
        "0-12": "ee732d9946f498d4d69fb4d8256454ed12e8fea86f031e12a5f5723354b67fbe",
        "1-1": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "1-2": "e832500768450fd72feac81b169e4453be6b488f6042a597554f115bf383f14f",
        "1-3": "4b7c69acb6f155e844063999a0e2719d0e989deaee21fc2c46955f2a7e464ae4",
        "1-4": "2d0b1e5a7b8ba250fa00d8d00e32f99f9b1d120da0a82ad6d04b06ac91fb5703",
        "1-5": "4b7c69acb6f155e844063999a0e2719d0e989deaee21fc2c46955f2a7e464ae4",
        "1-6": "8c6c63593133fba78a5bf908a03ced51dec1ab4d4cc9f386c8067594b8c49e2f",
        "1-7": "8c6c63593133fba78a5bf908a03ced51dec1ab4d4cc9f386c8067594b8c49e2f",
        "1-8": "9b2b015fd6d4e2892e07e741cb1b31b0d113678f32432b3677bc913aded59da4",
        "1-9": "455209fda7809b08481575918618a5e78ef6b9b04f566b54eadf8044076a86f3",
        "1-10": "b684e0f29075d3c28f675bcbcac808d51ba287a7d660ab94a61f06e2606d0706",
        "1-11": "e1edf27c6892b0a07e8b51329a042673c6295f7f2c32cf21e4e146d3362edaac",
        "1-12": "14cbaa0cba67863cbced074295f1f8a709fdb1d7c77ab1ee614a94a559ddd188",
        "2-2": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "2-3": "fa5738fa1b9c86b254b2b77b6b481e5bcc4ce110e9e83c7f1582c070449bde91",
        "2-4": "74942b55f56f6e754af5286409f06e8478229a20a23a0126ecf9e891cb3400aa",
        "2-5": "fa5738fa1b9c86b254b2b77b6b481e5bcc4ce110e9e83c7f1582c070449bde91",
        "2-6": "b5f49a31b83e11f4c2c5ad05392c964fd29e13d4d63730acacf05f04075389e7",
        "2-7": "b5f49a31b83e11f4c2c5ad05392c964fd29e13d4d63730acacf05f04075389e7",
        "2-8": "e9d0a7a2e2ee4f6039e2abbae183f69c920ea7746640401dc4a7bcd7bde50f93",
        "2-9": "fcbb1cee6fa460c0045f63b55b5a901e59c0b54a006333085560d0fa4866bcbb",
        "2-10": "7c6d0328aedc2b2f415dfe7291cbf639c5d8e2b9e092c4ce10c1a6d829998355",
        "2-11": "1a0e11c4999e1ec7dbc1e6b30a0bca55ea9a060fc54c598487f322907f42e9d0",
        "2-12": "f1c33f2778b923d63626de1a446c5bc362ddc0e34335bb23b5534dbde91ee279",
        "3-3": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "3-4": "3ab394c68c3fbd930b72d3bd603cb78ecb13a196459c7c6b986dc24394b82ace",
        "3-5": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "3-6": "89fe74a229842081ebff1ee48853b29618c3272a3130b105561545cfcac0bd6d",
        "3-7": "89fe74a229842081ebff1ee48853b29618c3272a3130b105561545cfcac0bd6d",
        "3-8": "ddc33901fb9c5fa85d4c894f87f7c56254378115f5f5c119ab41bd015e730182",
        "3-9": "0c7917b86f8393606b62beb32e9ce458813a7d03ab6e230eb45e1f06d0bc954c",
        "3-10": "6a62740c9065dd23f5437a3d0365127541115f7c0ec760f9e54ff68dfedd2343",
        "3-11": "63ae0ab05193f97ccd4ae826eb5582c2270a320a239d08340df50762fe8f6a8b",
        "3-12": "65343d7f470dc60a3b78734bcff12ce3c06216da9488c194223bc30f556a093a",
        "4-4": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "4-5": "e42e45f7b634791a9b52bf9c879b8ee3ec7fd80fba7ab505623319d167d82cb7",
        "4-6": "06f6b409b630f036695631c7534657dd69c11f4490701ccaa44a02b2e5afdaeb",
        "4-7": "06f6b409b630f036695631c7534657dd69c11f4490701ccaa44a02b2e5afdaeb",
        "4-8": "308e781c1f46b74d6ae6bf14d36bdfa32a33b4d6461ce416e91ad9caab35d27d",
        "4-9": "cf09e58c890b6bdc64c21b9f7c8d70e70a7e3e7823d2e83e64b4c36f35eb2f31",
        "4-10": "70c0a2b7f25f85b80c9605c3ccdb99039e61af4c9cf98f5126e8b57a14f7019d",
        "4-11": "a49eeb56eed083b964513745fc2f7ed335ebad74e6486926292d8f576fc96646",
        "4-12": "8d1fe15509a0220be87a5473e8149af76b55c083a38ea0fa538edcca8b6b4224",
        "5-5": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "5-6": "89fe74a229842081ebff1ee48853b29618c3272a3130b105561545cfcac0bd6d",
        "5-7": "89fe74a229842081ebff1ee48853b29618c3272a3130b105561545cfcac0bd6d",
        "5-8": "ddc33901fb9c5fa85d4c894f87f7c56254378115f5f5c119ab41bd015e730182",
        "5-9": "0c7917b86f8393606b62beb32e9ce458813a7d03ab6e230eb45e1f06d0bc954c",
        "5-10": "6a62740c9065dd23f5437a3d0365127541115f7c0ec760f9e54ff68dfedd2343",
        "5-11": "63ae0ab05193f97ccd4ae826eb5582c2270a320a239d08340df50762fe8f6a8b",
        "5-12": "65343d7f470dc60a3b78734bcff12ce3c06216da9488c194223bc30f556a093a",
        "6-6": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "6-7": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "6-8": "448c51a25452f0ab28f876e01a53a6f9deed609d81d36bcac6c55800397d6fb2",
        "6-9": "58c328c77a5d17af1f7751dd3affc6cb7e6a0e01f9177fe06cbdbc905c82a54a",
        "6-10": "03cec28397987138d672e2638447a176a91ffaff316270e9302425cf068539b9",
        "6-11": "b5987cb8135446f5ad0614b9943755c1839bc1c7825e2903fb15a245aabe4c83",
        "6-12": "87d22c4d30732c0bf7fef04dd9b154a618e1d48601d665b310ac7d234129f543",
        "7-7": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "7-8": "448c51a25452f0ab28f876e01a53a6f9deed609d81d36bcac6c55800397d6fb2",
        "7-9": "58c328c77a5d17af1f7751dd3affc6cb7e6a0e01f9177fe06cbdbc905c82a54a",
        "7-10": "03cec28397987138d672e2638447a176a91ffaff316270e9302425cf068539b9",
        "7-11": "b5987cb8135446f5ad0614b9943755c1839bc1c7825e2903fb15a245aabe4c83",
        "7-12": "87d22c4d30732c0bf7fef04dd9b154a618e1d48601d665b310ac7d234129f543",
        "8-8": "448c51a25452f0ab28f876e01a53a6f9deed609d81d36bcac6c55800397d6fb2",
        "8-9": "58c328c77a5d17af1f7751dd3affc6cb7e6a0e01f9177fe06cbdbc905c82a54a",
        "8-10": "03cec28397987138d672e2638447a176a91ffaff316270e9302425cf068539b9",
        "8-11": "b5987cb8135446f5ad0614b9943755c1839bc1c7825e2903fb15a245aabe4c83",
        "8-12": "87d22c4d30732c0bf7fef04dd9b154a618e1d48601d665b310ac7d234129f543",
        "9-9": "448c51a25452f0ab28f876e01a53a6f9deed609d81d36bcac6c55800397d6fb2",
        "9-10": "b306c15c44bb34f26d315e1dec21f7ff6ed5fb3e03f86655d851f456e6a907d7",
        "9-11": "3ece2b38fb4c9cb15a6eb6f200c6267dd97b7b6e54178ecdc8e25ea343bc0e33",
        "9-12": "ac1dcdce814f826ed5b6f16ff0945a4d15bb73554822aa286b4bdc3b3b18f603",
        "10-10": "b306c15c44bb34f26d315e1dec21f7ff6ed5fb3e03f86655d851f456e6a907d7",
        "10-11": "3ece2b38fb4c9cb15a6eb6f200c6267dd97b7b6e54178ecdc8e25ea343bc0e33",
        "10-12": "ac1dcdce814f826ed5b6f16ff0945a4d15bb73554822aa286b4bdc3b3b18f603",
        "11-11": "3ece2b38fb4c9cb15a6eb6f200c6267dd97b7b6e54178ecdc8e25ea343bc0e33",
        "11-12": "ac1dcdce814f826ed5b6f16ff0945a4d15bb73554822aa286b4bdc3b3b18f603",
        "12-12": "3ece2b38fb4c9cb15a6eb6f200c6267dd97b7b6e54178ecdc8e25ea343bc0e33",
    },
    "tracked_read_changes": {
        "0-1": "401bc4d3ce7a6d330bc8d179b03e1e3bfc0939dfe38533f1c959716ff877bfdb",
        "1-2": "0605d3f35960b207b643aa22a6eed3c2c28d3d3dc934c1ba511233f6921812d9",
        "2-3": "e832500768450fd72feac81b169e4453be6b488f6042a597554f115bf383f14f",
        "3-4": "fa5738fa1b9c86b254b2b77b6b481e5bcc4ce110e9e83c7f1582c070449bde91",
        "4-5": "3ab394c68c3fbd930b72d3bd603cb78ecb13a196459c7c6b986dc24394b82ace",
        "5-6": "e42e45f7b634791a9b52bf9c879b8ee3ec7fd80fba7ab505623319d167d82cb7",
        "6-7": "89fe74a229842081ebff1ee48853b29618c3272a3130b105561545cfcac0bd6d",
        "7-8": "e9ef3bfbab02ffd9aee9e9c6c428f3d54519beff5d6b431602c9c83c0ed75055",
        "8-9": "448c51a25452f0ab28f876e01a53a6f9deed609d81d36bcac6c55800397d6fb2",
        "9-10": "58c328c77a5d17af1f7751dd3affc6cb7e6a0e01f9177fe06cbdbc905c82a54a",
        "10-11": "b306c15c44bb34f26d315e1dec21f7ff6ed5fb3e03f86655d851f456e6a907d7",
        "11-12": "3ece2b38fb4c9cb15a6eb6f200c6267dd97b7b6e54178ecdc8e25ea343bc0e33",
        "12-13": "ac1dcdce814f826ed5b6f16ff0945a4d15bb73554822aa286b4bdc3b3b18f603",
    },
    "read_changes_images": {
        "0-1": "401bc4d3ce7a6d330bc8d179b03e1e3bfc0939dfe38533f1c959716ff877bfdb",
        "0-2": "7c52d7ac70c0fadce28a21ff490660807e0aadcf6a4bcbcd5e6467abc64e796d",
        "0-3": "a797eaa33cec45eb452aacd543ed6d26714d0a805f89add4131634f9a03e4653",
        "0-4": "b87d84fd7283f06c4bbee03d31b986a3d4e8dd18dbc142e61fec572c2dbd00a0",
        "0-5": "542ef36792ec7b6d2d88ddbd979e9a18485e1ae6ac5eba8d96616ea010c1440a",
        "0-6": "b87d84fd7283f06c4bbee03d31b986a3d4e8dd18dbc142e61fec572c2dbd00a0",
        "0-7": "3604c94228337506ca0b767c2c57453f38c7a65ae65b9a5f352eaa66600309b6",
        "0-8": "3604c94228337506ca0b767c2c57453f38c7a65ae65b9a5f352eaa66600309b6",
        "0-9": "1666a016ebe66f25953852bcb532eeed3136993860e48ab7bd10438a1ea6d55f",
        "0-10": "7fb367a7515d3c413121ecd2f3c1d609fd2f00234375750188198262e4679f53",
        "0-11": "027e0570eee42956dc05316098bfbaef84633bfbc4391bc14bd24b01004cfa87",
        "0-12": "aa6d966b0bcb8475299a8c15c838425483903b12044ebbbbc5589d34004e90ed",
        "0-13": "de797539299c18c6ceaee20e2dd3e9ce02cc43e123407e931277afd0f7cde8b1",
        "1-2": "7c52d7ac70c0fadce28a21ff490660807e0aadcf6a4bcbcd5e6467abc64e796d",
        "2-3": "79b7e94bab628ea6e2176ca38298e76c9452b8836b0807447b96bed788593e7c",
        "3-4": "33f2579d10d7916f29c3c06937b4b5e7e475dae7384d714fc5450d540e5d7b3b",
        "4-5": "3ab394c68c3fbd930b72d3bd603cb78ecb13a196459c7c6b986dc24394b82ace",
        "5-6": "e42e45f7b634791a9b52bf9c879b8ee3ec7fd80fba7ab505623319d167d82cb7",
        "6-7": "86422e57c2f1ab4a507a40a8c31e8f08ac65b0e473cd05c61d5d41bbcf17f79c",
        "7-8": "62695cf625bdbeda3c6839f5ece42e147987e1209d7db6847dc9d20149722c8e",
        "8-9": "448c51a25452f0ab28f876e01a53a6f9deed609d81d36bcac6c55800397d6fb2",
        "9-10": "58c328c77a5d17af1f7751dd3affc6cb7e6a0e01f9177fe06cbdbc905c82a54a",
        "10-11": "b306c15c44bb34f26d315e1dec21f7ff6ed5fb3e03f86655d851f456e6a907d7",
        "11-12": "3ece2b38fb4c9cb15a6eb6f200c6267dd97b7b6e54178ecdc8e25ea343bc0e33",
        "12-13": "b009b4f6b2c2df3334ee80b555281756fa9b95e5fa1da1ce02a12efddcca0843",
    },
    "read_change_feed": {
        "0-1": "a34eda2839843eee92c93af130545e5e8a4aaac1726119b365e6731c2601d3f5",
        "1-2": "3bf4c0bcc40dbea8891e8efe212d8b9589056cae278f76072a14241d0167cf0c",
        "2-3": "3b263b85342936eecb0c8994aa3ac27f1396b2e24b2bb97dcb50107e7f0a8b29",
        "3-4": "33679991ea80a0a0d46a9d8f99e54fdcdd66c80763696f797371bdb50da595e3",
        "4-5": "291167f5643d99d9f3fa9bcdb6218799191bd038acba1505403bd8474f2f4ddc",
        "5-6": "10d9bebc9c065cd90be4d3f7647dcb29f029e51b411f7a5ca4944cb96065be5c",
        "6-7": "5f11251ea81ba5e05b901878ce0444da06cd62468cd0f3ea681dfef57e4b7726",
        "7-8": "73219eb5a3ffc68421626c342b5c394665d2df2e92c3e7ccd3a1f62f0adabd4b",
        "8-9": "e76eaf0593d2703d775ed2dba930a5bf481e5277b6b99e458da0e143690c8f4f",
        "9-10": "0ee2b75bc02f96da3af8d1bbf5ad166c9c873480f3012e02d11e3afaa580d167",
        "9-13": "0f6a3a4bb9629f7b16c134e09decf2f296d2e864f27720c0a176ec12adce493a",
        "10-11": "c684e13def42cf2ebff860b42e20f2518debdf58f792c576503bceb8cd4c6a4d",
        "11-12": "635737e322a66641e3d93c7cc0d95afb0bf1e1d0a71d08de1fbaf4b42349322e",
        "12-13": "99d7ac201de183a9eb8b1e63ac44baedc99a2d6d1356f1ec5dc9f985aab7c56b",
    },
}
_CDF_SCHEMA = "k bigint, v double, s string, w int"
_NAN = float("nan")
_CDF_A = [
    (1, 1.0, "a", 1), (1, 1.0, "a", 1), (2, None, "b", 2),
    (3, _NAN, None, 3), (4, -0.0, "d", 4), (5, 0.0, "e", 5),
]
_CDF_B = [
    (6, 6.5, "f", 6), (6, 6.5, "f", 6), (7, _NAN, "g", 7),
    (8, -0.0, None, None), (1, 1.0, "a", 1),
]


def _cdf_history(spark, root: str, tracked: bool = False) -> SnapshotTable:
    # a fixed commit clock keeps ``_commit_timestamp`` reproducible
    clock = itertools.count(1_700_000_000, 60).__next__
    t = SnapshotTable(spark, root, clock=clock)
    if tracked:
        t.enable_row_tracking()
    t.commit_append(spark.createDataFrame(_CDF_A, _CDF_SCHEMA).coalesce(1))
    first = t._load_manifest(t.current_version())
    t.commit_append(spark.createDataFrame(_CDF_B, _CDF_SCHEMA).coalesce(1))
    t.update_where(F.col("k") == 6, {"v": F.col("v") + 1})
    t.delete_where(F.col("k").isin(2, 7))
    t.restore(t.current_version() - 1)
    t.commit_replace(
        first,
        spark.createDataFrame(
            [(1, 1.0, "a", 1), (3, _NAN, None, 3), (4, 0.0, "d", 4),
             (9, -0.0, "i", 9), (9, -0.0, "i", 9)],
            _CDF_SCHEMA,
        ).coalesce(1),
    )
    t.commit_rewrite(t.read().coalesce(1))
    t.add_column("x", "string")
    t.commit_append(
        spark.createDataFrame(
            [(10, _NAN, "j", 10, "x1"), (10, _NAN, "j", 10, "x1"),
             (1, 1.0, "a", 1, None)],
            _CDF_SCHEMA + ", x string",
        ).coalesce(1)
    )
    t.rename_column("s", "name")
    t.widen_column("w", "bigint")
    t.commit_append(
        spark.createDataFrame(
            [(11, -0.0, "k", 1 << 40, None), (4, 0.0, "d", 4, None)],
            "k bigint, v double, name string, w bigint, x string",
        ).coalesce(1)
    )
    return t


def _cdf_digest(df) -> str:
    """Digest of a change frame: its column names and types, then its
    rows as canonical cells, as a multiset."""
    rows = [tuple(canon_cell(v) for v in r) for r in df.collect()]
    return digest(rows + [(("types", df.dtypes),)])


@pytest.fixture(scope="module")
def cdf_plain(spark, tmp_path_factory):
    return _cdf_history(spark, str(tmp_path_factory.mktemp("cdf_plain")))


@pytest.fixture(scope="module")
def cdf_tracked(spark, tmp_path_factory):
    return _cdf_history(
        spark, str(tmp_path_factory.mktemp("cdf_tracked")), tracked=True
    )


def _pairs(call: str) -> list[tuple[int, int]]:
    return [tuple(map(int, p.split("-"))) for p in CDF_DIGESTS[call]]


@pytest.mark.parametrize("a,b", _pairs("read_changes"))
def test_read_changes_matches_frozen_digest(cdf_plain, a, b):
    got = _cdf_digest(cdf_plain.read_changes(a, b))
    assert got == CDF_DIGESTS["read_changes"][f"{a}-{b}"]


@pytest.mark.parametrize(
    "call,a,b",
    [
        (call, a, b)
        for call in CDF_DIGESTS if call != "read_changes"
        for a, b in _pairs(call)
    ],
)
def test_tracked_change_feeds_match_frozen_digest(cdf_tracked, call, a, b):
    df = getattr(cdf_tracked, call.removeprefix("tracked_"))(a, b)
    assert _cdf_digest(df) == CDF_DIGESTS[call][f"{a}-{b}"]


def _job_count(spark, group: str, action) -> int:
    """Spark jobs ``action()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _batch(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 7919 % 1_000_003).alias("uid"),
        (F.col("id") % 50).cast("int").alias("grp"),
        (F.col("id") * 0.25).alias("val"),
    )


def test_change_feed_call_job_count(spark, tmp_path):
    """The perfbench ``analytics_read`` history (append, bloom index, DV
    update, DV delete, append): ``read_changes(1, head)`` runs one footer
    union, the DV sidecar reads and the signed aggregate's stages, 5 jobs
    where three footer unions and two EXCEPT ALLs ran 8. Building the
    frame runs the footer union alone, and nothing once the table banks
    its reader schema."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_batch(spark, 0, 600).repartition(2))
    t.add_bloom_index("uid")
    t.update_where(F.col("grp") == 7, {"val": F.col("val") + 1})
    t.delete_where(F.col("grp") == 13)
    head = t.commit_append(_batch(spark, 600, 900).coalesce(1))
    group = f"cdf-jobs-{tmp_path.name}"
    n = _job_count(spark, group, lambda: t.read_changes(1, head).collect())
    assert n <= 5, n
    plan = _job_count(spark, f"{group}-plan", lambda: t.read_changes(1, head))
    assert plan == 1, plan
    v = t.widen_column("grp", "bigint")
    plan = _job_count(spark, f"{group}-banked", lambda: t.read_changes(1, v))
    assert plan == 0, plan


def test_change_images_call_job_count(spark, tmp_path):
    """Both sides of ``read_changes_images`` read under the call's one
    footer union, and one aggregate on the row id pairs the images: 7
    jobs, where a footer union per side and a full outer join ran 12."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.enable_row_tracking()
    t.commit_append(_batch(spark, 0, 600).repartition(2))
    t.update_where(F.col("grp") == 7, {"val": F.col("val") + 1})
    t.delete_where(F.col("grp") == 13)
    head = t.commit_append(_batch(spark, 600, 900).coalesce(1))
    n = _job_count(
        spark, f"cdf-img-jobs-{tmp_path.name}",
        lambda: t.read_changes_images(2, head).collect(),
    )
    assert n <= 7, n


def test_change_feed_nets_file_legs_in_one_aggregate(spark, tmp_path):
    """Added and removed files are netted by ONE signed-count aggregate,
    not by one EXCEPT ALL per direction."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_batch(spark, 0, 300).coalesce(1))
    files = t._load_manifest(1)
    head = t.commit_replace(
        files, t.read().filter(F.col("grp") != 3).coalesce(1)
    )
    plan = t.read_changes(1, head)._jdf.queryExecution().optimizedPlan()
    aggs = [
        ln for ln in plan.toString().splitlines()
        if ln.lstrip(" :+-").startswith("Aggregate")
    ]
    assert len(aggs) == 1, plan.toString()
