"""The one snapshot read path (``SnapshotTable._scan``) and what rides on
it: the index refresh across a widened column, widening a renamed
column, DML verbs that match
nothing, clones that carry the source manifest like every other commit,
and the cluster.by layout shared by appends and REWRITE PHYSICAL."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.llm.ann_index import (
    ann_index_build,
    ann_index_refresh,
)
from s3_glue_redshift_guide_spark.sources.snapshots import (
    SnapshotTable,
    load_manifest,
)

DIM = 8


def _vecs(spark, lo, hi, id_type):
    return spark.range(lo, hi).select(
        F.col("id").cast(id_type).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: F.sin(F.col("id") * 0.7 + j * 1.3).cast("double"),
        ).alias("embedding"),
    )


def test_ann_refresh_reads_files_across_a_widened_column(spark, tmp_path):
    """The refresh span holds an int-era file and a bigint-era file: a
    mergeSchema union of the two cannot be built, the banked reader
    schema upcasts the old file."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_vecs(spark, 0, 40, "int").coalesce(1))
    ann_index_build(t, dim=DIM, n_lists=4, m=4, k_codes=8)
    t.commit_append(_vecs(spark, 40, 50, "int").coalesce(1))
    t.widen_column("vec_id", "bigint")
    t.commit_append(_vecs(spark, 50, 60, "bigint").coalesce(1))
    v = ann_index_refresh(t)
    ann = load_manifest(t.root, v)["ann"]
    assert ann["covered_version"] == v - 1
    fresh = spark.read.parquet(ann["codes"][-1])
    assert sorted(r[0] for r in fresh.select("neighbor_id").collect()) == (
        list(range(40, 60))
    )


def test_widen_a_renamed_column_under_its_current_name(spark, tmp_path):
    """A table that already banks reader types, then a rename: the
    field widens under its new name, its old physical name widens with
    it, and files of both eras read back at the new width."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(
        spark.range(10).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("v"),
        ).coalesce(1)
    )
    t.widen_column("k", "bigint")
    t.rename_column("v", "val")
    t.widen_column("val", "bigint")
    types = load_manifest(t.root, t.current_version())["types"]
    assert types["v"] == types["val"] == "bigint"
    t.commit_append(
        spark.range(100, 105).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        ).coalesce(1)
    )
    got = t.read()
    assert dict(got.dtypes)["val"] == "bigint"
    assert sorted(r["val"] for r in got.collect()) == (
        [2 * i for i in range(10)] + [2 * i for i in range(100, 105)]
    )
    with pytest.raises(KeyError):
        t.widen_column("v", "bigint")  # the old name is not a column


def _kv(spark, n=50):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _noop(spark, t, verb):
    nothing = F.col("k") < 0
    if verb == "delete":
        t.delete_where(nothing)
    elif verb == "update":
        t.update_where(nothing, {"v": F.lit(0).cast("long")})
    elif verb == "replace":
        t.replace_where(nothing, _kv(spark).limit(0))
    elif verb == "merge":
        t.merge_mor(
            _kv(spark).withColumn("k", F.col("k") + 1000),
            on=["k"],
            when_matched_update={"v": F.col("__src_v")},
            insert_not_matched=False,
        )
    else:  # merge_nmbs: every target key is in the source
        t.merge_mor(
            _kv(spark),
            on=["k"],
            when_matched_update={"v": F.col("__src_v")},
            when_matched_update_condition=F.lit(False),
            insert_not_matched=False,
            when_not_matched_by_source_delete=True,
        )


@pytest.mark.parametrize(
    "verb", ["delete", "update", "replace", "merge", "merge_nmbs"]
)
def test_dml_matching_nothing_stages_nothing(spark, tmp_path, verb):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_kv(spark).repartition(2))
    t.delete_where(F.col("k") == 3)
    deletes = os.path.join(t.root, "deletes")
    before = sorted(os.listdir(deletes))
    v = t.current_version()
    _noop(spark, t, verb)
    assert sorted(os.listdir(deletes)) == before
    assert t.current_version() == v
    assert t.read().count() == 49


def test_clone_carries_every_family_of_the_source(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.set_partition_spec(["g"])
    src.commit_append(
        _kv(spark).withColumn("g", F.col("k") % 2), txn_update={"app": 7}
    )
    src.set_tblproperties({"retention.versions": "9"})
    src.analyze_histograms(["v"])
    src.analyze_columns(["v"])
    src.add_bloom_index("k")
    landed = str(tmp_path / "landing")
    spark.range(100, 105).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 2).alias("g"),
    ).coalesce(1).write.parquet(landed)
    sources = [
        os.path.join(landed, f)
        for f in os.listdir(landed)
        if f.endswith(".parquet")
    ]
    assert src.copy_into(sources)["n_ingested"] == 1
    ms = load_manifest(src.root, src.current_version())
    for clone in (
        src.clone_shallow(str(tmp_path / "shallow")),
        src.clone_deep(str(tmp_path / "deep")),
    ):
        mc = load_manifest(clone.root, clone.current_version())
        for fam in (
            "properties", "histograms", "ndv", "transform_keys",
            "partition_spec", "bloom_cols", "txn", "copied",
        ):
            assert mc.get(fam) == ms[fam], fam
        assert clone.txn_watermark("app") == 7
        # the COPY INTO ledger carried: a replay into the clone loads
        # nothing twice
        assert clone.copy_into(sources)["n_ingested"] == 0
        assert clone.read().count() == 55
    shallow = load_manifest(str(tmp_path / "shallow"), 1)
    deep = load_manifest(str(tmp_path / "deep"), 1)
    assert shallow["blooms"] == ms["blooms"]
    # per-file bloom sidecars name the source's paths: not carried
    assert "blooms" not in deep


def test_clone_of_a_created_table_keeps_its_declared_schema(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.create_table("k bigint, name string, amount double")
    for clone in (
        src.clone_shallow(str(tmp_path / "shallow")),
        src.clone_deep(str(tmp_path / "deep")),
    ):
        assert clone.current_version() == 1
        assert clone.read().dtypes == src.read().dtypes


def test_rewrite_physical_rejects_a_bad_cluster_by_arity(spark, tmp_path):
    """SET TBLPROPERTIES does not check the cluster.by arity; the
    layout helper every clustered write shares rejects it, so REWRITE
    PHYSICAL fails loudly instead of dropping the declared layout."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_kv(spark))
    t.rename_column("v", "val")
    t.set_tblproperties({"cluster.by": "k"})
    with pytest.raises(ValueError, match="cluster.by must name 2-4"):
        t.rewrite_physical()
    with pytest.raises(ValueError, match="cluster.by must name 2-4"):
        t.commit_append(_kv(spark).withColumnRenamed("v", "val"))
