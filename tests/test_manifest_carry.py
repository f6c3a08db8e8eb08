"""One carry-forward rule for every commit: a pysnapshot connector write
(batch append, batch overwrite, streaming epoch) keeps every metadata
family a table-side ``commit_append`` keeps — table properties, the
COPY INTO ledger, histograms, the ANN index pointer, NDV sketches,
constraints, deletion vectors and row ids. A dropped COPY INTO ledger is
a double load: the same source file ingests again."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.sources.pyds import register_snapshot_source
from s3_glue_redshift_guide_spark.sources.snapshots import (
    SnapshotTable,
    load_manifest,
)

#: families a commit re-derives or that label one commit only
_NOT_FAMILIES = ("version", "files", "stats", "ts", "protocol", "op")


def _kv(spark, start, n):
    return spark.range(start, start + n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _source_file(tmp_path, start, n):
    path = str(tmp_path / f"landing_{start}.parquet")
    ks = list(range(start, start + n))
    pq.write_table(
        pa.table({"k": pa.array(ks, pa.int64()),
                  "v": pa.array([2 * k for k in ks], pa.int64())}),
        path,
    )
    return path


def _head(t):
    return load_manifest(t.root, t.current_version())


def _families(m):
    return {k for k, v in m.items() if k not in _NOT_FAMILIES and v}


def _connector_append(spark, t, df, mode="append"):
    df.write.format("pysnapshot").option("root", t.root).mode(mode).save()


@pytest.fixture()
def banked(spark, tmp_path):
    """A table banking every table-level family plus dv and row ids."""
    register_snapshot_source(spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_kv(spark, 0, 20))
    t.enable_row_tracking()
    t.set_tblproperties({"retention.versions": "5"})
    t.copy_into([_source_file(tmp_path, 100, 5)])
    t.add_constraint("k_nonneg", "k >= 0")
    t.analyze_columns(["k"])
    t.analyze_histograms(["k"], n_bins=4)
    # the index pointer only has to ride the log here; its payload is
    # exercised by tests/test_ann_index.py
    m = _head(t)
    t._publish(
        m["files"], t.current_version(), m["stats"],
        ann={"dir": str(tmp_path / "ann"), "codes": []}, op="ANN INDEX",
    )
    t.delete_where(F.col("k") < 2)
    m = _head(t)
    assert _families(m) >= {
        "properties", "copied", "histograms", "ann", "ndv",
        "constraints", "dv", "row_tracking", "row_ids", "sizes",
    }
    return t


_TABLE_LEVEL = (
    "properties", "copied", "histograms", "ann", "ndv", "constraints",
)


def _assert_carried(before, after, expect):
    assert _families(after) >= expect, sorted(expect - _families(after))
    for k in _TABLE_LEVEL:
        assert after[k] == before[k], k
    # every visible file owns a row-id range past the old watermark
    assert set(after["row_ids"]) == set(after["files"])
    assert after["row_id_watermark"] >= before["row_id_watermark"]


def test_connector_append_keeps_what_commit_append_keeps(spark, banked):
    before = _head(banked)
    # the reference: the same append through the table, on a fork
    ref = banked.create_branch("ref")
    ref.commit_append(_kv(spark, 500, 3))
    keep = _families(_head(ref))
    _connector_append(spark, banked, _kv(spark, 500, 3))
    after = _head(banked)
    _assert_carried(before, after, keep)
    assert after["dv"] == before["dv"]
    assert banked.read().count() == 20 + 5 - 2 + 3


def test_connector_overwrite_keeps_table_level_families(spark, banked):
    before = _head(banked)
    _connector_append(spark, banked, _kv(spark, 700, 4), mode="overwrite")
    after = _head(banked)
    # overwrite replaces every file: the tombstones go with them
    _assert_carried(
        before, after, _families(before) - {"dv"}
    )
    assert not after["dv"]
    assert banked.read().count() == 4


def test_connector_streaming_epoch_keeps_families(spark, banked, tmp_path):
    before = _head(banked)
    src = str(tmp_path / "stream_src")
    _kv(spark, 900, 6).coalesce(1).write.parquet(src)
    q = (
        spark.readStream.schema("k bigint, v bigint")
        .parquet(src)
        .writeStream.format("pysnapshot")
        .option("root", banked.root)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    after = _head(banked)
    assert after["op"] == "STREAMING WRITE"
    _assert_carried(before, after, _families(before) | {"txn"})
    assert after["dv"] == before["dv"]
    assert banked.read().count() == 20 + 5 - 2 + 6


def test_copy_into_after_connector_append_loads_once(spark, tmp_path):
    """20 rows, COPY INTO of a 5-row file, a 1-row connector append,
    then COPY INTO of the same file again: 26 rows, nothing ingested."""
    register_snapshot_source(spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_kv(spark, 0, 20))
    t.set_tblproperties({"retention.versions": "5"})
    src = _source_file(tmp_path, 100, 5)
    first = t.copy_into([src])
    assert first["n_ingested"] == 1
    _connector_append(spark, t, _kv(spark, 1000, 1))
    m = _head(t)
    assert src in m["copied"]
    assert m["properties"] == {"retention.versions": "5"}
    again = t.copy_into([src])
    assert again["n_ingested"] == 0
    assert again["n_skipped"] == 1
    assert t.read().count() == 26
