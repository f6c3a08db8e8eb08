"""Persisted IVF-PQ ANN index over a snapshot table (L3's production
read path; VERDICT-r7 directive #2).

``ivfpq_topk`` is correct but trains the coarse quantizer and the PQ
codebooks INSIDE every query call — a production 100 TB similarity
service trains once and probes many times. This module banks the
trained index as snapshot-table sidecars, riding the same manifest
machinery as the ANALYZE NDV sketches (C3):

* ``ann_index_build(table, ...)`` — trains the quantizers (the
  deterministic shared Lloyd rounds in ``llm/similarity.py``),
  encodes the whole corpus to (neighbor_id, list_id, codes), writes
  the quantizer JSON + a codes parquet under ``<root>/_indexes/
  ann_<hex>/``, and publishes a commit banking the ``ann`` metadata —
  carried through every subsequent commit like constraints/ndv, swept
  by VACUUM only when no retained manifest references it.
* ``ann_index_refresh(table)`` — the R10 delta posture applied to ANN:
  encodes ONLY the vectors in files added since ``covered_version``
  (manifest diff, O(churn)) through the BANKED quantizer — zero Lloyd
  rounds — and appends a new codes generation.
* ``ann_probe(table, queries, ...)`` — loads the quantizer (driver
  metadata, KBs), reads the banked codes generations (newest
  generation wins per vector id), and runs the EXACT same
  ``ivfpq_search`` as the in-query-trained operator; the final
  re-rank attaches vectors from the LIVE table, so rows deleted or
  updated after the last refresh drop out / re-score correctly.
  ``TRAIN_METRICS['lloyd_rounds']`` stays at ZERO on this path — the
  pinned fact separating "loads the index" from "silently retrains".

Stale-index semantics (the standard ANN contract): vectors added
after the last refresh are invisible until the next refresh; a
re-encoded id's older generation is shadowed at probe time; candidate
RANKING uses banked codes, so recall on churned rows degrades until
refresh — exactness of returned scores never does (exact re-rank).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, functions as F

from ..sources.snapshots import SnapshotTable, load_manifest
from .similarity import (
    _corpus_vecs, _encode_frame, _train_quantizers, ivfpq_search,
)


def ann_index_build(
    table: SnapshotTable,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    m: int = 8,
    k_codes: int = 16,
    kmeans_iters: int = 2,
) -> int:
    """Train + encode + bank. Both quantizers train in the same Lloyd
    rounds (one Spark job each, per-cluster partials to the driver —
    the corpus itself never reaches it), then one encode pass writes
    (neighbor_id, list_id, codes)."""
    cur = table.current_version()
    m_head = load_manifest(table.root, cur)
    corpus = table.read().select(id_col, vec_col)
    cents, pq = _train_quantizers(
        corpus, id_col, vec_col, kmeans_iters, n_lists=n_lists,
        dim=dim, m=m, k_codes=k_codes,
    )
    d = os.path.join(table.root, "_indexes", f"ann_{uuid.uuid4().hex}")
    os.makedirs(d, exist_ok=True)
    qpath = os.path.join(d, "quantizer.json")
    with open(qpath, "w") as f:
        json.dump(
            {
                "cents": cents,
                "pq": pq,
                "dim": dim,
                "n_lists": n_lists,
                "m": m,
                "k_codes": k_codes,
            },
            f,
        )
    codes_dir = os.path.join(d, "codes_0")
    _encode_frame(corpus, cents, pq, id_col, vec_col).write.mode(
        "errorifexists"
    ).parquet(codes_dir)
    ann = {
        "id_col": id_col,
        "vec_col": vec_col,
        "dim": dim,
        "dir": d,
        "quantizer": qpath,
        "codes": [codes_dir],
        "covered_version": cur,
    }
    return table._publish(
        m_head["files"], cur, m_head["stats"], ann=ann, op="ANN INDEX"
    )


def ann_index_refresh(table: SnapshotTable) -> int:
    """Incremental index maintenance: encode only the vectors in files
    ADDED since ``covered_version`` (manifest diff — the same
    incremental-consumption shape as the change feed) through the
    banked quantizer. Zero Lloyd rounds; cost O(churn), never
    O(corpus). No new files → metadata-only cursor advance."""
    cur = table.current_version()
    m_head = load_manifest(table.root, cur)
    ann = dict(m_head.get("ann") or {})
    if not ann:
        raise ValueError("no ANN index banked — run ann_index_build")
    covered = int(ann["covered_version"])
    if covered >= cur:
        return cur
    old = set(load_manifest(table.root, covered)["files"])
    new_files = [f for f in m_head["files"] if f not in old]
    ann["covered_version"] = cur
    if new_files:
        with open(ann["quantizer"]) as f:
            q = json.load(f)
        fresh = table._scan(new_files, m_head).select(
            ann["id_col"], ann["vec_col"]
        )
        gen_dir = os.path.join(
            ann["dir"], f"codes_{len(ann['codes'])}"
        )
        _encode_frame(
            fresh, q["cents"], q["pq"], ann["id_col"], ann["vec_col"]
        ).write.mode("errorifexists").parquet(gen_dir)
        ann["codes"] = list(ann["codes"]) + [gen_dir]
    return table._publish(
        m_head["files"], cur, m_head["stats"], ann=ann,
        op="ANN REFRESH",
    )


def _deduped_scan(spark, ann) -> DataFrame:
    """The banked code generations with newest-generation shadowing
    applied (a re-encoded id's older codes drop out)."""
    gens = [
        spark.read.parquet(p).withColumn("__gen", F.lit(i))
        for i, p in enumerate(ann["codes"])
    ]
    scan = gens[0]
    for g in gens[1:]:
        scan = scan.unionAll(g)
    if len(gens) == 1:
        return scan.drop("__gen")
    return (
        scan.groupBy("neighbor_id")
        .agg(
            F.max_by(
                F.struct("list_id", "codes"), F.col("__gen")
            ).alias("__s")
        )
        .select(
            "neighbor_id",
            F.col("__s.list_id").alias("list_id"),
            F.col("__s.codes").alias("codes"),
        )
    )


def ann_index_optimize(table: SnapshotTable) -> int:
    """Compact the code generations into ONE sidecar (shadowing
    resolved at compaction time), so probes go back to a shuffle-free
    scan — the OPTIMIZE of the index lifecycle. No-op at one
    generation. The compacted index lands in a FRESH ``ann_`` dir
    (quantizer copied alongside): the reachability unit VACUUM sweeps
    is the dir, so reusing the old one would keep every superseded
    generation on disk forever — this way the old dir ages out with
    the manifests that reference it."""
    import shutil

    cur = table.current_version()
    m_head = load_manifest(table.root, cur)
    ann = dict(m_head.get("ann") or {})
    if not ann:
        raise ValueError("no ANN index banked — run ann_index_build")
    if len(ann["codes"]) <= 1:
        return cur
    d = os.path.join(
        table.root, "_indexes", f"ann_{uuid.uuid4().hex}"
    )
    os.makedirs(d, exist_ok=True)
    qpath = os.path.join(d, "quantizer.json")
    shutil.copyfile(ann["quantizer"], qpath)
    compacted = os.path.join(d, "codes_0")
    _deduped_scan(table.spark, ann).write.mode(
        "errorifexists"
    ).parquet(compacted)
    ann.update(
        {"dir": d, "quantizer": qpath, "codes": [compacted]}
    )
    return table._publish(
        m_head["files"], cur, m_head["stats"], ann=ann,
        op="ANN OPTIMIZE",
    )


def ann_refresh_stream(
    table: SnapshotTable,
    checkpoint: str,
    available_now: bool = False,
    processing_time: str | None = None,
):
    """ALWAYS-ON index maintenance: the table's change-data-feed
    stream triggers ``ann_index_refresh`` once per micro-batch that
    carries inserts — the refresh itself reads the manifest diff, so
    the stream is purely the SCHEDULER (epoch payload is discarded; a
    redelivered epoch makes the refresh a covered-version no-op).
    Same zero-Lloyd-rounds contract as the batch refresh."""
    from ..sources.pyds import register_snapshot_source

    spark = table.spark
    register_snapshot_source(spark)

    def maybe_refresh(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.limit(1).count() > 0:
            ann_index_refresh(table)

    stream = (
        spark.readStream.format("pysnapshot")
        .option("root", table.root)
        .option("readChangeFeed", "true")
        .load()
    )
    writer = (
        stream.writeStream.foreachBatch(maybe_refresh)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def ann_probe(
    table: SnapshotTable,
    queries: DataFrame,
    query_id: str = "vec_id",
    k: int = 5,
    n_probe: int = 4,
    n_candidates: int = 60,
) -> DataFrame:
    """Probe the banked index: NO training, no corpus encode — the
    query pays quantizer-load (KBs of JSON), one collect of the query
    batch (its probe lists and ADC tables are built in numpy),
    one ``ivfpq_search`` scan pass over the banked codes that keeps
    only each task's per-query top-``n_candidates``, and the bounded
    exact re-rank against the live table."""
    m_head = load_manifest(table.root, table.current_version())
    ann = m_head.get("ann")
    if not ann:
        raise ValueError("no ANN index banked — run ann_index_build")
    with open(ann["quantizer"]) as f:
        q = json.load(f)
    spark = table.spark
    # newest generation shadows re-encoded ids; at one generation (or
    # after ann_index_optimize compacts) this is a shuffle-free scan
    scan = _deduped_scan(spark, ann)
    return ivfpq_search(
        queries,
        scan,
        _corpus_vecs(table.read(), ann["id_col"], ann["vec_col"]),
        q["cents"],
        q["pq"],
        query_id=query_id,
        vec_col=ann["vec_col"],
        k=k,
        n_probe=n_probe,
        n_candidates=n_candidates,
    )
