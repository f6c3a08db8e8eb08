"""ingest_upsert: the paper's pipeline, one landed CSV drop per operation.

Each drop lands as a new ``dt=`` partition; ``FileTriggeredWorkflow.
poll_once`` re-crawls the prefix and runs the bookmarked job, whose
loader stages the batch into the DuckDB warehouse (COPY) and merges it
into a snapshot table (MERGE on ``order_id``). Every ``OPTIMIZE_EVERY``
drops the table's small files are compacted inside the same operation.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen

NAME = "ingest_upsert"
BASE_ROWS = 5_000       # drop 0: the base load
ROWS_PER_DROP = 2_000   # new keys per drop
UPDATE_FRAC = 0.1       # plus this share of updates to earlier keys
WARM_DROPS = 1
OPTIMIZE_EVERY = 3
SECONDS_PER_DROP = 3.0  # nominal: the pass lands seconds / this drops

#: the Change-schema mapping: CSV strings to these Spark types
CAST = {"order_id": "bigint", "customer_id": "bigint", "status": "string",
        "amount": "decimal(12,2)", "note": "string",
        "updated_at": "timestamp_ntz", "dt": "date"}
#: the same columns as DuckDB types, for the reference computation
DUCKDB = {"order_id": "BIGINT", "customer_id": "BIGINT", "status": "VARCHAR",
          "amount": "DECIMAL(12,2)", "note": "VARCHAR", "updated_at": "TIMESTAMP"}


def pass_drops(seconds: int) -> int:
    return max(3, round(seconds / SECONDS_PER_DROP))


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_pass = pass_drops(ctx.seconds)
        self.src = os.path.join(ctx.cache, f"ingest-{ctx.seed}-{BASE_ROWS}-{ROWS_PER_DROP}"
                                f"-{UPDATE_FRAC}-{WARM_DROPS + self.n_pass}")

    def planned_ops(self) -> int:
        return self.n_pass

    def generate(self) -> None:
        done = os.path.join(self.src, "_DONE")
        if not os.path.exists(done):
            shutil.rmtree(self.src, ignore_errors=True)
            self.drops = gen.ingest_drops(self.src, self.ctx.seed,
                                          WARM_DROPS + self.n_pass, BASE_ROWS,
                                          ROWS_PER_DROP, UPDATE_FRAC)
            with open(done, "w") as f:
                f.write("\n".join(self.drops))
        with open(done) as f:
            self.drops = f.read().split("\n")

    # ------------------------------------------------------------ pipeline
    def _land(self, i: int) -> None:
        rel = self.drops[i]
        dst = os.path.join(self.landing, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = os.path.join(os.path.dirname(dst), "." + os.path.basename(dst))
        shutil.copyfile(os.path.join(self.src, rel), tmp)
        os.rename(tmp, dst)
        self.landed.append(rel)

    def build(self) -> None:
        """Starting state through the program: a landing prefix,
        warehouse, checkpoint and snapshot table, loaded with the base
        drop by one workflow run."""
        import duckdb
        from s3_glue_redshift_guide_spark import orchestration
        from s3_glue_redshift_guide_spark.operators.projection import SchemaMapping
        from s3_glue_redshift_guide_spark.sinks.warehouse_copy import (
            DuckDBWarehouse, StagedCopyWriter)
        from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

        ctx, tr = self.ctx, self.ctx.tracer
        d = os.path.join(ctx.tmp, "ingest")
        self.landing = os.path.join(d, "landing")
        os.makedirs(self.landing)
        self.landed: list[str] = []
        self.table = SnapshotTable(ctx.spark, os.path.join(d, "table"))
        self.wh = duckdb.connect()
        warehouse = DuckDBWarehouse(self.wh)
        raw_copy = warehouse.execute_copy

        def execute_copy(table, staging_path, mode):
            if ctx.trace:
                tr.count("copy.staged_bytes", _du(staging_path))
            with tr.span("copy.load", "warehouse_copy"):
                return raw_copy(table, staging_path, mode)

        warehouse.execute_copy = execute_copy
        writer = StagedCopyWriter(os.path.join(d, "staging"), warehouse)
        update = {c: F.col(f"__src_{c}") for c in CAST}

        def loader(batch, epoch):
            with tr.span("copy", "warehouse_copy"):
                writer.write(batch, "orders")
            before = _du(self.table.root) if ctx.trace else 0
            with tr.span("merge", "snapshots_write"):
                self.table.merge_mor(batch, on=["order_id"], when_matched_update=update)
            if ctx.trace:
                tr.count("merge.written_bytes", _du(self.table.root) - before)

        schema = T.StructType([T.StructField(c, T.StringType()) for c in CAST])
        mapping = SchemaMapping.from_dict({c: (c, t) for c, t in CAST.items()})
        raw_crawl = orchestration.crawl

        def crawl(spark, name, path, **kw):
            if ctx.trace:
                tr.count("crawl.input_bytes", _du(path))
            with tr.span("crawl", "inference"):
                return raw_crawl(spark, name, path, **kw)

        orchestration.crawl = crawl
        self.flow = orchestration.FileTriggeredWorkflow(
            ctx.spark, "orders_landing", self.landing, schema,
            os.path.join(d, "checkpoint"), loader, transform=mapping.apply)
        self.flow.fire = tr.wrap(self.flow.fire, "fire", "incremental")
        self.flow.source.run_once = tr.wrap(self.flow.source.run_once, "job", "incremental")
        self._land(0)
        self._drop()

    def _drop(self) -> None:
        tr = self.ctx.tracer
        run = self.flow.poll_once()
        if run is None or run.batches != 1:
            raise RuntimeError(f"drop {self.landed[-1]}: workflow run {run}")
        tr.count("job.batches", run.batches)
        if len(self.landed) % OPTIMIZE_EVERY == 0:
            before = _du(self.table.root) if self.ctx.trace else 0
            with tr.span("optimize", "snapshots_write"):
                self.table.optimize_small_files(1 << 20, 4 << 20)
            if self.ctx.trace:
                tr.count("optimize.rewritten_bytes", _du(self.table.root) - before)

    def warm(self):
        for i in range(1, 1 + WARM_DROPS):
            yield self._op(i)

    def ops(self):
        """The timed pass: a fixed number of drops, one operation each."""
        for i in range(1 + WARM_DROPS, 1 + WARM_DROPS + self.n_pass):
            yield self._op(i)

    def _op(self, i: int):
        def op():
            with self.ctx.tracer.span("poll", "incremental"):
                self._drop()

        # landing is the generator's work: done before the op is timed
        self._land(i)
        return "drop", op

    def pass_counters(self) -> dict:
        return {"table.files": self.table.file_count()}

    # --------------------------------------------------------------- check
    def verify(self, sampler) -> list[str]:
        from perfbench.check import compare

        typed = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in DUCKDB.items())
        parts = []
        for i, rel in enumerate(self.landed):
            day = rel.split("/")[0][3:]
            parts.append(
                f"SELECT {i} AS drop_no, {typed}, DATE '{day}' AS dt FROM read_csv("
                f"'{os.path.join(self.src, rel)}', header=true, quote='\"', "
                f"escape='\\', all_varchar=true)")
        self.wh.sql("CREATE OR REPLACE TEMP VIEW landed AS " + " UNION ALL ".join(parts))
        cols = ", ".join(CAST)
        errs = compare(self.wh.sql(f"SELECT {cols} FROM orders").df(),
                       self.wh.sql(f"SELECT {cols} FROM landed").df(), "warehouse")
        want = self.wh.sql(
            f"SELECT {cols} FROM landed QUALIFY row_number() OVER "
            "(PARTITION BY order_id ORDER BY drop_no DESC) = 1").df()
        got = self.table.read().select(*CAST).toPandas()
        errs += compare(got, want, "snapshot table")
        return errs


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
