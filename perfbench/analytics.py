"""analytics_read: the registry's relational queries plus snapshot-table
reads, in cycles.

One cycle loads the catalog, runs the eight relational queries into the
noop sink, then reads a snapshot table that set-up built through the
program (appends, an update, a delete and a bloom index): bloom-pruned
point lookups, zone-pruned key ranges and one change-feed range. Keys
and ranges are drawn per cycle from the seed. Warm-up runs one cycle on
a second dataset of the same shape.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.layers import QUERIES

NAME = "analytics_read"
SF = 0.02                  # TPC-H-shaped tables: 3k orders, ~12k lineitems
TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events"]
SNAP_BATCHES, SNAP_ROWS = 1, 5_000
LOOKUPS, RANGES, RANGE_WIDTH = 4, 2, 2_000
SECONDS_PER_CYCLE = 8.0    # nominal: the pass runs seconds / this cycles


def pass_cycles(seconds: int) -> int:
    return max(1, round(seconds / SECONDS_PER_CYCLE))


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_cycles = pass_cycles(ctx.seconds)
        self.dir = os.path.join(ctx.cache, f"analytics-{ctx.seed}-{SF}")
        self.rng = np.random.default_rng([ctx.seed, 5])

    def planned_ops(self) -> int:
        return self.n_cycles * (1 + len(QUERIES) + LOOKUPS + RANGES + 1)

    def generate(self) -> None:
        for variant in ("timed", "warm"):
            d = os.path.join(self.dir, variant)
            if not os.path.exists(os.path.join(d, "_DONE")):
                gen.tpch_tables(d, self.ctx.seed, SF, variant=int(variant == "warm"))
                open(os.path.join(d, "_DONE"), "w").close()
        self.batches = [pd.DataFrame(b) for b in
                        gen.snapshot_batches(self.ctx.seed, SNAP_BATCHES + 1, SNAP_ROWS)]

    def build(self) -> None:
        """Snapshot history through the program: an append, a bloom index
        on ``uid``, an update, a delete and one more append. The expected
        state after every commit is kept."""
        from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

        spark = self.ctx.spark
        t = self.table = SnapshotTable(spark, os.path.join(self.ctx.tmp, "snapshot"))
        state = self.batches[0].iloc[:0]
        self.states = {0: state}

        def commit(new_state):
            self.states[t.current_version()] = new_state

        for b in self.batches[:SNAP_BATCHES]:
            t.commit_append(spark.createDataFrame(b))
            state = pd.concat([state, b], ignore_index=True)
            commit(state)
        t.add_bloom_index("uid")
        commit(state)
        t.update_where(F.col("grp") == 7, {"val": F.col("val") + 1})
        state = state.assign(val=np.where(state.grp == 7, state.val + 1, state.val))
        commit(state)
        t.delete_where(F.col("grp") == 13)
        state = state[state.grp != 13]
        commit(state)
        t.commit_append(spark.createDataFrame(self.batches[SNAP_BATCHES]))
        commit(pd.concat([state, self.batches[SNAP_BATCHES]], ignore_index=True))
        self.final = self.states[t.current_version()]
        self.reads = []

    def warm(self):
        """One cycle on the second dataset. Its queries collect their
        results, which ``verify`` compares with the DuckDB oracle; the
        timed cycles write to the noop sink, whose output is not kept."""
        self.warm_results = {}
        return self._cycle(os.path.join(self.dir, "warm"), keep=False)

    def ops(self):
        for _ in range(self.n_cycles):
            yield from self._cycle(os.path.join(self.dir, "timed"), keep=True)

    def _cycle(self, sf_dir: str, keep: bool):
        from s3_glue_redshift_guide_spark.catalog import load_tables
        from s3_glue_redshift_guide_spark.queries import REGISTRY

        ctx, tr, t = self.ctx, self.ctx.tracer, self.table

        def catalog():
            with tr.span("catalog", "queries"):
                load_tables(ctx.spark, sf_dir, TABLES)

        yield "catalog", catalog
        for q in QUERIES:
            def query(q=q):
                with tr.span(f"query.{q}", "queries"):
                    df = REGISTRY[q].fn(ctx.spark, sf_dir)
                    if keep:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        self.warm_results[q] = df.toPandas()

            yield "query", query
        uids = self.rng.choice(self.final.uid.to_numpy(), size=LOOKUPS, replace=False)
        for uid in uids.tolist():
            def lookup(uid=uid):
                with tr.span("lookup", "snapshots_read"):
                    got = t.read_where_eq("uid", uid).toPandas()
                if ctx.trace:
                    files, _, total = t.point_lookup_files("uid", uid)
                    tr.count("lookup.files_read", len(files))
                    tr.count("lookup.files_total", total)
                self._keep(keep, ("lookup", uid, got))

            yield "lookup", lookup
        hi_key = int(self.final.k.max())
        for lo in self.rng.integers(0, hi_key - RANGE_WIDTH, size=RANGES).tolist():
            def key_range(lo=lo, hi=lo + RANGE_WIDTH - 1):
                with tr.span("range", "snapshots_read"):
                    got = t.read_where("k", lo, hi).filter(
                        F.col("k").between(lo, hi)).toPandas()
                self._keep(keep, ("range", (lo, hi), got))

            yield "range", key_range
        def cdf(a=1, b=t.current_version()):
            # every commit kind lies in (1, head]: append, bloom, update,
            # delete, append; so each cycle reads the same amount of churn
            with tr.span("cdf", "snapshots_read"):
                got = t.read_changes(a, b).toPandas()
            self._keep(keep, ("cdf", (a, b), got))

        yield "cdf", cdf

    def _keep(self, keep: bool, item) -> None:
        if keep:
            self.reads.append(item)

    def pass_counters(self) -> dict:
        return {}

    # --------------------------------------------------------------- check
    def verify(self, sampler) -> list[str]:
        import duckdb

        from perfbench.check import canon, compare
        from s3_glue_redshift_guide_spark.queries import REGISTRY

        sf_dir = os.path.join(self.dir, "warm")
        con = duckdb.connect()
        for name in TABLES:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, name)}.parquet'")
        errs = []
        for q in QUERIES:
            errs += compare(self.warm_results[q], con.sql(REGISTRY[q].oracle).df(), q)
        cols = list(self.batches[0].columns)
        for kind, arg, got in self.reads:
            f = self.final
            if kind == "lookup":
                errs += compare(got[cols], f[f.uid == arg], f"lookup uid={arg}")
            elif kind == "range":
                errs += compare(got[cols], f[f.k.between(*arg)], f"range k in {arg}")
            else:
                a, b = (Counter(canon(self.states[v])) for v in arg)
                # canonical rows order columns by name: _change_type first
                want = Counter({(("s", "insert"),) + r: n for r, n in (b - a).items()})
                want.update({(("s", "delete"),) + r: n for r, n in (a - b).items()})
                if Counter(canon(got[cols + ["_change_type"]])) != want:
                    errs.append(f"cdf {arg}: change rows differ from the history")
        return errs
