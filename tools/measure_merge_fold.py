"""Measure tf_merge_mor in isolation (bench-identical setup), min-of-N.

Each timed merge runs under its own Spark job group, and its job count
is printed next to the wall and the MERGE_METRICS phases, so one run
reproduces the merge's job graph size before and after a change.

Usage: SPARK_GRAFT_SF_DIR=<sf dir, e.g. .../sf0.1> python tools/measure_merge_fold.py [runs]
"""
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from s3_glue_redshift_guide_spark.catalog import load_table  # noqa: E402
from s3_glue_redshift_guide_spark.session import get_spark  # noqa: E402
from s3_glue_redshift_guide_spark.sources.snapshots import (  # noqa: E402
    MERGE_METRICS,
    SnapshotTable,
)

runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("measure-merge-fold")
sc = spark.sparkContext
base = tempfile.mkdtemp(prefix="measure_merge_")
orders = load_table(spark, sf_dir, "orders").select(
    "o_orderkey", "o_custkey", "o_orderstatus",
    F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
)
orders.count()

best = None
try:
    for i in range(runs + 1):  # first pass is warm-up
        t = SnapshotTable(spark, os.path.join(base, f"t{i}"))
        t.commit_append(orders.repartition(8))
        src = orders.filter(F.col("o_orderkey") % 10 == 3).select(
            "o_orderkey",
            (F.col("price_cents") - 100).alias("price_cents"),
        ).unionAll(
            orders.filter(F.col("o_orderkey") % 20 == 7).select(
                (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
                F.col("price_cents"),
            )
        )
        group = f"measure-merge-{i}"
        sc.setJobGroup(group, f"measure tf_merge_mor run {i}")
        t0 = time.perf_counter()
        t.merge_mor(
            src,
            on=["o_orderkey"],
            when_matched_delete=F.col("__src_price_cents") % 7 == 0,
            when_matched_update={"price_cents": F.col("__src_price_cents")},
        )
        wall = time.perf_counter() - t0
        sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(
            f"run {i}{' (warm-up)' if i == 0 else ''}: {wall:.3f}s  "
            f"jobs={jobs}  phases={dict(MERGE_METRICS)}"
        )
        if i > 0:
            best = wall if best is None else min(best, wall)
    print(f"MIN {best:.3f}s sf_dir={sf_dir}")
finally:
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()
