#!/usr/bin/env python
"""Low-core scaling leg for the bench's sf1 scale-out block (r12,
VERDICT-r11 #5): time the shuffle-bound LLM trio on a SMALL core count
with the exact bench methodology (noop sink, per-query warm pass,
min-of-N), so .bench/BENCH_DETAIL.json can record native scale-out evidence at
the SF where parallelism is real. Run by bench.py as a subprocess (a
SparkSession's master is fixed at startup, so the low-core leg needs its
own JVM); also runnable standalone.

Usage: python tools/bench_scaling.py <sf_dir> <cpus> [runs]
Prints one JSON line: {"cpus": N, "queries": {name: sec, ...}}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALING_QUERIES = ["llm_jaccard_pairs", "llm_minhash_pairs",
                   "llm_topk_similarity"]


def main() -> None:
    sf_dir = sys.argv[1]
    cpus = int(sys.argv[2])
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from s3_glue_redshift_guide_spark.queries import REGISTRY  # noqa: E402
    from s3_glue_redshift_guide_spark.session import get_spark  # noqa: E402
    import bench  # noqa: E402  (same OPERATOR_OVERRIDES + noop sink)

    spark = get_spark("bench-scaling", cpus=cpus)
    # same warm-up discipline as bench.run_suite: shared shingle
    # featurization materializes OUTSIDE every timed window
    from s3_glue_redshift_guide_spark.queries.llm_suite import _shingle_sets

    spark.range(1000).toPandas()
    bench.materialize(_shingle_sets(spark, sf_dir))

    timings: dict[str, float] = {}
    for name in SCALING_QUERIES:
        fn = bench.OPERATOR_OVERRIDES.get(name, REGISTRY[name].fn)
        spark.sparkContext.setJobDescription(f"scaling[{cpus}] {name}")
        bench.materialize(fn(spark, sf_dir))  # warm (JIT the query's classes)
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            bench.materialize(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    print(json.dumps({"cpus": cpus, "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
