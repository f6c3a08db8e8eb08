"""SparkSession construction and the runtime confs the engine depends on.

Two entry paths:

* ``get_spark()`` — build a local session (tests, bench). Sized for
  ``local[N]`` single-JVM mode; on a real cluster the same confs apply
  except ``driver.memory`` (executors have their own sizing).
* ``configure(spark)`` — apply the *runtime-settable* confs to a session we
  did not create (the correctness driver owns its own SparkSession). Every
  query entry point calls this so behavior does not depend on who built the
  session.

Scale notes (100 TB posture):
* AQE on everywhere: runtime shuffle-partition coalescing, skew-join
  splitting, and join-strategy downgrade to broadcast are the single
  highest-leverage knobs at scale.
* ``spark.sql.shuffle.partitions`` here is a local-mode default; at cluster
  scale AQE coalesces from a deliberately high initial number, so the
  static value matters little as long as AQE is on.
* Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are runtime-settable and must hold on ANY session running our
# queries (including the correctness driver's own session).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects by default; read as long (ns since epoch) and convert in
    # catalog.load_events.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas / pandas_udf hot paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # RocksDB state store for streaming state (round-11 probe,
    # BENCH_NOTES.md "streaming state-store probe"): the HDFS-backed
    # default keeps every state row ON EXECUTOR HEAP at a measured
    # ~215 B/row — 1e8 keys/executor is ~21 GB of heap — and its
    # per-trigger cost drifts up with state (exponent 0.24/decade);
    # RocksDB's is flat in state size (-0.06) at equal local wall
    # clock. Safe here because every engine stream builds a fresh
    # checkpoint; Spark refuses a provider switch under an existing
    # checkpoint loudly, so a user resuming foreign checkpoints must
    # override this conf back.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-owned session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static on some builds; never fail a query over it.
            pass
    try:
        # Size the shuffle width to the actual parallelism instead of the
        # 200-partition default: on an externally-owned local session the
        # default means ~170 empty tasks of pure scheduling overhead per
        # shuffle; on a cluster defaultParallelism tracks total cores and
        # AQE coalesces from there. Respect an explicit user setting.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    return spark


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """The local driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    half of the machine's ``MemTotal``, never above 24g (the JVM heap
    must leave room for the Python workers and the page cache). A
    machine without ``/proc/meminfo`` gets the 24g ceiling."""
    try:
        with open(meminfo) as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{min(24 << 10, kb // 2048)}m"


def get_spark(app_name: str = "s3_glue_redshift_guide_spark",
              cpus: int | None = None) -> SparkSession:
    """Local session sized from $SPARK_GRAFT_CPUS (default: all cores).

    Python workers get the package's parent directory on their
    PYTHONPATH (ahead of any inherited value): a module-level kernel
    pickles by reference, so a driver that found the package through
    ``sys.path`` alone, started outside the checkout, would otherwise
    fail every such task with ``ModuleNotFoundError``."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(
        filter(None, [pkg_parent, os.environ.get("PYTHONPATH")])
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .config("spark.sql.warehouse.dir", os.path.join(os.path.dirname(__file__), "..", ".spark-warehouse"))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
