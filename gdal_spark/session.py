"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would submit cluster-side via
``spark-submit --py-files``: AQE on (runtime skew-join splitting is part
of the north-rule skew story), shuffle partitions sized to cores, then
coalesced by AQE to at least 1 MB per task, Arrow enabled for every
pandas-UDF hop.

Coalescing is Spark's default: a post-shuffle stage runs as many tasks
as its bytes need, so a small aggregate writes one part file instead of
one per core. The target is total shuffle bytes / cores, but never below
1 MB (``parallelismFirst`` and ``minPartitionSize``, both defaults): a
shuffle over cores × 1 MB keeps its full width, and one under it is
coalesced to about one task per MB, whatever the stage costs per row.
A stage whose work is per row rather than per byte (a Python kernel,
an explode) asks for its width with :func:`full_width`, since a
repartition to a given number is never coalesced (BENCH.md, "AQE
coalesce starvation").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app: str = "gdal_spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N-ish partitions; a 1000-executor cluster would use
        # executors*cores*2..3 — set via SPARK_SHUFFLE_PARTITIONS.
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local sf files are a few MB: without a floor on scan splits a
        # whole table lands in 1-3 input partitions and 29 of 32 cores
        # idle through every scan-heavy stage (observed: flagship scans
        # ran "(0 + 3) / 3"). On a real cluster the same floor comes
        # from block sizes; here we force split parallelism explicitly.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    if master.startswith("local"):
        # Our repartition() calls spread single-row-group scans; the
        # pre-shuffle sort only exists so round-robin output is
        # deterministic across task retries (SPARK-23207) and costs
        # more than the exchange itself on wide rows. Local mode has no
        # fetch-failure-driven stage retries, so skipping the sort is
        # safe HERE ONLY — cluster sessions keep the safe default.
        b = b.config("spark.sql.execution.sortBeforeRepartition", "false")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def full_width(df: DataFrame, *cols) -> DataFrame:
    """``df`` in ``spark.sql.shuffle.partitions`` partitions, hashed on
    ``cols`` (round-robin without them). AQE coalesces a shuffle by its
    bytes, which starves a stage whose cost is per row of a few MB of
    input; a repartition to a number is left at that width. A hash on
    the very keys ``df`` is already partitioned by is dropped by the
    planner, and ``df`` keeps its own width."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)
