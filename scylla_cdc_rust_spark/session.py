"""SparkSession factory tuned for the CDC ingest workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyspark-cdc-ingest",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer parallelism over fat coalesced partitions: without this,
        # AQE coalesces post-shuffle stages to ~64MB partitions, capping
        # mid-size jobs at the same parallelism regardless of core count
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # AQE's local shuffle reader re-aligns reduce partitions to the
        # MAP layout under broadcast joins — which un-does an explicit
        # fan-out repartition (a 1-file scan collapses back to 1 task
        # with heavy projections above it; measured 4.4s vs 1.2s on the
        # decontamination probe).  It exists to avoid network reads on
        # a cluster; in local mode every read is local, so it can only
        # cost parallelism here
        .config("spark.sql.adaptive.localShuffleReader.enabled", "false")
        # smaller input splits: snappy parquet of int-array payloads packs
        # ~40 events/KB, so a 128MB split is ~5M events — far too coarse to
        # keep 32 threads busy on epoch-sliced scans (map-side decode +
        # explode + partial aggregation are scan-partition-bound)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark wraps every F.* / DataFrame call to capture its Python
        # call site for error messages: a stack walk plus ~5 py4j round
        # trips per call, ~250 calls per window on the driver while the
        # executors sit idle.  Errors still carry the JVM-side plan
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_min_parallelism(df, min_partitions: int | None = None,
                           by: str | None = None):
    """Fan a small scan out to the session's cores.

    A single sub-split parquet file scans as ONE task, serializing any
    compute-heavy projection stacked on it (n-gram explodes spend
    seconds per MB).  When the input has fewer partitions than the
    session's parallelism, repartition up — a shuffle of a small input
    is microseconds; when the input is already wide (the 100 TB case:
    partitions >> cores) this is a structural no-op, so production
    plans keep their scan-aligned, shuffle-free shape.

    ``by``: optional high-cardinality column to HASH-partition on
    instead of round-robin.  Keyless ``repartition(n)`` first pays a
    local sort of its input (``spark.sql.execution.sortBeforeRepartition``,
    on since SPARK-23207, so retried tasks reproduce their row→partition
    assignment); hashing a unique id column spreads rows just as evenly
    with no sort and stays deterministic under task retry (optimization
    guide §2.5).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if by is not None:
            from pyspark.sql import functions as F

            return df.repartition(target, F.col(by))
        return df.repartition(target)
    return df
