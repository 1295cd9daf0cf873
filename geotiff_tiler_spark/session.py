"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster reading ~100 TB; tested on local[N].
Every knob here is a plain public Spark conf:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  hot H3 cells / hot domains are the expected skew source (north_rule).
- Arrow on for the pandas-UDF slow path.
- shuffle partitions sized for local mode; on a real cluster AQE coalesces
  from a deliberately high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "geotiff-tiler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # GC selection for the local-mode JVM (driver == all executors): the
    # throughput collector can beat G1 on batch pipelines where 32 task
    # threads allocate fast into one shared heap. Benchmarked via
    # SPARK_GRAFT_GC=parallel; default leaves the JVM default (G1).
    gc = os.environ.get("SPARK_GRAFT_GC", "")
    if gc == "parallel":
        builder = builder.config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    elif gc == "g1":
        builder = builder.config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def clear_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist every persisted RDD in the context; returns how many.

    localCheckpoint(eager=False) intermediates (dedup.ngram_jaccard_pairs,
    PageRank rounds) persist bounded candidate-sized partitions that live
    until the context dies. One query leaves a trivial footprint, but
    long-lived sessions that loop (bench sampling, check_contract's 40+
    queries) accumulate them — call this BETWEEN invocations, after the
    previous result is fully materialized. NOT safe mid-plan: local
    checkpointing truncates lineage, so a plan that still references the
    checkpointed RDD cannot recompute it after unpersist (Spark logs
    exactly this warning)."""
    jsc = spark.sparkContext._jsc.sc()
    rdds = jsc.getPersistentRDDs()
    it = rdds.values().iterator()
    n = 0
    while it.hasNext():
        it.next().unpersist(False)
        n += 1
    return n


