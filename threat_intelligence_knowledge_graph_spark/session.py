"""SparkSession construction with scale-oriented defaults.

One place to pin the configs that matter at 100 TB: AQE (runtime
re-planning + skew-join splitting), Arrow batching for the pandas kernels,
and shuffle-partition sizing. Tests and bench both build sessions here so
measured plans are the shipped plans.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "tikg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cores:
        master = f"local[{cores}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime coalescing of small shuffle
        # partitions + skew-join splitting (hot CVEs/domains; long convs).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for mapInPandas/applyInPandas kernels; bounded
        # batches so reassembled long conversations can't blow memory.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # Broadcast threshold comfortably above all dimension tables.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # The driver heap is set only on request: a fixed default sized for
    # one host starves another (spark-submit's --driver-memory also works).
    if "SPARK_DRIVER_MEMORY" in os.environ:
        builder = builder.config("spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"])
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Spark's Python workers import this package and inherit the
    # environment the JVM takes from this process when it starts, so a
    # job run from another directory without --py-files needs the
    # package's root on PYTHONPATH before the first session is built.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])
    spark = builder.getOrCreate()
    # AQE coalescing balances shuffle BYTES, but our post-shuffle stages
    # (pandas extraction kernel, collect_list reassembly) are CPU-heavy per
    # row — never let AQE shrink below full parallelism.
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionNum",
        str(spark.sparkContext.defaultParallelism * 2),
    )
    return spark
