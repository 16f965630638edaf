"""SparkSession factory tuned for the quality-filter workload.

Local-mode settings mirror what a 1000-executor cluster job would set:
AQE on (runtime coalesce + skew-join), Arrow for pandas UDF transfer,
shuffle partitions sized to the parallelism level instead of the 200
default, UTC session timezone for deterministic timestamp semantics.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "metadata_quality_stack_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
) -> SparkSession:
    """Build (or fetch) the session.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback all cores).
    shuffle_partitions defaults to the local core count — on a real cluster
    this would be ~2-3x total executor cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.index("[") + 1 : -1] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_cached(per_context: bool = False):
    """Bounded lru-cache for a builder of Column select-lists.

    A PySpark Column is a handle on a JVM object, and building one costs
    several py4j round trips (the call itself plus the call-site capture
    of Spark 4's ``_with_origin``); the scoring plan is ~1,300 of them.
    The builder's arguments must be hashable names, never Columns or
    DataFrames. The cache key adds the py4j gateway, so a relaunched JVM
    rebuilds instead of sending dead object ids. Native Columns outlive
    ``spark.stop()``; a Column that binds SparkContext state (a Python
    UDF binds the context's accumulator) passes ``per_context=True`` and
    is keyed on the live SparkContext instead. Callers receive shared
    tuples and must not mutate them.
    """

    def deco(build):
        @functools.lru_cache(maxsize=64)
        def keyed(_scope, *args):
            return build(*args)

        @functools.wraps(build)
        def cached(*args):
            scope = SparkContext._active_spark_context if per_context else SparkContext._gateway
            return keyed(scope, *args)

        cached.cache_info = keyed.cache_info
        return cached

    return deco
