"""SparkSession factory with scale-oriented defaults.

The reference is a single-threaded eager pandas pipeline
(/root/reference/main.py:26-109); here the session is configured for a
real cluster: AQE (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for any pandas interchange, and a shuffle-partition
count sized to the local test harness (override for a cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "simple_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Local defaults come from SPARK_GRAFT_CPUS; on a cluster, pass
    ``master=None`` with an external cluster manager and size
    ``shuffle_partitions`` to ~2-3x total cores.
    """
    # Make the package importable inside Python workers regardless of the
    # driver's cwd (mapInPandas closures reference module functions).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime adaptivity: coalesce tiny shuffle partitions, split skewed
        # ones, convert sort-merge to broadcast when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for toPandas / pandas UDF exchange (vectorized path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # surfaces as timestamp[ns] in arrow footer probes (breaking the
        # nanos-unit detection in schemas.py) and is deprecated in the
        # parquet spec; micros round-trips bit-exact with our readers.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long, converted in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory)
        # Fault the whole heap in at JVM start (-Xms == -Xmx +
        # AlwaysPreTouch): the r15 host probe (tools/host_memory_probe.py)
        # measured the hypervisor page-supply path fluctuating 0.06-3.4
        # GB/s between reps while warm memory holds ~7.5 GB/s, and heap
        # pages faulted lazily MID-QUERY were the largest Spark exposure
        # to that noise (15-27% of the degraded-phase inflation in the
        # A/B, SCALING.md r15). Pre-touching moves the cost to one
        # bounded startup step so per-query timings measure the queries.
        # On a real cluster the same flags go in
        # spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_memory} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # static config — must be set before the session exists (bucketed
        # tables land here; see operators/bucketing.py)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_graft_warehouse"),
        )
    )
    return builder.getOrCreate()
