"""SparkSession factory with scale-appropriate defaults.

Maps the reference's ``HelixDB::open`` runtime setup (thread-per-core glommio
executors — reference src/db.rs:108-132) onto Spark's own scheduler: on a real
cluster the same code runs with executors instead of local threads; nothing
here is local-mode-specific except the master URL, which is injectable via
``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    about 60% of the host's physical memory, in MiB. In local mode the
    driver JVM holds every executor too, so a fixed large heap can outgrow
    a small host and get the JVM killed mid-run; 60% leaves room for the
    JVM's off-heap memory and the Python workers."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "4g"  # no sysconf on this platform
    return f"{max(1024, phys * 6 // 10 >> 20)}m"


def get_session(
    app_name: str = "helixdb_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Scale posture: AQE on (runtime coalesce + skew-join splitting), shuffle
    partitions sized to the parallelism actually available, UTC session TZ so
    results are oracle-comparable, Arrow on for the Pandas-UDF slow path.
    On a 1000-executor cluster the only knobs that change are master and
    ``spark.sql.shuffle.partitions`` (set ~2-3x total cores there).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate duplicates the generator's child
        # expression into a filter that predicate-pushdown then moves BELOW
        # the repartition exchange — for explode(expensive_expr) (the
        # shingling path) that re-evaluates the whole expression serially on
        # the narrow pre-shuffle side. The inferred filter only skips empty
        # arrays, which Generate drops anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # driver testdata writes events.ts as TIMESTAMP(NANOS), which Spark
        # cannot map to TimestampType; read it as long and convert in the
        # loader (helixdb_spark.sources.tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # list partitioned dirs on the driver up to 1024 paths: the default
        # threshold (32) turns every probe of a 64-bucket LSH / √n-list IVF
        # layout into a cores-wide distributed listing job (see
        # operators.util.ensure_session_tuned, which applies the same conf
        # to harness-owned sessions)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "1024"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
