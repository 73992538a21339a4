"""SparkSession factory.

Mirrors the reference's Spark tuning surface (AQE + coalescePartitions,
Kryo, sane shuffle sizing — /root/reference/spark/batch_feature_calculation.py:18-28,
/root/reference/k8s/spark/spark-deployment.yaml:55-60) re-expressed for a
single factory that works both in local[N] test mode and, unchanged, on a
multi-executor cluster (everything here is config, not topology).

Scale notes (100 TB design):
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a real cluster set it (or rely on AQE coalescing) to ~2-3x
  total executor cores. AQE re-plans skewed joins and coalesces small
  shuffle partitions at runtime, so a high static value is safe.
- ``spark.sql.files.maxPartitionBytes`` stays at the 128 MB default so a
  100 TB scan fans out to ~800k input splits — bounded, and AQE keeps
  downstream stages right-sized.
- Arrow is enabled for the (rare) Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Settable at runtime (SQLConf); required because the driver-generated
# events.parquet stores TIMESTAMP(NANOS) which Spark 4 otherwise rejects.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Permissive-null arithmetic (x/0 → NULL), matching DuckDB's float
    # semantics and the reference's Postgres NULLIF idioms; ANSI mode
    # would hard-fail the whole job on a single bad row at 100 TB.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # PySpark 4 captures a python stack trace on EVERY DataFrame API
    # call to enrich error messages (errors/utils._capture_call_site)
    # — measured 11-19% of DataFrame-construction time on the
    # build-heavy queries (guide §1.2 driver-side cost). Pure
    # error-metadata, zero effect on results; off in production.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Driver heap for a factory-launched JVM: half of physical RAM,
    never above 24g. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(24 * 1024, total_mb // 2)}m"
    except OSError:
        pass
    return "24g"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply dynamic SQL confs to an externally-created session.

    The correctness driver hands us its own SparkSession; every entry
    point must route through this so nanos parquet + UTC semantics hold
    regardless of who built the session.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf locked by a running query — keep going
            pass
    return spark


def get_spark(
    app_name: str = "fts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # local[N] runs every task inside the driver JVM, whose default
        # heap is 1g — starved at 32 concurrent tasks (GC-locker stalls
        # kill tasks and their shuffle files on wide joins). A heap sized
        # past physical RAM gets the JVM OOM-killed instead. Only takes
        # effect when this factory launches the JVM; a driver-provided
        # session keeps its own sizing.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
