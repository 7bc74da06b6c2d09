"""SparkSession construction tuned for this engine.

The reference engine configures its runtime through ``TableConfig`` /
``StreamExecutionEnvironment`` (reference: flink-table-api-java
.../TableConfig.java); here the equivalent knobs are Spark confs. Defaults are
chosen for correctness-vs-oracle (UTC timestamps) and for scale (AQE on,
adaptive skew handling) — the same settings hold on a real cluster; only
``shuffle.partitions`` / memory sizing change with cluster size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults that matter at 100 TB as much as at sf0.001:
#  - AQE re-plans joins + coalesces/splits shuffle partitions at runtime,
#    which is the scale story for skewed keys and mis-sized shuffles.
#  - UTC session timezone makes timestamp semantics engine-independent.
#  - Arrow makes any unavoidable Python boundary vectorized.
_BASE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # The events fixture stores TIMESTAMP(NANOS). pyspark 4.1 reads it as
    # TIMESTAMP_NTZ (micros-truncated) regardless of this conf; older Sparks
    # reject it unless nanosAsLong makes it an int64. The catalog normalizes
    # BOTH shapes to a session-tz TIMESTAMP, so reads work on any session —
    # the conf is kept only for older-Spark portability.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow batch size for mapInPandas/applyInPandas operators.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.ui.enabled": "false",
    # Python workers fork from a daemon that stops every task re-reading
    # pyspark.zip's directory (pyworker.py). Static: build time only.
    "spark.python.daemon.module": "apache_flink_spark.pyworker",
}

# Confs CORRECTNESS depends on — enforced on every caller-provided session
# (all runtime-settable SQL confs). AQE/filterPushdown are not listed: their
# engine values equal Spark's defaults, so a vanilla session already has
# them, and a caller who changed one did so deliberately (e.g. the plan
# tests disable broadcast to simulate fact-table scale).
_MANDATORY_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}

# Perf preferences applied only while the conf still holds its Spark default
# — never clobbering an explicit caller setting.
_PREFERRED_CONF = {
    # (engine value, Spark-default spellings that mean "caller never set it")
    "spark.sql.autoBroadcastJoinThreshold": (
        str(64 * 1024 * 1024),
        {"10MB", "10485760b", "10485760"},
    ),
    "spark.sql.shuffle.partitions": (
        str(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))),
        {"200"},
    ),
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session.

    The package contract is ``fn(spark, sf_dir)`` with a CALLER-provided
    session; correctness must not depend on how that session was built. Every
    conf here is runtime-settable (``spark.conf.set``), so this is safe to
    call repeatedly — it is invoked from the query registry and from
    ``catalog.load_tables`` so both the DataFrame and SQL entry points work
    on a vanilla ``SparkSession.builder.getOrCreate()`` session.
    """
    for k, v in _MANDATORY_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — skip; none of these should be.
            pass
    for k, (v, defaults) in _PREFERRED_CONF.items():
        try:
            if spark.conf.get(k, defaults and next(iter(defaults))) in defaults:
                spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def get_spark(
    app_name: str = "apache_flink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` drives local parallelism (driver contract); on a real
    cluster ``master`` comes from spark-submit and this falls through.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(cpus))
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    # Local-mode heap: the single JVM hosts ALL executor threads, so Spark's
    # 1g driver default is the wrong sizing on a many-core box (measured: the
    # 49M-row triangle wedge join at sf0.1 OOMs a 1g heap). Heap is
    # environment sizing, not an engine conf — only effective when THIS call
    # launches the JVM; a cluster deployment sizes executors via submit args.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    # Warehouse location override (environment sizing, like the heap):
    # concurrent local sessions (e.g. sharded test runs) must not share
    # ./spark-warehouse — managed-table writes would collide on disk.
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
