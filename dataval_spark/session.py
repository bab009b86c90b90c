"""SparkSession construction tuned for this engine.

Local-mode defaults match the sandbox (local[N], single JVM); the same
builder flags are what we'd ship in spark-submit conf for a multi-executor
cluster: AQE on (runtime re-plan + skew-join), shuffle partitions sized to
parallelism, Arrow enabled for the few pandas-UDF paths, UTC session TZ so
results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataval_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N] → N concurrent tasks; shuffle partitions ~ 2×tasks keeps all
    # cores busy through AQE coalesce without tiny-partition overhead.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus * 2 if n == "*" else max(8, int(n) * 2)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g, not bigger: with a huge heap G1's young-gen sizing collapses
        # at high thread counts (measured: identical 17M-row suite run,
        # 48g heap -> 98s at local[32]; 16g heap -> 14s). The engine's
        # narrow-shuffle design keeps working sets small, so a compact
        # heap with tight GC beats a giant one.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The fused suite plan generates very large whole-stage methods;
        # HotSpot refuses to JIT methods over ~8000 bytecode
        # (-XX:DontCompileHugeMethods), so Spark's default 65535 limit
        # silently leaves the hot loop in the bytecode interpreter.
        # Capping at 8000 makes oversized stages fall back to smaller
        # JIT-able units — measured 4x faster on the full suite.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # reliable checkpoint() files (connected_components' cluster
        # mode writes one labels snapshot per round) are deleted when
        # their RDD is GC'd instead of accumulating until manual cleanup
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
