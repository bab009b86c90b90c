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


def _task_slots(master: str, cpus: int) -> int:
    """Concurrent task slots a master URL asks for: N from ``local[N]`` or
    ``local[N,F]`` (F = task retries), E×C from ``local-cluster[E,C,M]``,
    and ``cpus`` for ``*`` or a master without a bracket."""
    if "[" not in master:
        return cpus
    args = master[master.find("[") + 1 : master.find("]")].split(",")
    if master.startswith("local-cluster"):
        return int(args[0]) * int(args[1])
    return cpus if args[0].strip() == "*" else int(args[0])


def get_spark(
    app_name: str = "dataval_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # shuffle partitions ~ 2×task slots keeps all cores busy through AQE
    # coalesce without tiny-partition overhead.
    if shuffle_partitions is None:
        shuffle_partitions = max(8, _task_slots(master, cpus) * 2)

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
        # Static conf: Spark's LRU of compiled classes holds 100 entries by
        # default, but the pipelines here generate more distinct classes
        # than that (CodegenMetrics compiles in one fresh session: one
        # prepare_corpus op plus its packed write 172, then
        # transcript_suite 32 more, then the 50 queries at sf0.01 623
        # more; 835 in all), so each repeat op recompiled nearly all of
        # them in Janino and ran them cold in the interpreter. 1000 holds
        # that working set; each JVM (driver, executors) keeps its own.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
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
