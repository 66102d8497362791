"""SparkSession factory tuned for the test/bench environment.

Local mode is a single JVM; ``spark.driver.memory`` is the only memory knob.
On a real cluster the same conf block applies minus the master/memory lines:
AQE handles skew/coalesce at runtime, shuffle partitions sized to the stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "data_transform_make_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (bench contract).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # modest heap on purpose: a 48g heap measurably degrades these
        # small-partition workloads (longer GC pauses, no benefit) — at
        # sf0.1 the working set is well under 16g even with 32 tasks
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # recursive CTEs (rc1): Spark caps ACCUMULATED recursive output at
        # 1M rows by default — a hierarchy query over a >1M-row table
        # aborts mid-recursion regardless of per-level size. 2^31-1 keeps
        # the safety valve (runaway recursion still dies) while admitting
        # real catalog/hierarchy sizes; the level limit (100) is left
        # alone — log-depth recursions never approach it.
        .config("spark.sql.cteRecursionRowLimit", str(2**31 - 1))
        # the default 240m JIT code cache fills after ~50 distinct
        # whole-stage-codegen plans in one JVM; once full the JIT stops
        # compiling and HOF-heavy stages (nested transform/slice in the
        # dedup operators) run interpreted — measured 5x slower. On a
        # cluster, set the same flag in spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

