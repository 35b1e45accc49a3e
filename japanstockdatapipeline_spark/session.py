"""SparkSession factory tuned for the local[N] test rig.

On a real cluster these configs move to spark-submit/cluster conf;
the knobs that matter at 100 TB (AQE, shuffle partitions, Arrow)
are the same ones set here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "jsdp-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # one shuffle partition per core locally; on a cluster this is
        # sized to ~128MB per task and AQE coalesces the tail
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for the pandas/Arrow-backed operators.
        # Value-neutral by construction (both pandas paths concat all
        # batches per partition before computing). r13 A/B at sf0.1
        # (tools/arrow_batch_ab.py + a focused 7-round cal-interleaved
        # rerun, plans/r13/arrow_batch_ab.json): 16k beats the old 64k
        # by ~16% on the wide (~30-col) event panel passthrough
        # (2.54 vs 3.04 s noop at matched calibration) and is flat
        # within noise on the narrow paths — guide §4.2's "lower for
        # wide rows" point measured.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # generated-class cache (default 100 entries). Measured working
        # sets with an unbounded cache at sf0.01 (perfbench, seed 405):
        # one whole nightly_refresh run (set-up plus 3 refreshes)
        # generates 157 distinct classes, one serving_reads run (21
        # requests) 335. At 100, one refresh's classes evict each other
        # and a warm refresh recompiles ~130 of them through Janino; at
        # 1000 a warm refresh compiles ~6 (the ones that inline its
        # as_of date literal).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
