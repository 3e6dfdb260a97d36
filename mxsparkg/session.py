"""SparkSession factory tuned for the KG pipeline.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing and skew-join splitting — hot keys are left
  to the engine, not salted in user code
- Arrow batches capped small-ish: page rows are fat (html binary), so a
  batch of 512 keeps Python-worker memory bounded
- shuffle partitions default 2-3× cores locally; on a real cluster this is
  overridden by --conf (AQE coalesces the excess anyway)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "mxsparkg",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = int(master[master.index("[") + 1 : -1]) if "[" in master else cpus
        shuffle_partitions = max(2 * n, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default-false kills AQE partition coalescing under any persisted
        # subtree — iterative graph jobs (PageRank/CC) persist their
        # loop-invariant edge tables and were paying full-width shuffles
        # per round (measured 2-4x wall on the graph contract keys)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("MXS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
