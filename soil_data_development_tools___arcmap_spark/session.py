"""SparkSession factory with scale-appropriate defaults.

Defaults are tuned so the same code runs on local[32] for tests and on a
multi-executor cluster unchanged: AQE on (runtime re-plan, skew-join
handling), explicit shuffle partitioning, Arrow for the few pandas-UDF
paths, UTC session timezone so timestamp semantics match the DuckDB
oracle used by the correctness harness.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Local-mode JVM heap: the Spark default (1g) OOMs in shuffle spill
    # readers once fact tables reach a few million rows on 32 task
    # threads. Sized for the test box; on a real cluster spark-submit
    # owns executor/driver memory and this only affects the driver.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_MEM", "12g"),
    # AQE: coalesce post-shuffle partitions, convert to broadcast at
    # runtime, split skewed partitions — all critical at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # start wide, let AQE coalesce down — partition-count headroom is
    # what keeps per-task state spill-free when the input grows 10-100x
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "128",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Below this many reducers Spark's bypass-merge shuffle writer opens
    # one file per reducer in every map task and then concatenates them:
    # 128 file opens per map task at initialPartitionNum above. 0 keeps
    # every shuffle on the serialized sort writer (one file per map
    # task), the writer Spark already picks at >= 200 partitions, so
    # all scales run the same writer.
    "spark.shuffle.sort.bypassMergeThreshold": "0",
    # Deterministic timestamp behavior (matches DuckDB's naive handling).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / mapInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Metadata/dimension tables are tiny; let Catalyst broadcast eagerly.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Keep parquet scans chunky; small test files still read as 1 task.
    "spark.sql.files.maxPartitionBytes": "128MB",
    "spark.sql.shuffle.partitions": "32",
    # Quieter driver logs in test runs.
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "sddt-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    on a real cluster ``master`` comes from spark-submit and this
    function only layers the semantic confs on top.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
