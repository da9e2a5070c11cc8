"""SparkSession factory with the engine's scale-oriented defaults.

AQE + Arrow + sane shuffle sizing. Under spark-submit the submitted
master and driver memory stand and the shuffle partitions follow the
session's default parallelism; launched from plain Python (tests,
benches) it builds local[N].
"""

import os
import re

from pyspark.sql import SparkSession


def build_session(
    master: str | None = None,
    app_name: str = "pdfspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # spark-submit starts the driver JVM first and hands this process
    # its gateway in PYSPARK_GATEWAY_PORT (a plain `python` launch has
    # none): builder options would override the submitted --master, and
    # the driver memory can no longer change
    submitted = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    b = (
        SparkSession.builder.appName(app_name)
        # Adaptive execution: runtime coalesce + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / applyInPandas boundary; modest
        # batch size because span arrays are fat rows.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # Nested-column pruning keeps span-struct scans narrow.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # split small local files aggressively: at 100 TB a scan has
        # millions of splits; locally the default 128m would serialize
        # whole-table scans into one task. Overridable for real
        # clusters, where 8m would explode task counts ~16x vs 128m.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("PDFSPARK_MAX_PARTITION_BYTES", "8m"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if not submitted:
        # one task slot per CPU this process may run on (its affinity
        # mask, not the host's CPU count) unless SPARK_GRAFT_CPUS says
        # otherwise
        cpus = os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0))))
        master = master or f"local[{cpus}]"
        m = re.fullmatch(r"local\[(\d+)\]", master)
        if shuffle_partitions is None and m:
            shuffle_partitions = int(m.group(1))
        b = b.master(master).config(
            "spark.driver.memory",
            os.environ.get("PDFSPARK_DRIVER_MEM", "8g"))
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if shuffle_partitions is None:
        # size shuffles to the master actually in use (a submitted one,
        # or one whose slot count the name does not give)
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    return spark
