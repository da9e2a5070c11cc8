"""SparkSession factory with the engine's scale-oriented defaults.

AQE + Arrow + sane shuffle sizing; in production this is what the
spark-submit job configures, in tests it builds local[N].
"""

import os

from pyspark.sql import SparkSession


def build_session(
    master: str | None = None,
    app_name: str = "pdfspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # one task slot per CPU this process may run on (its affinity mask,
    # not the host's CPU count) unless SPARK_GRAFT_CPUS says otherwise
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # size shuffles to the MASTER actually in use: a caller passing
        # master='local[2]' must not inherit the env's CPU count
        # (over-partitioned shuffles on a 2-core session)
        import re

        m = re.fullmatch(r"local\[(\d+)\]", master)
        if m:
            shuffle_partitions = int(m.group(1))
        else:
            n = cpus if cpus.isdigit() else os.cpu_count() or 8
            shuffle_partitions = int(n)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Adaptive execution: runtime coalesce + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
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
        .config("spark.driver.memory", os.environ.get("PDFSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
