"""Structured Streaming surface (SURVEY §2.8 — optional demo).

The reference is strictly batch; this module shows the engine's
streaming path on the driver's `events` table: file-source readStream
-> tumbling-window aggregate -> availableNow trigger -> memory sink.
On a finite input the result equals the batch `groupBy(window(...))`,
which is what the DuckDB oracle computes — so even the streaming
query is hash-verified.

The query runs in COMPLETE mode so that a finite availableNow drain
emits every window (the oracle compares the full result). In complete
mode a watermark would be a no-op (state is never evicted and late
data is never dropped), so none is set. State is keyed by (window,
event_type): small cardinality, no skew concern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# tumbling-window width; the DuckDB oracle (oracle_pipeline
# .stream_windowed_sql) buckets by the same value
WINDOW_HOURS = 1

def windowed_counts_stream(
    spark: SparkSession, events_path: str, path_glob: str | None = None,
) -> DataFrame:
    """Run the windowed aggregation as a real streaming query
    (availableNow) and return the materialized result."""
    from pdfspark.streaming.source import parquet_stream

    stream = (
        # parquet TIMESTAMP_NTZ -> TIMESTAMP (session TZ = UTC, exact)
        parquet_stream(spark, events_path, path_glob)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = stream.groupBy(
        F.window("ts", f"{WINDOW_HOURS} hour").alias("w"), "event_type"
    ).agg(
        F.count("*").cast("int").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    from pdfspark.streaming.drain import drain_memory_sink

    return drain_memory_sink(
        agg,
        "stream_windowed",
        "complete",
        transform=lambda t: t.select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        ),
    )
