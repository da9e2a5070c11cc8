"""Custom stateful streaming operator: per-user sessionization via
applyInPandasWithState (SURVEY §2.8 extension; the streaming analogue
of operators/retrieval.sessionize_events).

State per user = the tail of the last (possibly still-open) session,
so sessions spanning micro-batches merge correctly: every batch emits
its closed sessions plus the current cumulative snapshot of the open
tail (required so finite availableNow input flushes the last session),
and the reader dedupes per (user_id, session_id) keeping the snapshot
with the most events — counts are cumulative, so the last emission IS
the complete session regardless of how many micro-batches the input
arrived in. On a finite, batch-time-ordered input the result equals
the batch gaps-and-islands result, which is exactly what the DuckDB
oracle computes — the stateful streaming path is hash-verified, and
tests/test_streaming.py re-verifies it under a forced multi-batch
split (maxFilesPerTrigger=1 over two files).

Out-of-order arrival ACROSS micro-batches (a later file carrying
earlier timestamps, e.g. a backfill landing behind live data) gets
watermark-style semantics: an event inside the open session's
[start, end] span is absorbed (provably identical to the batch
answer — inserting a point between two members of an island never
splits it); an event older than the open session's start is dropped
as late data (the batch answer would need an already-emitted session
reopened, i.e. unbounded state). Within a batch rows are sorted, so
this only concerns the cross-batch seam.

At scale: state is keyed by user_id (hash-distributed), size O(1) per
user; with a real unbounded source add a GroupStateTimeout to evict
idle users instead of relying on the end-of-input snapshot.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("n_events", T.IntegerType()),
        T.StructField("start_ts", T.StringType()),
        T.StructField("end_ts", T.StringType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

# (next_session_id, open_last_us, open_start_str, open_n, open_total)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.IntegerType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("start_ts", T.StringType()),
        T.StructField("n_events", T.IntegerType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("end_ts", T.StringType()),
    ]
)

FMT = "%Y-%m-%d %H:%M:%S.%f"


def _sessionize_group(key, pdfs: Iterator[pd.DataFrame], state: GroupState,
                      gap_us: int):
    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"])

    if state.exists:
        sid, last_us, start_ts, n_ev, total, end_ts = state.get
        start_us = (
            pd.Timestamp(start_ts).value // 1000 if start_ts else None
        )
    else:
        sid, last_us, start_ts, n_ev, total, end_ts = 0, None, None, 0, 0.0, None
        start_us = None

    out = []
    for ts, ev, val in zip(rows["ts"], rows["event_id"], rows["value"]):
        us = ts.value // 1000
        s = ts.strftime(FMT)
        # NULL value arrives as NaN through Arrow; SUM semantics (the
        # batch sessionizer and the DuckDB oracle) skip it while still
        # counting the event — adding it would poison the session
        # total to NaN
        v = float(val)
        if v != v:
            v = 0.0
        if last_us is not None and us < last_us:
            # out-of-order cross-batch arrival (within a batch rows
            # are sorted). Inside the open session's span: absorb —
            # exactly the batch gaps-and-islands answer. Older than
            # the open session: late data, dropped (see module doc).
            if start_us is not None and us >= start_us:
                n_ev += 1
                total += v
            continue
        if last_us is None or us - last_us > gap_us:
            if n_ev:
                out.append((user_id, sid, n_ev, start_ts, end_ts, total))
            sid, start_ts, n_ev, total = sid + 1, s, 0, 0.0
            start_us = us
        last_us, end_ts = us, s
        n_ev += 1
        total += v
    # emit the open tail as a cumulative snapshot AND keep it in state:
    # if more events arrive in a later micro-batch the session keeps
    # accumulating and a bigger snapshot supersedes this one (the
    # reader dedupes per (user_id, session_id) on max n_events); if
    # not, this snapshot is the final flush.
    if n_ev:
        out.append((user_id, sid, n_ev, start_ts, end_ts, total))
    state.update((sid, last_us, start_ts, n_ev, total, end_ts))
    yield pd.DataFrame(
        out,
        columns=["user_id", "session_id", "n_events", "start_ts", "end_ts",
                 "total_value"],
    )


def sessionize_stream(
    spark: SparkSession, events_path: str,
    max_files_per_trigger: int | None = None,
    path_glob: str | None = None,
) -> DataFrame:
    """Run stateful sessionization as a streaming query (availableNow,
    memory sink) and return the materialized sessions, split at the
    batch operator's SESSION_GAP_MINUTES.

    `max_files_per_trigger` forces a multi-micro-batch run (used by
    tests to prove cross-batch session merging); `path_glob` overrides
    the source's default file filter (exact basename for a file input,
    *.parquet for a directory dataset — see streaming/source.py)."""
    from pdfspark.operators.retrieval import SESSION_GAP_MINUTES
    from pdfspark.streaming.source import parquet_stream

    stream = (
        parquet_stream(spark, events_path, path_glob,
                       max_files_per_trigger)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "event_id", "ts", "value")
    )
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000

    def fn(key, pdfs, state):
        yield from _sessionize_group(key, pdfs, state, gap_us)

    sessions = stream.groupBy("user_id").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
    from pdfspark.streaming.drain import drain_memory_sink

    # cumulative-snapshot dedupe: a session that spanned micro-batches
    # was emitted once per batch with growing counts; keep the largest
    # snapshot per (user_id, session_id) — that is the complete session.
    def dedupe(t):
        from pyspark.sql import Window

        w = Window.partitionBy("user_id", "session_id").orderBy(
            F.desc("n_events"), F.desc("end_ts")
        )
        return (
            t.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "user_id", "session_id", "n_events", "start_ts", "end_ts",
                F.round("total_value", 2).alias("total_value"),
            )
        )

    return drain_memory_sink(sessions, "stream_sessions", "append", dedupe)
