"""Bucketed parquet tables — shuffle-free repeated joins on doc_id.

At corpus scale every operator family keys on ``doc_id`` (spans ↔
documents joins, curation ↔ components, dedup verdict application).
Plain parquet pays a full shuffle of BOTH sides on every such join or
aggregation; a bucketed layout (`DataFrameWriter.bucketBy`) pins each
doc_id to one of N hash buckets AT WRITE TIME, so every later
join/groupBy on the key reads co-located buckets and skips the
exchange entirely — the classic Spark answer to "the same 100 TB
join key, query after query". Reference framing: the reference
re-parses PDFs per pipeline (BASELINE.md structural table) and has no
storage layout at all; this is the Spark-first replacement for that
repeated work.

Semantics and tradeoffs (documented, test-pinned):

- Bucketed writes go through ``saveAsTable`` (the bucket metadata
  lives in the catalog, not the files). On a cluster that catalog is
  Hive/Glue/Unity and persists; ``local`` tests use the in-memory
  session catalog, so the layout is honored within the writing
  session — the plan shape (no Exchange on a co-bucketed join) is
  what the tests assert.
- Commit protocol: ``saveAsTable`` is catalog-atomic, which is a
  DIFFERENT durability story from the manifest snapshots in
  ``sinks/snapshot.py`` (object-store-safe, kill-tested). Use
  snapshots for raw landing zones, bucketed tables for the hot
  query-side layout.
- Both sides of a join must agree on bucket COUNT (or be integer
  multiples with ``spark.sql.sources.bucketing.coalesceBucketsInJoin``)
  and key; a helper keeps that contract in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 32


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Write ``df`` as an external bucketed+sorted parquet table,
    replacing any table of that name.

    ``sortBy(key)`` inside each bucket additionally lets one-file-
    per-bucket reads skip the SortMergeJoin sort. ``path`` makes the
    table external: the data outlives the local catalog, and a new
    session (or engine) can still read the files as plain parquet —
    only the no-shuffle property needs the catalog entry."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if key not in df.columns:
        raise ValueError(f"bucket key {key!r} not in {df.columns}")
    (
        df.write.format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — the ONLY read path that carries bucket metadata
    into the plan (``spark.read.parquet(path)`` on the same files
    yields correct rows but re-shuffles on join)."""
    return spark.table(table)
