"""Streaming extraction ingest (north-rule resumability, streaming
form): payload files arriving in a directory are decoded and folded
continuously — binaryFile file-source stream -> one Arrow stage that
decodes (quarantine on corrupt bytes) and exactly folds each payload
-> one manifest-committed snapshot per micro-batch, with a checkpoint.

The file source's checkpoint gives exactly-once per input FILE: a
restart (same checkpoint dir) skips every payload already committed
and processes only newly arrived files — the streaming analogue of
jobs/extract_job.py's snapshot-resume anti-join, and what a
continuously-fed 100 TB ingest actually runs (`availableNow` drains
the backlog and stops; drop the trigger for continuous micro-batches).
The OUTPUT is exactly-once too: every micro-batch commits through the
batch job's snapshot sink (sinks/snapshot.py) under a deterministic
id, so a crash-replayed batch no-ops instead of appending twice. There
is no at-least-once mode; read the table via read_committed.

All the heavy lifting is `extract_job --payloads`' own decode-and-fold
stage (sources/binary_decode.py extract_payloads, so a corrupt payload
is one status='quarantined' row in both modes), run unchanged on each
micro-batch inside foreachBatch. No stateful operator is involved
(each document folds independently), so there is no watermark and no
state store to size.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pdfspark.config import ExtractConfig
from pdfspark.operators.extract import lineage_table
# called through the module, so a wrapper set on it at run time (the
# perfbench tracer's commit span) sees every epoch's commit
from pdfspark.sinks import snapshot
from pdfspark.sources.binary_decode import extract_payloads

# brace glob (Hadoop GlobFilter): raw %PDF corpora arrive as .pdf, the
# fixture stand-ins as .bin — a single-extension filter silently
# ignored half the real arrivals
PATH_GLOB = "*.{bin,pdf}"


def extract_payload_stream(
    spark: SparkSession,
    payload_dir: str,
    out_path: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = ExtractConfig(),
    max_files_per_trigger: int | None = None,
    metrics_path: str | None = None,
) -> None:
    """Drain all unprocessed payload files into the snapshot table at
    ``out_path``; returns after the availableNow query terminates.

    Each micro-batch commits one manifested snapshot (the batch sink's
    rename protocol) under a DETERMINISTIC id derived from (epoch,
    input-file list), so a crash-replayed batch finds its manifest and
    no-ops instead of appending twice (the idempotent-foreachBatch
    pattern). With ``metrics_path`` the batch's per-partition lineage
    rows (partition_id, doc_count, bytes_in, spans_out, wall_ms, plus
    the batch epoch) commit as an aux table under the same id — the
    north rule's lineage contract on the streaming ingest; a crash
    between the two publishes is healed by ``recover`` at the next
    start. Read the table via read_committed (never plain
    spark.read.parquet). Each epoch's commit rebalances its rows, so a
    small epoch writes one file rather than one per task
    (commit_append gives the sizing rule; a large epoch still writes
    about one per core), but every epoch is still its own snapshot and
    manifest: run ``extract_job --compact`` periodically to bound
    their count. Output and checkpoint must be wiped together (the
    contract the file-source checkpoint already imposes)."""
    reader = (
        spark.readStream.format("binaryFile")
        # the binaryFile format's fixed schema, required explicitly for
        # a streaming source
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", PATH_GLOB)
    )
    if max_files_per_trigger is not None:
        # NOT a truthiness test: an explicit 0 must reach Spark
        # (which rejects it) rather than silently meaning "no limit"
        # — the opposite of the throttle the caller asked for
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    bin_stream = reader.load(payload_dir)

    # Decode + fold run INSIDE foreachBatch, on the raw binary batch:
    # each payload folds to its own row (two payloads declaring one
    # doc_id fold to two rows — dedupe by doc_id downstream).
    def sink(batch_df, epoch_id: int) -> None:
        folded = extract_payloads(batch_df, cfg)
        write_metrics = metrics_path is not None
        if write_metrics:
            folded.persist()
        try:
            # deterministic id: a replayed epoch re-reads the SAME file
            # set (recorded in the source commit log), so the path
            # digest matches and the commit no-ops; a fresh checkpoint
            # over a grown input dir yields a new digest even at the
            # same epoch number. Paths only — a driver-sized collect
            # bounded by maxFilesPerTrigger.
            paths = sorted(r.path for r in batch_df.select("path").collect())
            digest = hashlib.md5(
                "\n".join(paths).encode("utf-8")).hexdigest()[:12]
            aux = None
            if write_metrics:
                aux = [(lineage_table(folded)
                        .withColumn("epoch_id", F.lit(epoch_id).cast("long")),
                        metrics_path)]
            snapshot.commit_append(
                folded.select("doc_id", "status", "spans", "spans_in",
                              "spans_out"),
                out_path, aux=aux,
                snap_id=f"snap-epoch{epoch_id:09d}-{digest}")
        finally:
            if write_metrics:
                folded.unpersist()

    # heal the data-manifested / aux-unmanifested crash window a prior
    # run may have left (the replay no-ops on the data side, so only
    # this pass can republish the aux marker), then reclaim crash
    # debris — this IS the advertised scheduled-drain loop, so without
    # it a driver killed mid micro-batch leaks staging dirs forever
    snapshot.recover(out_path, [metrics_path])

    q = (
        bin_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
