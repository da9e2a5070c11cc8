"""Streaming extraction ingest (north-rule resumability, streaming
form): payload files arriving in a directory are decoded and folded
continuously — binaryFile file-source stream -> one Arrow stage that
decodes (quarantine on corrupt bytes) and exactly folds each payload
-> append parquet sink with a checkpoint.

The file source's checkpoint gives exactly-once per input FILE: a
restart (same checkpoint dir) skips every payload already committed
and processes only newly arrived files — the streaming analogue of
jobs/extract_job.py's snapshot-resume anti-join, and what a
continuously-fed 100 TB ingest actually runs (`availableNow` drains
the backlog and stops; drop the trigger for continuous micro-batches).

All the heavy lifting is `extract_job --payloads`' own decode-and-fold
stage (sources/binary_decode.py extract_payloads, so a corrupt payload
is one status='quarantined' row in both modes), run unchanged on each
micro-batch inside foreachBatch. No stateful operator is involved
(each document folds independently), so there is no watermark and no
state store to size.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pdfspark.config import ExtractConfig
from pdfspark.operators.extract import lineage_table
from pdfspark.sources.binary_decode import extract_payloads


def extract_payload_stream(
    spark: SparkSession,
    payload_dir: str,
    out_path: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = ExtractConfig(),
    max_files_per_trigger: int | None = None,
    metrics_path: str | None = None,
    snapshot_output: bool = False,
    path_glob: str = "*.{bin,pdf}",
    commit_protocol: str = "rename",
) -> None:
    """Drain all unprocessed payload files into the parquet sink;
    returns after the availableNow query terminates.

    With `metrics_path` the query runs through foreachBatch so each
    micro-batch also appends its per-partition lineage rows
    (partition_id, doc_count, bytes_in, spans_out, wall_ms, plus the
    batch epoch) to the metrics table — the north rule's lineage
    contract on the streaming ingest. The file-source checkpoint keeps
    input exactly-once per file; plain-append output (default) is
    at-least-once on crash-during-write (standard Structured Streaming
    semantics — dedupe by doc_id downstream or let the batch job's
    resume anti-join reconcile).

    ``snapshot_output=True`` upgrades the OUTPUT to exactly-once: each
    micro-batch commits through the manifest-snapshot protocol
    (``commit_protocol``: "rename" or "manifest-only" — same semantics
    as the batch sink) under a
    DETERMINISTIC id derived from (epoch, input-file list), so a
    crash-replayed batch finds its manifest and no-ops instead of
    appending twice (the idempotent-foreachBatch pattern). Lineage
    commits as an aux table under the same id; a crash between the two
    publishes is healed by reconcile_aux at the next start. Read the
    table via read_committed (never plain spark.read.parquet). Each
    epoch's commit rebalances its rows, so a small epoch writes one
    file rather than one per task (commit_append gives the sizing
    rule; a large epoch still writes about one per core), but every
    epoch is still its own snapshot and manifest: run ``extract_job
    --compact`` periodically to bound their count. Output and
    checkpoint must be wiped together (the contract the file-source
    checkpoint already imposes)."""
    reader = (
        spark.readStream.format("binaryFile")
        # the binaryFile format's fixed schema, required explicitly for
        # a streaming source
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        # brace glob (Hadoop GlobFilter): raw %PDF corpora arrive as
        # .pdf, the fixture stand-ins as .bin — a single-extension
        # default silently ignored half the real arrivals
        .option("pathGlobFilter", path_glob)
    )
    if max_files_per_trigger is not None:
        # NOT a truthiness test: an explicit 0 must reach Spark
        # (which rejects it) rather than silently meaning "no limit"
        # — the opposite of the throttle the caller asked for
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    bin_stream = reader.load(payload_dir)

    # BOTH modes sink through foreachBatch plain appends. The earlier
    # split — streaming file sink without metrics, foreachBatch with —
    # wrote incompatible layouts to the same out_path: the file sink's
    # _spark_metadata log makes batch reads list only log-registered
    # files, silently hiding anything a later foreachBatch run
    # appended. One layout means checkpointed restarts can switch
    # metrics on/off freely; output is at-least-once on
    # crash-during-write either way (input stays exactly-once per file
    # via the source checkpoint) — dedupe by doc_id downstream or let
    # the batch job's resume anti-join reconcile.
    #
    # Decode + fold run INSIDE foreachBatch, on the raw binary batch:
    # each payload folds to its own row (two payloads declaring one
    # doc_id fold to two rows — dedupe by doc_id downstream).
    def sink(batch_df, epoch_id: int) -> None:
        folded = extract_payloads(batch_df, cfg)
        write_metrics = metrics_path is not None
        if write_metrics:
            folded.persist()
        try:
            out_rows = folded.select("doc_id", "status", "spans",
                                     "spans_in", "spans_out")
            if snapshot_output:
                import hashlib

                from pdfspark.sinks.snapshot import commit_append

                # deterministic id: a replayed epoch re-reads the SAME
                # file set (recorded in the source commit log), so the
                # path digest matches and the commit no-ops; a fresh
                # checkpoint over a grown input dir yields a new digest
                # even at the same epoch number. Paths only — a
                # driver-sized collect bounded by maxFilesPerTrigger.
                paths = sorted(r.path for r in
                               batch_df.select("path").collect())
                digest = hashlib.md5(
                    "\n".join(paths).encode("utf-8")).hexdigest()[:12]
                aux = None
                if write_metrics:
                    aux = [(lineage_table(folded)
                            .withColumn("epoch_id",
                                        F.lit(epoch_id).cast("long")),
                            metrics_path)]
                commit_append(out_rows, out_path, aux=aux,
                              protocol=commit_protocol,
                              snap_id=f"snap-epoch{epoch_id:09d}-{digest}")
            else:
                out_rows.write.mode("append").parquet(out_path)
                if write_metrics:
                    (lineage_table(folded)
                     .withColumn("epoch_id", F.lit(epoch_id).cast("long"))
                     .write.mode("append").parquet(metrics_path))
        finally:
            if write_metrics:
                folded.unpersist()

    if snapshot_output:
        # the batch job's _prepare_output preamble, streaming form:
        # heal the data-manifested / aux-unmanifested crash window a
        # prior run may have left (the replay no-ops on the data side,
        # so only this pass can republish the aux marker), then
        # reclaim unmanifested crash debris — this IS the advertised
        # scheduled-drain loop, so without the GC here a driver killed
        # mid micro-batch leaks staging dirs forever
        import os as _os

        from pdfspark.sinks.snapshot import gc_orphans, reconcile_aux

        if metrics_path is not None:
            reconcile_aux(out_path, [metrics_path])
        for tgt in [out_path] + ([metrics_path] if metrics_path else []):
            if _os.path.isdir(tgt):
                gc_orphans(tgt)

    q = (
        bin_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
