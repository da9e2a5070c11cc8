"""Cluster entrypoint for the extraction pipeline (north rule:
"ships as spark-submit --py-files on multi-executor clusters").

Usage:

    zip -r pdfspark.zip pdfspark
    spark-submit --py-files pdfspark.zip jobs/extract_job.py \
        --input  <documents_in parquet/iceberg path> \
        --geom   <spans_geom path, optional: header/footer source> \
        --output <extracted spans table path> \
        --metrics <lineage metrics table path> \
        [--resume]

    # OR bytes-in: raw PDF/JSON payload files, no pre-decoded table —
    # each payload is decoded and folded in one Python stage
    spark-submit --py-files pdfspark.zip jobs/extract_job.py \
        --payloads <dir of .pdf/.bin byte payloads> \
        --output <extracted spans table path> [--metrics ...]

    # OR HTML main-content extraction (north rule: boilerplate strip
    # + DOM heuristics): .html pages in, classified block rows out
    spark-submit --py-files pdfspark.zip jobs/extract_job.py \
        --html <dir of .html pages> \
        --output <blocks table path> [--metrics ...] [--resume]

    # OR streaming ingest: drain payload files arriving in a directory,
    # one exactly-once snapshot per micro-batch (checkpointed)
    spark-submit --py-files pdfspark.zip jobs/extract_job.py \
        --stream-payloads <arrivals dir> --checkpoint <dir> \
        --output <extracted spans table path> [--metrics ...]

    # OR maintenance: rewrite --output's (and --metrics') committed
    # snapshots into one N-file snapshot per table
    spark-submit --py-files pdfspark.zip jobs/extract_job.py \
        --compact [N] --output <table path> [--metrics ...]

Behavior (all per SURVEY.md §4 / BASELINE.json north_rule):
 - one route for every document, folded into one ordered row in one
   task: --input after a salted repartition on xxhash64(doc_id),
   --payloads inside its scan task with no shuffle (no skew split — the
   one nested output row dominates, so chunking a big doc lost to the
   plain fold up to 1M spans; BASELINE.md, "Job route A/B")
 - per-partition lineage rows (partition_id, doc_count, bytes_in,
   spans_out, wall_ms) committed to --metrics under the
   SAME snapshot id as the data (multi-table commit; a crash between the two
   manifest publishes is healed by the sink's recover at the next start,
   so committed documents can never lose their lineage rows)
 - every write — batch append, stream epoch, --compact rewrite — is a
   manifest-committed snapshot through one protocol
   (pdfspark/sinks/snapshot.py: staging write -> atomic rename ->
   manifest marker); --resume anti-joins against doc_ids in MANIFESTED
   snapshots only, so a crash mid-write can neither duplicate nor lose
   documents (exactly-once per doc_id) — swap the sink module for
   format("iceberg") on a cluster with the runtime catalog configured
 - data files are sized by the data, not by the fold's task count:
   the commit rebalances the output rows (per bucket under --buckets)
   and AQE coalesces them to files of max(minPartitionSize,
   min(advisoryPartitionSizeInBytes, commit bytes / defaultParallelism)),
   so a small append writes one file (one per bucket= directory), a
   mid-sized flat append about one per core (the fold's own count),
   and only an append above defaultParallelism x the advisory size
   writes files of about the advisory size
 - every committed parquet file is zstd, Iceberg's default codec
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:  # not needed when shipped via --py-files
    sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402


def _prepare_output(spark, args, frame):
    """The preamble every batch mode runs before its write: the sink's
    crash recovery (``snapshot.recover``), then under --resume an
    anti-join of the input against doc_ids in MANIFESTED snapshots
    only."""
    from pdfspark.operators.extract import resume_filter
    from pdfspark.sinks.snapshot import read_committed, recover

    recover(args.output, [args.metrics])
    if args.resume:
        # only MANIFESTED snapshots count as committed: a crash that
        # left partial data (staging or an unmanifested snapshot dir)
        # re-emits those documents instead of losing them
        committed = read_committed(spark, args.output, args.format)
        if committed is not None:
            frame = resume_filter(frame, committed)
    return frame


def _run_html_mode(spark, args) -> int:
    """--html: directory of .html pages -> main-content block rows
    (boilerplate strip + DOM heuristics), with the SAME snapshot
    commit, --resume exactly-once, crash-reconcile and lineage
    machinery as the span fold. Lineage rows are keyed by the page
    scan's partition ids; each page's committed rows (its blocks, or
    its zero-block sentinel) count under its own page's id."""
    from pyspark.sql import functions as F

    from pdfspark.operators.html_main import main_content_blocks

    pages = (
        spark.read.format("binaryFile")
        # brace glob: real page corpora mix .html and .htm
        .option("pathGlobFilter", "*.{html,htm}")
        .load(args.html)
        .select(
            F.regexp_extract(F.col("path"), r"([^/]+)\.html?$", 1)
            .alias("doc_id"),
            # F4 quarantine, not a stage kill: bare decode() throws
            # MALFORMED_CHARACTER_CODING under Spark 4 ANSI on the
            # first latin-1 page — gate it so malformed bytes become
            # NULL html, which the operator passes through as zero
            # blocks and the sentinel below commits as '_empty'
            F.when(
                F.expr("is_valid_utf8(cast(content as string))"),
                F.decode("content", "UTF-8"),
            ).alias("html"),
            F.length("content").cast("long").alias("bytes_in"),
        )
    )

    # doc_id = filename stem, so alpha.html + alpha.htm (or the same
    # stem in two subdirs) would silently merge into one document —
    # and --resume would then skip the late twin forever. Fail loudly
    # with examples instead; the check projects only the path-derived
    # doc_id, so no page content is read for it.
    dup = (pages.groupBy("doc_id").count().filter(F.col("count") > 1)
           .limit(5).collect())
    if dup:
        raise ValueError(
            "duplicate doc_ids from colliding page filenames "
            f"(stem maps .html/.htm and subdirs together): "
            f"{[r.doc_id for r in dup]} — rename the files or split "
            "the input directories")

    pages = _prepare_output(spark, args, pages)

    pages = pages.persist()
    blocks = main_content_blocks(pages)
    # zero-block pages (empty body, script-only, undecodable bytes)
    # MUST still commit a row: resume anti-joins committed doc_ids,
    # so an uncommitted page would be re-scanned — and its lineage
    # re-appended to --metrics — on every --resume run forever
    sentinel = (
        pages.join(blocks.select("doc_id").distinct(),
                   "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(-1).alias("block_id"),
            F.lit("_empty").alias("tag"),
            F.lit(0).alias("n_words"),
            F.lit(0).alias("n_link_words"),
            F.lit(0.0).alias("link_density"),
            F.lit(False).alias("dom_boiler"),
            F.lit(False).alias("is_content"),
            F.lit("").alias("text"),
        )
    )
    blocks = blocks.unionByName(
        sentinel.select(*[f.name for f in blocks.schema.fields])
    ).persist()
    aux = None
    if args.metrics:
        # count each page's committed rows (blocks or its sentinel)
        # under THAT page's partition id: the sentinel rows come out of
        # a join, so their own partition ids name no page partition
        per_page = blocks.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("spans_out"))
        metrics = (
            pages.select("doc_id", "bytes_in",
                         F.spark_partition_id().alias("partition_id"))
            .join(per_page, "doc_id", "left")
            .groupBy("partition_id")
            .agg(
                F.count("*").cast("long").alias("doc_count"),
                F.sum("bytes_in").cast("long").alias("bytes_in"),
                F.sum("spans_out").cast("long").alias("spans_out"),
            )
            .withColumn("wall_ms", F.lit(None).cast("double"))
        )
        aux = [(metrics, args.metrics)]
    _commit(args, blocks, aux)
    pages.unpersist()
    blocks.unpersist()
    return 0


def _commit(args, out, aux) -> None:
    """Commit ``out`` (with the ``aux`` lineage frames) as one snapshot
    of --output, partitioned by pmod(xxhash64(doc_id), N) under
    --buckets — the one bucket transform of every batch mode, so the
    flag cannot silently no-op in one of them."""
    from pyspark.sql import functions as F

    from pdfspark.sinks.snapshot import commit_append

    part = None
    if args.buckets > 0:
        out = out.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(args.buckets)))
        part = "bucket"
    snap = commit_append(out, args.output, fmt=args.format,
                         partition_by=part, aux=aux)
    print(f"extract_job: wrote snapshot {snap} to {args.output}")


def _run_compact_mode(spark, args) -> int:
    """--compact: the table-maintenance entry point. Run the sink's
    crash recovery (``snapshot.recover``), then rewrite committed
    snapshots into one ``args.compact``-file snapshot per table —
    data first, then metrics. Prints one JSON line per table; exit 0
    either way (nothing-to-compact is success, like an empty
    resume)."""
    import json

    from pdfspark.sinks.snapshot import (
        compact_snapshots,
        detect_partition_col,
        recover,
    )

    recover(args.output, [args.metrics])
    targets = [(args.output, args.format)]
    if args.metrics:
        targets.append((args.metrics, "parquet"))
    for tgt, fmt in targets:
        # the layout is a property of the TABLE, not of this
        # invocation: discover it from the snapshot dirs rather than
        # trusting the operator to re-pass --buckets (omitting it
        # would silently flatten the bucket layout on rewrite)
        part = detect_partition_col(tgt)
        snap = compact_snapshots(spark, tgt, fmt=fmt, n_files=args.compact,
                                 partition_by=part)
        print(json.dumps({"table": tgt, "compacted": snap,
                          "partition_by": part}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="documents_in parquet (doc_id, spans)")
    ap.add_argument(
        "--payloads", default=None,
        help="RAW byte-payload directory (PDF/JSON files) instead of "
             "--input: one binaryFile scan feeds one Python stage that "
             "decodes and folds each payload — the bytes-in -> "
             "extraction-out path, no pre-decoded table required. "
             "A payload that fails decode commits one "
             "status='quarantined' row, as in --stream-payloads.")
    ap.add_argument(
        "--html", default=None,
        help="directory of .html pages instead of --input/--payloads: "
             "runs the main-content extraction (boilerplate strip + "
             "DOM heuristics, operators/html_main.py) and commits the "
             "classified block rows; doc_id = file name stem. Same "
             "snapshot commit + --resume exactly-once semantics; "
             "--metrics records per-partition lineage rows.")
    ap.add_argument("--geom", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--format", choices=("parquet", "json"), default="parquet",
        help="output format: parquet (Iceberg-append analogue, default) "
             "or json lines (the reference's S9/S10 JSON sinks, "
             "file_util.py:58-146)",
    )
    ap.add_argument(
        "--stream-payloads", default=None, metavar="DIR",
        help="streaming ingest mode: drain raw payload files arriving "
             "in DIR through the checkpointed Structured Streaming "
             "decode+fold (availableNow trigger — processes the "
             "backlog and exits; re-run to pick up new files, or "
             "schedule it). Output commits exactly-once per "
             "micro-batch via deterministic snapshot ids; --metrics "
             "lineage rides each commit. Requires --checkpoint.",
    )
    ap.add_argument("--checkpoint", default=None,
                    help="checkpoint dir for --stream-payloads")
    ap.add_argument(
        "--max-files-per-trigger", type=int, default=None,
        help="micro-batch size throttle for --stream-payloads",
    )
    ap.add_argument(
        "--compact", type=int, nargs="?", const=1, default=None,
        metavar="N_FILES",
        help="maintenance mode (no input): rewrite every committed "
             "snapshot of --output (and --metrics, if given) into one "
             "snapshot of N_FILES files per partition dir and reclaim "
             "the superseded inputs — the rewrite_data_files analogue "
             "for micro-batch ingest's small-files debt. Run "
             "single-writer.",
    )
    ap.add_argument(
        "--buckets", type=int, default=0,
        help="partition output by pmod(xxhash64(doc_id), N) — the "
             "parquet stand-in for Iceberg's bucket(N, doc_id) "
             "transform; downstream doc_id joins repartition by the "
             "same expression and co-locate without a full shuffle",
    )
    args = ap.parse_args(argv)

    # On a cluster, master/executor conf come from spark-submit; this
    # only sets the engine's semantic defaults (AQE, Arrow, UTC).
    from pdfspark.session import build_session

    if SparkSession.getActiveSession() is not None:
        spark = SparkSession.getActiveSession()
    else:
        spark = build_session()

    from pdfspark.operators.boilerplate import header_footer
    from pdfspark.operators.extract import extract_documents, lineage_table

    # truthiness, not `is not None`: an empty-string input (unset env
    # var in a deployment script) must be a usage error here, not a
    # fall-through into the batch branch's parquet-read of None
    n_inputs = sum(bool(x) for x in (args.input, args.payloads,
                                     args.html, args.stream_payloads))
    if args.compact is not None:
        if n_inputs:
            ap.error("--compact is a maintenance mode; no input allowed")
        return _run_compact_mode(spark, args)
    if n_inputs != 1:
        ap.error("exactly one of --input / --payloads / --html / "
                 "--stream-payloads is required (non-empty)")

    if args.stream_payloads:
        if not args.checkpoint:
            ap.error("--stream-payloads requires --checkpoint")
        if args.format != "parquet":
            ap.error("--stream-payloads writes parquet snapshots only")
        if args.buckets > 0 or args.resume:
            # no silent no-ops: resume IS the checkpoint's job here,
            # and the stream commits no partition layout
            ap.error("--buckets/--resume do not apply to "
                     "--stream-payloads: the checkpoint provides "
                     "resume, and stream tables are unpartitioned")
        from pdfspark.streaming.extract_stream import extract_payload_stream

        extract_payload_stream(
            spark, args.stream_payloads, args.output, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            metrics_path=args.metrics,
        )
        return 0

    if args.html:
        return _run_html_mode(spark, args)

    if args.payloads:
        if args.geom:
            ap.error("--geom applies to --input only")
        from pdfspark.sources.binary_decode import (
            extract_payloads,
            read_payloads,
        )

        # doc_ids exist only after decode: --resume filters folded rows
        full = _prepare_output(spark, args, extract_payloads(
            read_payloads(spark, args.payloads)))
    else:
        hf = header_footer(spark.read.parquet(args.geom)) \
            if args.geom else None
        full = extract_documents(
            _prepare_output(spark, args, spark.read.parquet(args.input)),
            hf)

    # persist once: the data write materialises the fold, and the
    # metrics aggregation reads the cache (no second fold)
    full.persist()
    aux = [(lineage_table(full), args.metrics)] if args.metrics else None
    _commit(args, full.select("doc_id", "status", "spans", "sections"), aux)
    full.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main())
