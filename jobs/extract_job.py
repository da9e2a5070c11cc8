"""Cluster entrypoint for the extraction pipeline (north rule:
"ships as spark-submit --py-files on multi-executor clusters").

Usage:

    zip -r pdfspark.zip pdfspark
    spark-submit --py-files pdfspark.zip jobs/extract_job.py \
        --input  <documents_in parquet/iceberg path> \
        --geom   <spans_geom path, optional; accepted, not read> \
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
 - one route for every document, in the one task that scans it,
   over the scan coalesced (narrow) to the default parallelism, so the
   commit's rebalance is the call's only shuffle: --input and
   --payloads fold a document into one ordered row (no skew split —
   the one nested output row dominates, so chunking a big doc lost to
   the plain fold up to 1M spans; BASELINE.md, "Job route A/B"), and
   --html turns a page into its block rows, or one '_empty' row
 - per-partition lineage rows (partition_id, doc_count, bytes_in,
   spans_out = rows out, wall_ms) of those tasks committed to
   --metrics under the SAME snapshot id as the data (multi-table
   commit; a crash between the two manifest publishes is healed by the
   sink's recover at the next start, so committed documents can never
   lose their lineage rows). The tasks count them in their own pass
   (an accumulator keyed by partition id), so no mode's lineage costs
   a cache, a second read or a Python stage; under a partial
   --payloads --resume they also count the payloads the fold decoded
   and the resume anti-join then skipped, since their fold time was
   spent
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
 - every committed parquet file is zstd (Iceberg's default codec) at
   level 6 with v2 delta-encoded pages and no dictionary
   (snapshot.PARQUET_OPTIONS)
 - --geom is accepted with --input and not read: the fold reproduces
   the reference's dict-membership header/footer strip, which needs no
   per-doc header/footer strings, so no geometry scan, aggregation,
   join or schema read runs (the path is not even checked)
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter
from urllib.parse import unquote

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


def _read_pages(spark, path):
    """--html's source: the .html/.htm pages under ``path`` as (doc_id
    = file name stem, html, bytes_in) rows. Raises on two files with
    the same stem."""
    from pyspark.sql import functions as F

    pages = (
        spark.read.format("binaryFile")
        # brace glob: real page corpora mix .html and .htm
        .option("pathGlobFilter", "*.{html,htm}")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"([^/]+)\.html?$", 1)
            .alias("doc_id"),
            # F4 quarantine, not a stage kill: bare decode() throws
            # MALFORMED_CHARACTER_CODING under Spark 4 ANSI on the
            # first latin-1 page — gate it so malformed bytes become
            # NULL html, which the page kernel commits as one '_empty'
            # row, like any page with no blocks
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
    # with examples instead. The driver's file listing already names
    # every page (inputFiles() honours pathGlobFilter), so the check
    # runs no Spark job; its URIs are percent-encoded (a%20b.html)
    # where the path column is not, hence the unquote.
    stems = Counter(
        re.sub(r"\.html?$", "", unquote(f.rsplit("/", 1)[-1]))
        for f in pages.inputFiles())
    dup = sorted(s for s, n in stems.items() if n > 1)[:5]
    if dup:
        raise ValueError(
            "duplicate doc_ids from colliding page filenames "
            f"(stem maps .html/.htm and subdirs together): "
            f"{dup} — rename the files or split the input directories")
    return pages


def _commit(args, out, aux) -> None:
    """Commit ``out`` (with the ``aux`` lineage builders) as one snapshot
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
    if snap is None:
        print(f"extract_job: no new rows; committed nothing to "
              f"{args.output}")
    else:
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
    ap.add_argument(
        "--geom", default=None,
        help="spans_geom parquet, --input only. Accepted and not read: "
             "the fold's reference-quirk header/footer strip needs no "
             "per-doc header/footer strings.")
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

    spark = SparkSession.getActiveSession() or build_session()

    from pdfspark.operators.extract import (
        extract_documents,
        lineage_accumulator,
        lineage_frame,
    )

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
    if args.geom and not args.input:
        ap.error("--geom applies to --input only")

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

    # --metrics: the kernel's tasks count the lineage as they run, and
    # the commit writes it after the data write
    lineage = lineage_accumulator(spark) if args.metrics else None
    fold_cols = ("doc_id", "status", "spans", "sections")
    if args.html:
        from pdfspark.operators.html_main import page_blocks

        out = page_blocks(
            _prepare_output(spark, args, _read_pages(spark, args.html)),
            lineage)
    elif args.payloads:
        from pdfspark.sources.binary_decode import (
            extract_payloads,
            read_payloads,
        )

        # doc_ids exist only after decode: --resume filters folded rows
        out = _prepare_output(spark, args, extract_payloads(
            read_payloads(spark, args.payloads), lineage)).select(*fold_cols)
    else:
        out = extract_documents(
            _prepare_output(spark, args, spark.read.parquet(args.input)),
            lineage=lineage).select(*fold_cols)

    _commit(args, out, [(lambda: lineage_frame(spark, lineage), args.metrics)]
            if args.metrics else None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
