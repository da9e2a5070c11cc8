"""Exact-parity extraction over documents_in (SURVEY.md §7 Phase 3/4).

``extract_documents``  — the job's fold: mapInPandas per document
(Arrow batches) over the input coalesced (narrow, no shuffle) to the
default parallelism; emits spans + sections + per-doc lineage columns.
Given a ``lineage_accumulator``, the same pass also counts each task's
north-rule lineage (partition_id, doc_count, bytes_in, spans_out,
wall_ms), which ``lineage_frame`` turns into the LINEAGE rows the job
commits: no second read of the fold, no cache, no aggregation.

``_fold_salted``       — the same kernel after a salted repartition on
xxhash64(doc_id): the plain fold of the driver routes
(``extract_sections``, ``extract_spans_auto``'s unskewed route, the
split routes' small docs, the driver's lineage query).

Every route folds ``documents_in`` alone: the fold reproduces the
reference's dict-membership header/footer strip, which reads no
per-doc header/footer strings, so no route takes a geometry frame.

``extract_sections``   — the driver's sections output: the plain salted
fold, with no probe and no skew route.

Skew routes (``*_split``; ``extract_spans_auto``'s probe picks
``extract_spans_split_rows``): docs above ``skew_threshold`` spans
(default config.SKEW_SPAN_THRESHOLD) are chunk-folded in parallel and
reassembled — safe because span labels depend only on each span's own
text (see fold.py). They give spans or span rows.
``extract_documents_split`` also rebuilds the big docs' order-stateful
sections by one ordered replay of the chunk folds' events, into which
no span text crosses, and gives the full extract_documents output; it
has no product caller (extract_job folds every doc with
``extract_documents``, which beat it up to 1M spans).

``resume_filter``      — anti-join against already-committed doc_ids
(resume from the last committed snapshot).
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdfspark.config import SKEW_SPAN_THRESHOLD
from pdfspark.fold import fold_document
from pdfspark.schema import LINEAGE, SPAN

SECTION_STRUCT = T.StructType(
    [
        T.StructField("heading", T.StringType()),
        T.StructField("paragraphs", T.ArrayType(T.StringType())),
        T.StructField("figures", T.ArrayType(T.StringType())),
        T.StructField("tables", T.ArrayType(T.StringType())),
    ]
)

EXTRACT_FULL = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("sections", T.ArrayType(SECTION_STRUCT)),
        T.StructField("spans_in", T.LongType()),
        T.StructField("spans_out", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("wall_ms", T.DoubleType()),
    ]
)


# EXTRACT_FULL minus the sections column — the spans-only fold variant
# (Spark cannot prune columns inside mapInPandas, so a discarded
# sections array would still be computed by SectionState AND shipped
# through Arrow on every doc)
EXTRACT_SPANS_ONLY = T.StructType(
    [f for f in EXTRACT_FULL.fields if f.name != "sections"]
)


class LineageMerge(AccumulatorParam):
    """Merge rule of the fold's lineage accumulator, a dict
    {partition_id: (doc_count, bytes_in, spans_out, wall_ms)}: an
    entry overwrites the one under the same partition id instead of
    adding to it. A task Spark runs again (a lost shuffle output, a
    retried stage) reports its partition's totals a second time, and
    a sum would count its documents twice."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        value1.update(value2)
        return value1


def lineage_accumulator(spark: SparkSession) -> Accumulator:
    """An empty lineage accumulator for one fold: pass it to
    ``extract_documents`` or ``binary_decode.extract_payloads``, run
    the fold, then read it with ``lineage_frame``."""
    return spark.sparkContext.accumulator({}, LineageMerge())


def lineage_frame(spark: SparkSession, lineage: Accumulator) -> DataFrame:
    """The LINEAGE rows the fold's tasks reported into ``lineage``, one
    per partition id, in one partition. The frame is built from an
    Arrow table, so Spark writes it without a Python worker or a scan,
    as one file."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = [dict(zip(LINEAGE.fieldNames(), (pid, *totals)))
            for pid, totals in sorted(lineage.value.items())]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(LINEAGE))
    return spark.createDataFrame(table).coalesce(1)


def _fold_batches(spans_only: bool = False,
                  lineage: Accumulator | None = None):
    """``spans_only=True`` skips the sections attachment state machine
    (fold_document's skip_sections — span labels never depend on it)
    and omits the sections column from the Arrow batches; pair it with
    EXTRACT_SPANS_ONLY. With a ``lineage`` accumulator, a task that
    folded at least one document adds its totals (doc_count, bytes_in,
    spans_out, wall_ms) under its partition id after its last batch."""
    schema = EXTRACT_SPANS_ONLY if spans_only else EXTRACT_FULL

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        totals = (0, 0, 0, 0.0)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                t0 = time.perf_counter()
                given = getattr(r, "bytes_in", None)
                spans = [
                    dict(kind=s["kind"], text=s["text"],
                         media_ref=s["media_ref"], offset=s["offset"])
                    for s in (r.spans if r.spans is not None else [])
                ]
                res = fold_document(spans, skip_sections=spans_only)
                wall = (time.perf_counter() - t0) * 1000.0
                row = dict(
                    doc_id=r.doc_id,
                    status=res["status"],
                    spans=res["out_spans"],
                    spans_in=res["spans_in"],
                    spans_out=res["spans_out"],
                    # a given bytes_in (a quarantined payload's size, from
                    # binary_decode.extract_payloads) overrides the count
                    bytes_in=(sum(len(s["text"] or "") for s in spans)
                              if pd.isna(given) else int(given)),
                    partition_id=pid,
                    wall_ms=wall,
                )
                if not spans_only:
                    row["sections"] = res["sections"]
                rows.append(row)
                totals = (totals[0] + 1, totals[1] + row["bytes_in"],
                          totals[2] + row["spans_out"], totals[3] + wall)
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )
        if lineage is not None and totals[0]:
            lineage.add({pid: totals})

    return run


def _fold_salted(df: DataFrame, spans_only: bool = False,
                 num_partitions: int | None = None) -> DataFrame:
    """Salted repartition on xxhash64(doc_id), then the per-doc fold —
    the one fold stage every driver route runs for its ordinary docs
    (the driver's inputs are one file per table, so the shuffle is what
    spreads the fold over the cores; the job's fold is
    extract_documents)."""
    parts = [num_partitions] if num_partitions else []
    return df.repartition(*parts, F.xxhash64("doc_id")).mapInPandas(
        _fold_batches(spans_only=spans_only),
        EXTRACT_SPANS_ONLY if spans_only else EXTRACT_FULL,
    )


def extract_documents(
    documents_in: DataFrame,
    lineage: Accumulator | None = None,
) -> DataFrame:
    """The job's fold: the sequential per-doc exact fold over the input
    coalesced (narrow, no shuffle) to the default parallelism, so each
    doc folds in the task that scans it and a commit's rebalance is the
    job's only exchange (as binary_decode.extract_payloads does for
    bytes-in). An input with fewer scan partitions than cores folds on
    fewer tasks. ``lineage`` (from lineage_accumulator) collects each
    task's lineage in the same pass (see _fold_batches)."""
    n = documents_in.sparkSession.sparkContext.defaultParallelism
    return documents_in.coalesce(n).mapInPandas(
        _fold_batches(lineage=lineage), EXTRACT_FULL)


CHUNKED_SPANS = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk", T.IntegerType()),
        T.StructField("spans", T.ArrayType(SPAN)),
    ]
)


def _max_span_count(documents_in: DataFrame) -> int:
    """Corpus-wide max spans-per-doc — extract_spans_auto's probe. One
    aggregate locally; on a production Iceberg table this
    reads per-file element-count bounds from manifest statistics
    instead of scanning."""
    return (
        documents_in.select(F.max(F.size("spans")).alias("m")).first().m
        or 0
    )


def _explode_span_rows(folded: DataFrame) -> DataFrame:
    """Nested (doc_id, spans) -> one flat row per span — the single
    source of truth for the exploded span-row projection, shared by
    extract_spans_auto's unskewed route and extract_spans_split_rows'
    small-doc branch (route equality depends on both emitting the
    exact same shape)."""
    return (
        folded.select("doc_id", F.posexplode("spans").alias("_i", "s"))
        .select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )


def _split_inputs(df, skew_threshold):
    """(small, big, big_bad) partition of the input by size and the
    DecodeError quarantine marker. A pathologically large doc can
    still carry a DecodeError: the sequential fold quarantines the
    WHOLE document, so the skew path must not chunk-fold its clean
    parts — callers emit it as an empty row directly.

    Scale note: the three filter branches each scan the input — cheap
    at bench scale but 3x the read at 100 TB. The production fix is
    layout, not plan: partition the Iceberg table by a size-class
    column at ingest (the lineage job already computes spans_in), so
    each branch prunes to its own partitions and the probe in
    extract_spans_auto becomes a manifest-statistics lookup.
    Persisting the flagged frame instead would pin the whole fat
    table in executor memory — wrong trade at that scale."""
    # size(NULL) is NULL under ANSI: without the coalesce a NULL-spans
    # doc falls out of ALL THREE branches and silently vanishes from
    # the split path, while the sequential fold emits status='empty'
    # for it — coalesce to 0 routes it to the small branch, whose
    # fold already handles spans-less rows
    is_big = F.coalesce(F.size("spans"), F.lit(0)) > F.lit(skew_threshold)
    is_bad = F.coalesce(
        F.exists("spans", lambda s: s["kind"] == "DecodeError"),
        F.lit(False))
    return (
        df.filter(~is_big),
        df.filter(is_big & ~is_bad),
        df.filter(is_big & is_bad),
    )


def _fold_big_chunks(big: DataFrame, spans_per_chunk: int,
                     collect_events: bool = False) -> DataFrame:
    """Shared chunk machinery of every skew path: explode -> windowless
    chunk ids -> per-chunk re-pack -> parallel fold (sections state
    machine skipped — chunk-local sections are discarded; span labels
    never depend on it). Returns CHUNKED_SPANS, or CHUNKED_FULL with
    chunk-local classification events when ``collect_events``."""
    # pos = the span's OWN offset field (the sequential fold's sort
    # key, fold.py:178), with the array position `_ap` as a stable
    # tiebreak: a spans array stored out of offset order (upstream
    # reassembly) must chunk/fold in the same order the sequential
    # fold uses, or the pinned route equality breaks. For every
    # in-repo producer offsets are dense array positions, so this is
    # identical to the old posexplode ordinal there. Chunk ids need no
    # page alignment and no per-doc window: every output span label
    # depends only on its own text (see fold.py), so a chunk boundary
    # mid-page is safe.
    chunked = big.select(
        "doc_id", F.posexplode("spans").alias("_ap", "s")
    ).withColumn("pos", F.col("s.offset")).withColumn(
        "chunk", (F.col("pos") / F.lit(spans_per_chunk)).cast("int"))
    chunks = chunked.groupBy("doc_id", "chunk").agg(
        F.sort_array(F.collect_list(F.struct("pos", "_ap", "s"))).alias("ps")
    ).select(
        "doc_id", "chunk",
        F.transform(
            "ps",
            lambda x: F.struct(
                x["s"]["kind"].alias("kind"),
                x["s"]["text"].alias("text"),
                x["s"]["media_ref"].alias("media_ref"),
                x["pos"].cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )

    def run_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                spans = [dict(kind=s["kind"], text=s["text"],
                              media_ref=s["media_ref"], offset=s["offset"])
                         for s in r.spans]
                res = fold_document(spans, collect_events=collect_events,
                                    skip_sections=True)
                row = dict(doc_id=r.doc_id, chunk=r.chunk,
                           spans=res["out_spans"])
                if collect_events:
                    row["events"] = [dict(code=c, off=o)
                                     for c, o in res["events"]]
                rows.append(row)
            cols = ["doc_id", "chunk", "spans"] + (
                ["events"] if collect_events else []
            )
            yield pd.DataFrame(rows, columns=cols)

    schema = CHUNKED_FULL if collect_events else CHUNKED_SPANS
    return chunks.repartition(F.xxhash64("doc_id", "chunk")).mapInPandas(
        run_chunks, schema
    )


def _assemble_big_spans(folded: DataFrame) -> DataFrame:
    """Chunk-folded big docs -> (doc_id, spans): chunks concatenated in
    chunk order, output offsets renumbered densely. The big-doc branch
    of extract_spans_split, shared with extract_documents_split."""
    return (
        folded.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk", "spans"))
                    ),
                    lambda x: x["spans"],
                )
            ).alias("raw")
        )
        .select(
            "doc_id",
            F.transform(
                "raw",
                lambda s, i: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def extract_spans_split(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
) -> DataFrame:
    """Span-sequence output (doc_id, spans) with skew splitting.

    Big docs: explode spans, chunk by `floor(pos / spans_per_chunk)`,
    fold each chunk independently, reassemble ordered and renumber
    offsets. No per-doc global window anywhere in the pre-split (a
    10M-span doc must not serialize into one task before it is even
    split; see _fold_big_chunks). For the nested-array-free row shape
    see extract_spans_split_rows.
    """
    small, big, bad = _split_inputs(documents_in, skew_threshold)
    big_bad = bad.select(
        "doc_id", F.array().cast(T.ArrayType(SPAN)).alias("spans"))
    small_out = _fold_salted(small, spans_only=True).select(
        "doc_id", "spans")
    big_out = _assemble_big_spans(_fold_big_chunks(big, spans_per_chunk))
    return small_out.unionByName(big_out).unionByName(big_bad)


# metadata-sized: a code ('H' heading, 'P' paragraph, 'W' wipe) plus
# the CHUNK-LOCAL offset of the output span it emitted (-1 for wipes)
EVENT = T.StructType(
    [
        T.StructField("code", T.StringType()),
        T.StructField("off", T.IntegerType()),
    ]
)

CHUNKED_FULL = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk", T.IntegerType()),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("events", T.ArrayType(EVENT)),
    ]
)

# one row per H event (its text plus the regex work the replay needs,
# done in the parallel chunk task: normalized first line, line count,
# RE_SECTION_GROUPS groups), per P event (no string: a paragraph's
# content is '' by construction) and per run of W events. ``pos`` is
# the document-order stamp (chunk << 32) + event index.
_ENRICHED = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("code", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("first_line", T.StringType()),
        T.StructField("line_count", T.IntegerType()),
        T.StructField("g1", T.StringType()),
        T.StructField("g2", T.StringType()),
    ]
)

# the skeleton (one row per section: heading, no pos) and the appends
# (section_id + the pos of the appending event, no heading)
_PHASEA_OUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("section_id", T.IntegerType()),
        T.StructField("pos", T.LongType()),
        T.StructField("heading", T.StringType()),
    ]
)


def _big_doc_sections(big: DataFrame, folded: DataFrame,
                      persisted: list) -> DataFrame:
    """Sections of the chunk-folded big docs (``folded`` from
    _fold_big_chunks(collect_events=True)) by one ordered replay of
    the fold's own event stream, into which no span text crosses. The
    sections of extract_documents_split's big docs.

    1. chunk folds (parallel) emit the H/P/W events;
    2. a chunk-local enrichment pass (parallel) turns them into
       _ENRICHED rows stamped with their document-order position, with
       each heading's regex work precomputed;
    3. phase A: one groupBy(doc_id).applyInPandas sorts a doc's rows by
       the stamp and runs fold.replay_events over them (through the
       SAME SectionState as the sequential fold) from the TOC lines of
       a seed row, giving the final skeleton and (section, pos)
       appends;
    4. a heading append gets its content by a join on pos (a paragraph
       append's is ''), and the sections assemble with ordinary
       sort/groupBy aggregation.

    Equality with the sequential fold is by construction (phase A IS
    SectionState) and pinned by the forced-threshold tests. The
    sequential residue is O(#events) per doc of metadata-sized rows:
    every heading, every paragraph and one row per run of wipes.

    Returns (doc_id, sections) for the big docs with a non-empty
    section skeleton; callers left-join it from ``big`` and coalesce
    the rest to empty sections. The frames it caches go to ``persisted``.
    """

    def enrich(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdfspark.functions import patterns as PP

        cols = [f.name for f in _ENRICHED.fields]
        sub_extra = PP.RE_EXTRA_SPACE.sub
        match_groups = PP.RE_SECTION_GROUPS.match
        for pdf in batches:
            rows = []  # tuple rows in _ENRICHED field order (dict-per-
            add = rows.append  # row costs ~3x at 1M events/batch)
            for r in pdf.itertuples(index=False):
                doc, base = r.doc_id, int(r.chunk) << 32
                texts = [s["text"] for s in r.spans]
                last = None
                for i, e in enumerate(r.events):
                    code = e["code"]
                    if code == "H":
                        content = texts[e["off"]]
                        lines = content.split("\n")
                        first_line = sub_extra(" ", lines[0])
                        m = match_groups(first_line)
                        g1, g2 = m.groups() if m else (None, None)
                        add((doc, base + i, code, content, first_line,
                             len(lines), g1, g2))
                    elif code == "P" or last != "W":  # a W run: one row
                        add((doc, base + i, code, None, None, None, None,
                             None))
                    last = code
            out = pd.DataFrame(rows, columns=cols)
            # nullable dtype: None-mixed ints must not decay to float64
            out["line_count"] = out["line_count"].astype("Int32")
            yield out

    enriched = folded.mapInPandas(enrich, _ENRICHED).persist()

    # seed row per big doc, carrying its TOC line texts (the skeleton)
    # in the fold's (offset, array-pos) stable sort order
    # (fold.py:178,190), so phase A runs even for docs with no events.
    # Its pos is -1, not NULL: a NULL would turn the column to float64
    # in pandas
    _null = lambda t, n: F.lit(None).cast(t).alias(n)  # noqa: E731
    seeds = big.select(
        "doc_id",
        F.lit(-1).cast("long").alias("pos"), _null("string", "code"),
        _null("string", "first_line"), _null("int", "line_count"),
        _null("string", "g1"), _null("string", "g2"),
        F.transform(
            F.array_sort(F.filter(
                F.transform("spans", lambda s, i: F.struct(
                    s["offset"].alias("pos"), i.alias("ap"),
                    s["kind"].alias("kind"), s["text"].alias("text"))),
                lambda x: x["kind"] == "TOC",
            )),
            # NULL-text TOC spans coerce to '' like the sequential
            # fold (fold.py `s['text'] or ''`)
            lambda x: F.coalesce(x["text"], F.lit("")),
        ).alias("toc_lines"),
    )
    phase_a_in = enriched.drop("text").withColumn(
        "toc_lines", F.lit(None).cast(T.ArrayType(T.StringType()))
    ).unionByName(seeds)

    def phase_a(pdf: pd.DataFrame) -> pd.DataFrame:
        from pdfspark.fold import replay_events

        doc = pdf["doc_id"].iloc[0]
        is_seed = pdf["code"].isna()
        toc_lines = list(pdf.loc[is_seed, "toc_lines"].iloc[0])
        ev = pdf[~is_seed].sort_values("pos")
        # plain numpy views: iterating pandas nullable series directly
        # costs microseconds per element at 1M events
        headings, appends = replay_events(zip(
            ev["code"].to_numpy(),
            ev["first_line"].to_numpy(),
            ev["line_count"].to_numpy(dtype="int64", na_value=0),
            ev["g1"].to_numpy(),
            ev["g2"].to_numpy(),
            ev["pos"].to_numpy(dtype="int64"),
        ), toc_lines)
        res = pd.DataFrame(
            [(doc, i, None, h) for i, h in enumerate(headings)]
            + [(doc, sec, int(pos), None) for sec, pos in appends],
            columns=[f.name for f in _PHASEA_OUT.fields],
        )
        res["section_id"] = res["section_id"].astype("Int32")
        res["pos"] = res["pos"].astype("Int64")
        return res

    pa = phase_a_in.groupBy("doc_id").applyInPandas(
        phase_a, _PHASEA_OUT
    ).persist()
    persisted += [enriched, pa]

    # appends are position references; a heading's content comes from
    # its enriched row (distributed join — strings never crossed phase
    # A), a paragraph's is ''
    paragraphs = (
        pa.filter(F.col("pos").isNotNull())
        .join(enriched.filter(F.col("code") == "H").select(
            "doc_id", "pos", "text"), ["doc_id", "pos"], "left")
        .groupBy("doc_id", "section_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct(
                "pos", F.coalesce("text", F.lit("")).alias("content")))),
            lambda x: x["content"],
        ).alias("paragraphs"))
    )
    skel = pa.filter(F.col("pos").isNull()).select(
        "doc_id", "section_id", "heading"
    )
    empty_arr = F.array().cast(T.ArrayType(T.StringType()))
    return (
        skel.join(paragraphs, ["doc_id", "section_id"], "left")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("section_id", "heading", "paragraphs"))),
                lambda x: F.struct(
                    x["heading"].alias("heading"),
                    F.coalesce(x["paragraphs"], empty_arr).alias("paragraphs"),
                    empty_arr.alias("figures"),
                    empty_arr.alias("tables"),
                ),
            ).alias("sections")
        )
    )


def extract_documents_split(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
    persisted: list | None = None,
) -> DataFrame:
    """extract_documents' output (EXTRACT_FULL) with the docs above
    ``skew_threshold`` spans chunk-folded once and fed to the span
    reassembly extract_spans_split shares and to the sections event
    replay of _big_doc_sections. No product code calls it:
    extract_job's plain fold beat it at every size up to 1M spans
    (BASELINE.md, "Job route A/B"). It is kept only because the traced
    benchmark wraps it by name, and goes with that wrap. Each big doc
    is one row left-joined from ``big``.
    Its lineage is input-derived like the fold's; wall_ms and
    partition_id are NULL (no one task folds it). At 1M spans the
    nested row itself dominates on any path that builds it; consumers
    that can take rows use extract_spans_split_rows instead. The
    cached big-doc intermediates are appended to ``persisted`` for the
    caller to unpersist once the result is materialised."""
    small, big, bad = _split_inputs(documents_in, skew_threshold)

    def input_lineage(df, status):
        return df.select(
            "doc_id",
            F.lit(status).alias("status"),
            F.size("spans").cast("long").alias("spans_in"),
            F.aggregate(
                "spans", F.lit(0).cast("long"),
                lambda a, s: a + F.length(F.coalesce(s["text"], F.lit(""))),
            ).alias("bytes_in"),
        )

    # two consumers (span reassembly, sections enrichment): persist so
    # the Python chunk fold runs once
    folded = _fold_big_chunks(big, spans_per_chunk,
                              collect_events=True).persist()
    persisted = [] if persisted is None else persisted
    persisted.append(folded)
    rows = (
        input_lineage(big, "ok")
        .join(_big_doc_sections(big, folded, persisted),
              "doc_id", "left")
        .join(_assemble_big_spans(folded), "doc_id", "left")
        # DecodeError big docs are never chunk-folded: quarantined whole
        .unionByName(input_lineage(bad, "quarantined"),
                     allowMissingColumns=True)
    )
    spans = F.coalesce("spans", F.array().cast(T.ArrayType(SPAN)))
    big_out = rows.select(
        "doc_id",
        "status",
        spans.alias("spans"),
        F.coalesce(
            "sections", F.array().cast(T.ArrayType(SECTION_STRUCT))
        ).alias("sections"),
        "spans_in",
        F.size(spans).cast("long").alias("spans_out"),
        "bytes_in",
        F.lit(None).cast("int").alias("partition_id"),
        F.lit(None).cast("double").alias("wall_ms"),
    )
    return _fold_salted(small).unionByName(big_out)


def extract_sections(documents_in: DataFrame) -> DataFrame:
    """Sections output (doc_id, status, sections) of the plain salted
    fold, every doc in one task however large. No probe and no skew
    route: the fold beat the chunk-fold + event-replay route at every
    size measured, 100k to 1M spans (BASELINE.md, "Sections route
    A/B"), because the sections of a big doc still come from one
    sequential task on that route too."""
    return _fold_salted(
        documents_in,
        num_partitions=documents_in.sparkSession.sparkContext
        .defaultParallelism,
    ).select("doc_id", "status", "sections")


def extract_spans_auto(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
) -> DataFrame:
    """Driver-side adaptive routing for the exploded-row span output:
    a max-span-count probe; when NO doc crosses the skew threshold, the
    split subtree (three filtered scans of the doc table, a persisted
    chunk-rows diamond, the prefix-sum join) buys nothing, so run the
    plain salted fold and posexplode it. Locally this is a wash (sf0.1
    interleaved mins within noise of each other); the point is the
    scale shape: one scan instead of three on the unskewed route, and
    on a production Iceberg table the probe reads per-file
    element-count bounds from manifest statistics instead of scanning
    at all. Both routes emit identical rows: the split path's small-doc
    branch IS this fold (pinned by the forced-threshold test).
    """
    mx = _max_span_count(documents_in)
    if mx > skew_threshold:
        return extract_spans_split_rows(documents_in,
                                        skew_threshold=skew_threshold,
                                        spans_per_chunk=spans_per_chunk)
    return _explode_span_rows(_fold_salted(
        documents_in, spans_only=True,
        num_partitions=documents_in.sparkSession.sparkContext
        .defaultParallelism,
    ))


def extract_spans_split_rows(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
) -> DataFrame:
    """Exploded-row skew path: (doc_id, offset, kind, text, media_ref)
    with NO nested-array reassembly anywhere.

    Measured motivation: with one 1M-span doc beside the sf0.01
    documents, this route returns the span rows in 4.43 s against the
    plain fold's 6.54 s (local[4], min of 3 interleaved warm calls);
    at 300k spans the two are within noise (1.98 against 2.04 s). The
    fold builds one million-element span array row, ships it through
    Arrow and explodes it again; this variant keeps spans as ROWS end
    to end: chunk folds yield one output row per span, and global
    offsets come from a per-(doc, chunk) size aggregation (tiny)
    prefix-summed over #chunks rows and joined back — no giant row
    ever exists after the initial input explode. This is the shape a
    10^12-doc table uses anyway (the driver contract's nested arrays
    are re-exploded by every consumer).
    """
    small, big, _bad = _split_inputs(documents_in, skew_threshold)
    # big+bad docs: quarantined, no span rows at all (exploded shape
    # has no empty-doc rows by definition)

    small_out = _explode_span_rows(_fold_salted(small, spans_only=True))

    folded = _fold_big_chunks(big, spans_per_chunk)
    rows = folded.select(
        "doc_id", "chunk", F.posexplode("spans").alias("_i", "o")
    ).select(
        "doc_id", "chunk",
        F.col("o.offset").alias("within_off"),
        F.col("o.kind").alias("kind"),
        F.col("o.text").alias("text"),
        F.col("o.media_ref").alias("media_ref"),
    ).persist()  # diamond: rows feed sizes AND the final join
    # (cached blocks reclaimed by the ContextCleaner once unreferenced)
    # global offsets: prefix-sum of chunk output sizes (#chunks rows
    # per doc — model-sized, windowed over that tiny frame only)
    sizes = rows.groupBy("doc_id", "chunk").agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = sizes.withColumn(
        "base", F.sum("n").over(w) - F.col("n")
    ).select("doc_id", "chunk", "base")
    big_out = (
        rows.join(base, ["doc_id", "chunk"])
        .select(
            "doc_id",
            (F.col("base") + F.col("within_off")).cast("int").alias("offset"),
            "kind", "text", "media_ref",
        )
    )
    return small_out.unionByName(big_out)


def extract_spans_relational(documents_in: DataFrame) -> DataFrame:
    """Pure-SQL fast path for the flagship span extraction: under the
    reference's quirks the fold reproduces (matcher-always-fires +
    broken dict-membership header/footer strip) every surviving span's
    label depends only on its own text, so the whole fold collapses to
    regex projections + one per-doc renumbering window — no Python
    anywhere, whole-stage codegen end to end.

    Exactly the relational semantics the DuckDB extract-spans oracle
    encodes; pytest pins equality against the mapInPandas fold, which
    remains the path for the sections side-output (order-stateful).

    Output: exploded (doc_id, offset, kind, text, media_ref).
    """
    # quarantine via explode + distinct + broadcast anti-join instead
    # of F.exists on the nested array: the exists lambda evaluates
    # interpreted per SPAN across the whole corpus (measured 1.6x whole-
    # query cost at sf0.1) while the exploded filter + tiny anti-join
    # stays in codegen — the same shape the DuckDB oracle twin uses
    exploded = documents_in.select(
        "doc_id", F.posexplode("spans").alias("_ap", "s")
    )
    bad_docs = (
        exploded.filter(F.col("s.kind") == "DecodeError")
        .select("doc_id").distinct()
    )
    # Python str.strip() strips ALL whitespace (tabs/newlines/unicode),
    # Spark's trim() only spaces: (?U)\s anchored replace matches the
    # fold for everything but the exotic \x1c-\x1f separators (Python-
    # space, not Unicode White_Space) — pinned by the adversarial-
    # padding case in the fold-equality test.
    # coalesce first: fold_document coerces None text to '' and emits
    # the span; an un-coalesced NULL would propagate through the strip
    # predicates and silently drop the row instead
    pytrim = F.regexp_replace(
        F.coalesce(F.col("s.text"), F.lit("")), r"(?U)^\s+|\s+$", ""
    )
    # no forced broadcast: the DecodeError doc_id set is unbounded on
    # a corrupt-heavy corpus (driver-OOM risk under a hint) — AQE
    # broadcasts when it is actually small
    df = exploded.join(bad_docs, "doc_id", "left_anti").select(
        "doc_id",
        F.col("s.offset").alias("pos"),
        # array position: stable tiebreak for duplicate offsets, so the
        # renumber window matches the fold's stable sort (fold.py:178)
        F.col("_ap").alias("ap"),
        F.col("s.kind").alias("k"),
        pytrim.alias("content"),
        F.col("s.media_ref").alias("mref"),
    )
    from pdfspark.functions import patterns as P
    from pdfspark.functions.text import first_line, replace_extra_space

    fl = replace_extra_space(first_line(F.col("content")))
    nl = F.regexp_replace("content", "\n", "")
    is_tb = F.col("k") == "TextBox"
    keep_tb = (
        is_tb
        & ~nl.isin("header", "footer")
        & ~F.col("content").rlike(P.JAVA_PAGE_NUMBER_MATCH)
    )
    keep_other = F.col("k").isin(
        "TextLine", "Line", "Rectangle", "Figure", "Image"
    )
    df = df.filter(keep_tb | keep_other).withColumn("fl", fl)
    label = (
        F.when(F.col("k").isin("TextLine", "Line", "Rectangle"), F.col("k"))
        .when(F.col("k").isin("Figure", "Image"), "media")
        # a TextBox is a heading exactly when its first line is
        # non-blank (see fold.py), the DuckDB oracle's own expression
        .when(F.trim("fl") != "", "heading")
        .otherwise("paragraph")
    )
    w = Window.partitionBy("doc_id").orderBy("pos", "ap")
    return df.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("int").alias("offset"),
        label.alias("kind"),
        F.when(is_tb, F.col("content")).otherwise("").alias("text"),
        F.when(F.col("k").isin("Figure", "Image"), F.col("mref")).alias(
            "media_ref"
        ),
    )


def resume_filter(documents_in: DataFrame, committed: DataFrame) -> DataFrame:
    """Skip documents already present in the committed output snapshot
    (exactly-once resume; ref analogue: the file-existence recompute
    guards at src/pdf_extractor.py:343-349,377-383)."""
    return documents_in.join(
        committed.select("doc_id").distinct(), "doc_id", "left_anti"
    )
