"""Exact-parity extraction over documents_in (SURVEY.md §7 Phase 3/4).

``extract_documents``  — mapInPandas fold per document (Arrow batches)
with explicit salted repartition on xxhash64(doc_id); emits spans +
sections + per-doc lineage columns.

Every route folds ``documents_in`` alone: the fold reproduces the
reference's dict-membership header/footer strip, which reads no
per-doc header/footer strings, so no route takes a geometry frame.

Skew routes (``*_split``, picked by the ``*_auto`` probes): docs above
``skew_threshold`` spans (default config.SKEW_SPAN_THRESHOLD) are
chunk-folded in parallel and reassembled — safe because span labels
depend only on each span's own text (see fold.py) — and their
order-stateful sections are rebuilt by a segment-parallel replay. They
give spans, span rows or sections only. ``extract_documents_split``
gives the full extract_documents output but has no caller: extract_job
folds every doc with ``extract_documents``, which beat it up to 1M
spans.

``lineage_table``      — per-partition metrics rows (partition_id,
doc_count, bytes_in, spans_out, wall_ms) per the north rule.

``resume_filter``      — anti-join against already-committed doc_ids
(resume from the last committed snapshot).
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdfspark.config import SKEW_SPAN_THRESHOLD
from pdfspark.fold import fold_document
from pdfspark.schema import SPAN

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


def _fold_batches(spans_only: bool = False):
    """``spans_only=True`` skips the sections attachment state machine
    (fold_document's skip_sections — span labels never depend on it)
    and omits the sections column from the Arrow batches; pair it with
    EXTRACT_SPANS_ONLY."""
    schema = EXTRACT_SPANS_ONLY if spans_only else EXTRACT_FULL

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
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
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return run


def _fold_salted(df: DataFrame, spans_only: bool = False,
                 num_partitions: int | None = None) -> DataFrame:
    """Salted repartition on xxhash64(doc_id), then the per-doc fold —
    the one fold stage every route runs for its ordinary docs."""
    parts = [num_partitions] if num_partitions else []
    return df.repartition(*parts, F.xxhash64("doc_id")).mapInPandas(
        _fold_batches(spans_only=spans_only),
        EXTRACT_SPANS_ONLY if spans_only else EXTRACT_FULL,
    )


def extract_documents(
    documents_in: DataFrame,
    num_partitions: int | None = None,
    spans_only: bool = False,
) -> DataFrame:
    """Sequential-per-doc exact fold; salted repartition first.
    ``spans_only`` drops the sections side-output at the fold (see
    _fold_batches) — for consumers that never read it."""
    n = (num_partitions
         or documents_in.sparkSession.sparkContext.defaultParallelism)
    # hash-repartition on doc_id: uniform unless one doc is huge (that
    # case goes through the skew split routes)
    return _fold_salted(documents_in, spans_only=spans_only,
                        num_partitions=n)


CHUNKED_SPANS = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk", T.IntegerType()),
        T.StructField("spans", T.ArrayType(SPAN)),
    ]
)


def _max_span_count(documents_in: DataFrame) -> int:
    """Corpus-wide max spans-per-doc — the probe both *_auto routers
    share. One aggregate locally; on a production Iceberg table this
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
    extract_sections_auto becomes a manifest-statistics lookup.
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
    # key, fold.py:182), with the array position `_ap` as a stable
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
    split; see _fold_big_chunks). For sections on the skew path see
    extract_sections_split; for the nested-array-free row shape see
    extract_spans_split_rows.
    """
    small, big, bad = _split_inputs(documents_in, skew_threshold)
    big_bad = bad.select(
        "doc_id", F.array().cast(T.ArrayType(SPAN)).alias("spans"))
    small_out = _fold_salted(small, spans_only=True).select(
        "doc_id", "spans")
    big_out = _assemble_big_spans(_fold_big_chunks(big, spans_per_chunk))
    return small_out.unionByName(big_out).unionByName(big_bad)


# metadata-sized: a code plus the CHUNK-LOCAL offset of the referenced
# output span (-1 for wipes); the sections enrichment rebases offsets
# per chunk
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

# enriched event rows: 'E' = segment-governed P/F event, 'B' = H/A
# boundary (with its regex work precomputed in the parallel chunk
# task: normalized first line, line count, RE_SECTION_GROUPS result),
# 'S' = per-chunk summary for the cross-chunk prefix scan
_ENRICHED = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("ord_local", T.IntegerType()),
        T.StructField("gov_entry", T.BooleanType()),
        T.StructField("wiped", T.BooleanType()),
        T.StructField("text", T.StringType()),
        T.StructField("first_line", T.StringType()),
        T.StructField("line_count", T.IntegerType()),
        T.StructField("matched", T.BooleanType()),
        T.StructField("g1", T.StringType()),
        T.StructField("g2", T.StringType()),
        T.StructField("n_ha", T.IntegerType()),
        T.StructField("tail", T.StringType()),
    ]
)

_PHASEA_OUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("kind", T.StringType()),  # 'T' target / 'K' skeleton / 'P' append
        T.StructField("ord", T.IntegerType()),
        T.StructField("tp", T.IntegerType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("section_id", T.IntegerType()),
        T.StructField("field", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("heading", T.StringType()),
    ]
)


def _big_doc_sections(big: DataFrame, folded: DataFrame,
                      spans_per_chunk: int, persisted: list) -> DataFrame:
    """Sections of the chunk-folded big docs (``folded`` from
    _fold_big_chunks(collect_events=True)) by a SEGMENT-PARALLEL
    replay: no task anywhere touches a whole pathological document.
    The big-doc branch of extract_sections_split, shared with
    extract_documents_split.

    The attachment state machine's state (current_header + skeleton)
    changes only at H/A/W boundary events; between boundaries every
    P/F event reads a CONSTANT target section (rewrites happen only at
    H events, so the skeleton version is segment-constant too). That
    factors the old per-doc sequential replay (47 s of one task
    walking 1M events) into:

    1. chunk folds (parallel, unchanged) emit classification events;
    2. a chunk-local enrichment pass tags each P/F event with its
       governing boundary (wipe-governed events are dropped inside the
       chunk task — they can never append) and emits the tiny H/A
       boundary rows with wipe flags + per-chunk summaries;
    3. a prefix scan over per-chunk summaries (#chunks rows) resolves
       cross-chunk boundary ordinals — same shape as the rows-path
       offset rebase;
    4. phase A: fold.replay_boundaries runs the O(#headings)
       irreducibly-sequential core per doc (through the SAME
       SectionState as the sequential fold) producing per-segment
       target section indices, the final skeleton, and stamped
       boundary appends;
    5. phase B: every surviving P/F event joins its segment's target —
       embarrassingly parallel — and the sections assemble with
       ordinary sort/groupBy aggregation (append order = the event
       stamp chunk*spans_per_chunk + chunk-local offset, strictly
       increasing in document order).

    Equality with the sequential fold is by construction (phase A IS
    SectionState) and pinned by the forced-threshold tests. Amdahl
    residue: O(#headings) per doc instead of O(#events).

    Returns (doc_id, sections) for the big docs with a non-empty
    section skeleton; callers left-join it from ``big`` and coalesce
    the rest to empty sections. The frames it caches go to ``persisted``.
    """
    toc = (
        # per-doc TOC line texts (the skeleton), in the fold's (offset,
        # array-pos) stable sort order (fold.py:182,194)
        big.select("doc_id", F.posexplode("spans").alias("_ap", "s"))
        .withColumn("pos", F.col("s.offset"))
        .filter(F.col("s.kind") == "TOC")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_ap", "s"))),
                # NULL-text TOC spans coerce to '' like the sequential
                # fold (fold.py `s['text'] or ''`)
                lambda x: F.coalesce(x["s"]["text"], F.lit("")),
            ).alias("toc_lines")
        )
    )

    def enrich(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdfspark.functions import patterns as PP

        cols = [f.name for f in _ENRICHED.fields]
        sub_extra = PP.RE_EXTRA_SPACE.sub
        match_groups = PP.RE_SECTION_GROUPS.match
        for pdf in batches:
            rows = []  # tuple rows in _ENRICHED field order (dict-per-
            add = rows.append  # row costs ~3x at 1M events/batch)
            for r in pdf.itertuples(index=False):
                doc, chunk = r.doc_id, r.chunk
                texts = [s["text"] for s in r.spans]
                base = int(chunk) * spans_per_chunk
                local_ha, last, wiped_since = 0, None, False
                for e in r.events:
                    code, off = e["code"], e["off"]
                    if code == "W":
                        last, wiped_since = "W", True
                    elif code == "H" or code == "A":
                        local_ha += 1
                        content = texts[off] or ""
                        if content:
                            lines = content.split("\n")
                            first_line = sub_extra(" ", lines[0])
                            line_count = len(lines)
                        else:
                            first_line, line_count = "", 0
                        m = match_groups(first_line) if code == "H" else None
                        add((doc, chunk, "B", code, base + off, local_ha,
                             None, wiped_since, content, first_line,
                             line_count, m is not None,
                             m.group(1) if m else None,
                             m.group(2) if m else None, None, None))
                        last, wiped_since = "HA", False
                    else:  # P / F — wipe-governed ones can never append
                        if last == "W":
                            continue
                        add((doc, chunk, "E", code, base + off, local_ha,
                             last is None, None, texts[off], None, None,
                             None, None, None, None, None))
                add((doc, chunk, "S", None, None, None, None, None, None,
                     None, None, None, None, None, local_ha,
                     "none" if last is None else last))
            out = pd.DataFrame(rows, columns=cols)
            # nullable dtypes: None-mixed int columns must not decay to
            # float64/NaN (Arrow cannot cast non-finite to int)
            out["pos"] = out["pos"].astype("Int64")
            for c in ("ord_local", "n_ha", "line_count"):
                out[c] = out[c].astype("Int32")
            for c in ("gov_entry", "wiped", "matched"):
                out[c] = out[c].astype("boolean")
            yield out

    enriched = folded.mapInPandas(enrich, _ENRICHED).persist()

    # cross-chunk prefix (one row per chunk — model-sized window)
    wc = Window.partitionBy("doc_id").orderBy("chunk")
    pref = (
        enriched.filter(F.col("kind") == "S")
        .select("doc_id", "chunk", "n_ha", "tail")
        .withColumn("entry_ha", F.sum("n_ha").over(wc) - F.col("n_ha"))
        .withColumn(
            "entry_tail",
            F.coalesce(
                F.last(
                    F.when(F.col("tail") != "none", F.col("tail")),
                    ignorenulls=True,
                ).over(wc.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit("none"),
            ),
        )
        .select("doc_id", "chunk", "entry_ha", "entry_tail")
    )

    events = (
        enriched.filter(F.col("kind") == "E")
        .join(pref, ["doc_id", "chunk"])
        .filter(~(F.col("gov_entry") & (F.col("entry_tail") == "W")))
        .select(
            "doc_id", "code", "pos", "text",
            # entry-governed rows have ord_local=0 and, with no prior
            # boundary anywhere, entry_ha=0 — so one expression covers
            # the start-of-doc (ord 0) and inherited-boundary cases
            (F.col("entry_ha") + F.col("ord_local"))
            .cast("int").alias("ord"),
        )
        .persist()
    )
    # phase A computes targets only for segments that actually contain
    # events: under the always-fires quirk nearly every span is a
    # boundary and segments are empty, so this keeps the sequential
    # task's output (and the later join) proportional to real work
    _null = lambda t, n: F.lit(None).cast(t).alias(n)  # noqa: E731
    needed = events.select("doc_id", "ord").distinct().select(
        "doc_id", "ord", F.lit("N").alias("rkind"),
        _null("string", "code"), _null("long", "pos"),
        _null("boolean", "wiped"), _null("string", "first_line"),
        _null("int", "line_count"), _null("boolean", "matched"),
        _null("string", "g1"), _null("string", "g2"),
        F.lit(None).cast(T.ArrayType(T.StringType())).alias("toc_lines"),
    )
    # slim boundary rows into the sequential task: first_line + the
    # precomputed section-match, never the full span text
    bounds = (
        enriched.filter(F.col("kind") == "B")
        .join(pref, ["doc_id", "chunk"])
        .select(
            "doc_id",
            (F.col("entry_ha") + F.col("ord_local")).cast("int").alias("ord"),
            F.lit("B").alias("rkind"),
            "code", "pos",
            (F.col("wiped")
             | ((F.col("ord_local") == 1)
                & (F.col("entry_tail") == "W"))).alias("wiped"),
            "first_line", "line_count", "matched", "g1", "g2",
            F.lit(None).cast(T.ArrayType(T.StringType())).alias("toc_lines"),
        )
    )
    # seed row per big doc (carries toc_lines) so phase A runs even for
    # docs with zero boundaries — their segment-0 targets still matter
    seeds = (
        big.select("doc_id")
        .join(toc, "doc_id", "left")
        .select(
            "doc_id", _null("int", "ord"), F.lit("SEED").alias("rkind"),
            _null("string", "code"), _null("long", "pos"),
            _null("boolean", "wiped"), _null("string", "first_line"),
            _null("int", "line_count"), _null("boolean", "matched"),
            _null("string", "g1"), _null("string", "g2"),
            "toc_lines",
        )
    )
    phase_a_in = bounds.unionByName(seeds).unionByName(needed)

    def phase_a(pdf: pd.DataFrame) -> pd.DataFrame:
        from pdfspark.fold import replay_boundaries

        doc = pdf["doc_id"].iloc[0]
        toc_lines: list = []
        for tl in pdf.loc[pdf["rkind"] == "SEED", "toc_lines"]:
            if tl is not None and len(tl):
                toc_lines = list(tl)
        needed_ords = {int(o) for o in pdf.loc[pdf["rkind"] == "N", "ord"]}
        br = pdf[pdf["rkind"] == "B"].sort_values("ord")
        # plain numpy views: iterating pandas nullable series directly
        # costs microseconds per element at 1M boundaries
        blist = zip(
            br["code"].to_numpy(),
            br["first_line"].to_numpy(),
            br["line_count"].to_numpy(dtype="int64", na_value=0),
            br["matched"].to_numpy(dtype=bool, na_value=False),
            br["g1"].to_numpy(),
            br["g2"].to_numpy(),
            br["wiped"].to_numpy(dtype=bool, na_value=False),
            br["pos"].to_numpy(dtype="int64", na_value=-1),
        )
        headings, targets, appends = replay_boundaries(
            blist, toc_lines, needed_ords
        )
        out = []
        for k, (tp, tf) in targets.items():
            out.append(dict(doc_id=doc, kind="T", ord=k, tp=tp, tf=tf,
                            section_id=None, field=None, pos=None,
                            heading=None))
        for i, h in enumerate(headings):
            out.append(dict(doc_id=doc, kind="K", ord=None, tp=None,
                            tf=None, section_id=i, field=None, pos=None,
                            heading=h))
        for sec, field, pos in appends:
            out.append(dict(doc_id=doc, kind="P", ord=None, tp=None,
                            tf=None, section_id=sec, field=field,
                            pos=int(pos), heading=None))
        res = pd.DataFrame(out, columns=[f.name for f in _PHASEA_OUT.fields])
        for c in ("ord", "tp", "tf", "section_id"):
            res[c] = res[c].astype("Int32")
        res["pos"] = res["pos"].astype("Int64")
        return res

    pa = phase_a_in.groupBy("doc_id").applyInPandas(
        phase_a, _PHASEA_OUT
    ).persist()
    persisted += [enriched, events, pa]

    targets = pa.filter(F.col("kind") == "T").select(
        "doc_id", "ord", "tp", "tf"
    )
    # no broadcast hint: targets is O(event-containing segments), which
    # a boundary/paragraph-alternating pathology makes O(#spans) — let
    # AQE pick broadcast only when it is actually small
    phase_b = (
        events.join(targets, ["doc_id", "ord"])
        .select(
            "doc_id",
            F.when(F.col("code") == "P", F.col("tp"))
            .otherwise(F.col("tf")).alias("section_id"),
            F.when(F.col("code") == "P", F.lit("p"))
            .otherwise(F.lit("f")).alias("field"),
            "pos",
            F.col("text").alias("content"),
        )
        .filter(F.col("section_id").isNotNull())
    )
    # phase-A appends are position references; resolve content from the
    # boundary rows (distributed join — strings never crossed phase A)
    pa_appends = (
        pa.filter(F.col("kind") == "P")
        .select("doc_id", "section_id", "field", "pos")
        .join(
            enriched.filter(F.col("kind") == "B")
            .select("doc_id", "pos", F.col("text").alias("content")),
            ["doc_id", "pos"],
        )
        .select("doc_id", "section_id", "field", "pos", "content")
    )
    all_appends = phase_b.unionByName(pa_appends)
    agg = all_appends.groupBy("doc_id", "section_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.when(
                F.col("field") == "p", F.struct("pos", "content")
            ))),
            lambda x: x["content"],
        ).alias("paragraphs"),
        F.transform(
            F.array_sort(F.collect_list(F.when(
                F.col("field") == "f", F.struct("pos", "content")
            ))),
            lambda x: x["content"],
        ).alias("figures"),
    )
    skel = pa.filter(F.col("kind") == "K").select(
        "doc_id", "section_id", "heading"
    )
    empty_arr = F.array().cast(T.ArrayType(T.StringType()))
    secs = (
        skel.join(agg, ["doc_id", "section_id"], "left")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(
                        "section_id", "heading", "paragraphs", "figures"
                    ))
                ),
                lambda x: F.struct(
                    x["heading"].alias("heading"),
                    F.coalesce(x["paragraphs"], empty_arr).alias("paragraphs"),
                    F.coalesce(x["figures"], empty_arr).alias("figures"),
                    empty_arr.alias("tables"),
                ),
            ).alias("sections")
        )
    )
    return secs


def extract_sections_split(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
) -> DataFrame:
    """Sections-only skew path: docs above ``skew_threshold`` spans go
    through the chunk folds and the segment-parallel replay of
    _big_doc_sections; the rest through the ordinary fold.

    Output: (doc_id, status, sections).
    """
    small, big, bad = _split_inputs(documents_in, skew_threshold)
    folded = _fold_big_chunks(big, spans_per_chunk, collect_events=True)
    big_out = (
        big.select("doc_id", F.lit("ok").alias("status"))
        .join(_big_doc_sections(big, folded, spans_per_chunk, []),
              "doc_id", "left")
        .unionByName(bad.select("doc_id", F.lit("quarantined")
                                .alias("status")),
                     allowMissingColumns=True)
        .select("doc_id", "status", F.coalesce(
            "sections", F.array().cast(T.ArrayType(SECTION_STRUCT))
        ).alias("sections"))
    )
    return _fold_salted(small).select(
        "doc_id", "status", "sections").unionByName(big_out)


def extract_documents_split(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
    persisted: list | None = None,
) -> DataFrame:
    """extract_documents' output (EXTRACT_FULL) with the docs above
    ``skew_threshold`` spans chunk-folded once and fed to the span
    reassembly and sections replay the other skew paths share. No
    product code calls it: extract_job's plain fold beat it at every
    size up to 1M spans (BASELINE.md, "Job route A/B"). It is kept only
    because the traced benchmark wraps it by name, and goes with that
    wrap. Each big doc is one row left-joined from ``big``.
    Its lineage is input-derived like the fold's; wall_ms and
    partition_id are NULL (no one task folds it). At 1M spans the
    nested row itself dominates on any path that builds it; consumers
    that can take rows use extract_spans_split_rows and
    extract_sections_split instead. The cached big-doc intermediates
    are appended to ``persisted`` for the caller to unpersist once the
    result is materialised."""
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
        .join(_big_doc_sections(big, folded, spans_per_chunk, persisted),
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


def extract_sections_auto(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
) -> DataFrame:
    """Driver-side adaptive routing for the sections output: a cheap
    max-span-count probe picks the plain sequential fold when NO doc
    crosses the skew threshold, else extract_sections_split.

    Why: the split plan's fixed cost is ~1 s even when its big branch
    is EMPTY (measured interleaved A/B at sf0.1, 5 cycles min:
    sequential 1.6-1.7 s vs split 2.5-2.8 s at thresholds both above
    and below the corpus max) — three scans of the doc table
    (small/big/bad filter branches) plus empty-stage scheduling. The
    probe is one aggregate; on a production Iceberg table it reads
    column statistics from the manifest instead of scanning (the
    element-count upper bound per file), making the route metadata-
    only. Both routes emit identical rows (the split path's small-doc
    branch IS the sequential fold; equality of the chunked branch is
    pinned by the forced-threshold tests)."""
    mx = _max_span_count(documents_in)
    if mx <= skew_threshold:
        return extract_documents(documents_in).select(
            "doc_id", "status", "sections"
        )
    return extract_sections_split(documents_in,
                                  skew_threshold=skew_threshold,
                                  spans_per_chunk=spans_per_chunk)


def extract_spans_auto(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
) -> DataFrame:
    """Driver-side adaptive routing for the exploded-row span output —
    the same probe-then-route shape as extract_sections_auto: when NO
    doc crosses the skew threshold, the split subtree (three filtered
    scans of the doc table, a persisted chunk-rows diamond, the
    prefix-sum join) buys nothing, so run the plain salted fold and
    posexplode it. Locally this is a wash (sf0.1 interleaved mins
    within noise of each other — the exploded-row split never had the
    sections path's empty-branch penalty); the point is the scale
    shape: one scan instead of three on the unskewed route, and on a
    production Iceberg table the probe reads per-file element-count
    bounds from manifest statistics instead of scanning at all. Both
    routes emit identical rows: the split path's small-doc branch IS
    this fold (pinned by the forced-threshold test).
    """
    mx = _max_span_count(documents_in)
    if mx > skew_threshold:
        return extract_spans_split_rows(documents_in,
                                        skew_threshold=skew_threshold,
                                        spans_per_chunk=spans_per_chunk)
    return _explode_span_rows(
        extract_documents(documents_in, spans_only=True)
    )


def extract_spans_split_rows(
    documents_in: DataFrame,
    skew_threshold: int = SKEW_SPAN_THRESHOLD,
    spans_per_chunk: int = 1024,
) -> DataFrame:
    """Exploded-row skew path: (doc_id, offset, kind, text, media_ref)
    with NO nested-array reassembly anywhere.

    Measured motivation: on a 1M-span pathological doc, BOTH the
    sequential fold and the array-reassembling split path spend ~95%
    of their ~80 s in materializing the one-row million-element span
    array (collect_list + Arrow transfer of a single fat row), not in
    fold compute (~5 s). This variant keeps spans as ROWS end to end:
    chunk folds yield one output row per span, and global offsets come
    from a per-(doc, chunk) size aggregation (tiny) prefix-summed over
    #chunks rows and joined back — no giant row ever exists after the
    initial input explode. This is the shape a 10^12-doc table uses
    anyway (the driver contract's nested arrays are re-exploded by
    every consumer).
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
        # renumber window matches the fold's stable sort (fold.py:182)
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
        .when(
            (F.trim("fl") != "") | F.col("fl").rlike(P.JAVA_SECTION),
            "heading",
        )
        .when(F.col("fl").rlike(P.JAVA_APPENDIX), "appendix")
        .when(F.col("fl").rlike(P.JAVA_FIGURE), "figure_caption")
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


def lineage_table(extracted_full: DataFrame) -> DataFrame:
    """North-rule metrics: one row per executor partition."""
    return extracted_full.groupBy("partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("spans_out").alias("spans_out"),
        F.sum("wall_ms").alias("wall_ms"),
    )


def resume_filter(documents_in: DataFrame, committed: DataFrame) -> DataFrame:
    """Skip documents already present in the committed output snapshot
    (exactly-once resume; ref analogue: the file-existence recompute
    guards at src/pdf_extractor.py:343-349,377-383)."""
    return documents_in.join(
        committed.select("doc_id").distinct(), "doc_id", "left_anti"
    )
