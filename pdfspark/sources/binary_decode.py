"""S1 — PDF byte-stream source scaffold (SURVEY §2.1 S1).

Reference: src/pdf_extractor.py:181-210 opens the PDF byte stream and
iterates pdfminer layout pages. Per BASELINE north_star the Spark
shape is ``spark.read.format("binaryFile")`` feeding vectorized
pandas/Arrow batches that decode whole documents — one input row per
byte payload, one output row per document, decode errors quarantined
as rows (status='decode_error') instead of killing the stage (F4).

One decode loop, several views: ``_decode_batches`` is the only loop
over payload bytes. ``decode_docs`` (with its projections
``decode_payloads``, ``geom_rows`` / ``decode_payloads_geom``) runs it
alone; ``extract_payloads``, the batch and stream bytes-in extraction,
runs it and the fold in one mapInPandas task.

Payload formats: real `%PDF` byte streams go through the stdlib mini
codec (pdfspark.sources.pdf_mini), which since round 5 also tracks
text state (Td/TD/Tm/T*/TL) and emits per-show geometry — so the
full layout pipeline (W1 reading order, F10-F12 margins, A4/EP3
table reconstruction) runs bytes-in → tables-out. The deterministic
JSON stand-in format (synth.write_payloads) remains for geometry-free
span payloads. The single seam to swap for pdfminer is
``_decode_payload``.

Scale shape: binaryFile splits per file; decode is embarrassingly
parallel per payload; no shuffle (``extract_payloads`` coalesces the
scan so one Python task serves many payloads).
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Iterator

import pandas as pd
from pyspark.accumulators import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdfspark.operators.extract import EXTRACT_FULL, _fold_batches
from pdfspark.schema import SPAN, SPANS_GEOM

_GEOM_KEYS = ("page_id", "x0", "y0", "x1", "y1")

# a decoded span: the SPAN contract plus the page and bounding box
SPAN_GEOM = T.StructType(SPAN.fields + [
    T.StructField(k, T.IntegerType() if k == "page_id" else T.DoubleType())
    for k in _GEOM_KEYS
])

DECODED = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_GEOM)),
        T.StructField("bytes_len", T.LongType()),
        T.StructField("geom_digest", T.StringType()),
    ]
)


def read_payloads(spark: SparkSession, path: str) -> DataFrame:
    """Binary scan: one row per payload file (path, length, content)."""
    return spark.read.format("binaryFile").load(path)


def geom_digest(spans: list[dict]) -> str:
    """Deterministic digest of a decode's span geometry: md5 over
    `offset:page_id:x0,y0,x1,y1` (2-decimal) in offset order for every
    span carrying coordinates; '' when none do (JSON stand-ins,
    quarantined rows). Computed identically Spark-side (decode batch)
    and Spark-FREE at fixture-gen time (synth.write_pdf_payloads), so
    the driver's DuckDB oracle hash-checks the y-ordinates end to end.
    """
    # all four coordinates required: a span with partial geometry
    # (x0 set, y0 None — possible through the pluggable-decoder seam)
    # must not TypeError inside the format string; decode_docs'
    # catch-all would silently misreport a decoded doc as
    # status='decode_error'. The mini codec emits all-or-none, so
    # fixture digests are unchanged.
    parts = [
        f"{s['offset']}:{s['page_id']}:"
        f"{s['x0']:.2f},{s['y0']:.2f},{s['x1']:.2f},{s['y1']:.2f}"
        for s in spans
        if all(s.get(k) is not None for k in ("x0", "y0", "x1", "y1"))
    ]
    if not parts:
        return ""
    return hashlib.md5(";".join(parts).encode("ascii")).hexdigest()


def _decode_payload(content: bytes) -> dict:
    """THE decoder seam: payload bytes -> dict(doc_id, spans). Raises
    on any malformed payload; the caller quarantines.

    Dispatches on the payload magic: real `%PDF` byte streams go
    through the stdlib mini-decoder (pdfspark.sources.pdf_mini —
    spans carry page_id + x0/y0/x1/y1 geometry; swap for pdfminer
    where available, mirroring ref src/pdf_extractor.py:181-210),
    everything else is the JSON stand-in format (geometry-free)."""
    if content.startswith(b"%PDF"):
        from pdfspark.sources.pdf_mini import decode_tiny_pdf

        return decode_tiny_pdf(content)
    body = json.loads(content.decode("utf-8"))
    spans = [
        dict(kind=s.get("kind"), text=s.get("text"),
             media_ref=s.get("media_ref"), offset=s.get("offset"))
        for s in body["spans"]
    ]
    return dict(doc_id=body["doc_id"], spans=spans)


def _decode_batches(decode):
    """The decode kernel: binaryFile batches -> one DECODED row per
    payload (doc_id, status, spans with page_id + x0..y1, bytes_len,
    geom_digest); ``decode`` maps bytes -> dict(doc_id, spans).

    The span projection sits inside the try: a decoder returning a
    malformed span dict (missing key) quarantines its payload as
    status='decode_error' instead of killing the Spark task. A PDF
    without an Info /Title falls back to the filename stem as doc_id."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                stem = os.path.splitext(os.path.basename(r.path))[0]
                try:
                    body = decode(bytes(r.content))
                    spans = [
                        dict(kind=s["kind"], text=s["text"],
                             media_ref=s["media_ref"], offset=s["offset"],
                             **{k: s.get(k) for k in _GEOM_KEYS})
                        for s in body["spans"]
                    ]
                    rows.append(dict(doc_id=body["doc_id"] or stem,
                                     status="ok", spans=spans,
                                     bytes_len=int(r.length),
                                     geom_digest=geom_digest(
                                         body["spans"])))
                except Exception:
                    rows.append(dict(doc_id=stem, status="decode_error",
                                     spans=[], bytes_len=int(r.length),
                                     geom_digest=""))
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED.fields])

    return run


def decode_docs(bin_df: DataFrame, decoder=None) -> DataFrame:
    """THE decode stage: binaryFile rows -> one DECODED row per payload
    (see _decode_batches). ``decoder`` overrides the payload decoder —
    the pluggable seam for a real PDF library."""
    return bin_df.select("path", "length", "content").mapInPandas(
        _decode_batches(decoder or _decode_payload), DECODED)


def extract_payloads(bin_df: DataFrame,
                     lineage: Accumulator | None = None) -> DataFrame:
    """binaryFile rows -> EXTRACT_FULL rows, one per payload, in ONE
    Python stage: the decode kernel feeds the fold kernel
    (operators/extract.py) in the same task, over the scan coalesced
    (narrow) to the default parallelism. A payload that failed decode
    folds the DecodeError marker span (status='quarantined') with its
    size as lineage bytes_in; decoded payloads get NULL (the fold
    counts their span text). ``lineage`` (from
    extract.lineage_accumulator) collects each task's lineage totals
    in the same pass."""
    decode = _decode_batches(_decode_payload)
    fold = _fold_batches(lineage=lineage)
    marker = [dict(kind="DecodeError", text="corrupt payload",
                   media_ref=None, offset=0)]

    def fold_rows(decoded: Iterator[pd.DataFrame]):
        for pdf in decoded:
            ok = pdf["status"] == "ok"
            yield pdf.assign(
                spans=[s if good else marker
                       for s, good in zip(pdf["spans"], ok)],
                bytes_in=pdf["bytes_len"].where(~ok))

    n = bin_df.sparkSession.sparkContext.defaultParallelism
    return bin_df.select("path", "length", "content").coalesce(n).mapInPandas(
        lambda it: fold(fold_rows(decode(it))), EXTRACT_FULL)


def _narrow(decoded: DataFrame) -> DataFrame:
    """Spans cut to the SPAN contract (kind, text, media_ref, offset)."""
    return decoded.withColumn("spans", F.transform(
        "spans", lambda s: F.struct(*[s[f.name].alias(f.name)
                                      for f in SPAN.fields])))


def decode_payloads(bin_df: DataFrame, decoder=None) -> DataFrame:
    """binaryFile rows -> documents_in rows + quarantine: decode_docs
    with the spans narrowed to SPAN. The geometry a PDF decode carries
    is summarized in `geom_digest` (the hash-checked driver column)
    and surfaced in full by decode_payloads_geom."""
    return _narrow(decode_docs(bin_df, decoder))


def geom_rows(decoded: DataFrame) -> DataFrame:
    """decode_docs rows -> SPANS_GEOM layout rows of the 'ok' payloads,
    the frame the synthetic corpus materializes, so every geometry
    operator (W1 reading order, F10-F12 margins, A1 header/footer,
    A4/EP3 tables) runs from raw bytes. Geometry-free spans (TOC
    prologue, JSON stand-ins) carry NULL coordinates; page_number
    follows the synthetic convention (synth.py): max(0, page_id - 1)."""
    pid = F.col("page_id")
    return (
        decoded.filter(F.col("status") == "ok")
        .select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.*")
        .withColumn("page_number",
                    F.when(pid.isNotNull(), F.greatest(pid - 1, F.lit(0))))
        .select(*SPANS_GEOM.fieldNames())
    )


def decode_payloads_geom(bin_df: DataFrame, decoder=None) -> DataFrame:
    """binaryFile rows -> SPANS_GEOM layout rows (geom_rows over
    decode_docs) — the bytes-in -> geometry-out path. Quarantined
    payloads have no rows here; decode_payloads is the status-bearing
    view of the same decode."""
    return geom_rows(decode_docs(bin_df, decoder))
