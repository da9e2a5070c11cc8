"""HTML main-content extraction (boilerplate strip + DOM heuristics,
named verbatim in the north rule).

Plan shape: one mapInPandas over (doc_id, html) emitting classified
text-block rows — per-page independent work, so the op is a narrow
Arrow-batched projection with ZERO shuffle (the same seam rationale
as the extraction fold and ts fingerprints: page segmentation is
inherently per-document, and keeping it inside one Arrow batch
deletes any per-block exchange). At 100 TB the only cost is the scan
plus Python/Arrow transfer of the raw HTML, and skew is bounded by
page size, not corpus size.

The driver's ``main_content_blocks`` emits a page's blocks only.
extract_job --html's ``page_blocks`` runs over the scan coalesced to
the default parallelism, emits one ``_empty`` row for a page with no
blocks, and counts each task's lineage in the same pass, as the span
fold does. Both build a page's rows with ``_page_rows``.

The classification kernel lives in functions/domseg.py (stdlib-only,
deterministic, Kohlschuetter WSDM-2010 stumps + semantic-container
veto); the synth sidecar html_main_expected.parquet is the same
kernel run Spark-free, which the DuckDB oracle reads — pinning this
file's distributed plumbing (grouping, Arrow batching, row assembly)
against a single-process ground truth, the xycut / payload-decode
oracle pattern.

The reference repo has no main-content extractor (it consumes whole
PDFs; its only HTML surface is the table parser,
src/utilities/parse_util.py:58-115) — this operator is part of the
training-data-pipeline surface built on top.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd

from pyspark import TaskContext
from pyspark.accumulators import Accumulator
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdfspark.functions.domseg import extract_blocks


def blocks_schema(doc_id_type: T.DataType) -> T.StructType:
    """Block-row schema; doc_id follows the input table's type (the
    fixture table uses bigint ids, the spark-submit --html mode uses
    filename-stem strings)."""
    return T.StructType(
        [
            T.StructField("doc_id", doc_id_type),
            T.StructField("block_id", T.IntegerType()),
            T.StructField("tag", T.StringType()),
            T.StructField("n_words", T.IntegerType()),
            T.StructField("n_link_words", T.IntegerType()),
            T.StructField("link_density", T.DoubleType()),
            T.StructField("dom_boiler", T.BooleanType()),
            T.StructField("is_content", T.BooleanType()),
            T.StructField("text", T.StringType()),
        ]
    )


def _page_rows(doc_id, html) -> list[tuple]:
    """One page's block rows, in blocks_schema column order. A NULL
    html (an outer-join miss, an unscraped row, a non-UTF-8 job page)
    is a degenerate page: no blocks, like an empty body, not a
    task-killing TypeError."""
    if not isinstance(html, str):
        return []
    return [(doc_id, b.block_id, b.tag, b.n_words, b.n_link_words,
             b.link_density, b.dom_boiler, b.is_content, b.text)
            for b in extract_blocks(html)]


def main_content_blocks(pages: DataFrame) -> DataFrame:
    """(doc_id, html) -> one row per text block with shallow features
    and the content/boilerplate verdict. Pages that segment to zero
    blocks (empty body, script-only) emit no rows — same pass-through
    semantics as the X19 table parser on tableless docs."""

    schema = blocks_schema(pages.schema["doc_id"].dataType)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [row for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                   for row in _page_rows(doc_id, html)]
            yield pd.DataFrame(out, columns=schema.fieldNames())

    return pages.select("doc_id", "html").mapInPandas(run, schema)


# the one row a page that segments to no blocks commits in the job, so
# --resume sees its doc_id as committed and never re-admits it
EMPTY_PAGE = (-1, "_empty", 0, 0, 0.0, False, False, "")


def page_blocks(pages: DataFrame, lineage: Accumulator | None) -> DataFrame:
    """(doc_id, html, bytes_in) -> each page's block rows, or its
    EMPTY_PAGE row. Given a ``lineage`` accumulator, each task that saw
    a page adds its totals (doc_count, bytes_in, spans_out = rows
    out, wall_ms) under its partition id, as extract._fold_batches
    does."""
    schema = blocks_schema(T.StringType())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        totals = (0, 0, 0, 0.0)
        for pdf in batches:
            out = []
            for doc_id, html, n_bytes in zip(
                    pdf["doc_id"], pdf["html"], pdf["bytes_in"]):
                t0 = time.perf_counter()
                rows = _page_rows(doc_id, html) or [(doc_id, *EMPTY_PAGE)]
                wall = (time.perf_counter() - t0) * 1000.0
                out += rows
                totals = (totals[0] + 1, totals[1] + int(n_bytes),
                          totals[2] + len(rows), totals[3] + wall)
            yield pd.DataFrame(out, columns=schema.fieldNames())
        if lineage is not None and totals[0]:
            lineage.add({pid: totals})

    n = pages.sparkSession.sparkContext.defaultParallelism
    return (pages.select("doc_id", "html", "bytes_in").coalesce(n)
            .mapInPandas(run, schema))
