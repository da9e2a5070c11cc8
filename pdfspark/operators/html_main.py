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

from collections.abc import Iterator

import pandas as pd

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


def main_content_blocks(pages: DataFrame) -> DataFrame:
    """(doc_id, html) -> one row per text block with shallow features
    and the content/boilerplate verdict. Pages that segment to zero
    blocks (empty body, script-only) emit no rows — same pass-through
    semantics as the X19 table parser on tableless docs."""

    schema = blocks_schema(pages.schema["doc_id"].dataType)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                # NULL html (outer-join misses, unscraped rows) is a
                # degenerate page: zero blocks, same pass-through as
                # an empty body — not a task-killing TypeError
                if not isinstance(html, str):
                    continue
                for b in extract_blocks(html):
                    out.append(
                        (
                            doc_id,
                            b.block_id,
                            b.tag,
                            b.n_words,
                            b.n_link_words,
                            b.link_density,
                            b.dom_boiler,
                            b.is_content,
                            b.text,
                        )
                    )
            yield pd.DataFrame(out, columns=[f.name for f in schema])

    return pages.select("doc_id", "html").mapInPandas(run, schema)

