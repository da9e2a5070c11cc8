"""A1/F2/F3/F10/F11 — header/footer boilerplate (SURVEY.md §2.2, §2.4).

Reproduces ``get_header_footer_text`` (ref src/utilities/parse_util.py:
417-442) exactly, but as one aggregation instead of a second full pass
over every document:

  * header candidate iff ``page_y1 - y0 <= TOP_MARGIN``
  * footer candidate iff not header and ``y0 <= BOTTOM_MARGIN``
  * per doc, in (page, offset) order, concatenate candidate texts
    (newlines removed) into one string, skipping a text if it is
    already a *substring* of the accumulated string — the reference's
    quirky dedup (parse_util.py:436,439).

The order-sensitive substring fold is expressed with
``aggregate(sort_array(collect_list(...)))`` — all JVM-side.
``with_header_footer`` is the one place a consumer's doc stream gets
the strings: consumers pass the geometry frame, never a built
header/footer frame.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdfspark.config import (
    BOTTOM_MARGIN,
    NORM_FOOTER_THRESHOLD,
    NORM_HEADER_THRESHOLD,
    PAGE_H,
    TOP_MARGIN,
)


def with_page_y1(spans_geom: DataFrame) -> DataFrame:
    """Page top edge from the PageStart marker rows (fallback PAGE_H).

    An aggregate over the PageStart rows joined back, NOT a window over
    the whole frame: a window partitioned by (doc_id, page_id) shuffles
    every row of every kind AND blocks Catalyst from pushing the
    callers' kind filters below it, whereas with a join the
    ``kind == 'TextBox'`` filter reaches the scan and only the
    one-row-per-page tops frame aggregates (AQE broadcasts it at small
    scale; at 10^12 docs it degrades to an equi-join shuffle of
    candidate rows only — still strictly smaller than the window's
    all-kinds shuffle). Measured 2.2 s -> sub-second for the
    header/footer derivation at sf0.1."""
    tops = (
        spans_geom.filter(F.col("kind") == "PageStart")
        .groupBy("doc_id", "page_id")
        .agg(F.max("y1").alias("_page_top"))
    )
    return (
        spans_geom.join(tops, ["doc_id", "page_id"], "left")
        .withColumn(
            "page_y1", F.coalesce(F.col("_page_top"), F.lit(PAGE_H))
        )
        .drop("_page_top")
    )


def margin_candidates(spans_geom: DataFrame) -> DataFrame:
    """F10/F11 — TextBox spans in the header/footer bands, with the
    newline-stripped comparison text."""
    df = with_page_y1(spans_geom).filter(F.col("kind") == "TextBox")
    # coalesce: one NULL-text candidate would otherwise null the whole
    # doc's _dedup_concat fold (concat is null-intolerant and the NULL
    # acc then survives every later iteration), silently erasing the
    # header/footer string instead of stripping boilerplate
    df = df.withColumn(
        "txt",
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), "\n", ""),
    )
    is_hdr = (F.col("page_y1") - F.col("y0")) <= F.lit(TOP_MARGIN)
    is_ftr = (~is_hdr) & (F.col("y0") <= F.lit(BOTTOM_MARGIN))
    return (
        df.withColumn("is_header", is_hdr)
        .withColumn("is_footer", is_ftr)
        .filter(is_hdr | is_ftr)
        .select("doc_id", "page_id", "offset", "txt", "is_header", "is_footer")
    )


def _dedup_concat(col):
    """Ordered fold with substring dedup: acc + 'txt ' unless txt in acc.

    Deliberately the interpreted JVM HOF, NOT a mapInPandas fold: the
    per-doc candidate arrays are tens of elements, so interpreter
    overhead is negligible while the Arrow group-shuffle + Python
    round-trip is not — measured at sf0.1 (6k docs, warm workers,
    min-of-3): aggregate() fold 0.70 s vs applyInPandas fold 2.0 s,
    outputs identical. The engine's mapInPandas-kernel rule applies to
    corpus-linear scans (similarity, winnowing), not to bounded
    per-group folds."""
    return F.aggregate(
        col,
        F.lit(""),
        lambda acc, x: F.when(acc.contains(x["txt"]), acc).otherwise(
            F.concat(acc, x["txt"], F.lit(" "))
        ),
    )


def header_footer(spans_geom: DataFrame) -> DataFrame:
    """Per-doc boilerplate strings: (doc_id, header, footer)."""
    cands = margin_candidates(spans_geom)
    agg = cands.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.when(F.col("is_header"), F.struct("offset", "txt"))
            )
        ).alias("hdr_items"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("is_footer"), F.struct("offset", "txt"))
            )
        ).alias("ftr_items"),
    )
    return agg.select(
        "doc_id",
        _dedup_concat(F.col("hdr_items")).alias("header"),
        _dedup_concat(F.col("ftr_items")).alias("footer"),
    )


def with_header_footer(df: DataFrame, spans_geom: DataFrame) -> DataFrame:
    """``df`` with its doc's ``header``/``footer`` strings — the one
    place any consumer gets them. They come from ``header_footer`` over
    ``spans_geom``, left-joined on doc_id, with '' for docs that have
    no margin spans (the reference initializes both to '',
    parse_util.py:421-425). The extraction fold is not a consumer: its
    dict-membership strip reads no strings."""
    return df.join(header_footer(spans_geom), "doc_id", "left").fillna(
        {"header": "", "footer": ""}
    )


def all_doc_headers_footers(spans_geom: DataFrame) -> DataFrame:
    """One (doc_id, header, footer) row per doc of ``spans_geom``,
    docs with no margin spans included with empty strings — for when
    the strings themselves are the output (a1). Consumers that strip
    boilerplate take the geometry frame and call with_header_footer on
    their own doc stream instead."""
    return with_header_footer(spans_geom.select("doc_id").distinct(),
                              spans_geom)


def margin_candidates_normalized(spans_geom: DataFrame) -> DataFrame:
    """F12 — the normalized-position variant
    (ref src/utilities/doc_util.py:4-24), bug reproduced verbatim:
    `NORM_FOOTER_THRESHOLD=0.9` compares `y1/page_height < 0.9`, which
    marks nearly every body element a footer candidate (the intended
    test would be `<` a small threshold, or on y0).
    Applies to LTTextBox and LTTextLine analogues."""
    df = with_page_y1(spans_geom).filter(
        F.col("kind").isin("TextBox", "TextLine")
    )
    top_pos = F.col("y1") / F.col("page_y1")
    return (
        df.withColumn("txt", F.trim("text"))
        .withColumn("is_header", top_pos > F.lit(1.0 - NORM_HEADER_THRESHOLD))
        .withColumn("is_footer", top_pos < F.lit(NORM_FOOTER_THRESHOLD))
        .filter(F.col("is_header") | F.col("is_footer"))
    )
