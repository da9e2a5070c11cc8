"""EP3 — table reconstruction (SURVEY.md §3 EP3, §2.3 J2/J3/J7,
§2.4 A3/A4, §2.5 W2/W4).

Two implementations:

* ``extract_tables_exact`` — one pandas fold per (doc_id, page_id),
  many pages per Arrow batch (``map_sorted_groups``), reproducing the
  reference fold *verbatim*, including its quirks (stale row anchor
  after titles, pre-title row leaking into the first table, empty-row
  emission): ref src/table_extractor.py:185-222
  (extract_table_content) then :9-117 (textboxes_to_tabular_json).
  This is the parity path, checked span-for-span by pytest against the
  pure-Python oracle.

* ``extract_tables_sql`` — pure DataFrame fast path with the
  *intended* semantics (titles open tables, lag-based row islands,
  no leaks). 100% Catalyst: window + groupBy, zero Python. This is
  the path the DuckDB oracle checks and the one benchmarked at scale.

Shuffle story: both paths shuffle on (doc_id, page_id) — the reading-
order window's key, which the exact path's page grouping reuses.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdfspark.config import Y_TOLERANCE
from pdfspark.functions import patterns as P
from pdfspark.operators.boilerplate import with_header_footer
from pdfspark.operators.reading_order import (
    map_sorted_groups,
    with_reading_order,
)

TABLE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("page_id", T.IntegerType()),
        T.StructField("table_id", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("row_id", T.IntegerType()),
        T.StructField("cells", T.ArrayType(T.StringType())),
    ]
)


# ---------------------------------------------------------------------------
# exact-parity path
# ---------------------------------------------------------------------------

def fold_tables_page(textboxes: list[dict], header: str,
                     footer: str) -> list[dict]:
    """Verbatim port of the two-stage reference fold for ONE page.

    ``textboxes``: dicts with text/x0/y0/x1/y1, already in reading
    order (-y1, x1). Returns flat rows
    (table_id, title, row_id, cells).
    Ref: src/table_extractor.py:185-222 then :9-117.
    """
    # stage 1 — extract_table_content: before the first table title the
    # header/footer/page-number strips are inactive; continued-prefix
    # guard uses re.match (dead in practice, titles start with 'Table').
    found_table = False
    stage1 = []
    for tb in textboxes:
        # NULL text coerced like every other span path (pdfminer always
        # yields str, but the spans_geom column is nullable; '' is
        # outcome-equivalent to the SQL path's contains('')-drop)
        text = tb["text"] or ""
        if found_table:
            if text in header or text in footer:
                continue
            if P.RE_PAGE_NUMBER.match(text):
                continue
        m = P.RE_TABLE_TITLE.match(text)
        if m:
            title = m.group(0).strip()
            if not re.match(P.CONTINUED, title, re.IGNORECASE):
                stage1.append(tb)
                found_table = True
        else:
            stage1.append(tb)

    # stage 2 — textboxes_to_tabular_json (all quirks preserved).
    tables: list[dict] = []
    current_row: list[dict] = []
    current_y = None
    current_table = None

    def flush_row(table):
        srt = sorted(current_row, key=lambda t: t["x0"])
        table["rows"].append([t["text"] for t in srt])

    for tb in stage1:
        content = (tb["text"] or "").replace("\n", "").strip()
        if content in header or content in footer:
            continue
        if P.RE_PAGE_NUMBER.match(content):
            continue
        m = P.RE_TABLE_TITLE.match(content)
        if m:
            title = m.group(0).strip()
            if not P.RE_CONTINUED.search(title.lower()):
                if current_table is not None:
                    if current_row:
                        flush_row(current_table)
                    current_row = []  # NOT cleared when no table yet (ref :56-65)
                current_table = {"title": title, "rows": []}
                tables.append(current_table)
            else:
                if current_table is not None and current_row:
                    flush_row(current_table)
                    current_row = []
        elif current_y is None:
            current_y = tb["y1"]
            current_row.append(tb)
        elif abs(tb["y1"] - current_y) <= Y_TOLERANCE:
            current_row.append(tb)
        else:
            if current_table is not None:
                flush_row(current_table)  # may emit an EMPTY row (quirk)
                current_row = [tb]
                current_y = tb["y1"]
            else:
                current_row = [tb]
                current_y = tb["y1"]

    if current_table is not None and current_row:
        flush_row(current_table)

    out = []
    for ti, t in enumerate(tables):
        for ri, cells in enumerate(t["rows"]):
            out.append(dict(table_id=ti, title=t["title"], row_id=ri, cells=cells))
        if not t["rows"]:
            out.append(dict(table_id=ti, title=t["title"], row_id=-1, cells=None))
    return out


def extract_tables_exact(spans_geom: DataFrame) -> DataFrame:
    """Parity path: ``fold_tables_page`` per (doc_id, page_id) in
    reading order, many pages per Python call (``map_sorted_groups``)."""
    tb = with_reading_order(spans_geom).select(
        "doc_id", "page_id", "text", "x0", "y0", "x1", "y1", "rord"
    )
    joined = with_header_footer(tb, spans_geom)

    def fold_pages(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        boxes = pdf[["text", "x0", "y0", "x1", "y1"]].to_dict("records")
        doc, page, head, foot = (
            pdf[c].tolist() for c in ("doc_id", "page_id", "header", "footer"))
        return pd.DataFrame([
            dict(doc_id=doc[lo], page_id=int(page[lo]), **r)
            for lo, hi in zip(bounds[:-1], bounds[1:])
            for r in fold_tables_page(boxes[lo:hi], head[lo] or "",
                                      foot[lo] or "")
        ], columns=TABLE_ROWS_SCHEMA.fieldNames())

    return map_sorted_groups(joined, ("doc_id", "page_id"), ("rord",),
                             fold_pages, TABLE_ROWS_SCHEMA)


# ---------------------------------------------------------------------------
# relational fast path (intended semantics)
# ---------------------------------------------------------------------------

def extract_tables_sql(spans_geom: DataFrame,
                       scope: str = "page") -> DataFrame:
    """Pure-DataFrame table reconstruction.

    Intended semantics: a 'Table N' title opens a table; subsequent
    non-title boxes cluster into rows via lag-based y1 islands (W4
    running flag + A4 gaps-and-islands + A3 assembly); boxes before the
    first title are discarded; header/footer/page-number boilerplate is
    stripped everywhere.

    scope="page": each page processed independently (reference main
    path, ref src/pdf_extractor.py:392-414 loops pages); continued
    titles open their own page-local table, to be merged later by
    merge_continued_tables (the guarded J3).
    scope="doc": the whole doc is one reading-order stream; continued
    titles do NOT open a table, their rows continue the current one
    (textboxes_to_tabular_json fed multi-page input).
    """
    per_doc = scope == "doc"
    df = with_header_footer(with_reading_order(spans_geom), spans_geom)
    clean = F.trim(F.regexp_replace("text", "\n", ""))
    df = df.withColumn("clean", clean).filter(
        (~F.col("header").contains(F.col("clean")))
        & (~F.col("footer").contains(F.col("clean")))
        & (~F.col("clean").rlike(P.JAVA_PAGE_NUMBER_MATCH))
    )
    is_title = F.col("clean").rlike(P.JAVA_TABLE_TITLE)
    opens = (
        (is_title & ~F.col("clean").rlike(P.JAVA_CONTINUED_SEARCH))
        if per_doc
        else is_title
    )
    df = df.withColumn("is_title", is_title).withColumn("opens", opens)

    part = ["doc_id"] if per_doc else ["doc_id", "page_id"]
    order = ["page_id", "rord"] if per_doc else ["rord"]
    w_run = (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # title carry-forward: table_id is the running sum of `opens`, so
    # every row's table title is the last opening title at-or-before it
    # in the SAME window partition — a last(ignorenulls) over w_run
    # instead of a separate titles frame joined back on (part,
    # table_id). That join was a diamond (the whole upstream — reading
    # order window, header/footer join, boilerplate filters — executed
    # twice) plus a full shuffle join; the carry-forward costs one more
    # expression in an already-required window pass.
    df = (
        df.withColumn("table_id", F.sum(F.col("opens").cast("int")).over(w_run))
        .withColumn("grp", F.sum(F.col("is_title").cast("int")).over(w_run))
        .withColumn(
            "title",
            F.last(
                F.when(
                    F.col("opens"),
                    F.trim(F.regexp_extract("clean", P.JAVA_TABLE_TITLE, 1)),
                ),
                ignorenulls=True,
            ).over(w_run),
        )
        .filter(F.col("table_id") >= 1)
    )

    data = df.filter(~F.col("is_title"))
    # island detection partitioned by the SAME key as w_run (grp
    # boundaries detected via lag(grp) instead of partitioning by grp):
    # consecutive windows share one hashpartitioning -> one less
    # full-data exchange, which is the dominant shuffle at scale.
    w_grp = Window.partitionBy(*part).orderBy(*order)
    prev_y1 = F.lag("y1").over(w_grp)
    prev_grp = F.lag("grp").over(w_grp)
    new_row = (
        prev_grp.isNull()
        | (prev_grp != F.col("grp"))
        | (F.abs(F.col("y1") - prev_y1) > F.lit(Y_TOLERANCE))
    )
    if per_doc:
        new_row = new_row | (F.lag("page_id").over(w_grp) != F.col("page_id"))
    data = data.withColumn(
        "row_id",
        F.sum(new_row.cast("int")).over(
            w_grp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # grouping keys are a superset of the window partition keys, so the
    # existing hashpartitioning satisfies the aggregate's distribution —
    # map-side partials, no new exchange. `title` is functionally
    # dependent on (part, table_id); carrying it as a grouping key is
    # free and avoids any join.
    rows = data.groupBy(*part, "table_id", "title", "grp", "row_id").agg(
        F.min("page_id").alias("row_page_id") if per_doc
        else F.first("page_id").alias("row_page_id"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("x0", "rord", "text"))),
            lambda s: s["text"],
        ).alias("cells"),
    )
    # within a table, rows from a later (continued-title) group follow
    # earlier groups; renumber by (grp, row_id).
    w_tbl = Window.partitionBy(*part, "table_id").orderBy("grp", "row_id")
    out = rows.withColumn("row_id", F.row_number().over(w_tbl))
    if per_doc:
        out = out.withColumn("page_id", F.col("row_page_id"))
    return out.select("doc_id", "page_id", "table_id", "title", "row_id", "cells")


def merge_continued_tables(tables: DataFrame, cache_input: bool = True,
                           drop_mismatched: bool = False) -> DataFrame:
    """J3 v3 — merge '(continued)' tables into their BASE table
    (ref src/utilities/parse_util.py:327-345: base =
    title.split('(')[0].strip(); current_table's title must equal
    base, case-insensitive; column arity must match).

    The reference keeps ``current_table`` pointing at the BASE after a
    merge, so a table continued across 3+ pages merges fully — a naive
    lag(title) comparison breaks the chain at the third fragment
    (fragment 3's predecessor title still contains '(continued)').
    State machine, made relational: the anchor of a fragment is the
    last NON-continued table before it; a fragment whose base differs
    from the anchor's title becomes standalone (reference: appended +
    becomes current_table), and because its raw title contains '(' no
    later base can ever match it, every following fragment in the
    anchor group is standalone too — hence "standalone from the first
    title mismatch onward", a per-group aggregate, no recursion.

    ``drop_mismatched``: the reference silently DISCARDS a title-
    matching fragment whose arity differs (parse_util.py:336-337 logs
    and drops the rows). Default False keeps such fragments as
    standalone tables — a deliberate, documented deviation (don't
    silently lose rows); True reproduces the reference exactly.

    Input/out: TABLE_ROWS_SCHEMA-shaped flat rows (page_id preserved;
    row_id renumbered per merged table). Accepts both the SQL path's
    1-based row_id and the exact path's 0-based (header arity is read
    from the lowest non-negative row_id, not a hardcoded row 1;
    row_id=-1 empty-table markers are ignored for arity, stay -1 in
    the output, and vanish when their merged group gains real rows).

    The merge is a diamond over its input (a table-level aggregate
    joined back onto the row stream), so without materialization the
    whole upstream reconstruction pipeline executes twice.
    `cache_input` persists the input first — it is output-sized (table
    rows, not span rows), and in production this stage reads the
    already-written tables table anyway; measured ~20% off the J3 wall
    time locally.
    """
    if cache_input:
        tables = tables.persist()
    # literal 'continued' ON PURPOSE, not the X7 (continued|cont\.)
    # pattern: the reference's merge stage tests
    # `'continued' in title.lower()` (parse_util.py:329) while only the
    # fold stage uses the X7 regex (table_extractor.py:52) — a 'cont.'
    # fragment genuinely does not merge on this route in the reference
    is_cont = F.lower(F.col("title")).contains("continued")
    base = F.when(
        is_cont, F.trim(F.element_at(F.split(F.col("title"), r"\("), 1))
    ).otherwise(F.col("title"))
    t = tables.withColumn("is_cont", is_cont).withColumn("base_title", base)

    # table-level frame ordered within doc; the header-row arity
    # (n_cols) is computed inside this same aggregation — no extra
    # full-row window pass
    tbl = (
        t.groupBy("doc_id", "page_id", "table_id", "title", "base_title",
                  "is_cont")
        .agg(
            F.count("*").alias("nr"),
            F.expr(
                "min_by(size(cells), CASE WHEN row_id >= 0 "
                "THEN row_id END)"
            ).alias("n_cols"),
        )
        .withColumn(
            "tord",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("page_id", "table_id")
            ),
        )
    )
    w_run = (
        Window.partitionBy("doc_id").orderBy("tord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    anchor = lambda c: F.last(  # noqa: E731 — three parallel fill-downs
        F.when(~F.col("is_cont"), F.col(c)), ignorenulls=True
    ).over(w_run)
    tbl = (
        tbl.withColumn("anchor_tord", anchor("tord"))
        .withColumn("anchor_title", anchor("title"))
        .withColumn("anchor_cols", anchor("n_cols"))
    )
    title_bad = F.col("is_cont") & (
        F.col("anchor_tord").isNull()
        | (F.lower(F.col("anchor_title")) != F.lower(F.col("base_title")))
    )
    tbl = tbl.withColumn("title_bad", title_bad).withColumn(
        "first_bad",
        F.min(F.when(F.col("title_bad"), F.col("tord"))).over(
            Window.partitionBy("doc_id", "anchor_tord")
        ),
    )
    title_ok = (
        F.col("is_cont")
        & ~F.col("title_bad")
        & (F.col("first_bad").isNull()
           | (F.col("tord") < F.col("first_bad")))
    )
    arity_ok = F.col("anchor_cols").eqNullSafe(F.col("n_cols"))
    tbl = tbl.withColumn("merged", title_ok & arity_ok)
    if drop_mismatched:
        tbl = tbl.filter(~(title_ok & ~arity_ok))
    tbl = (
        tbl.withColumn(
            "grp_tord",
            F.when(F.col("merged"), F.col("anchor_tord"))
            .otherwise(F.col("tord")),
        )
        .withColumn(
            "out_title",
            F.when(F.col("merged"), F.col("anchor_title"))
            .otherwise(F.col("title")),
        )
        .withColumn(
            "merged_id",
            F.dense_rank().over(
                Window.partitionBy("doc_id").orderBy("grp_tord")
            ),
        )
    )
    keyed = t.join(
        tbl.select("doc_id", "page_id", "table_id", "merged_id",
                   "out_title"),
        ["doc_id", "page_id", "table_id"],
    )
    # row_id=-1 empty-table markers must stay markers: a marker in a
    # merged group that gained real rows disappears (the table now has
    # rows), a merged group that is ALL markers keeps exactly one
    # (one empty table), and surviving markers keep row_id=-1 instead
    # of being renumbered into a phantom row with NULL cells.
    w_grp = Window.partitionBy("doc_id", "merged_id")
    w_merged = Window.partitionBy("doc_id", "merged_id").orderBy(
        "page_id", "table_id", "row_id"
    )
    keyed = keyed.withColumn(
        "n_real", F.count(F.when(F.col("row_id") >= 0, 1)).over(w_grp)
    ).filter((F.col("row_id") >= 0) | (F.col("n_real") == 0))
    keyed = keyed.withColumn("rn", F.row_number().over(w_merged)).filter(
        (F.col("row_id") >= 0) | (F.col("rn") == 1)
    )
    return keyed.withColumn(
        "row_id",
        F.when(F.col("row_id") < 0, F.lit(-1)).otherwise(F.col("rn")),
    ).select(
        "doc_id",
        "page_id",
        F.col("merged_id").alias("table_id"),
        F.col("out_title").alias("title"),
        "row_id",
        "cells",
    )
