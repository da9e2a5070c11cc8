"""Phase-2 classification + section assembly, pure SQL
(SURVEY.md §2.2 F2/F3, §2.5 W3, §2.4 A2/A7/A8, §2.3 J4).

This is the *intended-semantics* fast path: a span's first line is a
section-heading candidate iff it actually matches a heading pattern
(numbered section X1/X2, named section X18 prefix, appendix X4). The
reference's always-firing matcher quirk is reproduced only by the
exact-parity fold in operators/extract.py.

Everything here is JVM-side: regex columns, one fill-down window per
doc, one groupBy for assembly.
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdfspark.functions import patterns as P
from pdfspark.functions.text import first_line, line_count, replace_extra_space
from pdfspark.operators.boilerplate import with_header_footer


def explode_documents(documents_in: DataFrame) -> DataFrame:
    """documents_in(doc_id, spans[]) -> one row per span."""
    return documents_in.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")


def strip_boilerplate(spans: DataFrame, spans_geom: DataFrame) -> DataFrame:
    """F2 + F3 on an exploded span table (text spans only).

    F2 drops a span whose newline-stripped text is a substring of the
    doc's header/footer string from ``spans_geom`` (ref
    element_processors.py:68-70); F3 drops page-number prefixes (ref
    :73-74, parse_util.py:407-415).
    """
    df = with_header_footer(spans, spans_geom)
    # Python str.strip() semantics + NULL coercion, matching the fold
    # (fold.py: s["text"].lstrip().rstrip() if not None else '') — see
    # the same pytrim seam in extract.py's relational path: F.trim is
    # spaces-only and an un-coalesced NULL would propagate through the
    # predicates and silently drop the row
    content = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"(?U)^\s+|\s+$", ""
    )
    nl_stripped = F.regexp_replace(content, "\n", "")
    keep = (
        ~(
            (F.length("header") > 0) & F.col("header").contains(nl_stripped)
            | (F.length("footer") > 0) & F.col("footer").contains(nl_stripped)
        )
    ) & ~content.rlike(P.JAVA_PAGE_NUMBER_MATCH)
    return df.filter((F.col("kind") != "TextBox") | keep).drop("header", "footer")


def classify_spans(spans: DataFrame) -> DataFrame:
    """Adds classification flag columns to an exploded span table.

    Columns: first_line, line_count, is_section, section_num,
    section_title, is_named, is_appendix, is_figure, is_table_title,
    is_heading.
    """
    content = F.regexp_replace(  # pytrim + NULL coercion (see above)
        F.coalesce(F.col("text"), F.lit("")), r"(?U)^\s+|\s+$", ""
    )
    fl = replace_extra_space(first_line(content))
    df = (
        spans.withColumn("content", content)
        .withColumn("first_line", fl)
        .withColumn("line_count", F.when(content == "", 0).otherwise(line_count(content)))
    )
    is_tb = F.col("kind") == "TextBox"
    df = (
        df.withColumn(
            "is_section", is_tb & F.col("first_line").rlike(P.JAVA_SECTION_GROUPS)
        )
        .withColumn(
            "section_num",
            F.when(
                F.col("is_section"),
                F.trim(F.regexp_extract("first_line", P.JAVA_SECTION_GROUPS, 1)),
            ),
        )
        .withColumn(
            "section_title",
            F.when(
                F.col("is_section"),
                F.trim(F.regexp_extract("first_line", P.JAVA_SECTION_GROUPS, 2)),
            ),
        )
        .withColumn("is_named", is_tb & F.col("first_line").rlike(P.JAVA_MATCHER_PREFIX))
        .withColumn("is_appendix", is_tb & F.col("first_line").rlike(P.JAVA_APPENDIX))
        .withColumn("is_figure", is_tb & F.col("first_line").rlike(P.JAVA_FIGURE))
        .withColumn(
            "is_table_title", is_tb & F.col("content").rlike(P.JAVA_TABLE_TITLE)
        )
    )
    # branch PRIORITY, not demotion: the reference (and the fold,
    # fold.py branch ladder) checks the heading branch BEFORE the
    # figure branch (element_processors.py:114,160 if/elif), so a
    # first line matching both section and figure patterns is a
    # heading; the old "& ~is_figure & ~is_table_title" demotion
    # inverted that and routed such spans to the figures array
    return df.withColumn(
        "is_heading",
        F.col("is_section") | F.col("is_named") | F.col("is_appendix"),
    )


def with_current_section(
    classified: DataFrame,
    toc_conditional: bool = True,
) -> DataFrame:
    """W3 — fill-down of the current section header in document order.

    current_header = last heading first-line at or before this span
    (ref: the `current_section_header` thread through
    src/pdf_extractor.py:178,206 / element_processors.py:114-179).

    Canonical heading text: the reference rewrites a numbered heading
    to 'num title' ONLY after find_section_by_heading(group2) found a
    TOC section (element_processors.py:116-131 — the rename sits
    inside `if current_section is not None`); an unmatched '3.2 Title
    (draft)' keeps its raw first line. With ``toc_conditional=True``
    (default) the TOC skeleton is derived from the classified frame's
    own kind='TOC' spans and the rewrite is gated on a whole-word
    match, reusing the J1 contract (safe-subset lookup, same
    deviations as headings_to_toc: non-literal-safe titles never
    rewrite, and the fold's in-place skeleton-heading mutation /
    re.error rollback stay exact-fold-only). ``False`` keeps the
    unconditional rewrite (TOC-less approximation).

    Scale shape: the TOC/candidate branches are tiny projections; the
    match-set join keys on doc_id, the same partitioning the fill-down
    window needs, so the big span stream is still shuffled exactly
    once (the join output satisfies the window's distribution).
    """
    if toc_conditional:
        # the conditional makes this a three-consumer diamond (main
        # stream + heading candidates + TOC headings). Unlike the j3
        # merge diamond, persisting LOSES here by default: the branch
        # consumers prune to narrow column subsets, so recomputing the
        # cheap parquet->explode->regex lineage three times beats
        # materializing the wide classify projection (measured
        # interleaved under the bench's clearCache protocol at sf0.1:
        # 1.64 s recompute vs 2.49 s persisted for a8).
        # headings only — the skeleton's line_no window is not needed
        # for an existence test, so skip its per-doc sort exchange
        toc = _toc_headings(classified)
        cand = classified.filter(F.col("is_section")).select(
            "doc_id",
            "offset",
            F.regexp_replace("section_title", r"(?U)[\W_]+$", "").alias(
                "clean"
            ),
        )
        cand = cand.filter(
            F.coalesce(F.col("clean").rlike(SAFE_HEADING), F.lit(False))
        ).withColumn(
            "pat", F.concat(F.lit("(?iU)\\b"), F.col("clean"), F.lit("\\b"))
        )
        # LEFT SEMI on the equi key doc_id with the rlike as residual:
        # existence, dedup, and co-partitioning in one join (the
        # downstream groupBy reuses its doc_id distribution)
        m = cand.alias("c").join(
            toc.alias("t"),
            (F.col("c.doc_id") == F.col("t.doc_id"))
            & F.expr("t.heading rlike c.pat"),
            "left_semi",
        )
        msets = m.groupBy("doc_id").agg(
            F.collect_set("offset").alias("_sec_matched")
        )
        classified = classified.join(msets, "doc_id", "left")
        matched = F.coalesce(
            F.array_contains("_sec_matched", F.col("offset")), F.lit(False)
        )
    else:
        matched = F.lit(True)
    heading_text = F.when(
        F.col("is_section") & matched,
        F.concat_ws(" ", "section_num", "section_title"),
    ).otherwise(F.col("first_line"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = classified.withColumn(
        "current_section",
        F.last(F.when(F.col("is_heading"), heading_text), ignorenulls=True).over(w),
    )
    return out.drop("_sec_matched") if toc_conditional else out


def toc_skeleton(spans: DataFrame) -> DataFrame:
    """J4/A7 — TOC lines become the section skeleton, in order.

    Ref: src/pdf_extractor.py:174-177 (cleanup: strip_characters +
    replace_extra_space + strip) and :135-156 (1-based line numbers).
    """
    w = Window.partitionBy("doc_id").orderBy("offset")
    return _toc_headings(spans, keep_offset=True).select(
        "doc_id",
        "heading",
        F.row_number().over(w).alias("line_no"),
    )


def _toc_headings(spans: DataFrame, keep_offset: bool = False) -> DataFrame:
    """Cleaned TOC headings (doc_id, heading[, offset]) — the skeleton
    without line numbers, for existence probes that don't need the
    per-doc sort exchange of toc_skeleton's row_number."""
    from pdfspark.config import PATTERNS_TO_STRIP
    from pdfspark.functions.text import strip_characters

    toc = spans.filter(F.col("kind") == "TOC")
    # pytrim, not F.trim: the fold's clean_toc_line ends with Python
    # str.strip() (all whitespace); F.trim strips spaces only, so a
    # heading with a trailing newline/tab edge would diverge between
    # the SQL skeleton and SectionState's skeleton heading text
    cleaned = F.regexp_replace(
        replace_extra_space(
            strip_characters(F.col("text"), PATTERNS_TO_STRIP)),
        r"(?U)^\s+|\s+$", "",
    )
    cols = ["doc_id", cleaned.alias("heading")]
    if keep_offset:
        cols.append(F.col("offset"))
    return toc.select(*cols)


def sections_assembled(classified_with_section: DataFrame) -> DataFrame:
    """A2/A8 — assemble per-(doc, section) arrays then the section text.

    paragraphs: multi-line heading boxes contribute their full content
    (ref element_processors.py:137-140), non-heading multi-content
    boxes attach to the current section (ref :168-174).
    figures: caption boxes (X5) attach to the current section (:160-167).
    tables: table titles (X6).
    Output: one row per (doc_id, section) with paragraphs/figures/
    tables arrays and the A8 concatenated section_text
    (ref pdf_extractor.py:249-256).
    """
    df = classified_with_section.filter(
        (F.col("kind") == "TextBox") & F.col("current_section").isNotNull()
    )
    # appendix branch (reference elif, element_processors.py:142-161):
    # reached only when neither the matcher nor a numbered section
    # fired, and it appends the box content as a paragraph with NO
    # line_count gate — unlike the heading branch's `if line_count > 1`
    # (:135-140). The fold mirrors this (SectionState.apply label
    # 'appendix' appends unconditionally), so a single-line appendix
    # box must NOT collapse to heading_only here.
    appendix_branch = (
        F.col("is_appendix") & ~F.col("is_section") & ~F.col("is_named")
    )
    role = (
        F.when(F.col("is_heading") & (F.col("line_count") > 1), "paragraph")
        .when(appendix_branch, "paragraph")
        .when(F.col("is_heading"), "heading_only")
        .when(F.col("is_figure"), "figure")
        .when(F.col("is_table_title"), "table")
        .otherwise("paragraph")
    )
    df = df.withColumn("role", role)
    # paragraphs attach only when a section is current; heading-only
    # boxes contribute nothing but the heading itself.
    agg = df.groupBy("doc_id", "current_section").agg(
        F.min("offset").alias("first_offset"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("role") == "paragraph", F.struct("offset", "content")
                    )
                )
            ),
            lambda s: s["content"],
        ).alias("paragraphs"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("role") == "figure", F.struct("offset", "content"))
                )
            ),
            lambda s: s["content"],
        ).alias("figures"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("role") == "table", F.struct("offset", "content"))
                )
            ),
            lambda s: s["content"],
        ).alias("tables"),
    )
    # A8 — heading + "\n" + " ".join(paragraphs) + "\n" + " ".join(figures)
    return agg.select(
        "doc_id",
        F.col("current_section").alias("heading"),
        "first_offset",
        "paragraphs",
        "figures",
        "tables",
        F.concat_ws(
            "\n",
            F.col("current_section"),
            F.array_join("paragraphs", " "),
            F.array_join("figures", " "),
        ).alias("section_text"),
    )


# literal-safe heading text: unescaped-regex semantics (X9) degenerate
# to a plain whole-word search, so Spark rlike, DuckDB RE2 and Python
# re agree byte-for-byte (mirrors patterns._LITERAL_HEADING)
SAFE_HEADING = r"^[A-Za-z0-9_](?:[A-Za-z0-9_ ,;:'\-]*[A-Za-z0-9_])?$"


def headings_to_toc(classified: DataFrame, toc: DataFrame) -> DataFrame:
    """J1 — whole-word heading lookup as a broadcast theta join.

    For each heading candidate, find the first TOC skeleton line that
    contains it as a whole word (IGNORECASE), reproducing
    Document.find_section_by_heading (ref src/document.py:99-112)
    including first-match-wins (min line_no). The reference does NOT
    regex-escape the heading (X9): an invalid pattern raises re.error
    there, the caller's per-element try/except swallows it, and the
    observable result is "no section matched". EVERY candidate whose
    cleaned text is not literal-safe keeps a NULL line_no. For invalid
    patterns that is exactly the reference's swallowed-raise
    observable; for VALID-metachar headings (e.g. one containing '.')
    it is a documented deviation — the reference runs them as regexes
    and may match — accepted because on the safe subset Spark rlike,
    DuckDB RE2 and Python re provably agree byte-for-byte, which is
    what the driver oracle certifies. Use the exact-parity fold when
    full X9 semantics matter.

    Scale shape: candidates are heading spans only (a tiny projection)
    and the TOC side is broadcast; the theta join never sees body text.
    """
    cand = classified.filter(F.col("is_heading")).select(
        "doc_id",
        "offset",
        F.coalesce(F.col("section_title"), F.col("first_line")).alias("lookup"),
    )
    clean = F.regexp_replace("lookup", r"(?U)[\W_]+$", "")
    # coalesce: a NULL lookup must flow to the unsafe branch (emitted
    # with a NULL match, like the reference's heading-with-no-section),
    # not vanish from BOTH filters
    cand = cand.withColumn("clean", clean).withColumn(
        "is_safe",
        F.coalesce(F.col("clean").rlike(SAFE_HEADING), F.lit(False)),
    )
    probe = cand.filter(F.col("is_safe"))
    # (?U): Java's \b and (?i) are ASCII-only by default, Python's
    # re is Unicode — same hardening as every JAVA_ pattern in
    # functions/patterns.py, applied to this dynamically-built one
    # (é is a word char to the fold's find_section_by_heading, so an
    # ASCII \b would match where the fold does not)
    probe = probe.withColumn(
        "pat", F.concat(F.lit("(?iU)\\b"), F.col("clean"), F.lit("\\b"))
    )
    joined = probe.join(
        F.broadcast(toc),
        (probe.doc_id == toc.doc_id) & F.expr("heading rlike pat"),
        "left",
    ).select(probe.doc_id, "offset", "lookup", "heading", "line_no")
    w = Window.partitionBy("doc_id", "offset").orderBy(
        F.col("line_no").asc_nulls_last()
    )
    first = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # unsafe candidates resurface with NULL match (reference: raise
    # swallowed -> no section)
    unsafe = cand.filter(~F.col("is_safe")).select(
        "doc_id", "offset", "lookup",
        F.lit(None).cast("string").alias("heading"),
        F.lit(None).cast("int").alias("line_no"),
    )
    return first.unionByName(unsafe)
