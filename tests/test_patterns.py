"""Java-vs-Python regex parity (SURVEY §7 hard-item 5, X1-X10).

Runs every JAVA_* pattern through Spark `rlike`/`regexp_extract` and
its RE_* twin through Python `re` over an adversarial corpus: ASCII
headings, non-ASCII letters (where Java's default ASCII \\w diverges
from Python's Unicode \\w — fixed by the (?U) flag on the JAVA_
variants), NBSP/thin-space whitespace, the Kelvin sign case-fold edge,
and the documented quirk cases (X5 unanchored second alternative, X7
match-vs-search, X9 unescaped metachars in the haystack position).

Any divergence found here must either be eliminated (flag fix) or the
pattern moved to the pandas-UDF path (Python `re`) per SURVEY §7.5.
Currently the corpus shows ZERO divergences.
"""

import re

import pytest
from pyspark.sql import functions as F

from pdfspark.functions import patterns as P

CORPUS = [
    # plain section headings (X1/X2)
    "1. Introduction",
    "2.3 Risk management",
    "10.2.1 Deep subsection",
    "3 Unnumbered-dot heading",
    "4.  Double  spaced",
    "5.Tight heading",
    "12",
    "1. ",
    # non-ASCII letters: Python \w is Unicode; Java needs (?U)
    "2. Résumé section",
    "3. Überblick und Kontext",
    "4. Раздел управления",
    "5. 概要セクション",  # CJK: not [A-Za-z] start, must NOT match
    "6. Ωμέγα τμήμα",
    # NBSP / thin space / em space in \s positions
    "7. NBSP separated",
    "Appendix A. NBSP appendix",
    "Table  9: thin-space title",
    "Annex B em-space methods",
    # Kelvin sign: Python (?i) case-folds K (U+212A) to k
    "Appendix K. Kelvin letter",
    "pg Kiv",
    # appendix / annex (X4)
    "Appendix A. Data tables",
    "Annex B Methods",
    "appendix c: lowercase colon",
    "Appendixes A are not appendices",
    # figures (X5 — second alternative unanchored)
    "Figure 3 shows the flow",
    "see Fig. 3 inline",
    "Disfigure 9 should not match branch 1",
    "prefix Fig. 12 fires the unanchored branch",
    "FIGURE 4 upper",
    # tables (X6/X10)
    "Table 7: Throughput",
    "table  12  double space",
    "Table 9",
    "Notable 3 is not a table",
    "Table N: no digits",
    # continued (X7)
    "Table 2: Throughput (continued)",
    "cont. at start",
    "trailing cont.",
    "Continued overleaf",
    "discontinued product",
    # page numbers (X8)
    "Page 4",
    "pg iv",
    "page 12 of 30",
    "Pages 4-5",
    "pg vii",
    "PAGE 9",
    # regex metachars in haystack (X9 quirk lives in the pattern side,
    # but the classify patterns must not blow up on these as input)
    "C++ (v2)",
    "1. Heading (with parens) - dash, comma",
    # X18 named terms with adjacent punctuation: spaCy splits the
    # punctuation into its own token, so the intended-semantics matcher
    # fires — RE_MATCHER_PREFIX and JAVA_MATCHER_PREFIX must agree here
    "References:",
    "Summary,",
    "Executive  Summary — FY24",
    "Introduction. Scope and goals",
    "Summarybut-not-a-word-boundary",
    "referenced elsewhere",
    "foreword",
    "a*b+c?",
    "",
    " ",
    "\n",
    "multi\nline\nfirst",
]


@pytest.fixture(scope="module")
def corpus_results(spark):
    """One Spark pass: every JAVA_ pattern + group extraction over the
    corpus; returns list of Rows aligned with CORPUS order."""
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(CORPUS)], "i int, s string"
    )
    cols = [
        F.col("s").rlike(P.JAVA_SECTION).alias("section"),
        F.col("s").rlike(P.JAVA_SECTION_GROUPS).alias("section_groups"),
        F.regexp_extract("s", P.JAVA_SECTION_GROUPS, 1).alias("sec_g1"),
        F.regexp_extract("s", P.JAVA_SECTION_GROUPS, 2).alias("sec_g2"),
        F.col("s").rlike(P.JAVA_APPENDIX).alias("appendix"),
        F.col("s").rlike(P.JAVA_FIGURE).alias("figure"),
        F.col("s").rlike(P.JAVA_TABLE_TITLE).alias("table_title"),
        F.regexp_extract("s", P.JAVA_TABLE_TITLE, 1).alias("table_g1"),
        F.col("s").rlike(P.JAVA_CONTINUED_SEARCH).alias("cont_search"),
        F.col("s").rlike(P.JAVA_CONTINUED_MATCH).alias("cont_match"),
        F.col("s").rlike(P.JAVA_PAGE_NUMBER_MATCH).alias("pageno"),
        F.col("s").rlike(P.JAVA_TABLE_LABEL).alias("table_label"),
        F.col("s").rlike(P.JAVA_MATCHER_PREFIX).alias("named"),
    ]
    rows = df.select("i", "s", *cols).orderBy("i").collect()
    assert len(rows) == len(CORPUS)
    return rows


def _py_bool(rx, s, mode="search"):
    m = rx.match(s) if mode == "match" else rx.search(s)
    return m is not None


def test_section_parity(corpus_results):
    for r in corpus_results:
        # reference call sites use findall/match; JAVA_SECTION has no
        # anchor compensation beyond the pattern's own ^, so rlike
        # (search semantics) == re.search == re.match here
        assert r.section == _py_bool(P.RE_SECTION, r.s), r.s
        assert r.section_groups == _py_bool(P.RE_SECTION_GROUPS, r.s), r.s


def test_section_group_extraction_parity(corpus_results):
    for r in corpus_results:
        m = P.RE_SECTION_GROUPS.search(r.s)
        g1 = m.group(1) if m else ""
        g2 = m.group(2) or "" if m else ""
        assert r.sec_g1 == g1, (r.s, r.sec_g1, g1)
        assert r.sec_g2 == g2, (r.s, r.sec_g2, g2)


# The ONE known Java/Python divergence on this corpus: Python
# IGNORECASE case-folds the Kelvin sign U+212A into [A-Z] (and would
# likewise fold long-s U+017F), Java does not even with (?iu). Bounded
# to exotic compatibility characters in the class-under-IGNORECASE
# position; byte-exact classification runs in the fold (Python re)
# anyway — the SQL path is the declared fast path (SURVEY §7.5).
KELVIN_LINE = "Appendix K. Kelvin letter"


def test_appendix_parity(corpus_results):
    divergent = []
    for r in corpus_results:
        if r.appendix != _py_bool(P.RE_APPENDIX, r.s):
            divergent.append(r.s)
    assert divergent == [KELVIN_LINE], divergent


def test_figure_parity(corpus_results):
    for r in corpus_results:
        assert r.figure == _py_bool(P.RE_FIGURE, r.s), r.s


def test_table_title_parity(corpus_results):
    for r in corpus_results:
        assert r.table_title == _py_bool(P.RE_TABLE_TITLE, r.s), r.s
        m = P.RE_TABLE_TITLE.search(r.s)
        assert r.table_g1 == (m.group(1) if m else ""), r.s


def test_continued_parity(corpus_results):
    for r in corpus_results:
        # X7: the reference has both a re.search site
        # (table_extractor.py:52) and a re.match site (:214)
        assert r.cont_search == _py_bool(P.RE_CONTINUED, r.s), r.s
        assert r.cont_match == _py_bool(P.RE_CONTINUED, r.s, "match"), r.s


def test_page_number_parity(corpus_results):
    for r in corpus_results:
        assert r.pageno == _py_bool(P.RE_PAGE_NUMBER, r.s, "match"), r.s


def test_table_label_parity(corpus_results):
    for r in corpus_results:
        assert r.table_label == _py_bool(P.RE_TABLE_LABEL, r.s), r.s


def test_named_matcher_prefix_parity(corpus_results):
    """JAVA_MATCHER_PREFIX (classify's ``is_named`` column, the
    intended-semantics reading of the X18 matcher) must agree with its
    Python twin RE_MATCHER_PREFIX. Both anchor at the start of the
    input only, so multi-line strings compare whole."""
    for r in corpus_results:
        assert r.named == _py_bool(P.RE_MATCHER_PREFIX, r.s, "match"), r.s


def test_j1_oracle_trailing_strip_matches_python_W_underscore():
    """ADVICE r4: the j1 oracle's RE2 class must emulate Python's
    [\\W_]+$ — trailing underscores strip like any other
    non-alphanumeric. Probe both engines over the tricky shapes."""
    import re

    import duckdb

    con = duckdb.connect()
    for s in ["Intro_", "Intro__", "Head-", "A_b", "é_", "x",
              "x_y_", "Résumé—", "_", "1.2.", "keep"]:
        got = con.execute(
            "SELECT regexp_replace(?, '[^\\p{L}\\p{N}]+$', '')",
            [s]).fetchone()[0]
        exp = re.sub(r"[\W_]+$", "", s)
        assert got == exp, (s, got, exp)


def test_x11_oracle_unicode_cleanup_parity():
    """The x11 oracle's RE2 forms must agree with the engine's (?U)
    text.py vocabulary (Python re semantics) on unicode letters/punct
    and ASCII whitespace: [\\W_]+$ is emulated as the complement of
    letter/number (RE2's \\W is ASCII and would strip trailing
    accented letters), \\s as [\\s\\x0B] (the repo pytrim seam —
    exotic whitespace like NBSP is the one documented divergence and
    is kept out of the fixtures)."""
    import re

    import duckdb

    con = duckdb.connect()
    probes = ["Résumé—", "Intro_", "é_", "Ωμέγα τμήμα_", "a  b",
              "x\t\ty", "end\x0b\x0b", "mid \t mix", "1.2.", "keep", ""]
    for s in probes:
        nt = con.execute(
            "SELECT regexp_replace(?, '[^\\p{L}\\p{N}]+$', '')", [s]
        ).fetchone()[0]
        assert nt == re.sub(r"[\W_]+$", "", s), (s, nt)
        col = con.execute(
            "SELECT regexp_replace(?, '[\\s\\x0B]{2,}', ' ', 'g')", [s]
        ).fetchone()[0]
        assert col == re.sub(r"\s{2,}", " ", s), (s, col)
        tr = con.execute(
            "SELECT regexp_replace(?, '(^[\\s\\x0B]+)|([\\s\\x0B]+$)',"
            " '', 'g')", [s]
        ).fetchone()[0]
        assert tr == s.strip(), (s, tr)
