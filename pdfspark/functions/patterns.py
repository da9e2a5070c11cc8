"""The reference's regex vocabulary, reproduced byte-for-byte
(SURVEY.md §2.7 X1-X10). Python `re` forms drive the parity UDF;
the JAVA_* strings are the same patterns for Spark rlike /
regexp_extract (verified equivalent by tests/test_patterns.py, which
runs both engines over an adversarial corpus).
"""

import re

# X1/X2 — numbered section headings.
# Ref: src/processors/element_processors.py:212-213,243-244
SECTION = r"^(?:\d+\.{0,1})(?:\d+)*(?:\.\d+)*\s+[A-Za-z][\w\s\-\,]+"
SECTION_GROUPS = r"^((?:\d+\.{0,1})(?:\d+)*(?:\.\d+)*)(\s+[A-Za-z][\w\s\-\,]+)"

# X4 — appendix / annex. Ref: element_processors.py:274,297 (IGNORECASE)
APPENDIX = r"^(Appendix|Annex)\s+[A-Z]\.*"

# X5 — figure captions; NOTE the second alternative is *unanchored*
# (reference quirk). Ref: element_processors.py:320 (IGNORECASE)
FIGURE = r"^Figure\s\d+|Fig\.\s\d+"

# X6 — table titles, re.match. Ref: src/utilities/parse_util.py:129-134
TABLE_TITLE = r"^(Table\s+\d+[\s\S]*)"

# X7 — "continued" test; the tabular-json path uses re.search
# (table_extractor.py:52), the extract_table_content path uses
# re.match i.e. prefix-only (table_extractor.py:214).
CONTINUED = r"(continued|cont\.{1}?)"

# X8 — page numbers, re.match (prefix). Ref: parse_util.py:407-415
PAGE_NUMBER = r"(?:Page|page|pg)\s(?:\d+|[ivx])+"

# X10 — table collation label. Ref: src/pdf_test_parse.py:247,281
TABLE_LABEL = r"^\bTable\s\d+\b"

# X18 — matcher terms (src/matcher_patterns.py:81-91). With the
# intended semantics these must prefix the first line, token-wise and
# lowercase; with the reference's all-optional-token quirk, which the
# fold reproduces (every non-empty TextBox is a heading, see fold.py),
# the matcher fires on ANY non-blank first line. The terms feed
# classify's ``is_named`` column only.
MATCHER_TERMS = (
    ("executive", "summary"),
    ("foreword",),
    ("introduction",),
    ("summary",),
    ("bibliography",),
    ("references",),
)
# Java-dialect ONLY ((?U) is not a Python re flag): for Spark rlike,
# never re.compile — hence the JAVA_ prefix like every other Java form
JAVA_MATCHER_PREFIX = r"(?iU)^(executive\s+summary|foreword|introduction|summary|bibliography|references)\b"

# Python twin of JAVA_MATCHER_PREFIX: term sequence at the start of the
# line followed by a word boundary. This — not a whitespace token
# split — is the faithful intended-semantics reading of the spaCy
# matcher: spaCy tokenization splits trailing punctuation into its own
# token ("References:" -> ["references", ":"]), so the LOWER-term
# pattern still matches; a \b after the term models exactly that.
RE_MATCHER_PREFIX = re.compile(
    r"^(" + "|".join(r"\s+".join(terms) for terms in MATCHER_TERMS) + r")\b",
    re.IGNORECASE,
)

RE_SECTION = re.compile(SECTION)
RE_SECTION_GROUPS = re.compile(SECTION_GROUPS)
RE_APPENDIX = re.compile(APPENDIX, re.IGNORECASE)
RE_FIGURE = re.compile(FIGURE, re.IGNORECASE)
RE_TABLE_TITLE = re.compile(TABLE_TITLE, re.IGNORECASE)
RE_CONTINUED = re.compile(CONTINUED, re.IGNORECASE)
RE_PAGE_NUMBER = re.compile(PAGE_NUMBER, re.IGNORECASE)
RE_TABLE_LABEL = re.compile(TABLE_LABEL)
RE_EXTRA_SPACE = re.compile(r"\s{2,}")  # F7, parse_util.py:136-143
RE_NON_ALNUM = re.compile(r"[^a-zA-Z0-9]")  # F5, parse_util.py:117-127
RE_TRAILING_PUNCT = re.compile(r"[\W_]+$")  # F6, parse_util.py:161-168

# Java-regex equivalents for Spark SQL expressions. (?i) replaces
# re.IGNORECASE; anchors added where the Python call site used
# re.match (prefix semantics). (?U) = UNICODE_CHARACTER_CLASS (which
# implies UNICODE_CASE): java.util.regex \w/\s/\b/(?i) default to
# ASCII while Python `re` on str is Unicode-aware, so without it
# "2. Résumé" matches RE_SECTION but not rlike(SECTION), and
# NBSP-separated "Appendix A." diverges. Verified equivalent over
# an adversarial corpus (non-ASCII letters, NBSP, Kelvin sign, quirk
# cases) by tests/test_patterns.py.
JAVA_SECTION = "(?U)" + SECTION
JAVA_SECTION_GROUPS = "(?U)" + SECTION_GROUPS
JAVA_APPENDIX = "(?iU)" + APPENDIX
JAVA_FIGURE = "(?iU)" + FIGURE
JAVA_TABLE_TITLE = "(?iU)" + TABLE_TITLE
JAVA_CONTINUED_SEARCH = "(?iU)" + CONTINUED
JAVA_CONTINUED_MATCH = "(?iU)^" + CONTINUED
JAVA_PAGE_NUMBER_MATCH = "(?iU)^" + PAGE_NUMBER
JAVA_TABLE_LABEL = "(?U)" + TABLE_LABEL


# fast path applies when the cleaned heading is pure literal text that
# starts/ends with an ASCII word char: `\b{clean}\b` then degenerates
# to a word-boundary substring test, sparing a regex compile per call
# (the X18 always-fires quirk routes EVERY span text through here, each
# a distinct pattern, so Python's re cache cannot help).
_LITERAL_HEADING = re.compile(r"^[A-Za-z0-9_](?:[A-Za-z0-9_ ,;:'\-]*[A-Za-z0-9_])?$")


def _is_word(c: str) -> bool:
    return c.isalnum() or c == "_"


def _word_boundary_find(needle_l: str, hay_l: str) -> bool:
    start, m, n = 0, len(needle_l), len(hay_l)
    while True:
        i = hay_l.find(needle_l, start)
        if i < 0:
            return False
        if (i == 0 or not _is_word(hay_l[i - 1])) and (
            i + m >= n or not _is_word(hay_l[i + m])
        ):
            return True
        start = i + 1


def find_section_by_heading(heading: str, section_headings):
    """J1/X9 — the reference's unescaped whole-word lookup
    (src/document.py:99-112). Returns the index of the first section
    whose heading contains `\\b{clean}\\b`, else None. Regex
    metacharacters in `heading` are deliberately NOT escaped; a
    malformed pattern raises re.error exactly like the reference."""
    if heading is None:
        return None
    clean = RE_TRAILING_PUNCT.sub("", heading)
    # fast path assumes an ASCII needle (str.lower() then equals
    # IGNORECASE regex casefolding); non-ASCII falls through to re
    if clean.isascii() and _LITERAL_HEADING.match(clean):
        needle = clean.lower()
        for i, h in enumerate(section_headings):
            if _word_boundary_find(needle, h.lower()):
                return i
        return None
    pattern = re.compile(rf"\b{clean}\b", re.IGNORECASE)  # may raise re.error
    for i, h in enumerate(section_headings):
        if pattern.search(h):
            return i
    return None
