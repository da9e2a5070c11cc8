"""Column-level text cleanup functions (SURVEY.md §2.2 F5-F8,
§2.7 X11-X15). All JVM-side `pyspark.sql.functions` — no Python UDFs.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_non_alphanumeric(c: Column) -> Column:
    """F5. Ref: src/utilities/parse_util.py:117-127."""
    return F.regexp_replace(c, "[^a-zA-Z0-9]", "")


def strip_non_alphanumeric_end(c: Column) -> Column:
    """F6. Ref: src/utilities/parse_util.py:161-168. (?U) aligns
    Java's ASCII \\W with Python re's Unicode semantics (see
    functions/patterns.py and tests/test_patterns.py)."""
    return F.regexp_replace(c, r"(?U)[\W_]+$", "")


def replace_extra_space(c: Column) -> Column:
    """F7. Ref: src/utilities/parse_util.py:136-143. (?U): the
    reference's Python \\s collapses NBSP/em-space runs too; Java's
    default \\s is ASCII-only."""
    return F.regexp_replace(c, r"(?U)\s{2,}", " ")


def strip_characters(c: Column, patterns) -> Column:
    """F8. Each configured pattern replaced with a single space.
    Ref: src/utilities/parse_util.py:145-158; config pdf_extractor.py:168."""
    for p in patterns:
        c = F.regexp_replace(c, p, " ")
    return c


def first_line(c: Column) -> Column:
    """X14. Ref: element_processors.py:83-85."""
    return F.element_at(F.split(c, "\n"), 1)


def line_count(c: Column) -> Column:
    """X14. Ref: element_processors.py:85."""
    return F.size(F.split(c, "\n"))
