"""Engine-wide constants mirroring the reference's tunables.

Every value cites the reference location it reproduces so parity
tests can point back at the spec.
"""

from dataclasses import dataclass

# Row-clustering vertical tolerance (pt). Ref: src/table_extractor.py:9
Y_TOLERANCE = 10.0
# Same-column horizontal tolerance (pt). Ref: src/utilities/parse_util.py:364
X_TOLERANCE = 20.0
# Header margin: header iff page_y1 - el_y0 <= TOP_MARGIN.
# Ref default 20 (src/utilities/parse_util.py:417) but the main pipeline
# calls it with 50 (src/pdf_extractor.py:363); we use the call-site value.
TOP_MARGIN = 50.0
# Footer margin: footer iff el_y0 <= BOTTOM_MARGIN.
# Ref: src/utilities/parse_util.py:417,438
BOTTOM_MARGIN = 20.0
# Normalized-position header/footer thresholds: header iff
# y1/page_height > 1 - NORM_HEADER_THRESHOLD, footer iff
# y1/page_height < NORM_FOOTER_THRESHOLD (the reference's bug, kept).
# Ref: src/utilities/doc_util.py:4-24
NORM_HEADER_THRESHOLD = 0.1
NORM_FOOTER_THRESHOLD = 0.9
# Synthetic page geometry (US Letter in PDF points).
PAGE_W = 612.0
PAGE_H = 792.0

# Characters-stripped config. Ref: src/pdf_extractor.py:168
PATTERNS_TO_STRIP = [r"\\u20ac", r"\\n", "€"]

# Skew splitter: documents whose span count exceeds this are chunked
# before the extraction UDF and reassembled afterwards. The one value
# every skew route and the driver's *_auto routers use. It targets true
# stragglers only: a 20k-span doc folds in ~0.2 s in one task, and
# routing the planted 20k-span sf0.1 doc onto the chunk machinery at
# 4096 measured 4.16 s for ep1_extract_spans against 2.94 s on the
# sequential fold (BASELINE.md, round 3). That crossover is for the
# row-shaped driver paths. extract_job does not read it: for its nested
# output the plain fold beat both chunked routes up to 1M spans
# (BASELINE.md, "Job route A/B"), so the job folds every doc.
SKEW_SPAN_THRESHOLD = 50_000


# Only perfbench/check.py still constructs this; ROADMAP item C deletes it.
@dataclass(frozen=True)
class ExtractConfig:
    """No fields: the extraction fold has one semantics (fold.py)."""
