"""The per-document extraction fold — engine-side implementation.

Reproduces the reference's convert_pdf_to_json element loop
(ref src/pdf_extractor.py:158-230 driving
src/processors/element_processors.py:59-179) over one document's span
list, quirks included:

* matcher-always-fires: the spaCy matcher built from all-optional
  token patterns (src/matcher_patterns.py:56-65) matches any non-blank
  first line, so the appendix/figure/else branches are mostly dead.
* broken main-path header/footer strip: process_element tests
  ``text in header_footer_text`` where header_footer_text is the
  *dict* ``{"header": ..., "footer": ...}`` (src/pdf_extractor.py:363
  passes the dict; src/processors/element_processors.py:69 does a dict
  key-membership test) — i.e. only literal texts 'header'/'footer' are
  ever stripped, so the fold needs no per-doc header/footer strings.
* state wipes: every non-TextBox element and every stripped TextBox
  returns None from process_element, and the caller assigns that to
  current_section_header (src/pdf_extractor.py:206) — the running
  section header is wiped to None by any geometry/media span.
* unescaped heading lookup: find_section_by_heading
  (src/document.py:99-112) interpolates the heading into a regex
  without escaping; a malformed pattern raises, the per-element
  try/except (src/pdf_extractor.py:203-210) swallows it, and the
  state update is rolled back for that element.
* heading rewrite: a numbered heading that matches a TOC-skeleton
  section rewrites that section's heading in place
  (element_processors.py:127-131), affecting later lookups.

These quirks are the fold's only semantics: the reference's intended
readings (a substring header/footer strip, a matcher that must match
a named term, a front-matter page skip) have no implementation here.

Output span kinds: 'heading' | 'appendix' | 'figure_caption' |
'paragraph' for surviving TextBoxes (by branch taken), 'media' for
Figure/Image inputs (media_ref preserved), original kind for the
geometry elements the reference keeps as page elements (TextLine,
Line, Rectangle). Kinds the reference merely logs (Image handled as
media here per the north rule; VerticalText, TextGroup, Container,
TextGroupTBRL, Curve) emit nothing.
"""

from __future__ import annotations

import re

from pdfspark.config import PATTERNS_TO_STRIP
from pdfspark.functions import patterns as P

GEOM_KINDS = {"TextLine", "Line", "Rectangle"}
MEDIA_KINDS = {"Figure", "Image"}
DROP_KINDS = {"VerticalText", "TextGroup", "Container", "TextGroupTBRL", "Curve", "Char"}


def clean_toc_line(line: str) -> str:
    for p in PATTERNS_TO_STRIP:
        line = re.sub(p, " ", line)
    return P.RE_EXTRA_SPACE.sub(" ", line).strip()


def _find_section_index(heading, section_headings):
    """May raise re.error exactly like the reference (unescaped)."""
    return P.find_section_by_heading(heading, section_headings)


class SectionState:
    """The order-stateful half of the fold: the TOC-skeleton sections
    list, the memoized first-match-wins heading lookup (cache cleared
    on every in-place rewrite; re.error results cached too — the
    reference raises deterministically per heading), and the per-label
    attachment transitions of element_processors.py:114-179. Shared by
    fold_document and replay_boundaries so the chunked skew path cannot
    drift from the sequential fold.

    Memoization note: between heading rewrites the headings list is
    immutable, so a given heading string always resolves to the same
    index; cost drops from O(spans x sections) to O(distinct headings
    x sections) — 0.13 ms/span vs 5 us/span on a 20k-span document.
    """

    _RAISES = object()

    def __init__(self, toc_lines):
        headings = [clean_toc_line(l) for l in toc_lines]
        self.sections = [
            dict(heading=h, paragraphs=[], figures=[], tables=[])
            for h in headings
        ]
        self._cache: dict[str, object] = {}

    def lookup_index(self, h):
        if h in self._cache:
            idx = self._cache[h]
            if idx is SectionState._RAISES:
                raise re.error("cached re.error for heading lookup")
        else:
            try:
                idx = _find_section_index(
                    h, [s["heading"] for s in self.sections]
                )
            except re.error:
                self._cache[h] = SectionState._RAISES
                raise
            self._cache[h] = idx
        return idx

    def lookup(self, h):
        idx = self.lookup_index(h)
        return None if idx is None else self.sections[idx]

    def apply(self, label, content, first_line, line_count,
              current_header):
        """State update for one classified TextBox (may raise re.error
        — the CALLER keeps the old current_header, reproducing the
        reference's swallowed-exception rollback). Returns the new
        current_header."""
        if label == "heading":
            new_header = first_line
            section_match = P.RE_SECTION_GROUPS.match(new_header)
            current_section = None
            if section_match is not None:
                g2 = section_match.group(2)
                if g2 is not None:
                    current_section = self.lookup(g2.lstrip().rstrip())
                    if current_section is not None:
                        new_header = (
                            f"{section_match.group(1).strip()} "
                            f"{section_match.group(2).strip()}"
                        )
                        if current_section["heading"] != new_header:
                            current_section["heading"] = new_header
                            self._cache.clear()  # headings changed
            else:
                current_section = self.lookup(new_header)
            if line_count > 1 and current_section is not None:
                current_section["paragraphs"].append(content)
            return new_header
        if label == "appendix":
            new_header = first_line.strip()
            current_section = self.lookup(new_header)
            if current_section is not None:
                current_section["paragraphs"].append(content)
            return new_header
        if label == "figure_caption":
            current_section = self.lookup(current_header)
            if current_section is not None:
                current_section["figures"].append(content)
            return current_header  # no reassignment in the reference
        # paragraph
        if current_header != "":
            current_section = self.lookup(current_header)
            if current_section is not None:
                current_section["paragraphs"].append(content)
        return current_header


def fold_document(
    spans: list[dict],
    collect_events: bool = False,
    skip_sections: bool = False,
) -> dict:
    """Run the extraction fold over one document's spans (offset order).

    Returns dict(status, out_spans, sections, spans_in, spans_out[,
    events]). TOC spans (kind='TOC') inside `spans` build the section
    skeleton; a DecodeError span quarantines the document (ref
    src/pdf_extractor.py:185,211-212 is_extractable guard).

    With ``collect_events=True`` the result also carries the ordered
    classification event list — 'W' wipes, and 'H'/'A'/'F'/'P' rows
    that reference their emitted span by OFFSET (the span already
    carries the content; events stay metadata-sized) — which the
    chunk-parallel skew path consumes: it runs THIS (regex-heavy) part
    per chunk and replays only the boundary events sequentially
    (replay_boundaries). ``skip_sections=True`` skips the
    attachment state machine entirely (chunk folds discard their
    chunk-local sections anyway; span labels never depend on it).
    """
    spans = sorted(spans, key=lambda s: s["offset"])
    n_in = len(spans)

    if any(s["kind"] == "DecodeError" for s in spans):
        return dict(status="quarantined", out_spans=[], sections=[],
                    spans_in=n_in, spans_out=0, events=[])
    if not spans:
        return dict(status="empty", out_spans=[], sections=[],
                    spans_in=0, spans_out=0, events=[])

    # None text coerced like every other span path (a NULL TOC line
    # would otherwise crash clean_toc_line's re.sub)
    toc_lines = [s["text"] or "" for s in spans if s["kind"] == "TOC"]
    state = SectionState(toc_lines)
    sections = state.sections

    current_header: str | None = ""
    out: list[dict] = []
    events: list[tuple] = []

    def emit(kind, text, media_ref):
        out.append(dict(kind=kind, text=text, media_ref=media_ref,
                        offset=len(out)))

    EV = {"heading": "H", "appendix": "A", "figure_caption": "F",
          "paragraph": "P"}

    for s in spans:
        kind = s["kind"]
        if kind in ("TOC", "PageStart"):
            continue

        if kind in DROP_KINDS:
            current_header = None  # processor returns None -> state wipe
            if collect_events:
                events.append(("W", -1))
            continue
        if kind in MEDIA_KINDS:
            emit("media", "", s.get("media_ref"))
            current_header = None
            if collect_events:
                events.append(("W", -1))
            continue
        if kind in GEOM_KINDS:
            emit(kind, "", None)
            current_header = None
            if collect_events:
                events.append(("W", -1))
            continue
        if kind != "TextBox":
            # unsupported element type: ValueError swallowed by caller
            # (src/pdf_extractor.py:207-208); state NOT updated.
            continue

        content = s["text"].lstrip().rstrip() if s["text"] is not None else ""

        # F2 header/footer strip (the broken dict-membership test)
        if content.replace("\n", "") in ("header", "footer"):
            current_header = None
            if collect_events:
                events.append(("W", -1))
            continue
        # F3 page-number strip
        if P.RE_PAGE_NUMBER.match(content):
            current_header = None
            if collect_events:
                events.append(("W", -1))
            continue

        first_line = ""
        line_count = 0
        if content != "":
            lines = content.split("\n")
            first_line = lines[0]
            line_count = len(lines)
        first_line = P.RE_EXTRA_SPACE.sub(" ", first_line)

        matches = P.matcher_fires(first_line)
        found_sections = P.RE_SECTION.findall(first_line)

        # pick the branch first (pure regex, cannot raise), then run
        # its state updates under the reference's per-element
        # try/except: on re.error the span is still emitted (the page
        # element was added before classification,
        # element_processors.py:76-79) but the state update rolls back.
        if matches or found_sections != []:
            label = "heading"
        elif P.RE_APPENDIX.findall(first_line):
            label = "appendix"
        elif P.RE_FIGURE.findall(first_line):
            label = "figure_caption"
        else:
            label = "paragraph"
        emit(label, content, None)
        if collect_events:
            events.append((EV[label], len(out) - 1))

        if skip_sections:
            continue
        try:
            current_header = state.apply(
                label, content, first_line, line_count, current_header
            )
        except re.error:
            pass  # state rollback; span already emitted

    return dict(
        status="ok",
        out_spans=out,
        sections=sections,
        spans_in=n_in,
        spans_out=len(out),
        events=events,
    )


def replay_boundaries(bounds, toc_lines, needed_ords):
    """The irreducibly-sequential core of the segment-parallel sections
    replay, stripped to memoized pointer work.

    The attachment state machine's state is (current_header, skeleton).
    Only H/A/W events touch it ('H'/'A' set current_header from their
    own first line and may rewrite a skeleton heading; 'W' wipes it to
    None); 'P'/'F' events are pure reads whose target section is
    CONSTANT between consecutive boundaries — rewrites happen only at
    H events, so the skeleton version is segment-fixed too. Under the
    matcher-always-fires quirk nearly EVERY span is an H boundary, so
    this pass must be cheap per event: all regex work (first_line
    normalization, RE_SECTION_GROUPS match) arrives PRECOMPUTED from
    the parallel chunk tasks, appends are recorded as (section, field,
    pos) references — no content strings flow through here — and the
    heading lookup is the same memoized SectionState cache the
    sequential fold uses.

    ``bounds``: ordered tuples (code 'H'|'A', first_line, line_count,
    sec_matched, g1, g2, wiped_before, pos). ``needed_ords``: the set
    of segment ordinals that actually contain P/F events (k=0 is the
    start-of-doc segment, where current_header is '' — paragraphs
    never attach, figures go through lookup('') like the fold);
    targets are computed only for those.

    Returns (final_headings, targets, appends): targets[k] =
    (target_paragraph_idx, target_figure_idx); appends from the
    boundary events themselves. 'paragraph' attaches only when
    current_header is neither None nor '' and the lookup succeeds;
    'figure_caption' has no ''-guard; a lookup raising re.error
    yields no append and rolls the header back — exactly the
    reference's swallowed exception (state.apply semantics, mirrored
    here over precomputed matches; equality with the sequential fold
    is pinned by the forced-threshold split tests)."""
    state = SectionState(toc_lines)
    lookup_index = state.lookup_index
    sections = state.sections
    appends: list[tuple] = []

    def seg_targets(hdr):
        if hdr is None:
            return (None, None)
        try:
            tf = lookup_index(hdr)
        except re.error:
            tf = None
        return (None if hdr == "" else tf, tf)

    current_header: str | None = ""
    targets = {}
    if 0 in needed_ords:
        targets[0] = seg_targets(current_header)
    k = 0
    for code, first_line, line_count, matched, g1, g2, wiped, pos in bounds:
        k += 1
        if wiped:
            current_header = None
        # inlined SectionState.apply for 'heading'/'appendix' over the
        # precomputed RE_SECTION_GROUPS result (apply itself re-runs
        # the regex; branch logic identical)
        try:
            if code == "H":
                new_header = first_line
                idx = None
                if matched:
                    if g2 is not None:
                        idx = lookup_index(g2.lstrip().rstrip())
                        if idx is not None:
                            new_header = f"{g1.strip()} {g2.strip()}"
                            sec = sections[idx]
                            if sec["heading"] != new_header:
                                sec["heading"] = new_header
                                state._cache.clear()
                else:
                    idx = lookup_index(new_header)
                if line_count > 1 and idx is not None:
                    appends.append((idx, "p", pos))
                current_header = new_header
            else:  # 'A'
                new_header = first_line.strip()
                idx = lookup_index(new_header)
                if idx is not None:
                    appends.append((idx, "p", pos))
                current_header = new_header
        except re.error:
            pass  # rollback, exactly like the fold
        if k in needed_ords:
            targets[k] = seg_targets(current_header)
    headings = [s["heading"] for s in sections]
    return headings, targets, appends

