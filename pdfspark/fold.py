"""The per-document extraction fold — engine-side implementation.

Reproduces the reference's convert_pdf_to_json element loop
(ref src/pdf_extractor.py:158-230 driving
src/processors/element_processors.py:59-179) over one document's span
list, quirks included:

* matcher-always-fires: the spaCy matcher built from all-optional
  token patterns (src/matcher_patterns.py:56-65) matches any non-blank
  first line, so a TextBox is a heading exactly when its stripped
  text is non-empty and a paragraph otherwise; the appendix and
  figure-caption branches cannot fire.
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

Output span kinds: 'heading' | 'paragraph' for surviving TextBoxes,
'media' for Figure/Image inputs (media_ref preserved), original kind
for the geometry elements the reference keeps as page elements
(TextLine, Line, Rectangle). Kinds the reference merely logs (Image
handled as media here per the north rule; VerticalText, TextGroup,
Container, TextGroupTBRL, Curve) emit nothing.
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
    reference raises deterministically per heading), and the two
    attachment transitions of element_processors.py:114-179, heading
    and paragraph. Shared by fold_document and replay_events so the
    chunked skew path cannot drift from the sequential fold.

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

    def heading(self, first_line, line_count, g1, g2):
        """The heading transition over the RE_SECTION_GROUPS groups of
        ``first_line`` (g2 is None when it does not match): a numbered
        heading that finds its TOC section rewrites that section's
        heading in place. Returns (new current_header, index of the
        section the box's content appends to, or None). May raise
        re.error before any state changes — the CALLER keeps the old
        current_header, reproducing the reference's swallowed-exception
        rollback."""
        new_header = first_line
        if g2 is None:
            idx = self.lookup_index(first_line)
        else:
            idx = self.lookup_index(g2.strip())
            if idx is not None:
                new_header = f"{g1.strip()} {g2.strip()}"
                sec = self.sections[idx]
                if sec["heading"] != new_header:
                    sec["heading"] = new_header
                    self._cache.clear()  # headings changed
        return new_header, (idx if line_count > 1 else None)

    def paragraph(self, current_header):
        """The paragraph transition: index of the section an empty box
        appends to (never under a '' or wiped header), or None; the
        header is unchanged. May raise re.error."""
        if not current_header:
            return None
        return self.lookup_index(current_header)

    def apply(self, label, content, first_line, line_count,
              current_header):
        """State update for one classified TextBox: the transition of
        ``label`` ('heading' or 'paragraph'), then the append of
        ``content``. May raise re.error — the CALLER keeps the old
        current_header. Returns the new current_header."""
        if label == "heading":
            m = P.RE_SECTION_GROUPS.match(first_line)
            current_header, idx = self.heading(
                first_line, line_count, *(m.groups() if m else (None, None))
            )
        else:
            idx = self.paragraph(current_header)
        if idx is not None:
            self.sections[idx]["paragraphs"].append(content)
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
    event list the sections state machine consumes: 'W' for a wipe,
    'H' for a heading and 'P' for a paragraph, the last two with the
    OFFSET of the span they emitted (the span already carries the
    content; events stay metadata-sized). The chunk-parallel skew path
    runs this per chunk and replays the events in document order
    (replay_events). ``skip_sections=True`` skips the attachment
    state machine entirely (chunk folds discard their chunk-local
    sections anyway; span labels never depend on it).
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

    current_header: str | None = ""
    out: list[dict] = []
    events: list[tuple] = []

    def emit(kind, text, media_ref):
        out.append(dict(kind=kind, text=text, media_ref=media_ref,
                        offset=len(out)))

    for s in spans:
        kind = s["kind"]
        if kind in ("TOC", "PageStart"):
            continue

        if kind == "TextBox":
            content = (s["text"].lstrip().rstrip()
                       if s["text"] is not None else "")
            # F2 header/footer strip (the broken dict-membership test)
            # and F3 page-number strip
            wipe = (content.replace("\n", "") in ("header", "footer")
                    or P.RE_PAGE_NUMBER.match(content))
        else:
            if kind in MEDIA_KINDS:
                emit("media", "", s.get("media_ref"))
            elif kind in GEOM_KINDS:
                emit(kind, "", None)
            elif kind not in DROP_KINDS:
                # unsupported element type: ValueError swallowed by
                # caller (src/pdf_extractor.py:207-208); state NOT updated
                continue
            wipe = True
        if wipe:
            current_header = None  # processor returns None -> state wipe
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

        # matcher-always-fires: any non-blank first line is a heading.
        # A non-empty stripped text always has a non-blank first line,
        # and RE_SECTION, RE_APPENDIX and RE_FIGURE each need a digit
        # or a letter, so the appendix, figure and else branches
        # cannot fire on a blank one: a box is a heading exactly when
        # its content is non-empty, else a paragraph.
        label = "heading" if content else "paragraph"
        # the span is emitted before classification
        # (element_processors.py:76-79), so a re.error in the state
        # update below rolls back the state but keeps the span
        emit(label, content, None)
        if collect_events:
            events.append(("H" if content else "P", len(out) - 1))

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
        sections=state.sections,
        spans_in=n_in,
        spans_out=len(out),
        events=events,
    )


def replay_events(events, toc_lines):
    """The sections state machine over one document's fold events in
    document order, with no span text: the sequential core of the skew
    route's sections (operators/extract.py::_big_doc_sections).

    ``events``: tuples (code, first_line, line_count, g1, g2, pos). 'W'
    (one per run of wipes) sets current_header to None; 'H' runs the
    heading transition on its first line, line count and
    RE_SECTION_GROUPS groups, all precomputed by the parallel chunk
    tasks; 'P' appends to the current header's section. A lookup that
    raises re.error rolls the event back, exactly like the fold.

    Returns (final headings, appends): appends are (section index,
    pos) in document order. A 'P' append's content is '' by
    construction; an 'H' append's is the text of the span at pos,
    which the caller joins back in."""
    state = SectionState(toc_lines)
    current_header: str | None = ""
    appends: list[tuple] = []
    for code, first_line, line_count, g1, g2, pos in events:
        if code == "W":
            current_header = None
            continue
        try:
            if code == "H":
                current_header, idx = state.heading(
                    first_line, line_count, g1, g2)
            else:
                idx = state.paragraph(current_header)
        except re.error:
            continue  # rollback, exactly like the fold
        if idx is not None:
            appends.append((idx, pos))
    return [s["heading"] for s in state.sections], appends
