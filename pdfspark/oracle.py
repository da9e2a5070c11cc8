"""Test oracle: statement-for-statement transliteration of the
reference's extraction loop, kept deliberately close to the original
control flow (classes, per-element processor dispatch, exception
swallowing) and INDEPENDENT of pdfspark.fold — the pytest parity suite
compares the two implementations on every fixture document.

Mirrors:
  * Document/Section/find_section_by_heading  ref src/document.py:74-112
  * convert_pdf_to_json element loop          ref src/pdf_extractor.py:158-230
  * TextBoxProcessor.process_element          ref src/processors/element_processors.py:59-179
  * matcher quirk                             ref src/matcher_patterns.py:56-65
"""

from __future__ import annotations

import re

from pdfspark.config import PATTERNS_TO_STRIP


class _Section:
    def __init__(self, heading):
        self.heading = heading
        self.paragraphs = []
        self.figures = []
        self.tables = []


class _Document:
    def __init__(self):
        self.sections = []

    def find_section_by_heading(self, heading):
        # ref src/document.py:99-112 (unescaped interpolation, may raise)
        if heading is None:
            return None
        clean_heading = re.sub(r"[\W_]+$", "", heading)
        pattern = rf"\b{clean_heading}\b"
        for section in self.sections:
            match = re.search(pattern, section.heading, re.IGNORECASE)
            if match:
                return section
        return None


_SECTION_PATTERN = r"^(?:\d+\.{0,1})(?:\d+)*(?:\.\d+)*\s+[A-Za-z][\w\s\-\,]+"
_SECTION_PATTERN_GROUPS = r"^((?:\d+\.{0,1})(?:\d+)*(?:\.\d+)*)(\s+[A-Za-z][\w\s\-\,]+)"
_APPENDIX_PATTERN = r"^(Appendix|Annex)\s+[A-Z]\.*"
_FIGURE_PATTERN = r"^Figure\s\d+|Fig\.\s\d+"
_PAGE_NO_PATTERN = r"(?:Page|page|pg)\s(?:\d+|[ivx])+"


def _matcher(first_line: str) -> bool:
    # ref src/matcher_patterns.py:56-65: all tokens optional -> matches
    # any tokenizable doc. nlp('') has no tokens -> no match.
    return first_line.strip() != ""


def _process_textbox(content, document, current_section_header,
                     header_footer):
    """ref element_processors.py:59-179. Returns (emitted_label | None,
    new current_section_header). Raises re.error like the original."""
    textbox_content = content.lstrip().rstrip()

    if header_footer is not None:  # ref :68-70
        probe = textbox_content.replace("\n", "")
        if probe in header_footer:  # dict-key membership quirk
            return None, None
    if re.match(_PAGE_NO_PATTERN, textbox_content, re.IGNORECASE):  # ref :73-74
        return None, None

    first_line = ""
    line_count = 0
    if textbox_content != "":
        content_lines_list = textbox_content.split("\n")
        first_line = content_lines_list[0]
        line_count = len(content_lines_list)
    first_line = re.sub(r"\s{2,}", " ", first_line)  # ref :106

    matches = _matcher(first_line)
    found_sections = re.findall(_SECTION_PATTERN, first_line)

    if matches or found_sections != []:  # ref :114-142
        current_section_header = first_line
        section_match = re.match(_SECTION_PATTERN_GROUPS, current_section_header)
        current_section = None
        if section_match is not None:
            if section_match.group(2) is not None:
                group_match = section_match.group(2)
                current_section = document.find_section_by_heading(
                    group_match.lstrip().rstrip()
                )
                if current_section is not None:
                    current_section_header = (
                        f"{section_match.group(1).strip()} "
                        f"{section_match.group(2).strip()}"
                    )
                    current_section.heading = current_section_header
        else:
            current_section = document.find_section_by_heading(
                current_section_header
            )
        if line_count > 1:
            if current_section is not None:
                current_section.paragraphs.append(textbox_content)
        return "heading", current_section_header
    elif re.findall(_APPENDIX_PATTERN, first_line, re.IGNORECASE) != []:
        current_section_header = first_line.strip()
        current_section = document.find_section_by_heading(current_section_header)
        if current_section is not None:
            current_section.paragraphs.append(textbox_content)
        return "appendix", current_section_header
    elif re.findall(_FIGURE_PATTERN, first_line, re.IGNORECASE) != []:
        current_section = document.find_section_by_heading(current_section_header)
        if current_section is not None:
            current_section.figures.append(textbox_content)
        return "figure_caption", current_section_header
    else:
        if current_section_header != "":
            current_section = document.find_section_by_heading(
                current_section_header
            )
            if current_section is not None:
                current_section.paragraphs.append(textbox_content)
        return "paragraph", current_section_header


def oracle_extract(spans, header, footer, _unused=None):
    """Reference-mirroring extraction over one document's span list.
    Same return shape as pdfspark.fold.fold_document."""
    # _unused: only perfbench/check.py passes it; ROADMAP item C drops it
    spans = sorted(spans, key=lambda s: s["offset"])
    n_in = len(spans)
    if any(s["kind"] == "DecodeError" for s in spans):
        return dict(status="quarantined", out_spans=[], sections=[],
                    spans_in=n_in, spans_out=0)
    if not spans:
        return dict(status="empty", out_spans=[], sections=[],
                    spans_in=0, spans_out=0)

    document = _Document()
    for s in spans:
        if s["kind"] == "TOC":
            line = s["text"] or ""  # NULL coerced, same as TextBoxes
            for pat in PATTERNS_TO_STRIP:  # ref pdf_extractor.py:174-177
                line = re.sub(pat, " ", line)
            line = re.sub(r"\s{2,}", " ", line)
            document.sections.append(_Section(line.strip()))

    header_footer = {"header": header, "footer": footer}
    current_section_header = ""
    out = []

    for s in spans:
        kind = s["kind"]
        if kind in ("TOC", "PageStart"):
            continue
        try:
            if kind == "TextBox":
                label, current_section_header = _process_textbox(
                    s["text"] or "", document, current_section_header,
                    header_footer,
                )
                if label is not None:
                    out.append(dict(kind=label, text=(s["text"] or "").strip(),
                                    media_ref=None, offset=len(out)))
            elif kind in ("TextLine", "Line", "Rectangle"):
                out.append(dict(kind=kind, text="", media_ref=None,
                                offset=len(out)))
                current_section_header = None
            elif kind in ("Figure", "Image"):
                out.append(dict(kind="media", text="",
                                media_ref=s.get("media_ref"), offset=len(out)))
                current_section_header = None
            elif kind in ("VerticalText", "TextGroup", "Container",
                          "TextGroupTBRL", "Curve", "Char"):
                current_section_header = None
            else:
                pass  # unsupported: ValueError swallowed, state kept
        except re.error:
            # ref pdf_extractor.py:209-210: log and continue; the span
            # was appended to the page before classification raised.
            label = _label_for_crashed(s["text"] or "")
            out.append(dict(kind=label, text=(s["text"] or "").strip(),
                            media_ref=None, offset=len(out)))

    sections = [
        dict(heading=sec.heading, paragraphs=sec.paragraphs,
             figures=sec.figures, tables=sec.tables)
        for sec in document.sections
    ]
    return dict(status="ok", out_spans=out, sections=sections,
                spans_in=n_in, spans_out=len(out))


def _label_for_crashed(text):
    content = text.lstrip().rstrip()
    first_line = content.split("\n")[0] if content else ""
    first_line = re.sub(r"\s{2,}", " ", first_line)
    if _matcher(first_line) or re.findall(_SECTION_PATTERN, first_line):
        return "heading"
    if re.findall(_APPENDIX_PATTERN, first_line, re.IGNORECASE):
        return "appendix"
    if re.findall(_FIGURE_PATTERN, first_line, re.IGNORECASE):
        return "figure_caption"
    return "paragraph"
