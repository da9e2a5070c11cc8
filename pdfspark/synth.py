"""Deterministic synthetic fixture generator (FIXTURES.md).

Generates the canonical input tables for every fixture family and
writes them as parquet (pyarrow, single file each — readable by both
Spark and the DuckDB oracle):

    fixtures/<sf>/documents_in.parquet   (doc_id, spans[])
    fixtures/<sf>/spans_geom.parquet     (exploded layout + geometry)

Seed fixed at 42; same (sf) input always produces byte-identical
tables. Page geometry is US Letter (612x792 pt). Span `offset` is the
storage order per document (monotone, 0-based); within table pages the
storage order is shuffled relative to visual order to exercise the
(-y1, x1) reading-order sort (ref src/utilities/parse_util.py:454).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdfspark.config import PAGE_H, PAGE_W

WORDS = (
    "risk management governance framework model data system process control "
    "measure impact trust safety analysis design evaluation deployment "
    "monitor lifecycle context actor harm benefit metric policy standard"
).split()

FAMILIES = [
    "plain-sections",
    "named-sections",
    "appendices",
    "figures-media",
    "header-footer",
    "page-numbers",
    "simple-table",
    "continued-table",
    "multi-column",
    "hostile-regex",
]

NAMED_HEADINGS = [
    "Executive Summary",
    "Foreword",
    "Introduction",
    "Summary",
    "Bibliography",
    "References",
]


class DocBuilder:
    """Accumulates spans for one document with a simple layout cursor."""

    def __init__(self, doc_id: str):
        self.doc_id = doc_id
        self.spans: list[dict] = []  # geometry rows incl. PageStart
        self.page_id = 0
        self.y = 0.0
        self._page_buf: list[dict] = []

    def _flush_page(self, shuffle_rng=None):
        if shuffle_rng is not None and len(self._page_buf) > 2:
            # shuffle storage order within the page but keep the
            # PageStart marker first (page boundaries stay monotone)
            tail = self._page_buf[1:]
            shuffle_rng.shuffle(tail)
            self._page_buf = self._page_buf[:1] + tail
        self.spans.extend(self._page_buf)
        self._page_buf = []

    def new_page(self, shuffle_rng=None):
        self._flush_page(shuffle_rng)
        self.page_id += 1
        self.y = PAGE_H - 72.0
        self._page_buf.append(
            dict(
                page_id=self.page_id,
                kind="PageStart",
                text=f"pageid:{self.page_id}|bbox:0,0,{PAGE_W:g},{PAGE_H:g}",
                media_ref=None,
                x0=0.0, y0=0.0, x1=PAGE_W, y1=PAGE_H,
            )
        )

    def add(self, kind, text, media_ref=None, x0=72.0, w=450.0, h=12.0, y1=None):
        if y1 is None:
            y1 = self.y
        y0 = y1 - h
        self._page_buf.append(
            dict(page_id=self.page_id, kind=kind, text=text, media_ref=media_ref,
                 x0=x0, y0=y0, x1=x0 + w, y1=y1)
        )
        if y1 == self.y:
            self.y = y0 - 10.0
        return y0

    def toc(self, lines):
        for ln in lines:
            self._page_buf.append(
                dict(page_id=0, kind="TOC", text=ln, media_ref=None,
                     x0=0.0, y0=0.0, x1=0.0, y1=0.0)
            )

    def header(self, text):
        # header iff page_y1 - y0 <= 50 (TOP_MARGIN at call site,
        # ref src/pdf_extractor.py:363): y0 = 752 -> 792-752 = 40.
        self.add("TextBox", text, y1=764.0, h=12.0)

    def footer(self, text):
        # footer iff y0 <= 20 (ref parse_util.py:438): y0 = 10.
        self.add("TextBox", text, y1=22.0, h=12.0)

    def finish(self, shuffle_rng=None):
        self._flush_page(shuffle_rng)
        for i, s in enumerate(self.spans):
            s["offset"] = i
        return self


def _para(rng, n=8):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _body(rng, lines=2):
    return "\n".join(_para(rng) for _ in range(lines))


# --- fixture families ------------------------------------------------------

def gen_plain_sections(b: DocBuilder, rng):
    heads = ["Introduction", "Risk management", "Framework design", "Evaluation"]
    b.toc(heads)
    b.new_page()
    for i, h in enumerate(heads):
        if b.y < 150:
            b.new_page()
        b.add("TextBox", f"{i + 1}. {h}\n{_body(rng, 2)}", h=36.0)
        b.add("TextBox", _body(rng, 2), h=24.0)


def gen_named_sections(b: DocBuilder, rng):
    heads = rng.sample(NAMED_HEADINGS, 3) + ["Unlisted heading zone"]
    b.toc(heads[:3])
    b.new_page()
    for h in heads:
        if b.y < 150:
            b.new_page()
        b.add("TextBox", f"{h}\n{_body(rng, 2)}", h=36.0)


def gen_appendices(b: DocBuilder, rng):
    b.toc(["Appendix A. Data tables", "Annex B Methods"])
    b.new_page()
    b.add("TextBox", f"Appendix A. Data tables\n{_body(rng, 2)}", h=36.0)
    b.add("TextBox", f"Annex B Methods\n{_body(rng, 1)}", h=24.0)
    b.add("TextBox", f"Appendix C: Legacy colon form\n{_body(rng, 1)}", h=24.0)


def gen_figures_media(b: DocBuilder, rng):
    b.toc(["Introduction"])
    b.new_page()
    b.add("TextBox", f"1. Introduction\n{_body(rng, 2)}", h=36.0)
    n = rng.randint(1, 3)
    for i in range(1, n + 1):
        b.add("Image", "", media_ref=f"img://{b.doc_id}/{i}", h=80.0)
        cap = "Figure" if i % 2 else "Fig."
        b.add("TextBox", f"{cap} {i} {_para(rng, 4)}", h=12.0)


def gen_header_footer(b: DocBuilder, rng):
    b.toc(["Introduction"])
    for _ in range(3):
        b.new_page()
        b.header("ACME Corp Annual")
        b.header("ACME Corp")  # substring-dedup trap (parse_util.py:436)
        b.add("TextBox", f"1. Introduction\n{_body(rng, 2)}", h=36.0)
        b.footer("Confidential draft")


def gen_page_numbers(b: DocBuilder, rng):
    b.toc(["Introduction"])
    strip = ["Page 4", "pg iv", "page 12"]
    keep = ["Pages 4-5", "Paged content note"]
    b.new_page()
    b.add("TextBox", f"1. Introduction\n{_body(rng, 2)}", h=36.0)
    for t in strip + keep:
        b.add("TextBox", t, h=12.0)


# per-cell vertical jitter (pt): a row's cells stay within 2x this of
# each other, well inside the row-clustering Y_TOLERANCE
TABLE_Y_JITTER = 3.0


def _table_grid(b, rng, title, n_rows, n_cols, prefix):
    b.add("TextBox", title, h=14.0)
    xs = [72.0 + 150.0 * j for j in range(n_cols)]
    y = b.y
    for i in range(n_rows):
        for j in range(n_cols):
            jit = rng.uniform(-TABLE_Y_JITTER, TABLE_Y_JITTER)
            b.add("TextBox", f"{prefix}r{i + 1}c{j + 1}",
                  x0=xs[j], w=100.0, h=12.0, y1=y + jit)
        y -= 24.0
    b.y = y - 10.0


def gen_simple_table(b: DocBuilder, rng):
    b.toc(["Introduction"])
    b.new_page()
    b.add("TextBox", f"1. Introduction\n{_body(rng, 1)}", h=24.0)
    _table_grid(b, rng, f"Table 1: {_para(rng, 3)}", rng.randint(2, 4), 3, "a")


def gen_continued_table(b: DocBuilder, rng):
    b.toc(["Introduction"])
    b.new_page()
    _table_grid(b, rng, "Table 2: Throughput", 2, 3, "t2a")
    b.new_page()
    _table_grid(b, rng, "Table 2: Throughput (continued)", 2, 3, "t2b")
    b.new_page()
    _table_grid(b, rng, "Table 4: Mixed", 2, 3, "t4a")
    b.new_page()
    _table_grid(b, rng, "Table 4: Mixed (continued)", 2, 2, "t4b")


def gen_multi_column(b: DocBuilder, rng):
    b.toc(["Introduction"])
    b.new_page()
    y = b.y
    for i in range(4):
        b.add("TextBox", f"left col {_para(rng, 3)}", x0=72.0, w=200.0, h=12.0,
              y1=y - 24.0 * i)
        b.add("TextBox", f"right col {_para(rng, 3)}", x0=320.0, w=200.0, h=12.0,
              y1=y - 24.0 * i)
    b.y = y - 24.0 * 4 - 10.0


def gen_hostile_regex(b: DocBuilder, rng):
    b.toc(["C++ (v2)", "Normal section"])
    b.new_page()
    # Unescaped heading with regex metachars -> re.error in the
    # reference's find_section_by_heading (src/document.py:103-108).
    b.add("TextBox", f"C++ (v2)\n{_body(rng, 1)}", h=24.0)
    b.add("TextBox", f"1. Normal section\n{_body(rng, 1)}", h=24.0)
    _table_grid(b, rng, "Table 3 cont.", 2, 2, "h")  # X7 match-vs-search


def gen_tabular_sparse(b: DocBuilder, rng):
    """Thin boxes (h=4, row step 8) where the reference's quirky
    are_textboxes_tabular guards (parse_util.py:364-405) actually
    fire: adjacent-row cross-column pairs satisfy same-row-without-
    y-overlap; near-column disjoint-x pairs satisfy the col branch."""
    b.toc(["Introduction"])
    b.new_page()
    b.add("TextBox", f"1. Introduction\n{_body(rng, 1)}", h=24.0)
    y = b.y
    xs = [72.0, 160.0, 260.0]
    for i in range(4):
        for j, x in enumerate(xs):
            b.add("TextBox", f"s r{i + 1}c{j + 1}", x0=x, w=10.0, h=4.0,
                  y1=y - 8.0 * i)
    # near-column pair: xc 16pt apart, disjoint x intervals, far y
    b.add("TextBox", "colA", x0=400.0, w=10.0, h=4.0, y1=y)
    b.add("TextBox", "colB", x0=416.0, w=10.0, h=4.0, y1=y - 40.0)
    b.y = y - 60.0


def gen_toc_mismatch(b: DocBuilder, rng):
    """W3 conditional canonicalization seam: '2.1 Framework design'
    whole-word-matches the TOC and rewrites to 'num title'
    (element_processors.py:116-131), while '9.9 Uncharted territory'
    has no TOC section and must carry its RAW first line forward —
    the unconditional-rewrite bug collapsed both to 'num title'."""
    b.toc(["Framework design", "Evaluation"])
    b.new_page()
    b.add("TextBox", f"2.1 Framework design\n{_body(rng, 2)}", h=36.0)
    b.add("TextBox", _body(rng, 1), h=12.0)
    b.add("TextBox", f"9.9 Uncharted territory\n{_body(rng, 2)}", h=36.0)
    b.add("TextBox", _body(rng, 1), h=12.0)


def gen_skew(b: DocBuilder, rng, n_spans: int):
    b.toc(["Introduction"])
    b.new_page()
    b.add("TextBox", f"1. Introduction\n{_body(rng, 2)}", h=36.0)
    while len(b.spans) + len(b._page_buf) < n_spans:
        if b.y < 100:
            b.new_page()
        b.add("TextBox", _body(rng, 1), h=12.0)


GENERATORS = {
    "plain-sections": gen_plain_sections,
    "named-sections": gen_named_sections,
    "appendices": gen_appendices,
    "figures-media": gen_figures_media,
    "header-footer": gen_header_footer,
    "page-numbers": gen_page_numbers,
    "simple-table": gen_simple_table,
    "continued-table": gen_continued_table,
    "multi-column": gen_multi_column,
    "hostile-regex": gen_hostile_regex,
}

SF_DOCS = {"sf0.001": 60, "sf0.01": 600, "sf0.1": 6000}
SF_SKEW_SPANS = {"sf0.001": 2000, "sf0.01": 10000, "sf0.1": 20000}


def generate_docs(sf_name: str):
    n_docs = SF_DOCS.get(sf_name, 600)
    docs = []
    for i in range(n_docs):
        fam = FAMILIES[i % len(FAMILIES)]
        doc_id = f"{fam}-{i:05d}"
        # hash() is salted per-process; a stable f-string seed instead
        rng = random.Random(f"42|{sf_name}|{doc_id}")
        b = DocBuilder(doc_id)
        shuffle_rng = rng if "table" in fam else None
        GENERATORS[fam](b, rng)
        b.finish(shuffle_rng)
        docs.append(b)
    # family 11: sparse tabular doc (J7 band-join evidence)
    rng = random.Random(f"42|{sf_name}|tabular-sparse")
    b = DocBuilder("tabular-sparse-00000")
    gen_tabular_sparse(b, rng)
    docs.append(b.finish())
    # family 13: numbered headings with and without a TOC match (W3
    # conditional-rewrite seam; unmatched titles keep raw first lines)
    rng = random.Random(f"42|{sf_name}|toc-mismatch")
    b = DocBuilder("toc-mismatch-00000")
    gen_toc_mismatch(b, rng)
    docs.append(b.finish())
    # family 10: skew doc
    rng = random.Random(f"42|{sf_name}|skew")
    b = DocBuilder("skew-00000")
    gen_skew(b, rng, SF_SKEW_SPANS.get(sf_name, 10000))
    docs.append(b.finish())
    # family 12: empty + decode_error
    docs.append(DocBuilder("empty-00000").finish())
    b = DocBuilder("decode-error-00000")
    b.spans.append(dict(page_id=0, kind="DecodeError", text="encrypted",
                        media_ref=None, x0=0.0, y0=0.0, x1=0.0, y1=0.0))
    docs.append(b.finish())
    return docs


SPAN_PA = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)


def write_fixtures(sf_name: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    docs = generate_docs(sf_name)

    doc_ids, span_arrays = [], []
    g = {k: [] for k in
         ("doc_id", "page_id", "page_number", "kind", "text", "media_ref",
          "x0", "y0", "x1", "y1", "offset")}
    for d in docs:
        doc_ids.append(d.doc_id)
        span_arrays.append(
            [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                  offset=s["offset"]) for s in d.spans]
        )
        for s in d.spans:
            g["doc_id"].append(d.doc_id)
            g["page_id"].append(s["page_id"])
            g["page_number"].append(max(0, s["page_id"] - 1))
            g["kind"].append(s["kind"])
            g["text"].append(s["text"])
            g["media_ref"].append(s["media_ref"])
            g["x0"].append(s["x0"])
            g["y0"].append(s["y0"])
            g["x1"].append(s["x1"])
            g["y1"].append(s["y1"])
            g["offset"].append(s["offset"])

    docs_tbl = pa.table(
        {"doc_id": pa.array(doc_ids, pa.string()),
         "spans": pa.array(span_arrays, pa.list_(SPAN_PA))}
    )
    # small row groups: parquet splits at row-group granularity, and a
    # single-group file caps every downstream scan at ONE task — a
    # layout artifact a real (many-file, many-split) table never has
    pq.write_table(docs_tbl, os.path.join(out_dir, "documents_in.parquet"),
                   row_group_size=500)

    geom_tbl = pa.table(
        {"doc_id": pa.array(g["doc_id"], pa.string()),
         "page_id": pa.array(g["page_id"], pa.int32()),
         "page_number": pa.array(g["page_number"], pa.int32()),
         "kind": pa.array(g["kind"], pa.string()),
         "text": pa.array(g["text"], pa.string()),
         "media_ref": pa.array(g["media_ref"], pa.string()),
         "x0": pa.array(g["x0"], pa.float64()),
         "y0": pa.array(g["y0"], pa.float64()),
         "x1": pa.array(g["x1"], pa.float64()),
         "y1": pa.array(g["y1"], pa.float64()),
         "offset": pa.array(g["offset"], pa.int32())}
    )
    pq.write_table(geom_tbl, os.path.join(out_dir, "spans_geom.parquet"),
                   row_group_size=20_000)
    write_xycut_expected(g, out_dir)
    write_elements(sf_name, out_dir)
    write_oracle_outputs(sf_name, out_dir, docs=docs)
    write_payloads(docs, out_dir)


def write_xycut_expected(g: dict, out_dir: str) -> None:
    """Spark-free expected result for the W1 ``xycut`` variant: the
    same per-page kernel (operators/reading_order.xy_cut_order) run
    over the generated geometry in plain Python, written as a sidecar
    the DuckDB oracle reads — the pattern the payload-decode and
    transliteration oracles use. Pins the DISTRIBUTED plumbing
    (grouping, Arrow batching, rank assembly) against a
    single-process ground truth."""
    from pdfspark.operators.reading_order import xy_cut_order

    pages: dict[tuple, list] = {}
    for i in range(len(g["doc_id"])):
        if g["kind"][i] != "TextBox":
            continue
        pages.setdefault((g["doc_id"][i], g["page_id"][i]), []).append(i)
    out = {"doc_id": [], "page_id": [], "offset": [], "rord": []}
    for (doc, page), idxs in pages.items():
        order = xy_cut_order([g["x0"][i] for i in idxs],
                             [g["y0"][i] for i in idxs],
                             [g["x1"][i] for i in idxs],
                             [g["y1"][i] for i in idxs],
                             [g["offset"][i] for i in idxs])
        for rank, j in enumerate(order, start=1):
            out["doc_id"].append(doc)
            out["page_id"].append(page)
            out["offset"].append(g["offset"][idxs[j]])
            out["rord"].append(rank)
    tbl = pa.table(
        {"doc_id": pa.array(out["doc_id"], pa.string()),
         "page_id": pa.array(out["page_id"], pa.int32()),
         "offset": pa.array(out["offset"], pa.int32()),
         "rord": pa.array(out["rord"], pa.int32())})
    pq.write_table(tbl, os.path.join(out_dir, "xycut_expected.parquet"))


def write_payloads(docs, out_dir: str) -> None:
    """S1 byte-stream fixture: every 10th document serialized as a
    standalone JSON payload file (the deterministic stand-in for a PDF
    byte stream — the container ships no PDF codec), plus two corrupt
    payloads that must land in quarantine, one of them non-UTF8."""
    import json as _json

    pdir = os.path.join(out_dir, "payloads")
    os.makedirs(pdir, exist_ok=True)
    for d in docs[::10]:
        body = dict(
            doc_id=d.doc_id,
            spans=[dict(kind=s["kind"], text=s["text"],
                        media_ref=s["media_ref"], offset=s["offset"])
                   for s in d.spans],
        )
        with open(os.path.join(pdir, f"{d.doc_id}.bin"), "wb") as fh:
            fh.write(_json.dumps(body).encode("utf-8"))
    with open(os.path.join(pdir, "corrupt_trunc.bin"), "wb") as fh:
        fh.write(b'{"doc_id": "corrupt_trunc", "spans": [{"kind": ')
    with open(os.path.join(pdir, "corrupt_binary.bin"), "wb") as fh:
        fh.write(b"\x89PDF\x00\xff\xfe not json at all \x00\x01")
    write_pdf_payloads(out_dir)


def write_pdf_payloads(out_dir: str) -> None:
    """Real tiny `%PDF` byte payloads (stdlib generator,
    pdfspark.sources.pdf_mini) exercising the actual byte->span decode
    path of the S1 seam, plus a corrupt one that must quarantine. The
    expected decode results (status / span count / byte length) are
    materialized Spark-free into a sidecar parquet that the DuckDB
    oracle reads — the same pattern as the transliteration oracles."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from pdfspark.sources.binary_decode import geom_digest
    from pdfspark.sources.pdf_mini import (
        append_incremental_update,
        build_nested_pdf,
        build_tiny_pdf,
        build_tiny_pdf_15,
        decode_tiny_pdf,
    )

    pdir = os.path.join(out_dir, "payloads_pdf")
    os.makedirs(pdir, exist_ok=True)
    docs = {
        "pdfdoc-00000": [["1. Introduction", "Body text with (parens) "
                          "and \\ backslash."],
                         ["2. Methods", "Second page body."]],
        "pdfdoc-00001": [["Table 1 Results", "r1c1", "r1c2"]],
        "pdfdoc-00002": [["Appendix A.", "Figure 3 a caption",
                          "Closing paragraph."]],
        # deflate-compressed content streams (/Filter /FlateDecode) —
        # the shape every real-world PDF writer emits
        "pdfdoc-00003": [["3. Discussion", "Compressed body text."],
                         ["References", "[1] A citation line."]],
    }
    rows = []
    for doc_id, pages in docs.items():
        payload = build_tiny_pdf(doc_id, pages,
                                 compress=(doc_id == "pdfdoc-00003"))
        with open(os.path.join(pdir, f"{doc_id}.pdf"), "wb") as fh:
            fh.write(payload)
        decoded = decode_tiny_pdf(payload)  # Spark-free expected result
        assert decoded["doc_id"] == doc_id
        rows.append((doc_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # PDF 1.5-style payload: xref STREAM (predictor 12) + object
    # stream + /Outlines tree -> TOC spans (S5 from raw bytes) — the
    # structure modern writers emit by default, previously quarantined
    pdf15_id = "pdfdoc-00015"
    payload = build_tiny_pdf_15(
        pdf15_id,
        [["1. Overview", "Modern xref-stream body."],
         ["2. Details", "Packed in an object stream."]],
        outlines=[("1. Overview", [("1.1 Background", [])]),
                  ("2. Details", [])],
    )
    with open(os.path.join(pdir, f"{pdf15_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == pdf15_id
    assert [s["kind"] for s in decoded["spans"][:3]] == ["TOC"] * 3
    rows.append((pdf15_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # filter chain + hex text shows: /Filter [/ASCIIHexDecode
    # /FlateDecode] content streams whose text operands are hex
    # strings (`<...> Tj`) — the CID-era writer shape
    hx_id = "pdfdoc-00016"
    payload = build_tiny_pdf(
        hx_id, [["4. Hex era", "Chained filter body."]],
        compress="ahx+flate", hex_show=True)
    with open(os.path.join(pdir, f"{hx_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == hx_id
    rows.append((hx_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # LZWDecode content streams (pre-Flate writers)
    lzw_id = "pdfdoc-00017"
    payload = build_tiny_pdf(
        lzw_id, [["5. LZW era", "TIFF-flavor compressed body."]],
        compress="lzw")
    with open(os.path.join(pdir, f"{lzw_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == lzw_id
    rows.append((lzw_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # interleaved text + media: embedded image XObjects painted with
    # /ImN Do emit kind='Image' spans with media_ref in stream order
    img_id = "pdfdoc-00018"
    payload = build_tiny_pdf(
        img_id,
        [["6. Figures", "Caption above the image."], ["Closing text."]],
        compress=True, images=[1, 2])
    with open(os.path.join(pdir, f"{img_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == img_id
    assert [s["kind"] for s in decoded["spans"]].count("Image") == 3
    assert all(s["media_ref"] for s in decoded["spans"]
               if s["kind"] == "Image")
    rows.append((img_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # running-header Form XObject painted `/Fm1 Do` ahead of every
    # page's text — the decoder recurses into the form's nested
    # content stream (pdfminer render_contents nesting), so the header
    # TextBox appears at each paint site
    frm_id = "pdfdoc-00019"
    payload = build_tiny_pdf(
        frm_id,
        [["7. Forms", "Body under a running header."], ["Last page."]],
        compress=True, images=[0, 1], form_header="RUNNING HEADER")
    with open(os.path.join(pdir, f"{frm_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == frm_id
    texts = [s["text"] for s in decoded["spans"]]
    assert texts.count("RUNNING HEADER") == 2
    rows.append((frm_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # inline images (BI..ID..EI) whose raw sample bytes spell
    # operators — the content tokenizer skips them unread while
    # emitting Image spans at the paint sites
    inl_id = "pdfdoc-00020"
    payload = build_tiny_pdf(
        inl_id, [["8. Inline", "Text around an inline image."]],
        compress=True, inline_images=[2])
    with open(os.path.join(pdir, f"{inl_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == inl_id
    kinds = [s["kind"] for s in decoded["spans"]]
    assert kinds.count("Image") == 2
    assert not any("fake" in (s["text"] or "") for s in decoded["spans"])
    rows.append((inl_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # nested /Pages tree + /Contents stream arrays (big-writer shape):
    # pages hang off an intermediate node and each page's operators
    # split across two streams with BT..ET straddling the boundary
    nst_id = "pdfdoc-00021"
    payload = build_nested_pdf(
        nst_id, [["9. Nested", "Tree body text."], ["Split contents."]])
    with open(os.path.join(pdir, f"{nst_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == nst_id
    assert [s["kind"] for s in decoded["spans"]].count("PageStart") == 2
    rows.append((nst_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # move-and-show operators (' and ") + BOM'd UTF-16BE Info /Title
    # hex string — the older word-processor-writer shape; doc_id must
    # be encoding-invariant
    qt_id = "pdfdoc-00022"
    payload = build_tiny_pdf(
        qt_id, [["10. Quoted", "Shown with quote.", "And doublequote."]],
        quote_show=True, title_utf16=True)
    with open(os.path.join(pdir, f"{qt_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == qt_id
    assert sum(1 for s in decoded["spans"] if s["kind"] == "TextBox") == 3
    rows.append((qt_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # incremental update (PDF 7.5.6): the saved-over shape editing
    # tools produce — an appended replacement content stream +
    # /Prev-chained trailer; the NEWEST object version must win and
    # /Info is inherited through the chain
    iu_id = "pdfdoc-00023"
    base = build_tiny_pdf(
        iu_id, [["11. Updated", "Pre-edit body."], ["Second page."]])
    stream = (b"BT /F1 12 Tf 72 720 Td (11. Updated) Tj "
              b"(Post-edit body.) ' ET")
    payload = append_incremental_update(base, {
        5: (b"<< /Length %d >>\nstream\n" % len(stream)
            + stream + b"\nendstream")})
    with open(os.path.join(pdir, f"{iu_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == iu_id
    texts = [s["text"] for s in decoded["spans"]]
    assert "Post-edit body." in texts and "Pre-edit body." not in texts
    rows.append((iu_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # inherited /Resources (PDF 7.7.3.4): a running-header Form
    # declared once on the intermediate /Pages node, painted by pages
    # that carry no /XObject entry of their own
    ih_id = "pdfdoc-00024"
    payload = build_nested_pdf(
        ih_id, [["12. Inherited", "Tree body."], ["Next page."]],
        inherited_form="SHARED HEADER")
    with open(os.path.join(pdir, f"{ih_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == ih_id
    assert [s["text"] for s in decoded["spans"]].count("SHARED HEADER") == 2
    rows.append((ih_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # CID/Type0 font with /ToUnicode CMap (every modern embedded-
    # subset font): shows are 2-byte codes offset from the Unicode
    # code points, so only the CMap path recovers the text
    cd_id = "pdfdoc-00025"
    payload = build_tiny_pdf(
        cd_id, [["13. Subset", "CID body text."], ["Second page."]],
        cid=True, compress=True)
    with open(os.path.join(pdir, f"{cd_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == cd_id
    assert "CID body text." in [s["text"] for s in decoded["spans"]]
    rows.append((cd_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # RC4-encrypted documents (standard security handler, empty user
    # password — the owner-locked world-readable shape): the codec
    # authenticates via /U and decrypts streams + strings in place;
    # spans must equal the unencrypted twin's
    r40_id = "pdfdoc-00026"
    payload = build_tiny_pdf(
        r40_id, [["14. Locked", "RC4-40 body text."], ["Tail page."]],
        encrypt="rc4-40")
    with open(os.path.join(pdir, f"{r40_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == r40_id
    assert "RC4-40 body text." in [s["text"] for s in decoded["spans"]]
    rows.append((r40_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # 128-bit /R 3 with compressed streams AND an embedded image:
    # decrypt-then-inflate order, Image spans from ciphertext bytes
    r128_id = "pdfdoc-00027"
    payload = build_tiny_pdf(
        r128_id, [["15. Sealed", "RC4-128 deflated body."]],
        compress=True, images=[1], encrypt="rc4-128")
    with open(os.path.join(pdir, f"{r128_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == r128_id
    assert [s["kind"] for s in decoded["spans"]].count("Image") == 1
    rows.append((r128_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # simple-font /Encoding slice: /Differences remap (embedded-
    # subset Type1 shape) and /MacRomanEncoding byte semantics —
    # accented European text a latin-1 identity decode would garble
    df_id = "pdfdoc-00028"
    payload = build_tiny_pdf(
        df_id, [["16. Diacritiques", "Café déjà vu — naïve François."],
                ["Zürich piñata søster."]],
        encoding="differences", compress=True)
    with open(os.path.join(pdir, f"{df_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == df_id
    assert "Café déjà vu — naïve François." in [
        s["text"] for s in decoded["spans"]]
    rows.append((df_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    mr_id = "pdfdoc-00029"
    payload = build_tiny_pdf(
        mr_id, [["17. MacRoman", "Crème brûlée à Montréal."]],
        encoding="macroman")
    with open(os.path.join(pdir, f"{mr_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == mr_id
    assert "Crème brûlée à Montréal." in [
        s["text"] for s in decoded["spans"]]
    rows.append((mr_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # unknown base encoding -> quarantine (wrong-parse guard: latin-1
    # through MacExpert/Standard high ranges would be silent garbage)
    ub = build_tiny_pdf("encoding_unknown", [["expert set"]]).replace(
        b"/BaseFont /Helvetica",
        b"/BaseFont /Helvetica /Encoding /MacExpertEncoding")
    with open(os.path.join(pdir, "encoding_unknown.pdf"), "wb") as fh:
        fh.write(ub)
    rows.append(("encoding_unknown", "decode_error", 0, len(ub), ""))
    # AESV2 (/V 4 /R 4) — the modern encrypted-PDF default shape,
    # owner-locked with an empty user password: fully decoded since
    # round 5 (pure-stdlib AES, FIPS-197-vector-pinned), composing
    # with deflate + an embedded image
    av_id = "pdfdoc-00030"
    payload = build_tiny_pdf(
        av_id, [["18. AES sealed", "AESV2 deflated body."]],
        compress=True, images=[1], encrypt="aesv2")
    with open(os.path.join(pdir, f"{av_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == av_id
    assert "AESV2 deflated body." in [s["text"] for s in decoded["spans"]]
    rows.append((av_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # beyond the slice: a REAL user password (RC4 and AES forms) and
    # the deprecated AES-256 /R 5 revision must quarantine
    pw = build_tiny_pdf("encrypted_pw", [["secret body"]],
                        encrypt="rc4-128-pw")
    with open(os.path.join(pdir, "encrypted_pw.pdf"), "wb") as fh:
        fh.write(pw)
    rows.append(("encrypted_pw", "decode_error", 0, len(pw), ""))
    # AES-256 /V 5 /R 6 (PDF 2.0 default): fully decoded since
    # round 5 (Algorithm 2.B KDF + /UE unwrap + /Perms check)
    a2_id = "pdfdoc-00031"
    payload = build_tiny_pdf(
        a2_id, [["19. PDF 2.0 sealed", "AES-256 R6 body."]],
        compress=True, encrypt="aes256")
    with open(os.path.join(pdir, f"{a2_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == a2_id
    assert "AES-256 R6 body." in [s["text"] for s in decoded["spans"]]
    rows.append((a2_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # /Rotate 90 landscape scan: geometry is reoriented through the
    # page's base CTM (pdfminer process_page semantics) — PageStart
    # lands at (0,0,792,612) and every text/image box swaps axes,
    # verified span-for-span against the unrotated twin
    rt_id = "pdfdoc-00032"
    payload = build_tiny_pdf(
        rt_id,
        [["20. Sideways scan", "Rotated body line."], ["Second page."]],
        compress=True, images=[1, 0], rotate=90)
    with open(os.path.join(pdir, f"{rt_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == rt_id
    ps = [s for s in decoded["spans"] if s["kind"] == "PageStart"]
    assert all((s["x0"], s["y0"], s["x1"], s["y1"])
               == (0.0, 0.0, 792.0, 612.0) for s in ps)
    rows.append((rt_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # RunLengthDecode content streams (fax/scan-era writers)
    rle_id = "pdfdoc-00033"
    payload = build_tiny_pdf(
        rle_id, [["21. RLE era", "Run-length coded body."]],
        compress="rle")
    with open(os.path.join(pdir, f"{rle_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == rle_id
    rows.append((rle_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # tagged PDF (§14.6 marked content): BDC property lists carry
    # /ActualText STRINGS that are operands, not shows — the
    # accessibility shape modern office writers emit by default
    tg_id = "pdfdoc-00034"
    payload = build_tiny_pdf(
        tg_id, [["22. Tagged era", "Accessible body line."]],
        compress=True, tagged=True)
    with open(os.path.join(pdir, f"{tg_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == tg_id
    assert [s["text"] for s in decoded["spans"] if s["kind"] == "TextBox"] \
        == ["22. Tagged era", "Accessible body line."]
    rows.append((tg_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # real font metrics: /FirstChar + /Widths drive the show advance
    # (pdfminer's real-metrics path) instead of the GLYPH_W model
    wd_id = "pdfdoc-00035"
    payload = build_tiny_pdf(
        wd_id, [["23. Metric era", "Declared-widths body."]],
        compress=True,
        widths=(32, [278.0 + (i % 13) * 40 for i in range(95)]))
    with open(os.path.join(pdir, f"{wd_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == wd_id
    rows.append((wd_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # combined encrypted-1.5 shape: RC4-128 + object stream + xref
    # STREAM — what an owner-locked modern writer emits. Pins the
    # §7.6.2 ordering end-to-end: decrypt top-level streams (the
    # ObjStm among them) BEFORE expansion, never re-decrypt the
    # packed plaintext, never touch the /Type /XRef stream, and read
    # /Encrypt + /ID from the xref-stream dict (no trailer exists)
    e15_id = "pdfdoc-00036"
    payload = build_tiny_pdf_15(
        e15_id, [["24. Locked modern", "Encrypted ObjStm body."],
                 ["Tail page."]],
        outlines=[("24. Locked modern", [])], encrypt="rc4-128")
    with open(os.path.join(pdir, f"{e15_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == e15_id
    assert "Encrypted ObjStm body." in [s["text"] for s in decoded["spans"]]
    rows.append((e15_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    # Type3 glyph-proc font (§9.6.5, the TeX/dvi-writer shape):
    # codes are arbitrary /CharProcs indices decoded ONLY through
    # /Encoding /Differences, widths in /FontMatrix glyph space
    # (pdfminer PDFType3Font a+c scale, not /1000)
    t3_id = "pdfdoc-00037"
    payload = build_tiny_pdf(
        t3_id, [["25. Glyph-proc era", "Type3 metafont body."]],
        compress=True, encoding="type3")
    with open(os.path.join(pdir, f"{t3_id}.pdf"), "wb") as fh:
        fh.write(payload)
    decoded = decode_tiny_pdf(payload)
    assert decoded["doc_id"] == t3_id
    assert "Type3 metafont body." in [
        s["text"] for s in decoded["spans"]]
    rows.append((t3_id, "ok", len(decoded["spans"]), len(payload),
                 geom_digest(decoded["spans"])))
    aes = build_tiny_pdf("encrypted_aes", [["secret body"]],
                         encrypt="aes256-r5")
    with open(os.path.join(pdir, "encrypted_aes.pdf"), "wb") as fh:
        fh.write(aes)
    rows.append(("encrypted_aes", "decode_error", 0, len(aes), ""))
    # dangling /Encrypt ref: still ciphertext by declaration, and the
    # handler dict is unresolvable -> quarantine (wrong-parse guard)
    enc = build_tiny_pdf("encrypted_pdf", [["secret body"]]).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R")
    with open(os.path.join(pdir, "encrypted_pdf.pdf"), "wb") as fh:
        fh.write(enc)
    rows.append(("encrypted_pdf", "decode_error", 0, len(enc), ""))
    corrupt = b"%PDF-1.4\nno objects here, just noise\n%%EOF\n"
    with open(os.path.join(pdir, "corrupt_pdf.pdf"), "wb") as fh:
        fh.write(corrupt)
    rows.append(("corrupt_pdf", "decode_error", 0, len(corrupt), ""))
    tbl = _pa.table(
        {"doc_id": _pa.array([r[0] for r in rows], _pa.string()),
         "status": _pa.array([r[1] for r in rows], _pa.string()),
         "n_spans": _pa.array([r[2] for r in rows], _pa.int32()),
         "bytes_len": _pa.array([r[3] for r in rows], _pa.int64()),
         "geom_digest": _pa.array([r[4] for r in rows], _pa.string())}
    )
    _pq.write_table(tbl, os.path.join(out_dir, "payloads_pdf_expected.parquet"))


# --- reference-oracle materialization --------------------------------------

def _hf_local(doc) -> tuple[str, str]:
    """Local transliteration of the A1 header/footer dedup-concat fold
    (ref parse_util.py:417-442), byte-identical to the Spark operator
    and the DuckDB _HF_CTE (pinned by tests/test_extract_parity.py):
    margin tests against the page's PageStart y1, offset order,
    substring dedup, trailing-space concat."""
    page_y1 = {}
    for s in doc.spans:
        if s["kind"] == "PageStart":
            page_y1[s["page_id"]] = max(
                page_y1.get(s["page_id"], 0.0), s["y1"]
            )
    header, footer = "", ""
    for s in doc.spans:  # offset order
        if s["kind"] != "TextBox":
            continue
        txt = s["text"].replace("\n", "")
        py1 = page_y1.get(s["page_id"], 792.0)
        if py1 - s["y0"] <= 50.0:
            if txt not in header:
                header += txt + " "
        elif s["y0"] <= 20.0:
            if txt not in footer:
                footer += txt + " "
    return header, footer


def write_oracle_outputs(sf_name: str, out_dir: str,
                         docs=None) -> None:
    """Materialize the reference-transliteration oracle's outputs so
    the driver's DuckDB twin can read_parquet them: the extraction
    sections side-output (pdfspark/oracle.py, independent of fold.py)
    and the exact table fold (fold_tables_page run locally, no Spark).
    This gives the two exact-parity queries a real driver oracle
    instead of rows-only checks."""
    from pdfspark.operators.tables import fold_tables_page
    from pdfspark.oracle import oracle_extract

    # accept the caller's corpus (write_fixtures just generated it) —
    # regenerating 6k+ docs doubles fixture time and adds a second
    # place where seed drift could desynchronize oracle from input
    if docs is None:
        docs = generate_docs(sf_name)

    sec_rows = []
    tbl_rows = []
    for d in docs:
        h, f = _hf_local(d)
        res = oracle_extract(
            [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                  offset=s["offset"]) for s in d.spans],
            h, f)
        for i, sec in enumerate(res["sections"]):
            sec_rows.append(
                dict(doc_id=d.doc_id, section_id=i, heading=sec["heading"],
                     paragraphs="|".join(sec["paragraphs"]),
                     figures="|".join(sec["figures"]))
            )
        # exact table fold per page: TextBox geometry in reading order
        # (-y1, x1, offset), mirroring extract_tables_exact's input
        pages: dict[int, list[dict]] = {}
        for s in d.spans:
            if s["kind"] == "TextBox":
                pages.setdefault(s["page_id"], []).append(s)
        for pid in sorted(pages):
            boxes = sorted(
                pages[pid], key=lambda s: (-s["y1"], s["x1"], s["offset"])
            )
            for r in fold_tables_page(
                [dict(text=b["text"], x0=b["x0"], y0=b["y0"],
                      x1=b["x1"], y1=b["y1"]) for b in boxes],
                h, f,
            ):
                tbl_rows.append(
                    dict(doc_id=d.doc_id, page_id=pid,
                         table_id=r["table_id"], title=r["title"],
                         row_id=r["row_id"],
                         cells=None if r["cells"] is None
                         else "|".join(r["cells"]))
                )

    pq.write_table(
        pa.table(
            {"doc_id": pa.array([r["doc_id"] for r in sec_rows], pa.string()),
             "section_id": pa.array([r["section_id"] for r in sec_rows], pa.int32()),
             "heading": pa.array([r["heading"] for r in sec_rows], pa.string()),
             "paragraphs": pa.array([r["paragraphs"] for r in sec_rows], pa.string()),
             "figures": pa.array([r["figures"] for r in sec_rows], pa.string())}
        ),
        os.path.join(out_dir, "oracle_sections.parquet"),
    )
    pq.write_table(
        pa.table(
            {"doc_id": pa.array([r["doc_id"] for r in tbl_rows], pa.string()),
             "page_id": pa.array([r["page_id"] for r in tbl_rows], pa.int32()),
             "table_id": pa.array([r["table_id"] for r in tbl_rows], pa.int32()),
             "title": pa.array([r["title"] for r in tbl_rows], pa.string()),
             "row_id": pa.array([r["row_id"] for r in tbl_rows], pa.int32()),
             "cells": pa.array([r["cells"] for r in tbl_rows], pa.string())}
        ),
        os.path.join(out_dir, "oracle_tables_exact.parquet"),
    )


# --- J2 elements fixture ---------------------------------------------------
#
# Unstructured-API-shaped element stream (ref src/utilities/parse_util.py
# :188-205): NarrativeText titles keyed by metadata.parent_id (falling
# back to their own element_id), probed by each Table via its parent_id
# then its own element_id, with consume-once `del` semantics. Trap mix
# per document:
#   - parent match   : title and table share a container parent
#   - element match  : caption's parent_id IS the table's element_id
#   - consume-once   : two tables share one titled container -> only the
#                      first (document order) gets the title
#   - dict overwrite : two titles on one key -> LAST write wins
#   - unmatched      : table with an untitled container -> ''
#   - stray title    : NarrativeText with no parent (keyed by its own
#                      element_id, matches nothing)
# plus Header/Footer noise elements that both sides ignore.

def gen_elements(doc_id: str, rng) -> list[dict]:
    rows: list[dict] = []

    def add(etype, text=None, parent_id=None):
        eid = f"{doc_id}-e{len(rows):03d}"
        rows.append(dict(doc_id=doc_id, ord=len(rows), element_id=eid,
                         etype=etype, text=text, parent_id=parent_id))
        return eid

    add("Header", text="running header")
    # parent match
    c1 = f"{doc_id}-c1"
    add("NarrativeText", text=f"Table 1: {_para(rng, 3)}", parent_id=c1)
    add("Table", parent_id=c1)
    # element match: caption is a child of the table itself
    t_child = add("Table", parent_id=f"{doc_id}-c-untitled")
    add("NarrativeText", text=f"Table 2: {_para(rng, 3)}", parent_id=t_child)
    # consume-once: two tables under one titled container
    c2 = f"{doc_id}-c2"
    add("NarrativeText", text=f"Table 3: {_para(rng, 2)}", parent_id=c2)
    add("Table", parent_id=c2)
    add("Table", parent_id=c2)  # title already consumed -> ''
    # dict overwrite: second title on c3 wins
    c3 = f"{doc_id}-c3"
    add("NarrativeText", text="Table 9: stale first write", parent_id=c3)
    add("NarrativeText", text=f"Table 4: {_para(rng, 2)}", parent_id=c3)
    add("Table", parent_id=c3)
    # unmatched table
    add("Table", parent_id=f"{doc_id}-c4")
    # stray title with no parent: keyed by its own element_id
    add("NarrativeText", text="Orphan caption text")
    add("Footer", text="page footer")
    return rows


def write_elements(sf_name: str, out_dir: str) -> None:
    n_docs = max(20, SF_DOCS.get(sf_name, 600) // 3)
    rows: list[dict] = []
    for i in range(n_docs):
        doc_id = f"eldoc-{i:05d}"
        rng = random.Random(f"42|{sf_name}|elements|{doc_id}")
        rows.extend(gen_elements(doc_id, rng))
    tbl = pa.table(
        {"doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
         "ord": pa.array([r["ord"] for r in rows], pa.int32()),
         "element_id": pa.array([r["element_id"] for r in rows], pa.string()),
         "etype": pa.array([r["etype"] for r in rows], pa.string()),
         "text": pa.array([r["text"] for r in rows], pa.string()),
         "parent_id": pa.array([r["parent_id"] for r in rows], pa.string())}
    )
    pq.write_table(tbl, os.path.join(out_dir, "elements.parquet"),
                   row_group_size=2000)


KEYWORDS = [
    ("risk", "Summarize how risk is characterized."),
    ("governance", "Explain the governance controls described."),
    ("framework", "Describe the framework structure."),
    ("model", "List model lifecycle considerations."),
    ("data", "Summarize data handling requirements."),
    ("spark", "Explain distributed execution notes."),
    ("window", "Describe windowing semantics used."),
    ("vector", "Summarize vector retrieval usage."),
]

TESTDATA_ROOT = "/root/testdata"


def write_aux_fixtures(sf_name: str, out_dir: str) -> None:
    """Augmented tables for the training-data-pipeline operators.

    - documents_aug: every 25th testdata document re-emitted with its
      first two words edited (doc_id + 1_000_000) => known near-dups
      for MinHash/SimHash/Jaccard.
    - embeddings_aug: every 25th vector with small deterministic
      noise (vec_id + 1_000_000) => known high-cosine neighbors.
    - keywords: the (keyword, llm_prompt) dimension (reference
      Neo4j Keyword nodes, src/data/graph_db.py:52-77).
    Inputs are read-only testdata parquet; outputs are deterministic.
    """
    os.makedirs(out_dir, exist_ok=True)
    td = os.path.join(TESTDATA_ROOT, sf_name)

    docs = pq.read_table(os.path.join(td, "documents.parquet"))
    d = docs.to_pylist()
    aug = []
    for row in d[::25]:
        words = row["text"].split(" ")
        words[0] = "dupmark"
        if len(words) > 1:
            words[1] = "dupmark2"
        t = " ".join(words)
        aug.append(
            dict(doc_id=row["doc_id"] + 1_000_000, text=t, lang=row["lang"],
                 source=row["source"], n_chars=len(t))
        )
    for row in d[::50]:  # exact copies for the exact-dedup pass
        aug.append(
            dict(doc_id=row["doc_id"] + 2_000_000, text=row["text"],
                 lang=row["lang"], source=row["source"],
                 n_chars=row["n_chars"])
        )
    pq.write_table(
        pa.Table.from_pylist(aug, schema=docs.schema),
        os.path.join(out_dir, "documents_aug.parquet"),
    )

    emb = pq.read_table(os.path.join(td, "embeddings.parquet"))
    e = emb.to_pylist()
    aug_e = []
    for row in e[::25]:
        rng = random.Random(f"42|emb|{row['vec_id']}")
        vec = [v + rng.uniform(-0.01, 0.01) for v in row["embedding"]]
        aug_e.append(
            dict(vec_id=row["vec_id"] + 1_000_000, embedding=vec,
                 label=row["label"])
        )
    pq.write_table(
        pa.Table.from_pylist(aug_e, schema=emb.schema),
        os.path.join(out_dir, "embeddings_aug.parquet"),
    )

    kw = pa.table(
        {"keyword": pa.array([k for k, _ in KEYWORDS], pa.string()),
         "llm_prompt": pa.array([p for _, p in KEYWORDS], pa.string())}
    )
    pq.write_table(kw, os.path.join(out_dir, "keywords.parquet"))

    # S6 lines-file source fixture (ref file_util.py:20-44): leading/
    # trailing blanks + empty lines; no quotes/commas (CSV-oracle safe)
    lines = ["  heading one", "plain line", "", "   ", "trailing spaces   ",
             "last line"]
    with open(os.path.join(out_dir, "lines.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    # S7 JSON source fixture (ref file_util.py:177-194): one object per
    # line with the document-JSON shape's scalar fields
    import json as _json

    with open(os.path.join(out_dir, "meta.jsonl"), "w") as fh:
        for i, (k, p) in enumerate(KEYWORDS):
            fh.write(_json.dumps({"id": i, "name": k, "note": p}) + "\n")

    # X19 HTML-table snippets (ref parse_util.py:58-115): well-formed,
    # arity-mismatch, no-h1, whitespace, header-only-by-position, and a
    # tableless passthrough. Single-line so the regex oracle holds.
    snippets = [
        (0, "<h1>Revenue Table</h1><table><tr><th>year</th><th>amount</th>"
            "</tr><tr><td>2023</td><td>10</td></tr>"
            "<tr><td>2024</td><td>12</td></tr></table>"),
        (1, "<h1>Mismatch</h1><table><tr><th>a</th><th>b</th><th>c</th></tr>"
            "<tr><td>1</td><td>2</td></tr>"
            "<tr><td>3</td><td>4</td><td>5</td></tr></table>"),
        (2, "<table><tr><th>k</th></tr><tr><td>v1</td></tr>"
            "<tr><td>v2</td></tr></table>"),
        (3, "<h1>  Spaced  </h1><table><tr><th> col 1 </th><th> col 2 </th>"
            "</tr><tr><td> x </td><td> y </td></tr></table>"),
        (4, "<h1>No Table Here</h1><p>prose only</p>"),
        (5, "<table><tr><td>r1c1</td><td>r1c2</td></tr>"
            "<tr><td>r2c1</td><td>r2c2</td></tr></table>"),
    ]
    pq.write_table(
        pa.table(
            {"doc_id": pa.array([d for d, _ in snippets], pa.int64()),
             "html": pa.array([h for _, h in snippets], pa.string())}
        ),
        os.path.join(out_dir, "html_snippets.parquet"),
    )

    write_html_pages(out_dir)

    # S15/A9 directory-collation fixture (ref file_util.py:160-170 +
    # pdf_test_parse.py:238-303): per-file table fragments whose
    # filenames sort differently under lexical vs natural order
    # (table_10 between table_1 and table_2 lexically), and whose
    # continued fragments carry no label (fill-down target). THREE
    # hive-style batch directories: the label fill-down window is
    # partitioned per batch (one collation run = one output dir in the
    # reference), and batch b2 starts with unlabeled fragments — a
    # global (unpartitioned) window would wrongly inherit b1's last
    # label there, so the fixture detects the scale-killer regression.
    coll = os.path.join(out_dir, "collate")
    os.makedirs(coll, exist_ok=True)
    batches = {
        "b1": {
            "table_1.json": [
                {"seq": 0, "title": "Table 1: Alpha", "cells": "a1|a2"},
                {"seq": 1, "title": None, "cells": "a3|a4"},
            ],
            "table_2.json": [
                {"seq": 0, "title": None, "cells": "a5|a6"},
                {"seq": 1, "title": "Table 2: Beta", "cells": "b1|b2"},
            ],
            "table_10.json": [
                {"seq": 0, "title": None, "cells": "b3|b4"},
                {"seq": 1, "title": "Table 3: Gamma", "cells": "c1|c2"},
            ],
        },
        "b2": {
            "table_1.json": [
                {"seq": 0, "title": None, "cells": "n1|n2"},  # no label yet
                {"seq": 1, "title": "Table 4: Delta", "cells": "d1|d2"},
            ],
            "table_2.json": [
                {"seq": 0, "title": None, "cells": "d3|d4"},
            ],
        },
        "b3": {
            "table_1.json": [
                {"seq": 0, "title": "Table 1: Alpha", "cells": "z1|z2"},
                {"seq": 1, "title": None, "cells": "z3|z4"},
            ],
            "table_10.json": [
                {"seq": 0, "title": "Table 5: Epsilon", "cells": "e1|e2"},
            ],
        },
    }
    for bname, frags in batches.items():
        bdir = os.path.join(coll, f"batch={bname}")
        os.makedirs(bdir, exist_ok=True)
        for fname, rows in frags.items():
            with open(os.path.join(bdir, fname), "w") as fh:
                for r in rows:
                    fh.write(_json.dumps(r) + "\n")


_HTML_WORDS = (
    "the data model reads documents pipeline spark engine table quality "
    "language section text block page extract content words measure scale "
    "shuffle partition join window batch stream corpus clean signal noise "
    "sample order result value column row feature filter source sink span"
).split()


def _html_sentence(rng, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    words = [rng.choice(_HTML_WORDS) for _ in range(n)]
    return (" ".join(words)).capitalize() + "."


def _html_links(rng, n: int) -> str:
    return " ".join(
        f'<a href="/{rng.choice(_HTML_WORDS)}{i}">'
        f"{rng.choice(_HTML_WORDS).capitalize()}"
        f"{' ' + rng.choice(_HTML_WORDS) if rng.random() < 0.4 else ''}</a>"
        for i in range(n)
    )


def write_html_pages(out_dir: str) -> None:
    """Main-content fixture for the north rule's HTML boilerplate
    strip: deterministic article-shaped pages (header/nav chrome,
    breadcrumbs, an article of long and short paragraphs, related-link
    asides, comments, footer) plus degenerate shapes — a link farm, an
    empty body, bare prose with no wrappers, script/style noise,
    misnested and implied-close markup, entity references. The
    expected classification sidecar (html_main_expected.parquet) is
    the domseg kernel run Spark-free over the same pages — the
    xycut-sidecar oracle pattern pinning the mapInPandas plumbing."""
    from pdfspark.functions.domseg import extract_blocks

    pages: list[tuple[int, str]] = []

    # 0: link farm — every block is anchors, nothing survives
    rng = random.Random("42|htmlpage|farm")
    pages.append((0, "<body><div class='links'>" + _html_links(rng, 18)
                  + "</div><ul>" + "".join(
                      f"<li>{_html_links(rng, 1)}</li>" for _ in range(6))
                  + "</ul></body>"))
    # 1: empty body (zero blocks)
    pages.append((1, "<html><head><title>t</title></head><body>"
                  "<script>var x=1;</script>   </body></html>"))
    # 2: bare prose, no semantic wrappers
    rng = random.Random("42|htmlpage|bare")
    pages.append((2, "<p>" + _html_sentence(rng, 30, 40) + "</p><p>"
                  + _html_sentence(rng, 20, 30) + "</p>"))
    # 3: script/style/noscript noise interleaved with content
    rng = random.Random("42|htmlpage|noise")
    pages.append((3, "<body><style>p{color:red}</style><p>"
                  + _html_sentence(rng, 25, 35)
                  + "</p><script>if(a&&b){run()}</script><noscript>enable js"
                  "</noscript><p>" + _html_sentence(rng, 18, 24)
                  + "</p></body>"))
    # 4: misnested + implied-close <p> runs + entities
    rng = random.Random("42|htmlpage|misnest")
    pages.append((4, "<div><b><i>" + _html_sentence(rng, 20, 26)
                  + "</b></i><p>" + _html_sentence(rng, 17, 22)
                  + "<p>R&amp;D &gt; ops " + _html_sentence(rng, 14, 18)
                  + "</div>"))
    # 5..29: article-shaped pages
    for i in range(5, 30):
        rng = random.Random(f"42|htmlpage|{i}")
        parts = ["<html><body>"]
        parts.append(
            "<header class='site-header'><h1>Portal "
            f"{rng.choice(_HTML_WORDS).capitalize()}</h1><nav>"
            + _html_links(rng, rng.randint(3, 6)) + "</nav></header>"
        )
        if rng.random() < 0.5:
            parts.append("<div class='breadcrumbs'>"
                         + _html_links(rng, 2) + "</div>")
        parts.append("<article><h1>"
                     + _html_sentence(rng, 3, 8)[:-1] + "</h1>")
        for _ in range(rng.randint(3, 7)):
            if rng.random() < 0.25:
                parts.append("<p>" + _html_sentence(rng, 3, 8) + "</p>")
            else:
                parts.append("<p>" + _html_sentence(rng, 14, 60) + "</p>")
        if rng.random() < 0.3:
            parts.append("<blockquote>" + _html_sentence(rng, 10, 20)
                         + "</blockquote>")
        if rng.random() < 0.3:
            parts.append("<ul>" + "".join(
                "<li>" + _html_sentence(rng, 5, 12) + "</li>"
                for _ in range(rng.randint(2, 4))) + "</ul>")
        parts.append("</article>")
        parts.append("<aside class='related'><h3>Related</h3><ul>"
                     + "".join(f"<li>{_html_links(rng, 1)}</li>"
                               for _ in range(rng.randint(2, 4)))
                     + "</ul></aside>")
        if rng.random() < 0.4:
            parts.append("<div class='comments'>" + "".join(
                "<p>" + _html_sentence(rng, 3, 12) + "</p>"
                for _ in range(rng.randint(1, 4))) + "</div>")
        parts.append("<footer><p>Copyright 2026 Example Corp. "
                     + _html_links(rng, 2) + "</p></footer></body></html>")
        pages.append((i, "".join(parts)))

    pq.write_table(
        pa.table(
            {"doc_id": pa.array([d for d, _ in pages], pa.int64()),
             "html": pa.array([h for _, h in pages], pa.string())}
        ),
        os.path.join(out_dir, "html_pages.parquet"),
    )

    exp = {k: [] for k in ("doc_id", "block_id", "tag", "n_words",
                           "n_link_words", "link_density", "dom_boiler",
                           "is_content", "text")}
    for doc_id, html in pages:
        for b in extract_blocks(html):
            exp["doc_id"].append(doc_id)
            exp["block_id"].append(b.block_id)
            exp["tag"].append(b.tag)
            exp["n_words"].append(b.n_words)
            exp["n_link_words"].append(b.n_link_words)
            exp["link_density"].append(b.link_density)
            exp["dom_boiler"].append(b.dom_boiler)
            exp["is_content"].append(b.is_content)
            exp["text"].append(b.text)
    pq.write_table(
        pa.table(
            {"doc_id": pa.array(exp["doc_id"], pa.int64()),
             "block_id": pa.array(exp["block_id"], pa.int32()),
             "tag": pa.array(exp["tag"], pa.string()),
             "n_words": pa.array(exp["n_words"], pa.int32()),
             "n_link_words": pa.array(exp["n_link_words"], pa.int32()),
             "link_density": pa.array(exp["link_density"], pa.float64()),
             "dom_boiler": pa.array(exp["dom_boiler"], pa.bool_()),
             "is_content": pa.array(exp["is_content"], pa.bool_()),
             "text": pa.array(exp["text"], pa.string())}
        ),
        os.path.join(out_dir, "html_main_expected.parquet"),
    )


FIXTURE_ROOT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures")

# bump whenever any generator above changes shape/content so stale
# on-disk fixtures are regenerated instead of silently reused
FIXTURE_VERSION = 33  # 33: toc-mismatch doc (W3 conditional rewrite seam)


def ensure_fixtures(sf_name: str, root: str = FIXTURE_ROOT) -> str:
    """Idempotently materialize fixtures for one scale factor;
    returns the directory. A VERSION marker invalidates fixtures
    written by older generators."""
    import shutil

    out = os.path.join(root, sf_name)
    vfile = os.path.join(out, "VERSION")
    current = None
    if os.path.exists(vfile):
        with open(vfile) as fh:
            current = fh.read().strip()
    if current != str(FIXTURE_VERSION) and os.path.isdir(out):
        shutil.rmtree(out)
    if not os.path.exists(os.path.join(out, "spans_geom.parquet")):
        write_fixtures(sf_name, out)
    if not os.path.isdir(
        os.path.join(out, "collate")
    ) and os.path.isdir(
        os.path.join(TESTDATA_ROOT, sf_name)
    ):
        write_aux_fixtures(sf_name, out)
    with open(vfile, "w") as fh:
        fh.write(str(FIXTURE_VERSION))
    return out


if __name__ == "__main__":
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        print(sf, "->", ensure_fixtures(sf))
