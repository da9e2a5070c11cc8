"""The S1 decode seam run on REAL `%PDF` byte payloads (stdlib mini
codec, pdfspark/sources/pdf_mini.py) — generator/decoder round trip,
escape handling, quarantine, and the distributed binaryFile plumbing.
"""

import os
import re

import pytest

from pdfspark.sources.pdf_mini import (
    build_tiny_pdf,
    decode_tiny_pdf,
)


def test_pdf_round_trip_two_pages():
    pdf = build_tiny_pdf("doc-1", [["1. Intro", "Body line."],
                                   ["2. Methods"]])
    assert pdf.startswith(b"%PDF-1.4")
    out = decode_tiny_pdf(pdf)
    assert out["doc_id"] == "doc-1"
    assert [(s["kind"], s["text"]) for s in out["spans"]] == [
        ("PageStart", ""),
        ("TextBox", "1. Intro"),
        ("TextBox", "Body line."),
        ("PageStart", ""),
        ("TextBox", "2. Methods"),
    ]
    assert [s["offset"] for s in out["spans"]] == [0, 1, 2, 3, 4]


def test_pdf_string_escapes_round_trip():
    lines = ["with (parens) kept", "back\\slash", "tab\tand newline"]
    out = decode_tiny_pdf(build_tiny_pdf("esc", [lines]))
    got = [s["text"] for s in out["spans"] if s["kind"] == "TextBox"]
    # \t survives; \n inside a line was written as a literal escape
    assert got[0] == "with (parens) kept"
    assert got[1] == "back\\slash"
    assert got[2] == "tab\tand newline"


def test_pdf_tj_array_and_octal():
    """Hand-built content stream: TJ array concatenation and octal
    escapes (features a generator round trip alone would not hit)."""
    pdf = build_tiny_pdf("tj", [["placeholder"]])
    raw = pdf.replace(b"(placeholder) Tj",
                      b"[(Hel) -20 (lo\\040world)] TJ")
    out = decode_tiny_pdf(raw)
    texts = [s["text"] for s in out["spans"] if s["kind"] == "TextBox"]
    assert texts == ["Hello world"]


def test_pdf_non_octal_digit_escape_is_not_an_error():
    """Per spec a backslash before a non-special char is dropped:
    `\\8` yields '8', it must not quarantine the document."""
    pdf = build_tiny_pdf("oct", [["placeholder"]])
    raw = pdf.replace(b"(placeholder) Tj", b"(a\\8b \\9 \\101) Tj")
    out = decode_tiny_pdf(raw)
    texts = [s["text"] for s in out["spans"] if s["kind"] == "TextBox"]
    assert texts == ["a8b 9 A"]  # \101 octal = 'A'


def test_pdf_flate_round_trip_matches_uncompressed():
    """/Filter /FlateDecode content streams (the real-world default)
    decode to the exact same span sequence as the uncompressed form."""
    pages = [["1. Intro", "Body with (parens)."], ["2. More"]]
    plain = decode_tiny_pdf(build_tiny_pdf("zdoc", pages))
    comp_pdf = build_tiny_pdf("zdoc", pages, compress=True)
    assert b"/FlateDecode" in comp_pdf
    assert b"1. Intro" not in comp_pdf  # text genuinely compressed
    assert decode_tiny_pdf(comp_pdf) == plain


def test_pdf_flate_one_element_filter_array():
    """`/Filter [/FlateDecode]` (single-element array form) is legal
    and must decode identically to the name form."""
    pdf = build_tiny_pdf("zarr", [["line one"]], compress=True)
    arr = pdf.replace(b"/Filter /FlateDecode", b"/Filter [/FlateDecode]")
    # /Length stays valid: only the dict text changed, not the stream
    out = decode_tiny_pdf(arr)
    texts = [s["text"] for s in out["spans"] if s["kind"] == "TextBox"]
    assert texts == ["line one"]


def test_pdf_unsupported_filter_quarantines():
    pdf = build_tiny_pdf("zbad", [["x"]], compress=True)
    chain = pdf.replace(b"/Filter /FlateDecode",
                        b"/Filter [/DCTDecode /FlateDecode]")
    with pytest.raises(ValueError, match="unsupported stream filter"):
        decode_tiny_pdf(chain)


@pytest.mark.parametrize("spec", ["flate", "lzw", "a85", "ahx+flate"])
def test_pdf_filter_specs_round_trip(spec):
    """Every supported content-stream filter (and the ASCIIHex+Flate
    chain) decodes to the exact same span sequence as the
    uncompressed form."""
    pages = [["1. Intro", "Body with (parens)."], ["2. More"]]
    plain = decode_tiny_pdf(build_tiny_pdf("fdoc", pages))
    pdf = build_tiny_pdf("fdoc", pages, compress=spec)
    assert b"1. Intro" not in pdf  # text genuinely encoded
    assert decode_tiny_pdf(pdf) == plain


def test_pdf_lzw_spec_vector_and_width_boundary():
    """Decoder against a hand-simulated code sequence (TIFF early
    change), encoder emitting exactly those codes, and a round trip
    across the 9->10 bit width boundary (>511 table entries)."""
    from pdfspark.sources.pdf_mini import _lzw_decode, _lzw_encode

    def pack(codes):
        buf = bits = 0
        out = bytearray()
        for c in codes:
            buf = (buf << 9) | c
            bits += 9
            while bits >= 8:
                bits -= 8
                out.append((buf >> bits) & 0xFF)
                buf &= (1 << bits) - 1
        if bits:
            out.append((buf << (8 - bits)) & 0xFF)
        return bytes(out)

    codes = [256, 45, 258, 258, 65, 259, 66, 257]
    data = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    assert _lzw_decode(pack(codes)) == data
    assert _lzw_encode(data) == pack(codes)
    big = bytes((i * 7 + j) % 256 for i in range(200) for j in range(50))
    assert _lzw_decode(_lzw_encode(big)) == big


def test_pdf_hex_strings_round_trip():
    """Hex text-show operands: `<...> Tj` via the builder flag, hex
    elements inside TJ arrays, whitespace tolerance, and the
    odd-final-digit zero pad (PDF 7.3.4.3)."""
    pages = [["1. Intro", "Body text."], ["2. More"]]
    plain = decode_tiny_pdf(build_tiny_pdf("hx", pages))
    pdf = build_tiny_pdf("hx", pages, hex_show=True)
    assert b"> Tj" in pdf and b"(1. Intro)" not in pdf
    assert decode_tiny_pdf(pdf) == plain
    raw = build_tiny_pdf("tj", [["placeholder"]]).replace(
        b"(placeholder) Tj", b"[(He) <6c 6C> (o) -20 <2>] TJ")
    texts = [s["text"] for s in decode_tiny_pdf(raw)["spans"]
             if s["kind"] == "TextBox"]
    assert texts == ["Hello "]  # <2> pads to 0x20 = space


def test_pdf_image_xobjects_emit_media_ref_spans():
    """Embedded image XObjects painted with /ImN Do decode to
    kind='Image' spans with deterministic media_refs, interleaved
    with the text blocks in stream order — the reference's
    embedded-image -> media_ref span mapping."""
    pages = [["1. Intro", "Body."], ["2. More"]]
    out = decode_tiny_pdf(build_tiny_pdf("mdoc", pages, images=[1, 2]))
    got = [(s["kind"], s["media_ref"]) for s in out["spans"]]
    assert [k for k, _r in got] == [
        "PageStart", "TextBox", "TextBox", "Image",
        "PageStart", "TextBox", "Image", "Image",
    ]
    refs = [r for k, r in got if k == "Image"]
    assert all(r.startswith("xobj://") for r in refs)
    assert len(set(refs)) == 3  # distinct objects -> distinct refs
    assert [s["offset"] for s in out["spans"]] == list(range(8))
    # compressed content streams carry the same interleaving
    z = decode_tiny_pdf(
        build_tiny_pdf("mdoc", pages, compress=True, images=[1, 2]))
    assert [(s["kind"], s["media_ref"]) for s in z["spans"]] == got
    # text-only documents keep media_ref NULL everywhere
    plain = decode_tiny_pdf(build_tiny_pdf("p", pages))
    assert all(s["media_ref"] is None for s in plain["spans"])


def test_pdf_bad_xobject_paints_quarantine():
    """A Do naming a missing XObject, or one of a subtype we don't
    render (e.g. /PS), must quarantine — skipping it would silently
    drop content."""
    bad = build_tiny_pdf("b", [["x"]], images=[1]).replace(
        b"/Im1 Do", b"/Im9 Do")
    with pytest.raises(ValueError, match="unresolvable XObject"):
        decode_tiny_pdf(bad)
    ps = build_tiny_pdf("f", [["x"]], images=[1]).replace(
        b"/Subtype /Image", b"/Subtype /PSxxx")  # same byte length
    with pytest.raises(ValueError, match="unsupported XObject subtype"):
        decode_tiny_pdf(ps)


def test_pdf_form_xobjects_recurse():
    """A Form XObject painted before each page's text (the running-
    header shape real writers emit) decodes by recursing into the
    form's content stream: its text spans appear at the paint site,
    ahead of the page text, every page — matching pdfminer's
    render_contents nesting."""
    pages = [["1. Intro", "Body."], ["2. More"]]
    out = decode_tiny_pdf(build_tiny_pdf(
        "fdoc", pages, images=[0, 1], form_header="HDR Corp"))
    got = [(s["kind"], s["text"]) for s in out["spans"]]
    assert got == [
        ("PageStart", ""), ("TextBox", "HDR Corp"),
        ("TextBox", "1. Intro"), ("TextBox", "Body."),
        ("PageStart", ""), ("TextBox", "HDR Corp"),
        ("TextBox", "2. More"), ("Image", ""),
    ]
    assert [s["offset"] for s in out["spans"]] == list(range(8))
    # compressed page streams carry the same recursion (the form's own
    # stream is uncompressed; the page stream referencing it is not)
    z = decode_tiny_pdf(build_tiny_pdf(
        "fdoc", pages, compress=True, images=[0, 1],
        form_header="HDR Corp"))
    assert [(s["kind"], s["text"]) for s in z["spans"]] == got


def test_pdf_form_cycle_quarantines():
    """A form that paints itself (resolvable through the inherited
    page /XObject map) must quarantine via the active-set guard, not
    recurse forever."""
    pdf = build_tiny_pdf("c", [["x"]], form_header="H")
    old = b"BT /F1 10 Tf 72 770 Td (H) Tj ET"
    assert old in pdf
    new = b"q /Fm1 Do Q".ljust(len(old))
    with pytest.raises(ValueError, match="form XObject cycle"):
        decode_tiny_pdf(pdf.replace(old, new))


def test_pdf_encrypted_15_combined_shape_decodes():
    """RC4-128 + object stream + xref STREAM in one file — the
    owner-locked modern-writer combination. Pins the §7.6.2 ordering:
    the ObjStm stream is decrypted like any other top-level stream
    BEFORE expansion, the objects packed inside it (including the
    /Info title string) are plaintext that is never decrypted again,
    the /Type /XRef stream is never decrypted, and /Encrypt + /ID are
    read from the xref-stream dict (the file has no trailer). The
    decode must be span-identical to the unencrypted twin."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf_15

    pages = [["1. Sealed", "ObjStm ciphertext body."], ["Tail."]]
    outlines = [("1. Sealed", [])]
    enc = build_tiny_pdf_15("e15", pages, outlines=outlines,
                            encrypt="rc4-128")
    plain = build_tiny_pdf_15("e15", pages, outlines=outlines)
    assert enc != plain  # really ciphertext on disk
    assert b"ObjStm ciphertext body." not in enc
    d = decode_tiny_pdf(enc)
    assert d["doc_id"] == "e15"  # ObjStm-resident /Info string
    assert d["spans"] == decode_tiny_pdf(plain)["spans"]
    # a tampered /U must quarantine (password check), not mis-decrypt
    um = re.search(rb"/U <([0-9a-fA-F]+)>", enc)
    bad = enc.replace(um.group(0),
                      b"/U <" + b"00" * (len(um.group(1)) // 2) + b">")
    with pytest.raises(ValueError, match="password protected"):
        decode_tiny_pdf(bad)


def test_pdf_encrypted_quarantines_both_trailer_forms():
    """/Encrypt means every string/stream is ciphertext: parsing on
    would emit garbage spans (a WRONG parse). Both the 1.4 trailer
    dict and the 1.5 xref-stream dict forms must quarantine."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf_15

    pages = [["secret line"]]
    enc = build_tiny_pdf("enc", pages).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R")
    with pytest.raises(ValueError, match="encrypted"):
        decode_tiny_pdf(enc)
    enc15 = build_tiny_pdf_15("enc15", pages).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R")
    with pytest.raises(ValueError, match="encrypted"):
        decode_tiny_pdf(enc15)


def test_pdf_indirect_filter_quarantines():
    """A /Filter whose value is an indirect reference can't be resolved
    by the dict regex; it must quarantine, not silently decode to a
    text-less page (the compressed text would be dropped)."""
    pdf = build_tiny_pdf("zind", [["hidden text"]], compress=True)
    ind = pdf.replace(b"/Filter /FlateDecode", b"/Filter 99 0 R")
    with pytest.raises(ValueError, match="unreadable stream filter"):
        decode_tiny_pdf(ind)


def test_pdf_indirect_length_not_prefix_matched():
    """Backtracking must not let '/Length 50 0 R' match a truncated
    '5' — the indirect form is rejected whole, multi-digit or not."""
    from pdfspark.sources.pdf_mini import _LENGTH_RE

    assert _LENGTH_RE.search(b"/Length 50 0 R") is None
    assert _LENGTH_RE.search(b"/Length 5 0 R") is None
    m = _LENGTH_RE.search(b"/Length 50")
    assert m is not None and m.group(1) == b"50"
    # an indirect /Length on a real PDF still decodes via the
    # endstream-scan fallback for uncompressed streams
    pdf = build_tiny_pdf("zlen", [["some line"]], compress=False)
    n = len(b"BT\n/F1 12 Tf\n72 720 Td\n(some line) Tj\n0 -14 Td\nET")
    ind = pdf.replace(b"<< /Length %d >>" % n, b"<< /Length 50 0 R >>")
    out = decode_tiny_pdf(ind)
    texts = [s["text"] for s in out["spans"] if s["kind"] == "TextBox"]
    assert texts == ["some line"]


def test_pdf_corrupt_deflate_quarantines():
    """Valid PDF skeleton, /FlateDecode filter, garbage stream bytes
    (same length, so /Length stays consistent) must quarantine."""
    pdf = build_tiny_pdf("zcorrupt", [["placeholder text here"]],
                         compress=True)
    with pytest.raises(ValueError):
        decode_tiny_pdf(_corrupt_stream(pdf))


def _corrupt_stream(pdf: bytes) -> bytes:
    """Flip bytes inside the (single) deflate stream, keeping length."""
    start = pdf.index(b"stream\n") + len(b"stream\n")
    end = pdf.index(b"\nendstream", start)
    body = bytes((b ^ 0xFF) for b in pdf[start:end])
    return pdf[:start] + body + pdf[end:]


def test_pdf_corrupt_quarantines():
    with pytest.raises(ValueError):
        decode_tiny_pdf(b"%PDF-1.4\nnoise only\n%%EOF\n")
    with pytest.raises(ValueError):
        decode_tiny_pdf(b"not a pdf at all")


def test_pdf_payloads_through_spark_seam(spark, tmp_path):
    """binaryFile scan -> Arrow-batch decode over a mixed dir of real
    PDFs, a JSON stand-in, and a corrupt PDF — statuses and span
    sequences must come out exactly."""
    from pdfspark.sources.binary_decode import decode_payloads, read_payloads

    d = str(tmp_path / "payloads")
    os.makedirs(d)
    with open(os.path.join(d, "a.pdf"), "wb") as fh:
        fh.write(build_tiny_pdf("pdf-a", [["1. Intro", "body"]]))
    with open(os.path.join(d, "b.bin"), "wb") as fh:
        fh.write(b'{"doc_id": "json-b", "spans": '
                 b'[{"kind": "TextBox", "text": "t", '
                 b'"media_ref": null, "offset": 0}]}')
    with open(os.path.join(d, "bad.pdf"), "wb") as fh:
        fh.write(b"%PDF-1.4\nbroken\n")
    rows = {r.doc_id: r for r in
            decode_payloads(read_payloads(spark, d)).collect()}
    assert rows["pdf-a"].status == "ok"
    assert [s.text for s in rows["pdf-a"].spans] == ["", "1. Intro", "body"]
    assert [s.kind for s in rows["pdf-a"].spans] == [
        "PageStart", "TextBox", "TextBox"]
    assert rows["json-b"].status == "ok"
    assert rows["bad"].status == "decode_error"
    assert list(rows["bad"].spans) == []


def test_pdf_line_continuation_drops_backslash_and_eol():
    """PDF 7.3.4.2: a reverse solidus at end-of-line is a line
    continuation — BOTH the backslash and the EOL marker are
    disregarded (the old decoder kept the newline, injecting a
    spurious line break into the span)."""
    pdf = build_tiny_pdf("cont", [["placeholder"]])
    raw = pdf.replace(b"(placeholder) Tj", b"(long \\\n text) Tj")
    out = decode_tiny_pdf(raw)
    texts = [s["text"] for s in out["spans"] if s["kind"] == "TextBox"]
    assert texts == ["long  text"]
    # \r\n and \r forms collapse identically
    raw = pdf.replace(b"(placeholder) Tj", b"(a\\\r\nb) Tj")
    assert [s["text"] for s in decode_tiny_pdf(raw)["spans"]
            if s["kind"] == "TextBox"] == ["ab"]
    raw = pdf.replace(b"(placeholder) Tj", b"(a\\\rb) Tj")
    assert [s["text"] for s in decode_tiny_pdf(raw)["spans"]
            if s["kind"] == "TextBox"] == ["ab"]


def test_pdf_title_resolved_via_trailer_info():
    """doc_id must come from the trailer's /Info object; a /Title in a
    LATER non-Info object (outline, annotation) must not override it
    (the old decoder took the last /Title anywhere)."""
    pdf = build_tiny_pdf("real-title", [["text line"]])
    # append an extra object carrying its own /Title after everything;
    # keep the original trailer (startxref tail is not parsed)
    extra = b"9 0 obj\n<< /Title (outline-imposter) >>\nendobj\n"
    raw = pdf.replace(b"trailer", extra + b"trailer")
    out = decode_tiny_pdf(raw)
    assert out["doc_id"] == "real-title"


def test_pdf15_xref_objstm_outline_round_trip():
    """PDF 1.5 structure end-to-end: every non-stream object lives in
    a compressed /ObjStm, the xref is a predictor-12 /XRef stream
    (no trailer keyword), and the /Outlines tree decodes to TOC spans
    in depth-first (children before next sibling) order — the
    reference's get_outlines order (pdf_extractor.py:40-72)."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf_15

    ol = [("1. Introduction", [("1.1 Scope", []), ("1.2 Terms", [])]),
          ("2. Methods", [])]
    pdf = build_tiny_pdf_15(
        "doc-15", [["1. Introduction", "Body (a) text."],
                   ["2. Methods", "More \\ text."]], outlines=ol)
    assert pdf.startswith(b"%PDF-1.5")
    assert b"trailer" not in pdf  # trailer fields live in the XRef dict
    assert b"/ObjStm" in pdf and b"/XRef" in pdf
    out = decode_tiny_pdf(pdf)
    assert out["doc_id"] == "doc-15"  # via XRef-dict /Info, NOT an
    # outline /Title (several exist and would mis-key the doc)
    assert [(s["kind"], s["text"]) for s in out["spans"]] == [
        ("TOC", "1. Introduction"), ("TOC", "1.1 Scope"),
        ("TOC", "1.2 Terms"), ("TOC", "2. Methods"),
        ("PageStart", ""),
        ("TextBox", "1. Introduction"), ("TextBox", "Body (a) text."),
        ("PageStart", ""),
        ("TextBox", "2. Methods"), ("TextBox", "More \\ text."),
    ]
    assert [s["offset"] for s in out["spans"]] == list(range(10))


def test_pdf15_no_outline_has_no_toc_spans():
    from pdfspark.sources.pdf_mini import build_tiny_pdf_15

    out = decode_tiny_pdf(build_tiny_pdf_15("plain", [["hello"]]))
    assert [s["kind"] for s in out["spans"]] == ["PageStart", "TextBox"]


def test_pdf15_damaged_xref_degrades_to_scan():
    """Corrupting the startxref pointer must not lose the document:
    the whole-file scan still finds the ObjStm (expanded as fallback)
    and the content streams; only the XRef-dict title path is gone,
    falling back to last-/Title."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf_15

    pdf = build_tiny_pdf_15("doc-dx", [["page text"]])
    broken = pdf.replace(b"startxref\n", b"startxref\n9999999\n%", 1)
    out = decode_tiny_pdf(broken)
    assert [s["kind"] for s in out["spans"]] == ["PageStart", "TextBox"]
    assert out["spans"][1]["text"] == "page text"


def test_png_unpredict_types():
    from pdfspark.sources.pdf_mini import _png_unpredict

    # Up rows reconstruct cumulative values
    data = bytes([2, 1, 2, 3]) + bytes([2, 1, 1, 1])
    assert _png_unpredict(data, 3) == bytes([1, 2, 3, 2, 3, 4])
    # Sub adds the left neighbour
    assert _png_unpredict(bytes([1, 5, 1, 1]), 3) == bytes([5, 6, 7])
    # unsupported row type quarantines (Average/Paeth are decoded
    # since round 5; 5+ is outside RFC 2083)
    with pytest.raises(ValueError):
        _png_unpredict(bytes([5, 0, 0, 0]), 3)
    with pytest.raises(ValueError):
        _png_unpredict(bytes([2, 0]), 3)  # bad geometry


def test_pdf15_unsupported_predictor_quarantines():
    from pdfspark.sources.pdf_mini import build_tiny_pdf_15

    pdf = build_tiny_pdf_15("doc-p", [["x"]])
    # TIFF predictor 2 is out of scope: the decode must refuse, not
    # silently mis-read the xref (degrading to scan is fine — assert
    # the xref parse itself raises)
    from pdfspark.sources import pdf_mini as PM

    body = pdf[pdf.rindex(b"/Type /XRef"):]
    with pytest.raises(ValueError):
        PM._filtered_stream(
            body.replace(b"/Predictor 12", b"/Predictor 2"))


def test_pdf_inline_images_mask_and_emit():
    """BI..ID..EI inline images emit Image spans at their paint site
    (deterministic inline:// refs keyed on decoded-stream offset),
    and their raw sample bytes — which deliberately spell ' BT ',
    ' Tj ', ' Do ' — must never parse as content. Same interleaving
    under compressed page streams."""
    pages = [["Intro line", "Body."], ["Second page."]]
    out = decode_tiny_pdf(build_tiny_pdf(
        "idoc", pages, images=[1, 0], inline_images=[2, 1],
        form_header="HDR"))
    got = [(s["kind"], s["text"]) for s in out["spans"]]
    assert got == [
        ("PageStart", ""), ("TextBox", "HDR"),
        ("TextBox", "Intro line"), ("TextBox", "Body."),
        ("Image", ""), ("Image", ""), ("Image", ""),
        ("PageStart", ""), ("TextBox", "HDR"),
        ("TextBox", "Second page."), ("Image", ""),
    ]
    assert not any("fake text" in t for _k, t in got)
    refs = [s["media_ref"] for s in out["spans"] if s["kind"] == "Image"]
    assert sum(r.startswith("inline://") for r in refs) == 3
    assert sum(r.startswith("xobj://") for r in refs) == 1
    z = decode_tiny_pdf(build_tiny_pdf(
        "idoc", pages, compress=True, images=[1, 0],
        inline_images=[2, 1], form_header="HDR"))
    assert [(s["kind"], s["media_ref"]) for s in z["spans"]] == [
        (s["kind"], s["media_ref"]) for s in out["spans"]]


def test_pdf_nested_page_tree_and_contents_arrays():
    """Nested /Pages trees (pages under an intermediate node) and
    /Contents ARRAYS (a page's operators split across two streams,
    with the BT..ET pair straddling the stream boundary) decode to
    exactly the flat single-stream form's spans; a page-tree cycle
    quarantines."""
    from pdfspark.sources.pdf_mini import build_nested_pdf

    pages = [["1. Intro", "Body line."], ["2. Methods", "More."],
             ["3. End"]]
    flat = decode_tiny_pdf(build_tiny_pdf("ndoc", pages))
    nested_pdf = build_nested_pdf("ndoc", pages)
    assert b"/Contents [" in nested_pdf
    assert decode_tiny_pdf(nested_pdf) == flat

    # cycle: intermediate node 3 lists the root 2 as one of its kids
    cyc = nested_pdf.replace(
        b"<< /Type /Pages /Kids [3 0 R] /Count 3 >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 3 >>").replace(
        b"/Parent 2 0 R /Kids [4 0 R 5 0 R 6 0 R]",
        b"/Parent 2 0 R /Kids [2 0 R 5 0 R 6 0 R]")
    with pytest.raises(ValueError, match="page tree cycle"):
        decode_tiny_pdf(cyc)


def test_pdf_quote_show_operators_and_guard():
    """The move-and-show operators ' and " (older word-processor
    writers emit one per line) decode to exactly the Tj form's spans,
    in both literal and hex operand forms; a string operand of an
    operator the codec does NOT understand (an exotic show, a BDC
    property list carrying /ActualText) quarantines instead of
    silently dropping text."""
    pages = [["1. Intro", "Body line.", "More body."], ["2. End"]]
    base = decode_tiny_pdf(build_tiny_pdf("qdoc", pages))
    quoted = build_tiny_pdf("qdoc", pages, quote_show=True)
    assert b") '" in quoted and b') "' in quoted
    assert decode_tiny_pdf(quoted) == base
    hexq = build_tiny_pdf("qdoc", pages, hex_show=True, quote_show=True)
    assert b"> '" in hexq
    assert decode_tiny_pdf(hexq) == base

    # unknown operator taking a string: quarantine, not silent drop
    bad = build_tiny_pdf("qdoc", pages).replace(
        b"(Body line.) Tj", b"(Body line.) Tz")
    with pytest.raises(ValueError, match="unconsumed string"):
        decode_tiny_pdf(bad)
    # BDC property list with /ActualText: marked-content operands are
    # masked since round 5 (pdfminer parity — it extracts the shown
    # glyphs and ignores the replacement text), so the tagged doc
    # decodes identically to the untagged one instead of quarantining
    bdc = build_tiny_pdf("qdoc", pages).replace(
        b"(Body line.) Tj",
        b"/Span << /ActualText (hidden) >> BDC (Body line.) Tj EMC")
    assert decode_tiny_pdf(bdc) == base


def test_pdf_utf16_titles():
    """BOM-prefixed UTF-16BE text strings (PDF 7.9.2.2) in the Info
    /Title hex form and in outline /Title entries decode to the
    Unicode text; ASCII round-trips identically through either
    encoding (doc_id keys must not depend on the writer's choice)."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf_15

    pages = [["1. Intro", "Body."]]
    plain = decode_tiny_pdf(build_tiny_pdf("udoc", pages))
    utf = build_tiny_pdf("udoc", pages, title_utf16=True)
    assert b"/Title <FEFF" in utf
    assert decode_tiny_pdf(utf) == plain

    # non-latin-1 outline title (the arrow is outside latin-1, so the
    # builder must fall back to the UTF-16BE hex form)
    title = "Überblick → Anhang"
    pdf15 = build_tiny_pdf_15("udoc", pages, outlines=[(title, [])])
    # the outline objects live inside the compressed object stream, so
    # the UTF-16BE hex form is only visible after objstm expansion —
    # the decoded TOC text is the real check
    out = decode_tiny_pdf(pdf15)
    toc = [s["text"] for s in out["spans"] if s["kind"] == "TOC"]
    assert toc == [title]


def test_pdf_incremental_update():
    """Incremental updates (PDF 7.5.6 — appended object versions + a
    /Prev-chained trailer, the way annotate/edit tools save): the
    appended NEWEST version of a replaced object wins, /Info is
    inherited through the trailer chain when the update's trailer
    omits it, and a replaced page-tree root resolves through the
    catalog rather than first-in-file-order scan."""
    from pdfspark.sources.pdf_mini import append_incremental_update

    pages = [["1. Intro", "Original body."], ["2. End", "Tail."]]
    base = build_tiny_pdf("incdoc", pages)
    orig = decode_tiny_pdf(base)
    assert any("Original body." == s["text"] for s in orig["spans"])

    # object 4 is page 1's content stream (build_tiny_pdf numbering:
    # 1 catalog, 2 pages, 3-4 page objs, 5-6 content streams)
    stream = b"BT /F1 12 Tf 72 720 Td (1. Intro) Tj (Edited body.) ' ET"
    upd = append_incremental_update(base, {
        5: (b"<< /Length %d >>\nstream\n" % len(stream)
            + stream + b"\nendstream")})
    assert upd.startswith(base)  # strictly appended
    out = decode_tiny_pdf(upd)
    assert out["doc_id"] == "incdoc"  # /Info inherited via /Prev chain
    texts = [s["text"] for s in out["spans"]]
    assert "Edited body." in texts and "Original body." not in texts
    assert "Tail." in texts  # untouched page unaffected

    # second update drops page 2 by replacing the page-tree root: the
    # catalog-resolved root must pick the NEW version, and the newest
    # /Info (retitled) must win over the base one
    upd2 = append_incremental_update(upd, {
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        6: b"<< /Title (incdoc-v2) >>",
    })
    # the retitle only lands if this update's trailer names /Info:
    # splice it in (append_incremental_update omits it by default);
    # the last trailer's /Prev is the offset of upd's own xref
    import re as _re
    prev2 = int(_re.findall(rb"startxref\s+(\d+)", upd)[-1])
    upd2 = upd2.replace(b"/Prev %d >>" % prev2,
                        b"/Prev %d /Info 6 0 R >>" % prev2)
    assert b"/Info 6 0 R" in upd2
    out2 = decode_tiny_pdf(upd2)
    assert out2["doc_id"] == "incdoc-v2"
    assert [s["kind"] for s in out2["spans"]].count("PageStart") == 1
    assert "Tail." not in [s["text"] for s in out2["spans"]]


def test_pdf_inherited_resources_through_page_tree():
    """/Resources are inheritable page attributes (PDF 7.7.3.4): a
    form XObject declared once on the intermediate /Pages node (the
    shared running-header shape) must resolve from every descendant
    page whose own /Resources carries no /XObject entry; a page-level
    map still layers OVER the inherited one."""
    from pdfspark.sources.pdf_mini import build_nested_pdf

    pages = [["1. Intro", "Body."], ["2. End"]]
    pdf = build_nested_pdf("hdoc", pages, inherited_form="RUNNING HDR")
    # one declaration (on the Pages node) + one Do paint per page
    assert pdf.count(b"/FmH") == 1 + len(pages)
    assert b"/XObject" not in pdf.split(b"/Type /Page ")[1].split(
        b">>\nendobj")[0]  # page 1 carries no /XObject of its own
    out = decode_tiny_pdf(pdf)
    texts = [(s["kind"], s["text"]) for s in out["spans"]]
    assert texts == [
        ("PageStart", ""), ("TextBox", "RUNNING HDR"),
        ("TextBox", "1. Intro"), ("TextBox", "Body."),
        ("PageStart", ""), ("TextBox", "RUNNING HDR"),
        ("TextBox", "2. End"),
    ]


def test_pdf_cid_tounicode_decoding():
    """Type0/Identity-H fonts with a /ToUnicode CMap (the shape every
    modern embedded-subset font produces): 2-byte character codes
    decode through the CMap, NOT the latin-1 identity — the builder
    deliberately offsets codes from the Unicode code points so the
    identity decode would emit garbage. An unmapped code quarantines
    (emitting garbage text is a silent wrong parse)."""
    pages = [["1. Intro", "Body line."], ["2. End"]]
    plain = decode_tiny_pdf(build_tiny_pdf("cdoc", pages))
    cpdf = build_tiny_pdf("cdoc", pages, cid=True)
    assert b"/Identity-H" in cpdf and b"beginbfchar" in cpdf
    # the text is NOT recoverable byte-wise: neither latin-1 nor
    # UTF-16BE spellings of the body appear in the file
    assert b"1. Intro" not in cpdf
    assert "1. Intro".encode("utf-16-be") not in cpdf
    assert decode_tiny_pdf(cpdf) == plain

    # a code outside the CMap must quarantine, not emit garbage
    import re as _re
    m = _re.search(rb"<((?:[0-9A-F]{4}){3,})> Tj", cpdf)
    bad = cpdf.replace(m.group(1), b"9999" + m.group(1)[4:], 1)
    with pytest.raises(ValueError, match="outside ToUnicode"):
        decode_tiny_pdf(bad)


def test_pdf_tounicode_bfrange_forms():
    """The bfrange section's two destination forms: an incrementing
    base target and a per-code array; multi-unit (surrogate-free)
    destinations; and bfchar/bfrange mixing in one CMap."""
    from pdfspark.sources.pdf_mini import _decode_codes, _parse_tounicode

    cm = _parse_tounicode(
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfchar\n<0001> <00660069>\nendbfchar\n"  # 'fi'
        b"2 beginbfrange\n"
        b"<0100> <0103> <0041>\n"                 # A B C D
        b"<0200> <0201> [<0058> <0059>]\n"        # X Y
        b"endbfrange")
    assert cm["width"] == 2
    assert _decode_codes(bytes.fromhex("0100010101020103"), cm) == "ABCD"
    assert _decode_codes(bytes.fromhex("02000201"), cm) == "XY"
    assert _decode_codes(bytes.fromhex("0001"), cm) == "fi"
    with pytest.raises(ValueError, match="not a multiple"):
        _decode_codes(b"\x01", cm)


def test_pdf_mixed_fonts_tf_tracking():
    """Two fonts on one page — /F1 simple (latin-1 identity), /F2 CID
    (CMap) — with Tf switches between shows: each show must decode
    under the font ACTIVE at its stream position."""
    cm = (b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
          b"2 beginbfchar\n<0041> <0068><0042> <0069>\nendbfchar\n"
          b"endcmap")  # 0x0041->'h', 0x0042->'i'
    content = (b"BT /F1 12 Tf (plain one) Tj "
               b"/F2 12 Tf <00410042> Tj "
               b"/F1 12 Tf (plain two) Tj ET")
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Resources "
            b"<< /Font << /F1 5 0 R /F2 6 0 R >> >> /Contents 4 0 R >>"),
        4: (b"<< /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: (b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H "
            b"/ToUnicode 7 0 R >>"),
        7: (b"<< /Length %d >>\nstream\n" % len(cm) + cm
            + b"\nendstream"),
        8: b"<< /Title (mixdoc) >>",
    }
    buf = bytearray(b"%PDF-1.4\n")
    for num in sorted(objs):
        buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    buf += (b"trailer\n<< /Size 9 /Root 1 0 R /Info 8 0 R >>\n"
            b"startxref\n0\n%%EOF\n")
    out = decode_tiny_pdf(bytes(buf))
    assert [s["text"] for s in out["spans"] if s["kind"] == "TextBox"] \
        == ["plain one", "hi", "plain two"]


def test_rc4_public_vector():
    """RC4 pinned against the classic public known-answer vector
    (key 'Key', plaintext 'Plaintext' -> BBF316E8D940AF0AD3) — the
    standard-security-handler algorithms build on this primitive."""
    from pdfspark.sources.pdf_mini import _rc4

    assert _rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    # symmetry: encrypt == decrypt
    assert _rc4(b"Key", _rc4(b"Key", b"Plaintext")) == b"Plaintext"


@pytest.mark.parametrize("mode", ["rc4-40", "rc4-128"])
def test_pdf_rc4_encrypted_round_trip(mode):
    """Owner-locked / empty-user-password RC4 documents (V1/R2 and
    V2/R3) decrypt to EXACTLY the spans of their unencrypted twin —
    streams and dict strings both, across filters, images, forms,
    CID fonts and UTF-16 titles (PDF 32000-1 §7.6, public spec)."""
    variants = [
        dict(),
        dict(compress=True, images=[1, 0], form_header="RUN HDR"),
        dict(cid=True, title_utf16=True),
        dict(compress="ahx+flate", hex_show=True),
    ]
    pages = [["1. Enc", "Body (with parens) and \\ backslash."],
             ["2. More", "Second page."]]
    for kw in variants:
        plain = decode_tiny_pdf(build_tiny_pdf("enc-doc", pages, **kw))
        enc = build_tiny_pdf("enc-doc", pages, encrypt=mode, **kw)
        assert b"/Encrypt" in enc
        # ciphertext must not leak plaintext body text
        assert b"Second page." not in enc
        assert decode_tiny_pdf(enc) == plain


def test_pdf_rc4_beyond_slice_quarantines():
    """A real user password (the /U check fails, RC4 or AES), AES-256
    /V 5, and a tampered /U must all quarantine — never a garbage
    parse."""
    pages = [["secret line"]]
    with pytest.raises(ValueError, match="password protected"):
        decode_tiny_pdf(build_tiny_pdf("pw", pages, encrypt="rc4-128-pw"))
    with pytest.raises(ValueError, match="password protected"):
        decode_tiny_pdf(build_tiny_pdf("pw2", pages, encrypt="aesv2-pw"))
    with pytest.raises(ValueError, match="beyond the RC4/AESV2/AESV3"):
        decode_tiny_pdf(build_tiny_pdf("aes", pages,
                                       encrypt="aes256-r5"))
    enc = build_tiny_pdf("tamper", pages, encrypt="rc4-40")
    i = enc.rfind(b"/U <")
    flip = b"1" if enc[i + 4:i + 5] == b"0" else b"0"
    with pytest.raises(ValueError, match="password protected"):
        decode_tiny_pdf(enc[:i + 4] + flip + enc[i + 5:])


def test_pdf_aesv2_round_trip_and_guards():
    """/V 4 /R 4 AESV2 (the modern encrypted-PDF default): spans must
    equal the unencrypted twin's across compression, images, CID
    fonts, and simple-font encodings; ciphertext must not leak
    plaintext; tampered ciphertext quarantines (bad padding/deflate),
    and a non-StdCF string filter quarantines rather than
    mis-decrypting."""
    pages = [["1. AES", "Sealed body text."], ["Second page."]]
    plain = decode_tiny_pdf(build_tiny_pdf("a", pages, compress=True,
                                           images=[1, 0]))
    enc = build_tiny_pdf("a", pages, compress=True, images=[1, 0],
                         encrypt="aesv2")
    assert b"Sealed body text." not in enc
    assert decode_tiny_pdf(enc) == plain
    for opts in (dict(cid=True), dict(encoding="differences"),
                 dict(quote_show=True)):
        p2 = decode_tiny_pdf(build_tiny_pdf("a", pages, **opts))
        assert decode_tiny_pdf(
            build_tiny_pdf("a", pages, encrypt="aesv2", **opts)) == p2
    # flip bytes inside the largest stream payload -> quarantine
    i = enc.find(b"stream\n") + len(b"stream\n")
    bad = enc[:i + 20] + bytes(b ^ 0xFF for b in enc[i + 20:i + 24]) \
        + enc[i + 24:]
    with pytest.raises(ValueError):
        decode_tiny_pdf(bad)
    with pytest.raises(ValueError, match="not StdCF"):
        decode_tiny_pdf(enc.replace(b"/StrF /StdCF", b"/StrF /Identity"))


def test_pdf_rc4_wrong_parse_guard_still_applies():
    """Decrypted content flows through the same wrong-parse guards:
    corrupting the ciphertext of a compressed content stream yields a
    deflate error -> quarantine, not silent span loss."""
    enc = build_tiny_pdf("zcorrupt", [["1. Z", "Deflated body."]],
                         compress=True, encrypt="rc4-128")
    # flip bytes in the middle of the largest stream payload
    i = enc.find(b"stream\n") + len(b"stream\n")
    bad = enc[:i + 4] + bytes(b ^ 0xFF for b in enc[i + 4:i + 8]) + enc[i + 8:]
    with pytest.raises(ValueError):
        decode_tiny_pdf(bad)


def test_codec_geometry_from_text_state():
    """Round-5 geometry slice: Td/TD/Tm/T*/TL tracking emits per-show
    (x, y) with the deterministic 0.5-em advance / 1-em line box —
    plus PageStart MediaBox and cm-mapped Image boxes."""
    out = decode_tiny_pdf(build_tiny_pdf(
        "g", [["1. Intro", "body text"]], compress=True, images=[1]))
    ps, t1, t2, img = out["spans"]
    assert (ps["x0"], ps["y0"], ps["x1"], ps["y1"]) == (0, 0, 612, 792)
    # builder: /F1 12 Tf, 72 720 Td, then 0 -14 Td per line
    assert (t1["x0"], t1["y0"], t1["y1"]) == (72.0, 720.0, 732.0)
    assert t1["x1"] == 72.0 + 0.5 * 12 * len("1. Intro")
    assert (t2["y0"], t2["y1"]) == (706.0, 718.0)
    # image painted q 100 0 0 80 72 600 cm /Im1 Do Q
    assert (img["x0"], img["y0"], img["x1"], img["y1"]) == (
        72.0, 600.0, 172.0, 680.0)
    assert all(s["page_id"] == 1 for s in out["spans"])


def test_codec_geometry_tm_and_tj_kerning():
    """Tm absolute placement, TJ kerning advance (thousandths of an
    em), and show-to-show advance within one line."""
    from pdfspark.sources.pdf_mini import build_layout_pdf

    pdf = build_layout_pdf(
        "tm", [[("left", 100, 500), ("right", 300, 500)]])
    out = decode_tiny_pdf(pdf)
    _, a, b = out["spans"]
    assert (a["x0"], a["y0"]) == (100.0, 500.0)
    assert (b["x0"], b["y0"]) == (300.0, 500.0)
    # hand-built stream: two shows in one line + TJ with kern
    raw = build_tiny_pdf("kern", [["placeholder"]])
    raw = raw.replace(
        b"(placeholder) Tj",
        b"(ab) Tj (cd) Tj [(ef) 500 (gh)] TJ")
    out = decode_tiny_pdf(raw)
    t = [s for s in out["spans"] if s["kind"] == "TextBox"]
    assert [s["text"] for s in t] == ["ab", "cd", "efgh"]
    # each show starts where the previous advance ended (0.5 em/char)
    assert t[0]["x0"] == 72.0 and t[0]["x1"] == 84.0
    assert t[1]["x0"] == 84.0 and t[1]["x1"] == 96.0
    # TJ: 4 chars * 6pt - 500/1000 * 12pt = 24 - 6 = 18pt advance
    assert t[2]["x0"] == 96.0 and t[2]["x1"] == 114.0


def test_codec_state_ops_inside_strings_ignored():
    """Operand-shaped bytes INSIDE show strings ("0 -14 Td", "99 TL")
    must not register as state changes (string-masked state scan)."""
    raw = build_tiny_pdf("mask", [["placeholder", "second"]])
    raw = raw.replace(b"(placeholder) Tj", b"(x 0 -600 Td 99 TL y) Tj")
    out = decode_tiny_pdf(raw)
    t = [s for s in out["spans"] if s["kind"] == "TextBox"]
    assert t[0]["text"] == "x 0 -600 Td 99 TL y"
    assert t[0]["y0"] == 720.0
    assert t[1]["y0"] == 706.0  # the real 0 -14 Td, not the decoy


def test_ep3_tables_from_raw_bytes(spark, tmp_path):
    """The bytes-in → tables-out gap closed: a multi-table %PDF
    payload decoded by decode_payloads_geom feeds the EP3 pipeline
    (extract_tables_sql, header/footer strip included) end-to-end, and the
    reconstructed tables match both the known planted content and
    the exact reference fold (fold_tables_page) run locally on the
    same geometry."""
    from pdfspark.operators.tables import extract_tables_sql, fold_tables_page
    from pdfspark.sources.binary_decode import (
        decode_payloads_geom,
        read_payloads,
    )
    from pdfspark.sources.pdf_mini import build_layout_pdf

    pages = [
        [("Intro paragraph before any table.", 72, 740),
         ("Table 1 Primary results", 72, 720),
         ("r1c1", 72, 700), ("r1c2", 200, 702), ("r1c3", 330, 698),
         ("r2c1", 72, 680), ("r2c2", 200, 680), ("r2c3", 330, 681),
         ("Table 2 Secondary", 72, 640),
         ("s1a", 72, 620), ("s1b", 200, 620)],
        [("Closing body text.", 72, 700)],
    ]
    d = str(tmp_path / "payloads")
    os.makedirs(d)
    with open(os.path.join(d, "t.pdf"), "wb") as fh:
        fh.write(build_layout_pdf("pdf-tables", pages, compress=True))
    geom = decode_payloads_geom(read_payloads(spark, d))
    rows = (extract_tables_sql(geom)
            .orderBy("page_id", "table_id", "row_id").collect())
    got = [(r.page_id, r.table_id, r.title, r.row_id,
            None if r.cells is None else list(r.cells)) for r in rows]
    # known planted content: cell rows cluster by y-tolerance and
    # order by x within the row
    by_title = {}
    for _pg, tid, title, _rid, cells in got:
        by_title.setdefault(title, []).append(cells)
    assert ["r1c1", "r1c2", "r1c3"] in by_title["Table 1 Primary results"]
    assert ["r2c1", "r2c2", "r2c3"] in by_title["Table 1 Primary results"]
    assert ["s1a", "s1b"] in by_title["Table 2 Secondary"]
    # exact-parity path (quirks preserved: pre-title row leaks into
    # table 0, empty-row flush) against the reference fold run
    # locally on the same decoded geometry
    from pdfspark.operators.tables import extract_tables_exact

    exact = [(r.page_id, r.table_id, r.title, r.row_id,
              None if r.cells is None else list(r.cells))
             for r in extract_tables_exact(geom)
             .orderBy("page_id", "table_id", "row_id").collect()]
    gx = geom.filter("kind = 'TextBox'").collect()
    expected = []
    for pid in sorted({r.page_id for r in gx}):
        boxes = sorted(
            [dict(text=r.text, x0=r.x0, y0=r.y0, x1=r.x1, y1=r.y1)
             for r in gx if r.page_id == pid],
            key=lambda b: (-b["y1"], b["x1"]))
        for fr in fold_tables_page(boxes, "", ""):
            expected.append((pid, fr["table_id"], fr["title"],
                             fr["row_id"], fr["cells"]))
    assert exact == sorted(expected)
    # the quirk is present from raw bytes too: the pre-title Intro
    # paragraph leaks into table 0's first row (ref :56-65)
    assert (1, 0, "Table 1 Primary results", 0,
            ["Intro paragraph before any table."]) in exact


def test_simple_font_encodings_recover_accented_text():
    """§9.6.6 simple-font encodings: /MacRomanEncoding (é = 0x8E, not
    latin-1's 0xE9) and an /Encoding << /Differences >> remap to
    codes 128+ under AGL glyph names — both must recover the exact
    text a latin-1 identity would garble. Geometry rides along
    unchanged (advance counts decoded chars)."""
    pages = [["Café déjà vu — naïve François", "Zürich piñata"],
             ["søster Øre"]]
    flat = [ln for pg in pages for ln in pg]
    for enc in ("macroman", "differences"):
        out = decode_tiny_pdf(build_tiny_pdf("e", pages, encoding=enc))
        texts = [s["text"] for s in out["spans"] if s["kind"] == "TextBox"]
        assert texts == flat, (enc, texts)
        t0 = [s for s in out["spans"] if s["kind"] == "TextBox"][0]
        assert (t0["x0"], t0["y0"]) == (72.0, 720.0)
        assert t0["x1"] == 72.0 + 0.5 * 12 * len(flat[0])
    # compressed + encrypted writers compose with the encoding path
    out = decode_tiny_pdf(build_tiny_pdf(
        "e2", pages, encoding="differences", compress=True,
        encrypt="rc4-128"))
    assert [s["text"] for s in out["spans"]
            if s["kind"] == "TextBox"] == flat


def test_simple_font_encoding_quarantines():
    """Wrong-parse guards: an unsupported base encoding name and a
    show referencing an undefined cp1252 slot must quarantine —
    decoding on through latin-1 would silently emit wrong text."""
    bad = build_tiny_pdf("b", [["hello"]]).replace(
        b"/BaseFont /Helvetica",
        b"/BaseFont /Helvetica /Encoding /MacExpertEncoding")
    with pytest.raises(ValueError, match="unsupported base encoding"):
        decode_tiny_pdf(bad)
    bad2 = build_tiny_pdf("b2", [["abc"]]).replace(
        b"/BaseFont /Helvetica",
        b"/BaseFont /Helvetica /Encoding /WinAnsiEncoding").replace(
        b"(abc)", b"(a\x81c)")
    with pytest.raises(ValueError, match="undefined in font encoding"):
        decode_tiny_pdf(bad2)
    # unknown glyph name in /Differences
    bad3 = build_tiny_pdf("b3", [["x"]]).replace(
        b"/BaseFont /Helvetica",
        b"/BaseFont /Helvetica /Encoding "
        b"<< /Differences [ 120 /notarealglyph ] >>")
    with pytest.raises(ValueError, match="unknown glyph name"):
        decode_tiny_pdf(bad3)


def test_tounicode_wins_over_simple_encoding():
    """A font carrying BOTH /ToUnicode and /Encoding decodes through
    the CMap (it IS the authoritative text mapping, §9.10.2)."""
    pdf = build_tiny_pdf("cid-enc", [["CID body text."]], cid=True)
    pdf = pdf.replace(b"/Encoding /Identity-H",
                      b"/Encoding /Identity-H /Subtype /Type0")
    out = decode_tiny_pdf(pdf)
    assert "CID body text." in [s["text"] for s in out["spans"]]


def test_pdf_aes256_r6_round_trip_and_guards():
    """/V 5 /R 6 AES-256 (the PDF 2.0 default): Algorithm 2.B KDF,
    /UE key unwrap, /Perms sanity check, file-key object encryption.
    Spans must equal the unencrypted twin's; a tampered /Perms or a
    real user password quarantines."""
    pages = [["1. AES256", "PDF 2.0 sealed body."], ["Second page."]]
    plain = decode_tiny_pdf(build_tiny_pdf("a", pages, compress=True,
                                           images=[1, 0]))
    enc = build_tiny_pdf("a", pages, compress=True, images=[1, 0],
                         encrypt="aes256")
    assert b"PDF 2.0 sealed body." not in enc
    assert decode_tiny_pdf(enc) == plain
    with pytest.raises(ValueError, match="password protected"):
        decode_tiny_pdf(build_tiny_pdf("b", pages, encrypt="aes256-pw"))
    i = enc.find(b"/Perms <") + len(b"/Perms <")
    flip = b"1" if enc[i:i + 1] == b"0" else b"0"
    with pytest.raises(ValueError, match="Perms check failed"):
        decode_tiny_pdf(enc[:i] + flip + enc[i + 1:])


def test_codec_geometry_rotated_text_envelope():
    """Rotated text (Tm with b/c terms): the box is the four text-
    space corners mapped through the matrix — a 90-degree rotation
    yields a tall box at the right position, not a zero-area line."""
    raw = build_tiny_pdf("rot", [["placeholder"]])
    raw = raw.replace(b"72 720 Td", b"0 1 -1 0 300 400 Tm")
    out = decode_tiny_pdf(raw)
    t = [s for s in out["spans"] if s["kind"] == "TextBox"][0]
    adv = 0.5 * 12 * len("placeholder")  # 66pt along +y after rotation
    assert (t["x0"], t["x1"]) == (300.0 - 12.0, 300.0)  # size extent
    assert (t["y0"], t["y1"]) == (400.0, 400.0 + adv)
    # scale matrix: 2x glyphs double both extents
    raw2 = build_tiny_pdf("sc", [["ab"]]).replace(
        b"72 720 Td", b"2 0 0 2 100 100 Tm")
    t2 = [s for s in decode_tiny_pdf(raw2)["spans"]
          if s["kind"] == "TextBox"][0]
    assert (t2["x0"], t2["y0"]) == (100.0, 100.0)
    assert t2["x1"] == 100.0 + 2 * 0.5 * 12 * 2
    assert t2["y1"] == 100.0 + 2 * 12


def test_codec_image_geometry_qQ_stack_replay():
    """Image CTMs replay through the q/Q stack (§8.4.2): a paint
    after Q must not see the popped transform, and nested q scopes
    compose — the last-cm-before heuristic would get both wrong."""
    raw = build_tiny_pdf("qq", [["t"]], images=[2])
    # rewrite page ops: Im1 under nested q scopes (outer 2x scale),
    # Im2 after both pops under its own fresh transform
    raw = raw.replace(
        b"q 100 0 0 80 72 600 cm /Im1 Do Q",
        b"q 2 0 0 2 10 20 cm q 100 0 0 80 72 600 cm /Im1 Do Q Q")
    raw = raw.replace(
        b"q 100 0 0 80 72 510 cm /Im2 Do Q",
        b"q 50 0 0 40 300 100 cm /Im2 Do Q")
    out = decode_tiny_pdf(raw)
    boxes = {s["media_ref"].split("/")[-1]:
             (s["x0"], s["y0"], s["x1"], s["y1"])
             for s in out["spans"] if s["kind"] == "Image"}
    # Im1: inner cm composed with outer [2 0 0 2 10 20]
    assert boxes["Im1"] == (2 * 72 + 10, 2 * 600 + 20,
                            2 * 72 + 10 + 200, 2 * 600 + 20 + 160)
    assert boxes["Im2"] == (300.0, 100.0, 350.0, 140.0)


def test_codec_spacing_operators_enter_advance():
    """Tc (per glyph), Tw (per byte-32 space, simple fonts only), Tz
    (percent horizontal scale) and the " operator's aw/ac operands
    all enter the advance per §9.4.4."""
    raw = build_tiny_pdf("s", [["placeholder"]]).replace(
        b"(placeholder) Tj", b"2 Tc 5 Tw 50 Tz (a b) Tj (cd) Tj")
    ts = [s for s in decode_tiny_pdf(raw)["spans"]
          if s["kind"] == "TextBox"]
    # 'a b': 3*(0.5*12+2) + 1*5 = 29 pts, halved by Tz 50 -> 14.5
    assert (ts[0]["x0"], ts[0]["x1"]) == (72.0, 86.5)
    # second show starts at the advance end: 2*(6+2)*0.5 = 8
    assert (ts[1]["x0"], ts[1]["x1"]) == (86.5, 94.5)
    # CID fonts never apply word spacing (multi-byte codes)
    cid = build_tiny_pdf("c", [["a b"]], cid=True)
    cid = cid.replace(b"BT\n/F1 12 Tf", b"BT\n/F1 12 Tf 5 Tw")
    t = [s for s in decode_tiny_pdf(cid)["spans"]
         if s["kind"] == "TextBox"][0]
    assert t["x1"] == 72.0 + 0.5 * 12 * 3  # no Tw contribution


def test_pdf_aesv2_encrypt_metadata_false_key_derivation():
    """/EncryptMetadata false changes the Algorithm 2 file key
    (0xFFFFFFFF appended, §7.6.3.3 step f): a writer emitting it must
    round-trip, and the two key derivations must genuinely differ
    (same doc decodes under both flags to the same spans)."""
    pages = [["1. Meta", "Unencrypted-metadata body."]]
    plain = decode_tiny_pdf(build_tiny_pdf("m", pages))
    enc = build_tiny_pdf("m", pages, encrypt="aesv2-nometa")
    assert b"/EncryptMetadata false" in enc
    assert decode_tiny_pdf(enc) == plain
    enc2 = build_tiny_pdf("m", pages, encrypt="aesv2")
    # different file keys -> different ciphertext for the same doc
    assert enc != enc2.replace(b" /EncryptMetadata false", b"")


def test_page_rotate_reorients_geometry():
    """/Rotate (inheritable, §7.7.3.4) applies pdfminer's
    process_page base CTM: the span texts/kinds/order are unchanged
    and every bbox maps through the page rotation, with PageStart at
    (0,0,w,h) in the displayed orientation (w/h swapped on 90/270).
    pdfminer.six pdfinterp.PDFPageInterpreter.process_page is the
    matrix source; the reference gets this for free through pdfminer
    (reference src/pdf_extractor.py extract_pages usage)."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf, decode_tiny_pdf

    pages = [["1. Intro", "Body line one."], ["2. More", "Second."]]
    plain = decode_tiny_pdf(build_tiny_pdf("d", pages,
                                           images=[1, 0]))["spans"]
    W, H = 612.0, 792.0

    def box(s):
        return (s["x0"], s["y0"], s["x1"], s["y1"])

    r90 = decode_tiny_pdf(build_tiny_pdf("d", pages, images=[1, 0],
                                         rotate=90))["spans"]
    assert [(s["kind"], s["text"]) for s in r90] \
        == [(s["kind"], s["text"]) for s in plain]
    for p, q in zip(plain, r90):
        if p["x0"] is None:
            assert q["x0"] is None
            continue
        assert box(q) == (p["y0"], round(W - p["x1"], 2),
                          p["y1"], round(W - p["x0"], 2))
    ps = [s for s in r90 if s["kind"] == "PageStart"]
    assert all(box(s) == (0.0, 0.0, H, W) for s in ps)

    r180 = decode_tiny_pdf(build_tiny_pdf("d", pages, images=[1, 0],
                                          rotate=180))["spans"]
    for p, q in zip(plain, r180):
        if p["x0"] is None:
            continue
        assert box(q) == (round(W - p["x1"], 2), round(H - p["y1"], 2),
                          round(W - p["x0"], 2), round(H - p["y0"], 2))

    r270 = decode_tiny_pdf(build_tiny_pdf("d", pages, images=[1, 0],
                                          rotate=270))["spans"]
    for p, q in zip(plain, r270):
        if p["x0"] is None:
            continue
        assert box(q) == (round(H - p["y1"], 2), p["x0"],
                          round(H - p["y0"], 2), p["x1"])


def test_page_rotate_normalization_and_inheritance():
    """-90 == 270 and 450 == 90 (mod-360 normalization); a /Rotate on
    the /Pages tree node inherits to every kid; a value that is not a
    multiple of 90 falls to the translate-only branch exactly as
    pdfminer's process_page else-arm does (no quarantine)."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf, decode_tiny_pdf

    pages = [["1. Intro", "Body."], ["2. More", "Tail."]]

    def boxes(**kw):
        return [(s["x0"], s["y0"], s["x1"], s["y1"])
                for s in decode_tiny_pdf(
                    build_tiny_pdf("d", pages, **kw))["spans"]]

    assert boxes(rotate=-90) == boxes(rotate=270)
    assert boxes(rotate=450) == boxes(rotate=90)
    assert boxes(rotate=90, rotate_on_parent=True) == boxes(rotate=90)
    assert boxes(rotate=45) == boxes()
    assert boxes(rotate=0) == boxes()


def test_runlength_filter_round_trip_and_vectors():
    """RunLengthDecode (§7.4.5): spec vectors, builder round-trip
    through a /Filter /RunLengthDecode content stream, and truncation
    quarantine."""
    import pytest

    from pdfspark.sources.pdf_mini import (
        _rle_decode,
        _rle_encode,
        build_tiny_pdf,
        decode_tiny_pdf,
    )

    assert _rle_decode(b"\x02abc\xfeX\x80") == b"abcXXX"
    assert _rle_decode(b"\x80") == b""
    assert _rle_decode(b"\x00q\x80") == b"q"
    for payload in (b"", b"q", b"aaaabbbbbbcdcdcd" * 9,
                    bytes(range(256)) * 3, b"\x80" * 300):
        assert _rle_decode(_rle_encode(payload)) == payload
    with pytest.raises(ValueError):
        _rle_decode(b"\x05ab")  # literal promised past the end
    with pytest.raises(ValueError):
        _rle_decode(b"\xfe")  # run with no byte
    with pytest.raises(ValueError):
        _rle_decode(b"\x00q")  # no EOD

    pages = [["1. RLE era", "Run-length body line."]]
    plain = decode_tiny_pdf(build_tiny_pdf("r", pages))
    rle = build_tiny_pdf("r", pages, compress="rle")
    assert b"/RunLengthDecode" in rle
    assert decode_tiny_pdf(rle) == plain


def test_png_predictor_average_and_paeth_rows():
    """All five RFC 2083 row filters invert at bpp=1: forward-filter
    rows with an independent in-test implementation, then check
    _png_unpredict recovers the raw bytes regardless of which filter
    each row used."""
    from pdfspark.sources.pdf_mini import _png_unpredict

    cols = 7
    raw_rows = [bytes((r * 37 + i * 11) % 256 for i in range(cols))
                for r in range(6)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    enc = bytearray()
    prev = bytes(cols)
    for r, row in enumerate(raw_rows):
        ft = r % 5  # exercise every filter type incl. Average/Paeth
        enc.append(ft)
        for i, x in enumerate(row):
            left = row[i - 1] if i else 0
            up = prev[i]
            ul = prev[i - 1] if i else 0
            if ft == 0:
                v = x
            elif ft == 1:
                v = x - left
            elif ft == 2:
                v = x - up
            elif ft == 3:
                v = x - (left + up) // 2
            else:
                v = x - paeth(left, up, ul)
            enc.append(v & 0xFF)
        prev = row
    assert _png_unpredict(bytes(enc), cols) == b"".join(raw_rows)


def test_ep3_tables_from_rotated_raw_bytes(spark, tmp_path):
    """The rotated-scan writer shape end-to-end: /Rotate 90 pages
    whose text is stored SIDEWAYS (`0 1 -1 0 xu yu Tm`) decode to
    display-space geometry position-identical to the upright twin, so
    the EP3 table pipeline reconstructs the same planted tables from
    the rotated bytes (header/footer bands key off the landscape
    PageStart instead of the portrait one, hence mid-page targets)."""
    from pdfspark.operators.tables import extract_tables_sql
    from pdfspark.sources.binary_decode import (
        decode_payloads_geom,
        read_payloads,
    )
    from pdfspark.sources.pdf_mini import build_layout_pdf

    pages = [
        [("Table 1 Rotated scan", 72, 500),
         ("r1c1", 72, 480), ("r1c2", 200, 481), ("r1c3", 330, 479),
         ("r2c1", 72, 460), ("r2c2", 200, 460), ("r2c3", 330, 461)],
    ]
    d = str(tmp_path / "payloads")
    os.makedirs(d)
    with open(os.path.join(d, "t.pdf"), "wb") as fh:
        fh.write(build_layout_pdf("pdf-rot", pages, compress=True,
                                  rotate=90))
    with open(os.path.join(d, "u.pdf"), "wb") as fh:
        fh.write(build_layout_pdf("pdf-upr", pages, compress=True))
    geom = decode_payloads_geom(read_payloads(spark, d))
    tb = geom.filter("kind = 'TextBox'").collect()
    by_doc = {}
    for r in tb:
        by_doc.setdefault(r.doc_id, []).append(
            (r.page_id, r.text, r.x0, r.y0, r.x1, r.y1))
    assert sorted(by_doc["pdf-rot"]) == sorted(by_doc["pdf-upr"])
    rot = geom.filter("doc_id = 'pdf-rot'")
    rows = (extract_tables_sql(rot)
            .orderBy("table_id", "row_id").collect())
    cells = [None if r.cells is None else list(r.cells) for r in rows
             if r.title == "Table 1 Rotated scan"]
    assert ["r1c1", "r1c2", "r1c3"] in cells
    assert ["r2c1", "r2c2", "r2c3"] in cells


def test_text_rise_lifts_the_box():
    """Ts (§9.3.7) lifts the glyph box by the rise in unscaled text
    space — superscripts sit above the baseline run — persists across
    BT blocks like the other text-state params (§9.3.1), resets the
    box when set back to 0, and operand-shaped bytes inside show
    strings never register as a Ts event."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf, decode_tiny_pdf

    raw = build_tiny_pdf("s", [["placeholder"]]).replace(
        b"(placeholder) Tj",
        b"(base) Tj 4 Ts (sup) Tj 0 Ts (back) Tj")
    ts = [s for s in decode_tiny_pdf(raw)["spans"]
          if s["kind"] == "TextBox"]
    assert (ts[0]["y0"], ts[0]["y1"]) == (720.0, 732.0)
    assert (ts[1]["y0"], ts[1]["y1"]) == (724.0, 736.0)
    assert (ts[2]["y0"], ts[2]["y1"]) == (720.0, 732.0)

    # persists across BT blocks within the stream
    raw = build_tiny_pdf("s", [["placeholder"]]).replace(
        b"(placeholder) Tj",
        b"-3 Ts (sub) Tj ET BT /F1 12 Tf 72 600 Td (still) Tj")
    ts = [s for s in decode_tiny_pdf(raw)["spans"]
          if s["kind"] == "TextBox"]
    assert (ts[0]["y0"], ts[0]["y1"]) == (717.0, 729.0)
    assert (ts[1]["y0"], ts[1]["y1"]) == (597.0, 609.0)

    # "(4 Ts)" inside a show string is string bytes, not an operator
    raw = build_tiny_pdf("s", [["placeholder"]]).replace(
        b"(placeholder) Tj", b"(4 Ts) Tj (next) Tj")
    ts = [s for s in decode_tiny_pdf(raw)["spans"]
          if s["kind"] == "TextBox"]
    assert all((s["y0"], s["y1"]) == (720.0, 732.0) for s in ts)


def test_tagged_pdf_marked_content_masked():
    """Tagged PDFs (§14.6): BDC/DP property lists — including
    /ActualText strings that spell show/paint operators — are
    operands, masked like inline-image bytes, so a tagged document
    decodes span- and geometry-identically to its untagged twin
    (pdfminer ignores marked-content operands the same way). A
    property dict that fails to balance still quarantines via the
    unconsumed-string guard (safe fail, never a silent wrong
    parse)."""
    import pytest

    from pdfspark.sources.pdf_mini import build_tiny_pdf, decode_tiny_pdf

    pages = [["1. Tagged", "Body with (parens) text."], ["2. More"]]
    plain = decode_tiny_pdf(build_tiny_pdf("t", pages))
    tagged = build_tiny_pdf("t", pages, tagged=True)
    assert b"BDC" in tagged  # uncompressed build: operators visible
    assert decode_tiny_pdf(tagged) == plain
    # compressed tagged stream (the real writer shape)
    assert decode_tiny_pdf(
        build_tiny_pdf("t", pages, tagged=True, compress=True)) == plain

    # adversarial /ActualText: operator spellings inside the property
    # string must not parse as content; nested dicts and hex strings
    # must not end the balanced scan early
    adv = build_tiny_pdf("t", [["Hello."]]).replace(
        b"(Hello.) Tj",
        b"/Span << /A (x \\(y BT \\(z) Tj ET) /N << /Alt <FEFF003E> >> "
        b">> BDC (Hello.) Tj EMC")
    base = decode_tiny_pdf(build_tiny_pdf("t", [["Hello."]]))
    assert decode_tiny_pdf(adv) == base
    # DP (point operator) with a string-bearing dict, outside BT
    dp = build_tiny_pdf("t", [["Hello."]]).replace(
        b"BT", b"/Meta << /K (x) >> DP\nBT", 1)
    assert decode_tiny_pdf(dp) == base
    # unbalanced dict -> the string operand stays visible -> quarantine
    bad = build_tiny_pdf("t", [["Hello."]]).replace(
        b"(Hello.) Tj",
        b"/Span << /A (x) BDC (Hello.) Tj EMC")
    with pytest.raises(ValueError):
        decode_tiny_pdf(bad)


def test_invisible_text_render_mode_is_extracted():
    """Tr 3 (invisible text, §9.3.6) — the OCR-layer shape every
    scanned-and-OCRed PDF uses — extracts exactly like visible text,
    matching pdfminer (render mode affects painting, not the text
    the interpreter sees)."""
    from pdfspark.sources.pdf_mini import build_tiny_pdf, decode_tiny_pdf

    base = decode_tiny_pdf(build_tiny_pdf("t", [["OCR layer text."]]))
    inv = build_tiny_pdf("t", [["OCR layer text."]]).replace(
        b"(OCR layer text.) Tj", b"3 Tr (OCR layer text.) Tj 0 Tr")
    assert decode_tiny_pdf(inv) == base


def test_font_widths_drive_the_advance():
    """A simple font's declared /Widths (§9.6.2.1) replaces the
    GLYPH_W model per CODE byte: adv = sum(w0)/1000*Tfs + per-glyph
    Tc + Tw per space, kerning unchanged; out-of-range codes take
    /MissingWidth from the /FontDescriptor when declared, else the
    GLYPH_W glyph; /Widths without /FirstChar quarantines; fonts
    with no /Widths keep the deterministic model bit-identically
    (every existing fixture digest unchanged)."""
    import pytest

    from pdfspark.sources.pdf_mini import build_tiny_pdf, decode_tiny_pdf

    def first_tb(payload):
        return [s for s in decode_tiny_pdf(payload)["spans"]
                if s["kind"] == "TextBox"][0]

    # size 12: adv = (600+250)/1000*12 = 10.2
    tb = first_tb(build_tiny_pdf("w", [["AB"]], widths=(65, [600, 250])))
    assert (tb["x0"], tb["x1"]) == (72.0, 82.2)

    # out-of-range Z falls back to the GLYPH_W glyph (500 units -> 6.0)
    tb = first_tb(build_tiny_pdf("w", [["AZ"]], widths=(65, [600])))
    assert tb["x1"] == 72.0 + 7.2 + 6.0

    # declared /MissingWidth wins over the fallback
    p = build_tiny_pdf("w", [["AZ"]], widths=(65, [600]))
    p = p.replace(b"/Widths [ 600 ]",
                  b"/Widths [ 600 ] /FontDescriptor 50 0 R")
    p = p.replace(b"startxref",
                  b"50 0 obj\n<< /Type /FontDescriptor "
                  b"/MissingWidth 100 >>\nendobj\nstartxref")
    tb = first_tb(p)
    assert tb["x1"] == 72.0 + 7.2 + 100 / 1000 * 12

    # Tc applies per CODE and Tw per space byte on the widths path
    p = build_tiny_pdf("w", [["placeholder"]], widths=(32, [200, 300])
                       ).replace(b"(placeholder) Tj",
                                 b"2 Tc 5 Tw ( !) Tj")
    tb = first_tb(p)
    # adv = (200+300)/1000*12 + 2*2 + 5*1 = 6 + 4 + 5 = 15
    assert (tb["x0"], tb["x1"]) == (72.0, 87.0)

    # /Widths without /FirstChar: quarantine, not a guessed base code
    bad = build_tiny_pdf("w", [["AB"]], widths=(65, [600, 250])).replace(
        b"/FirstChar 65 ", b"")
    with pytest.raises(ValueError, match="FirstChar"):
        decode_tiny_pdf(bad)

    # no /Widths -> the deterministic model, unchanged
    assert first_tb(build_tiny_pdf("w", [["AB"]]))["x1"] == 72.0 + 12.0


def test_type3_font_round_trip_and_fontmatrix_scale():
    """§9.6.5 Type3 fonts (the TeX/dvi-writer shape): codes are
    arbitrary /CharProcs indices, so text comes ONLY from /Encoding
    /Differences, and widths are in /FontMatrix-defined glyph space —
    NOT thousandths (pdfminer PDFType3Font scales by the matrix image
    of (1,1), a + c). The builder's uniform GLYPH_W/unit widths make
    the geometry identical to the deterministic-model twin whatever
    the unit, so a /1000 width assumption is geometry-visible."""
    pages = [["3. Type3 era", "Glyph-proc body line."],
             ["Second page text."]]
    flat = [ln for pg in pages for ln in pg]

    def geom(payload):
        return [(s["kind"], s["text"], round(s["x0"], 9),
                 round(s["y0"], 9), round(s["x1"], 9),
                 round(s["y1"], 9))
                for s in decode_tiny_pdf(payload)["spans"]]

    twin = geom(build_tiny_pdf("t3", pages))
    p3 = build_tiny_pdf("t3", pages, encoding="type3")
    assert geom(p3) == twin
    # show operands are remapped glyph codes — a latin-1 identity
    # decode would emit garbage; only the /Differences path recovers
    assert b"Glyph-proc body line." not in p3
    # a different /FontMatrix unit scales the widths the other way:
    # geometry must stay bit-identical (widths are glyph-space)
    assert geom(build_tiny_pdf("t3", pages, encoding="type3",
                               type3_unit=0.025)) == twin
    # composes with the real-world stream filter
    assert geom(build_tiny_pdf("t3", pages, encoding="type3",
                               compress=True)) == twin

    # direct FontMatrix-vs-/1000 witness: doubling the matrix unit
    # under unchanged /Widths doubles every advance
    doubled = p3.replace(b"/FontMatrix [0.01 0 0 0.01 0 0]",
                         b"/FontMatrix [0.02 0 0 0.02 0 0]")
    assert doubled != p3
    tb = [s for s in decode_tiny_pdf(doubled)["spans"]
          if s["kind"] == "TextBox"][0]
    assert tb["x1"] == 72.0 + 2 * 0.5 * 12 * len(flat[0])
    # pdfminer's apply_matrix_norm((1,1)) includes the shear term:
    # wscale = a + c
    sheared = p3.replace(b"/FontMatrix [0.01 0 0 0.01 0 0]",
                         b"/FontMatrix [0.01 0 0.005 0.01 0 0]")
    tb = [s for s in decode_tiny_pdf(sheared)["spans"]
          if s["kind"] == "TextBox"][0]
    assert abs(tb["x1"] - (72.0 + 50 * 0.015 * 12 * len(flat[0]))) < 1e-9


def test_type3_font_quarantines():
    """Wrong-parse guards for the Type3 slice: a Type3 without the
    spec-required /FontMatrix (every advance would be a guess),
    a malformed matrix, and a Type3 without /Encoding (codes index
    user-defined glyph programs — identity decode is silent garbage)
    all quarantine."""
    p3 = build_tiny_pdf("t3q", [["body"]], encoding="type3")
    with pytest.raises(ValueError, match="without /FontMatrix"):
        decode_tiny_pdf(p3.replace(b"/FontMatrix", b"/FauxMatrix"))
    with pytest.raises(ValueError, match="malformed /FontMatrix"):
        decode_tiny_pdf(p3.replace(b"/FontMatrix [0.01 0 0 0.01 0 0]",
                                   b"/FontMatrix [0.01 0 0 0.01]"))
    with pytest.raises(ValueError, match="Type3 font without /Encoding"):
        decode_tiny_pdf(p3.replace(b"/Encoding", b"/Encazing"))


def test_operator_spellings_inside_shows_do_not_truncate_blocks():
    """'ET' bytes inside a show string ('(NET income) Tj') used to
    terminate the BT..ET match on the raw stream and silently drop
    every following TextBox on the page; BT/ET now match on the
    string-masked scan with token boundaries (a /NETFont Tf name
    must not end the block either)."""
    for lines in (["NET income", "second line"], ["BUDGET report"],
                  ["x ET y", "BT fake"], ["assets BETWEEN budgets"]):
        out = decode_tiny_pdf(build_tiny_pdf("d", [lines]))
        got = [s["text"] for s in out["spans"] if s["kind"] == "TextBox"]
        assert got == lines, (lines, got)
    # a font NAME carrying 'ET' must not terminate the block
    p = build_tiny_pdf("d", [["alpha", "beta"]]).replace(
        b"/F1 12 Tf", b"/NETF1 12 Tf").replace(
        b"/F1 ", b"/NETF1 ")
    got = [s["text"] for s in decode_tiny_pdf(p)["spans"]
           if s["kind"] == "TextBox"]
    assert got == ["alpha", "beta"]


def test_indirect_resources_and_intermediate_inheritance():
    """'/Resources 9 0 R' (the common real-writer shape) must resolve
    through the reference — before, the font map came up empty and
    CID shows silently decoded as latin-1 garbage. /Rotate (and
    /MediaBox) inherit from INTERMEDIATE /Pages nodes per §7.7.3.4,
    not only leaf-or-root."""
    p = build_tiny_pdf("d", [["hello cid text"]], cid=True)
    m = re.search(
        rb"/Resources (<< /Font << /F1 \d+ 0 R >> >>)", p)
    assert m is not None
    p2 = p.replace(b"/Resources " + m.group(1), b"/Resources 90 0 R")
    p2 = p2.replace(b"startxref",
                    b"90 0 obj\n" + m.group(1) + b"\nendobj\nstartxref")
    got = [s["text"] for s in decode_tiny_pdf(p2)["spans"]
           if s["kind"] == "TextBox"]
    assert got == ["hello cid text"]

    from pdfspark.sources.pdf_mini import build_nested_pdf

    pn = build_nested_pdf("d", [["rotated nested"]])
    mm = re.search(rb"<< /Type /Pages ([^>]*?)/Parent", pn)
    assert mm is not None
    pn2 = pn.replace(
        mm.group(0),
        b"<< /Type /Pages /Rotate 90 " + mm.group(1) + b"/Parent")
    ps = [s for s in decode_tiny_pdf(pn2)["spans"]
          if s["kind"] == "PageStart"][0]
    assert (ps["x1"], ps["y1"]) == (792.0, 612.0)


def test_codec_small_conformance_edges():
    """Grab-bag of spec edges: non-\\w XObject names bind on both
    sides of the paint; a page with NO /Contents is a legal blank
    page (PageStart only), not a whole-document quarantine; a
    trailing lone backslash in a literal string is disregarded
    (§7.3.4.2); '/Length N g R' with a nonzero generation is still
    an indirect reference, not a direct length."""
    p = build_tiny_pdf("d", [["img page"]], images=[1]).replace(
        b"/Im1", b"/Im-1")
    out = decode_tiny_pdf(p)
    assert any(s["kind"] == "Image" and "Im-1" in s["media_ref"]
               for s in out["spans"])

    # blank page: strip the /Contents entry from page 2 of 2
    p = build_tiny_pdf("d", [["page one text"], ["gone"]])
    m = re.findall(rb" /Contents \d+ 0 R", p)
    p2 = p.replace(m[1], b"", 1)
    out = decode_tiny_pdf(p2)
    assert [s["text"] for s in out["spans"]
            if s["kind"] == "TextBox"] == ["page one text"]
    assert sum(1 for s in out["spans"] if s["kind"] == "PageStart") == 2

    from pdfspark.sources.pdf_mini import _LENGTH_RE, _unescape_bytes
    assert _unescape_bytes(b"abc\\") == b"abc"
    assert _LENGTH_RE.search(b"/Length 7 1 R") is None
    assert _LENGTH_RE.search(b"/Length 7 >>").group(1) == b"7"


def test_malformed_decoder_span_quarantines_not_crashes(spark, tmp_path):
    """The pluggable-decoder seam: a decoder emitting a span dict with
    a missing key (geom path) or partial geometry (digest path) must
    quarantine the file, not kill the Spark task or misreport a
    decoded doc as decode_error."""
    import os

    from pdfspark.sources.binary_decode import (
        decode_payloads,
        decode_payloads_geom,
        geom_digest,
        read_payloads,
    )

    d = str(tmp_path / "p")
    os.makedirs(d)
    with open(os.path.join(d, "good.bin"), "w") as fh:
        fh.write('{"doc_id": "ok-doc", "spans": [{"kind": "TextBox", '
                 '"text": "t", "media_ref": null, "offset": 0}]}')
    with open(os.path.join(d, "bad.bin"), "w") as fh:
        fh.write('{"doc_id": "bad-doc", "spans": [{"kind": "TextBox"}]}')

    def decoder(content):
        import json
        body = json.loads(content.decode())
        return dict(doc_id=body["doc_id"], spans=body["spans"])

    rows = decode_payloads_geom(read_payloads(spark, d),
                                decoder=decoder).collect()
    # bad.bin quarantined (its span lacks text/media_ref/offset);
    # good.bin intact — the task survives
    assert {r.doc_id for r in rows} == {"ok-doc"}

    # partial geometry: digest skips the span instead of TypeError
    assert geom_digest([{"offset": 0, "page_id": 1, "x0": 1.0,
                         "y0": None, "x1": 2.0, "y1": 2.0}]) == ""
    # and through decode_payloads a partially-geometric decoder result
    # stays status='ok' (the digest no longer throws into the
    # catch-all)
    def decoder2(content):
        return dict(doc_id="p-doc", spans=[
            dict(kind="TextBox", text="t", media_ref=None, offset=0,
                 x0=1.0, y0=None, x1=2.0, y1=3.0)])
    out = decode_payloads(read_payloads(spark, d),
                          decoder=decoder2).collect()
    assert all(r.status == "ok" for r in out)


def test_stream_expansion_cap_quarantines_bombs(monkeypatch):
    """Decompression-bomb guard: a stream whose DECODED size exceeds
    MAX_STREAM_BYTES raises (→ quarantine) instead of ballooning
    executor memory — the poison-document class a web-scale corpus
    is guaranteed to contain. Cap is per filter-chain stage, checked
    for Flate, LZW and RunLength (ASCIIHex/85 contract input)."""
    import zlib

    from pdfspark.sources import pdf_mini
    from pdfspark.sources.pdf_mini import _apply_filters

    # direct bomb shapes through the single filter funnel
    monkeypatch.setattr(pdf_mini, "MAX_STREAM_BYTES", 4096)
    bomb = zlib.compress(b"\0" * 5000)
    assert len(bomb) < 100  # genuinely bomb-shaped (>50x expansion)
    with pytest.raises(ValueError, match="deflate expansion over cap"):
        _apply_filters(b"<< /Filter /FlateDecode >>", bomb)
    from pdfspark.sources.pdf_mini import _lzw_encode, _rle_encode
    with pytest.raises(ValueError, match="LZW expansion over cap"):
        _apply_filters(b"<< /Filter /LZWDecode >>",
                       _lzw_encode(b"\0" * 5000))
    with pytest.raises(ValueError, match="RunLength expansion over cap"):
        _apply_filters(b"<< /Filter /RunLengthDecode >>",
                       _rle_encode(b"\0" * 5000))
    # under the cap all three still decode
    for spec, enc in ((b"/FlateDecode", zlib.compress(b"\1" * 4000)),
                      (b"/LZWDecode", _lzw_encode(b"\1" * 4000)),
                      (b"/RunLengthDecode", _rle_encode(b"\1" * 4000))):
        assert _apply_filters(b"<< /Filter " + spec + b" >>",
                              enc) == b"\1" * 4000

    # end-to-end: a compressed PDF over a (monkeypatched-tiny) cap
    # quarantines; the same bytes decode fine at the real cap
    pages = [["paragraph " + str(i) + " body text" for i in range(40)]]
    pdf = build_tiny_pdf("bombdoc", pages, compress=True)
    monkeypatch.setattr(pdf_mini, "MAX_STREAM_BYTES", 64)
    with pytest.raises(ValueError, match="expansion over cap"):
        decode_tiny_pdf(pdf)
    monkeypatch.setattr(pdf_mini, "MAX_STREAM_BYTES", 64 << 20)
    texts = [s["text"] for s in decode_tiny_pdf(pdf)["spans"]
             if s["kind"] == "TextBox"]
    assert len(texts) == 40


def test_truncated_deflate_still_quarantines():
    """The decompressobj swap (bomb guard) must keep zlib.decompress's
    truncation semantics: a cut-short deflate stream raises rather
    than silently yielding a partial content stream (wrong parse)."""
    import zlib

    from pdfspark.sources.pdf_mini import _apply_filters

    full = zlib.compress(b"BT (hello) Tj ET " * 20)
    with pytest.raises(ValueError, match="truncated"):
        _apply_filters(b"<< /Filter /FlateDecode >>", full[:-4])
    # trailing garbage after EOD stays tolerated (zlib.decompress
    # behavior real writers rely on for padded streams)
    out = _apply_filters(b"<< /Filter /FlateDecode >>", full + b"XX")
    assert out == b"BT (hello) Tj ET " * 20


def test_pdf_utf8_bom_text_strings():
    """PDF 2.0 text strings (§7.9.2.2.2): an EF BB BF BOM marks UTF-8
    — writers emit it today for non-latin titles. Both the literal and
    hex /Title forms decode; a BOM-free latin-1 string is unchanged
    (no false UTF-8 sniffing)."""
    from pdfspark.sources.pdf_mini import _text_string

    title = "Überblick → Anhang"
    assert _text_string(b"\xef\xbb\xbf" + title.encode("utf-8")) == title
    assert _text_string(b"caf\xe9") == "café"  # PDFDocEncoding path
    # malformed UTF-8 after the BOM degrades via replacement, never
    # raises (document-level metadata must not quarantine the doc)
    assert "�" in _text_string(b"\xef\xbb\xbf\xff\xfe")

    # end-to-end: swap the builder's title for the UTF-8 hex form
    pages = [["1. Intro", "Body."]]
    pdf = build_tiny_pdf("u8doc", pages, title_utf16=True)
    assert b"/Title <FEFF" in pdf
    hex_utf8 = (b"\xef\xbb\xbf" + "u8doc".encode("utf-8")).hex().upper()
    swapped = pdf.replace(
        b"<FEFF" + "u8doc".encode("utf-16-be").hex().upper().encode("ascii")
        + b">",
        b"<" + hex_utf8.encode("ascii") + b">")
    assert swapped != pdf
    assert decode_tiny_pdf(swapped) == decode_tiny_pdf(pdf)


def test_tiff_predictor2_unpredict():
    """TIFF /Predictor 2 (horizontal differencing, 8-bit) on a
    filtered stream: forward-difference rows at stride /Colors, then
    check the decoder restores the original bytes; geometry and depth
    violations quarantine."""
    import zlib

    from pdfspark.sources.pdf_mini import _filtered_stream, _tiff_unpredict

    rows, cols, colors = 3, 4, 2
    raw = bytes(range(rows * cols * colors))
    # forward horizontal differencing (what a TIFF-predictor writer
    # emits): sample minus left-neighbor sample of the same component
    fwd = bytearray(raw)
    row_len = cols * colors
    for r in range(0, len(fwd), row_len):
        for i in range(row_len - 1, colors - 1, -1):
            fwd[i + r] = (raw[i + r] - raw[i + r - colors]) & 0xFF
    assert _tiff_unpredict(bytes(fwd), cols, colors) == raw

    comp = zlib.compress(bytes(fwd))
    body = (b"<< /Filter /FlateDecode /DecodeParms << /Predictor 2 "
            b"/Columns 4 /Colors 2 >> /Length %d >>\nstream\n" % len(comp)
            + comp + b"\nendstream")
    _, data = _filtered_stream(body)
    assert data == raw

    # row-geometry violation (data not a multiple of columns*colors)
    with pytest.raises(ValueError, match="row geometry"):
        _tiff_unpredict(raw[:-1], cols, colors)
    # 16-bit components: not vouched for -> quarantine
    body16 = body.replace(b"/Colors 2", b"/Colors 2 /BitsPerComponent 16")
    with pytest.raises(ValueError, match="TIFF predictor depth"):
        _filtered_stream(body16)
    # default Colors=1: plain per-row cumulative sum
    assert _tiff_unpredict(b"\x05\x01\x01", 3, 1) == b"\x05\x06\x07"


def test_mutation_sweep_never_hangs_or_escapes():
    """Poison-input sweep: deterministic truncations, bit flips and
    chunk deletions over seven real payload shapes (plain, Flate,
    PDF 1.5 objstm+xref-stream, layout/geometry, tagged, CID, inline
    images). Every mutant must
    COMPLETE quickly — parse or raise — because at corpus scale the
    decode seam sees arbitrary garbage and the executor-side contract
    is 'quarantine, never hang, never kill the task'. Any exception
    class is acceptable (decode_payloads catches Exception); what
    this pins is termination and the absence of interpreter-level
    escapes (SystemExit/KeyboardInterrupt/MemoryError via bombs are
    separately capped)."""
    import random

    from pdfspark.sources.pdf_mini import build_layout_pdf, build_tiny_pdf_15

    pages = [["1. Intro", "Body with (parens) and [brackets]."],
             ["2. More", "Tail."]]
    corpus = [
        build_tiny_pdf("fz1", pages),
        build_tiny_pdf("fz2", pages, compress=True),
        build_tiny_pdf_15("fz3", pages, outlines=[("Intro", [])]),
        build_layout_pdf("fz4", [[("Cell A", 72, 700), ("Cell B", 200, 700)]]),
        # the content tokenizer's dict, hex-string and BI..ID..EI
        # branches, on garbage
        build_tiny_pdf("fz5", pages, tagged=True),
        build_tiny_pdf("fz6", pages, cid=True),
        build_tiny_pdf("fz7", pages, inline_images=[1, 1]),
    ]
    rng = random.Random(0xF02205)
    ran = 0
    for pdf in corpus:
        n = len(pdf)
        cases = []
        # truncations (headers, mid-stream, tails)
        cases += [pdf[:k] for k in (7, 24, n // 3, n // 2, n - 9, n - 1)]
        # single-byte flips spread across the file
        for _ in range(24):
            i = rng.randrange(n)
            cases.append(pdf[:i] + bytes([pdf[i] ^ rng.randrange(1, 256)])
                         + pdf[i + 1:])
        # chunk deletions (drop 16..256 bytes)
        for _ in range(12):
            i = rng.randrange(n - 16)
            j = min(n, i + rng.randrange(16, 256))
            cases.append(pdf[:i] + pdf[j:])
        # chunk duplications (object/xref confusion shapes)
        for _ in range(6):
            i = rng.randrange(n - 16)
            j = min(n, i + rng.randrange(16, 128))
            cases.append(pdf[:j] + pdf[i:j] + pdf[j:])
        for mut in cases:
            try:
                out = decode_tiny_pdf(mut)
                assert isinstance(out, dict) and "spans" in out
            except Exception:
                pass  # quarantine path — the contract
            ran += 1
    assert ran == 7 * (6 + 24 + 12 + 6)


def test_type0_without_tounicode_quarantines():
    """A composite (Type0/Identity-H) font whose /ToUnicode is
    stripped must quarantine: its show strings are 2-byte CIDs, and
    the latin-1 byte-wise fallback would silently emit garbage char
    pairs per glyph (pdfminer's own degradation here is (cid:N)
    placeholders, not text). With /ToUnicode intact the same file
    decodes."""
    pages = [["1. Intro", "Body."]]
    pdf = build_tiny_pdf("cid0", pages, cid=True)
    assert decode_tiny_pdf(pdf)["spans"]  # intact: decodes

    stripped = re.sub(rb"/ToUnicode \d+ 0 R\s*", b"", pdf)
    assert stripped != pdf
    # /Encoding /Identity-H survives, so this shape trips the
    # unsupported-base-encoding guard — still a quarantine, never the
    # latin-1 fallback
    with pytest.raises(ValueError, match="unsupported base encoding"):
        decode_tiny_pdf(stripped)

    # ...and a Type0 with NO /Encoding either (fully stripped) hits
    # the dedicated composite-font guard
    bare = re.sub(rb"/Encoding\s*/Identity-H\s*", b"", stripped)
    assert bare != stripped
    with pytest.raises(ValueError, match="Type0 font without /ToUnicode"):
        decode_tiny_pdf(bare)


def _walk(stream: bytes, objs=None, xobjs=None) -> list[tuple]:
    """(kind, text, media_ref, bbox) of every span one content stream
    emits through the walker."""
    from pdfspark.sources.pdf_mini import _walk_content

    spans = []

    def emit(kind, text, media_ref=None, bbox=None):
        spans.append((kind, text, media_ref, bbox))

    _walk_content(objs or {}, stream, xobjs or {}, emit, frozenset())
    return spans


def test_walk_balanced_parentheses_in_literal_string():
    """§7.3.4.2: balanced parentheses inside a literal string need no
    escape — `(a (b) c) Tj` shows `a (b) c`, it is not a stray string
    operand to quarantine."""
    spans = _walk(b"BT /F1 12 Tf (a (b) c) Tj ET")
    assert [(k, t) for k, t, _r, _b in spans] == [("TextBox", "a (b) c")]


def test_walk_td_leading_and_quote_spacing_persist_across_bt():
    """TD sets the leading and " sets word/char spacing as TEXT STATE
    (§9.3.1, §9.4.2-3), which persists into the next BT block: T*
    there moves by TD's 20, and the " spacing widens the next Tj."""
    spans = _walk(b"BT 0 -20 TD ET BT T* (x) Tj ET")
    assert spans[0][3] == (0.0, -20.0, 6.0, -8.0)
    # 'a b': 3 glyphs * 6pt + Tc 1 per glyph + Tw 5 per space = 26
    spans = _walk(b'BT 5 1 (a b) " ET BT (a b) Tj ET')
    assert [b[2] for _k, _t, _r, b in spans] == [26.0, 26.0]


def test_walk_bt_without_et_quarantines():
    """A text object never closed by ET must quarantine, not return ok
    with the block's text silently gone."""
    with pytest.raises(ValueError, match="BT without ET"):
        _walk(b"BT /F1 12 Tf 72 720 Td (lost) Tj")
    with pytest.raises(ValueError, match="BT without ET"):
        _walk(b"BT (one) Tj BT (two) Tj ET")


def test_walk_comment_hides_the_rest_of_the_line():
    """§7.2.4: `%` starts a comment that runs to the end of the line —
    a show written after it is not in the stream."""
    spans = _walk(b"BT (x) Tj % (y) Tj\n(z) Tj ET")
    assert [t for _k, t, _r, _b in spans] == ["x", "z"]


def test_walk_image_paint_inside_text_object():
    """A `/Im1 Do` between BT and ET paints its image in stream order,
    as pdfminer's do_Do does, instead of being dropped silently."""
    objs = {5: (b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
                b"/Length 1 >>\nstream\n\x00\nendstream")}
    spans = _walk(b"BT (x) Tj 10 0 0 10 5 5 cm /Im1 Do (y) Tj ET",
                  objs=objs, xobjs={b"Im1": 5})
    assert [(k, t, r) for k, t, r, _b in spans] == [
        ("TextBox", "x", None), ("Image", "", "xobj://5/Im1"),
        ("TextBox", "y", None)]
    assert spans[1][3] == (5.0, 5.0, 15.0, 15.0)


def test_fixture_pdfs_match_their_recorded_decode():
    """Every fixtures/<sf>/payloads_pdf/*.pdf decodes, Spark-free, to
    the status, span count and geom_digest that the directory's
    payloads_pdf_expected.parquet records (the rows the driver's
    DuckDB oracle hash-checks through Spark)."""
    import glob

    import pyarrow.parquet as pq

    from pdfspark.sources.binary_decode import geom_digest

    fixtures = os.path.join(os.path.dirname(__file__), "..", "fixtures")
    dirs = sorted(glob.glob(os.path.join(fixtures, "*", "payloads_pdf")))
    assert dirs
    for d in dirs:
        want = {r["doc_id"]: r for r in pq.read_table(os.path.join(
            os.path.dirname(d), "payloads_pdf_expected.parquet")).to_pylist()}
        paths = sorted(glob.glob(os.path.join(d, "*.pdf")))
        assert len(paths) == len(want), d
        for path in paths:
            with open(path, "rb") as fh:
                payload = fh.read()
            try:
                out = decode_tiny_pdf(payload)
            except Exception:  # the decode stage's quarantine
                out = None
            stem = os.path.splitext(os.path.basename(path))[0]
            exp = want[out["doc_id"] if out else stem]
            got = (("ok", len(out["spans"]), geom_digest(out["spans"]))
                   if out else ("decode_error", 0, ""))
            assert got == (exp["status"], exp["n_spans"],
                           exp["geom_digest"]), path
