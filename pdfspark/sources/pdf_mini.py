"""Minimal pure-stdlib PDF text codec for the S1 decode seam.

The container ships no PDF library, but the decode seam
(`binary_decode._decode_payload`) should not go un-exercised by real
PDF bytes: this module implements the smallest useful slice of the
(public) PDF 1.4 spec — uncompressed content streams, Type1 text
operators — so the fixture can carry genuine `%PDF` payloads that
round-trip through the production binaryFile -> Arrow-batch plumbing.

``build_tiny_pdf`` emits a syntactically complete PDF (catalog, page
tree, per-page uncompressed content streams, Info dict carrying the
doc id, correct xref offsets). ``decode_tiny_pdf`` plays the role of
the reference's pdfminer page iteration (ref src/pdf_extractor.py:
181-210): walk pages in /Kids order, parse each content stream's
BT..ET text blocks, and emit one TextBox span per text-show operator
plus a PageStart marker per page — the same span-dict shape the JSON
stand-in payloads decode to. A real pdfminer swap-in would replace
only these ~60 lines; everything upstream/downstream is identical.

Compressed content streams (/Filter /FlateDecode — what virtually
every real-world PDF writer emits) are supported via stdlib zlib;
stream bytes are sliced by the dict's /Length when present because a
regex scan to `endstream` is unsound over binary deflate output.

PDF 1.5+ structure (what modern writers emit by default) is covered:

* **cross-reference streams** (`/Type /XRef`): located via
  ``startxref`` and followed through ``/Prev`` (incremental updates);
  FlateDecode plus PNG predictors 10-12 (`/DecodeParms /Predictor`,
  the near-universal writer choice) are decoded, ``/W``-packed
  entries parsed, and the stream dict supplies the trailer fields
  (``/Root /Info``) that 1.5 files carry instead of a ``trailer``
  keyword;
* **object streams** (`/Type /ObjStm`): type-2 xref entries name the
  object streams holding the live compressed objects; each is
  inflated and its ``/N`` ``/First`` header pairs expanded into the
  object table (any scanned ObjStm is also expanded as a fallback so
  a damaged xref degrades to the whole-file scan, never to silent
  data loss);
* **outline tree** (`/Outlines`, S5; ref src/pdf_extractor.py:40-72):
  walked depth-first (children before next sibling, pdfminer's
  ``get_outlines`` order, cycle-guarded), one ``kind='TOC'`` span per
  ``/Title`` — emitted ahead of the page spans, so the TOC skeleton
  operator runs from raw bytes.

Embedded images (the interleaved text+media shape): each page's
``/Resources /XObject`` map is read, and ``/ImN Do`` paints in the
content stream emit ``kind='Image'`` spans with a deterministic
``media_ref`` (``xobj://<obj>/<name>``), interleaved with the text
blocks in stream order — the media_ref mapping the reference applies
to its embedded-image fixtures. Form XObjects (running headers,
watermarks — nested content streams) RECURSE like pdfminer's
render_contents, with the form's ``/Resources /XObject`` map layered
over the page's, a cycle guard, and a depth bound; a ``Do`` naming a
missing XObject or an unsupported subtype quarantines the document.
Inline images (``BI..ID..EI``) emit Image spans at the paint site
(``inline://<decoded-stream offset>`` refs); the content tokenizer
skips their raw sample bytes, which can spell ``BT``/``Do``, up to the
whitespace-EI-token boundary pdfminer also uses.

Stream filters: FlateDecode (stdlib zlib), ASCIIHexDecode,
ASCII85Decode (stdlib base64) and LZWDecode (TIFF flavor, EarlyChange
1 — the only value real writers use), applied as chains in /Filter
order (``[/ASCIIHexDecode /FlateDecode]``). Text-show operands may be
literal or hex strings (``<...> Tj`` and hex elements in TJ arrays),
decoded latin-1 like the literal path — the honest slice for simple
(non-CID) fonts.

Encryption (PDF 32000-1 §7.6, public spec): the **RC4 slice of the
standard security handler** — ``/Filter /Standard``, ``/V`` 1-2 /
``/R`` 2-3 (RC4 40..128-bit), EMPTY user password — authenticates
via Algorithm 6 (/U comparison) and decrypts per-object (Algorithm 1
keys; streams + dict strings; decryption before filter decode, xref
streams and the /Encrypt dict itself exempt per spec). This is the
"owner-locked, world-readable" shape that dominates real encrypted
corpora (print/copy restrictions, no open password). Beyond the
slice — AES (``/V`` 4-5), a real user password (the /U check fails),
non-Standard handlers — the document quarantines: parsing ciphertext
on would be a WRONG parse, not a failed one.

Out of scope (quarantined as decode errors, like any malformed
payload): filters beyond the four above, AES encryption and
password-protected documents (above), non-literal strings beyond the
standard escapes.
"""

from __future__ import annotations

import base64
import re
import zlib

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.DOTALL)
_PAGES_TYPE_RE = re.compile(rb"/Type\s*/Pages\b")
_INFO_RE = re.compile(rb"/Info\s+(\d+)\s+\d+\s+R")
_TITLE_RE = re.compile(rb"/Title\s*\(((?:[^()\\]|\\.)*)\)")
# hex-string /Title — the form writers use for UTF-16BE titles
# (<FEFF...>); (?!<) keeps dict-open `<<` from matching
_TITLE_HEX_RE = re.compile(rb"/Title\s*<(?!<)([0-9A-Fa-f\s]*)>")
# any string token — the decryption pass rewrites every string of a
# decrypted object body in place through it
_STR_TOKEN_RE = re.compile(
    rb"\(((?:[^()\\]|\\.)*)\)|<(?!<)([0-9A-Fa-f\s]*)>", re.DOTALL)
_STREAM_START_RE = re.compile(rb"stream(\r\n|\n)")
# (?![0-9]) pins the full number first — without it, backtracking lets
# a multi-digit indirect length like "/Length 50 0 R" match a truncated
# "5" ("0 0 R" fails the lookahead's \s+, so the prefix sneaks through)
# the reference guard must cover ANY generation number ("7 1 R"),
# not just gen 0 — same pattern as _FIRST_OFF_RE below
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)")
_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/\w+)")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)(?![0-9])")
_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_INDEX_RE = re.compile(rb"/Index\s*\[([\d\s]*)\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)(?![0-9])")
_PRED_RE = re.compile(rb"/Predictor\s+(\d+)(?![0-9])")
_COLS_RE = re.compile(rb"/Columns\s+(\d+)(?![0-9])")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)(?![0-9])")
_BPC_PARM_RE = re.compile(rb"/BitsPerComponent\s+(\d+)(?![0-9])")
_N_RE = re.compile(rb"/N\s+(\d+)(?![0-9])")
_FIRST_OFF_RE = re.compile(rb"/First\s+(\d+)(?![0-9])(?!\s+\d+\s+R)")
_OUTLINES_RE = re.compile(rb"/Outlines\s+(\d+)\s+\d+\s+R")
_PAGES_REF_RE = re.compile(rb"/Pages\s+(\d+)\s+0\s+R")
_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")
_SIZE_VAL_RE = re.compile(rb"/Size\s+(\d+)")
_TRAILER_DICT_RE = re.compile(rb"trailer\s*<<(.*?)>>", re.DOTALL)
_ENCRYPT_RE = re.compile(rb"/Encrypt\s*(\d+\s+\d+\s+R|<<)")
_RES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.DOTALL)
# PDF whitespace is §7.2.2's six bytes plus VT, which pdfminer's `\s`
# also skips; a regular character is anything but whitespace and the
# delimiters. PDF names are not \w-limited — real writers emit
# /Image-1, /F#23oo (§7.3.5 regular characters incl. '#' escapes) — so
# the resource-dict parse and the content tokenizer both take every
# regular character, and a hyphenated name binds on both sides of a
# paint.
_PDF_WS = rb"\x00\t\n\x0b\x0c\r "
_REGULAR = rb"[^" + _PDF_WS + rb"()<>\[\]{}/%]"
_XOBJ_NAME_RE = re.compile(rb"/(" + _REGULAR + rb"+)\s+(\d+)\s+0\s+R")
_SUBTYPE_IMG_RE = re.compile(rb"/Subtype\s*/Image\b")
_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.DOTALL)
_NUM = rb"[+-]?(?:\d+\.?\d*|\.\d+)"
# one content-stream token (ISO 32000-1 §7.2-7.3): whitespace and %
# comments (unnamed, skipped), numbers, names, literal strings — a
# string whose parentheses nest falls to `lpar`, balanced by
# _nested_string — hex strings, array/dict brackets, and operator
# keywords (any run of regular characters: Tj, T*, ', "). `junk` is a
# delimiter no grammar rule takes (a stray `)`, `{` or bad hex `<`).
_TOKEN_RE = re.compile(
    rb"[" + _PDF_WS + rb"]+|%[^\r\n]*"
    rb"|(?P<num>" + _NUM + rb")"
    rb"|/(?P<name>" + _REGULAR + rb"*)"
    rb"|\((?P<str>(?:[^()\\]|\\.)*)\)|(?P<lpar>\()"
    rb"|<(?P<hex>[0-9A-Fa-f" + _PDF_WS + rb"]*)>"
    rb"|(?P<open><<|\[)|(?P<close>>>|\])"
    rb"|(?P<op>" + _REGULAR + rb"+)|(?P<junk>.)",
    re.DOTALL)
_PAREN_RE = re.compile(rb"\\.|[()]", re.DOTALL)
# an inline image's sample bytes run from one whitespace byte after ID
# to the whitespace-EI-token boundary (pdfminer's get_inline_data
# heuristic): the bytes themselves can spell anything
_EI_RE = re.compile(rb"\sEI(?![A-Za-z0-9])")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*(" + _NUM + rb")\s+(" + _NUM + rb")\s+("
    + _NUM + rb")\s+(" + _NUM + rb")\s*\]")
_ROTATE_RE = re.compile(rb"/Rotate\s+(-?\d+)")
# deterministic glyph metrics for the geometry slice: 0.5 em advance
# per decoded char, 1.0 em line box above the baseline. pdfminer uses
# the font's real widths/ascent; without embedded metrics this
# documented approximation keeps the ORDER relations the downstream
# geometry operators consume (W1 reading order, F10-F12 margins,
# A4/EP3 row clustering) exact for axis-aligned text, which is the
# slice's contract — not glyph-accurate ink extents.
GLYPH_W = 0.5
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_CSRANGE_RE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_CMAP_TOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>|(\[)|(\])")
_SUBTYPE_FORM_RE = re.compile(rb"/Subtype\s*/Form\b")
# simple-font /Encoding (§9.6.6): a name, an inline dict, or an
# indirect ref to a dict with /BaseEncoding + /Differences
_ENC_NAME_RE = re.compile(rb"/Encoding\s*/(\w+)")
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_ENC_DICT_RE = re.compile(rb"/Encoding\s*<<(.*?)>>", re.DOTALL)
_ENC_DICT_RE_BODY = re.compile(rb"<<(.*?)>>", re.DOTALL)
_BASEENC_RE = re.compile(rb"/BaseEncoding\s*/(\w+)")
_DIFFS_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.DOTALL)
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([A-Za-z0-9._]+)")
_FIRST_REF_RE = re.compile(rb"/First\s+(\d+)\s+\d+\s+R")
_NEXT_REF_RE = re.compile(rb"/Next\s+(\d+)\s+\d+\s+R")
# standard security handler (PDF 32000-1 §7.6.2-7.6.4, public spec)
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_HEX_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>")
_ID_LIT_RE = re.compile(rb"/ID\s*\[\s*\(((?:[^()\\]|\\.)*)\)")
_V_NUM_RE = re.compile(rb"/V\s+(\d+)(?![0-9])")
_R_NUM_RE = re.compile(rb"/R\s+(\d+)(?![0-9])")
_P_NUM_RE = re.compile(rb"/P\s+(-?\d+)(?![0-9])")
_O_LIT_RE = re.compile(rb"/O\s*\(((?:[^()\\]|\\.)*)\)", re.DOTALL)
_O_HEX_RE = re.compile(rb"/O\s*<(?!<)([0-9A-Fa-f\s]*)>")
_U_LIT_RE = re.compile(rb"/U\s*\(((?:[^()\\]|\\.)*)\)", re.DOTALL)
_U_HEX_RE = re.compile(rb"/U\s*<(?!<)([0-9A-Fa-f\s]*)>")
_FILTER_STD_RE = re.compile(rb"/Filter\s*/Standard\b")
_TYPE_XREF_RE = re.compile(rb"/Type\s*/XRef\b")
# V4 crypt-filter plumbing (§7.6.5): /CF names filters, /StmF and
# /StrF select which applies to streams/strings
_CFM_RE = re.compile(rb"/CFM\s*/(\w+)")
_STMF_RE = re.compile(rb"/StmF\s*/(\w+)")
_STRF_RE = re.compile(rb"/StrF\s*/(\w+)")
_ENCMETA_RE = re.compile(rb"/EncryptMetadata\s+(true|false)")
# R6 (AES-256) key-wrap entries (§7.6.4)
_UE_LIT_RE = re.compile(rb"/UE\s*\(((?:[^()\\]|\\.)*)\)", re.DOTALL)
_UE_HEX_RE = re.compile(rb"/UE\s*<(?!<)([0-9A-Fa-f\s]*)>")
_PERMS_LIT_RE = re.compile(rb"/Perms\s*\(((?:[^()\\]|\\.)*)\)",
                           re.DOTALL)
_PERMS_HEX_RE = re.compile(rb"/Perms\s*<(?!<)([0-9A-Fa-f\s]*)>")

_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\"}


def _unescape_bytes(raw: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i:i + 1]
        if c == b"\\" and i + 1 >= n:
            break  # trailing lone backslash: disregarded (§7.3.4.2)
        if c == b"\\":
            nxt = raw[i + 1:i + 2]
            if nxt in b"\r\n":
                # line continuation (PDF 7.3.4.2): the reverse solidus
                # AND the end-of-line marker are BOTH disregarded;
                # keeping the newline would inject a spurious line
                # break and change first_line/line_count downstream
                i += 2
                if nxt == b"\r" and raw[i:i + 1] == b"\n":
                    i += 1
                continue
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt in b"01234567":  # octal escape, 1-3 OCTAL digits
                # (\8 / \9 are NOT octal: the backslash is dropped and
                # the digit kept, like any other unknown escape)
                j = i + 1
                while j < min(i + 4, n) and raw[j:j + 1] in b"01234567":
                    j += 1
                out.append(int(raw[i + 1:j], 8) & 0xFF)
                i = j
                continue
            i += 1  # lone backslash: dropped, per spec
            continue
        out += c
        i += 1
    return bytes(out)


def _text_string(b: bytes) -> str:
    """PDF *text string* semantics (7.9.2.2): UTF-16BE iff the bytes
    begin with the FE FF BOM, UTF-8 iff they begin with EF BB BF
    (added by PDF 2.0 §7.9.2.2.2 — writers emit it today), else
    PDFDocEncoding (latin-1 is the ASCII-compatible slice). Applies
    to DOCUMENT-level strings — the Info /Title and outline /Title —
    NOT to content-stream show strings, whose bytes are font
    character codes, not text."""
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", "replace")
    if b[:3] == b"\xef\xbb\xbf":
        return b[3:].decode("utf-8", "replace")
    return b.decode("latin-1")


def _hex_bytes(raw: bytes) -> bytes:
    """Hex string `<48656c6c6f>` -> bytes. Whitespace is ignored and
    an odd final digit is padded with 0 (PDF 7.3.4.3)."""
    h = re.sub(rb"\s+", b"", raw)
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def _escape(s: str) -> bytes:
    return (
        s.encode("latin-1", "replace")
        .replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
    )


def _escape_strict(s: str) -> bytes:
    """Like ``_escape`` but raises on non-latin-1 input instead of
    replacing — callers fall back to the UTF-16BE hex form."""
    return (
        s.encode("latin-1")
        .replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
    )


def _lzw_encode(data: bytes) -> bytes:
    """LZWDecode-compatible encoder (TIFF flavor, EarlyChange 1) for
    fixture payloads: 9..12-bit codes MSB-first, leading clear code,
    width grows when the NEXT code to assign reaches 2^w - 1 (the
    early-change mirror of _lzw_decode's table-size threshold)."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out = bytearray()
    buf = bits = 0

    def put(code: int) -> None:
        nonlocal buf, bits
        buf = (buf << width) | code
        bits += width
        while bits >= 8:
            bits -= 8
            out.append((buf >> bits) & 0xFF)
            buf &= (1 << bits) - 1

    put(256)
    w = b""
    for i in range(len(data)):
        c = data[i:i + 1]
        if w + c in table:
            w += c
            continue
        put(table[w])
        if next_code < 4096:
            table[w + c] = next_code
            next_code += 1
            # decoder table size lags next_code by one (it cannot
            # build the entry for a code until the NEXT code arrives),
            # so its 2^w - 1 threshold aligns with next_code == 2^w
            if next_code == (1 << width) and width < 12:
                width += 1
        w = c
    if w:
        put(table[w])
    put(257)
    if bits:
        out.append((buf << (8 - bits)) & 0xFF)
    return bytes(out)


def _encode_stream(stream: bytes, spec) -> tuple[bytes, bytes]:
    """(filter dict clause, encoded payload) for a builder filter
    spec: True/'flate', 'lzw', 'a85', or the chain 'ahx+flate'."""
    if not spec:
        return b"", stream
    if spec is True or spec == "flate":
        return b" /Filter /FlateDecode", zlib.compress(stream)
    if spec == "lzw":
        return b" /Filter /LZWDecode", _lzw_encode(stream)
    if spec == "a85":
        return (b" /Filter /ASCII85Decode",
                base64.a85encode(stream) + b"~>")
    if spec == "rle":
        return b" /Filter /RunLengthDecode", _rle_encode(stream)
    if spec == "ahx+flate":
        z = zlib.compress(stream)
        return (b" /Filter [/ASCIIHexDecode /FlateDecode]",
                z.hex().encode("ascii") + b">")
    raise ValueError(f"unknown filter spec {spec!r}")


# --- standard security handler (RC4 + AESV2 slice) -------------------------
# PDF 32000-1 §7.6.2-7.6.5 (public spec). Pure stdlib: MD5 from
# hashlib, RC4 hand-rolled, AES-CBC from pdfspark.sources.aes
# (FIPS-197, vector-pinned). Scope: /Filter /Standard with EMPTY user
# password — the "owner-locked, world-readable" shape that dominates
# real encrypted corpora (print/copy restrictions, no open password):
# /V 1-2 /R 2-3 (RC4 40..128) and /V 4 /R 4 with the /StdCF AESV2
# crypt filter on both streams and strings (the modern writer
# default). AES-256 (/V 5), non-empty user passwords, non-StdCF
# filter selections and non-Standard handlers quarantine: parsing
# ciphertext on would be a WRONG parse.

_PAD = bytes([  # §7.6.3.3, the 32-byte password padding constant
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    """Textbook RC4 (KSA + PRGA). Fixture-scale payloads only — the
    production corpus path hands real encrypted PDFs to the pluggable
    codec seam; this keeps the structural plumbing honest."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _md5(b: bytes) -> bytes:
    from hashlib import md5

    return md5(b).digest()


def _std_file_key(user_pw: bytes, o_val: bytes, p: int, id0: bytes,
                  r: int, n: int,
                  encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: the file encryption key from the (padded) user
    password, /O, /P (as a SIGNED 32-bit little-endian int) and the
    first /ID element; R>=3 re-hashes the first n bytes 50 times.
    R>=4 with /EncryptMetadata false appends 0xFFFFFFFF to the first
    hash (§7.6.3.3 step f)."""
    seed = ((user_pw + _PAD)[:32] + o_val[:32]
            + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0)
    if r >= 4 and not encrypt_metadata:
        seed += b"\xff\xff\xff\xff"
    h = _md5(seed)
    if r >= 3:
        for _ in range(50):
            h = _md5(h[:n])
    return h[:n]


def _std_owner_value(owner_pw: bytes, user_pw: bytes, r: int,
                     n: int) -> bytes:
    """Algorithm 3: the /O entry — the padded user password encrypted
    with an RC4 key derived from the owner password (19 extra
    XOR-variant rounds for R>=3)."""
    h = _md5((owner_pw + _PAD)[:32])
    if r >= 3:
        for _ in range(50):
            h = _md5(h)
    key = h[:n]
    o = _rc4(key, (user_pw + _PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _std_user_value(file_key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U entry computed from the file
    key — comparing it against the stored /U authenticates a candidate
    user password (Algorithm 6). R3 pads the 16 significant bytes to
    32 with zeros (the spec leaves the tail arbitrary, so only the
    first 16 compare)."""
    if r == 2:
        return _rc4(file_key, _PAD)
    u = _rc4(file_key, _md5(_PAD + id0))
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    return u + b"\x00" * 16


def _obj_key(file_key: bytes, num: int, aes: bool = False) -> bytes:
    """Algorithm 1: the per-object key — MD5 of the file key plus the
    object/generation numbers packed low-order-first (the generation
    is always 0 here); the AESV2 crypt filter additionally appends
    the constant bytes `sAlT` (§7.6.2)."""
    h = _md5(file_key + num.to_bytes(3, "little") + b"\x00\x00"
             + (b"sAlT" if aes else b""))
    return h[: min(len(file_key) + 5, 16)]


def _aes_encrypt_entry(key: bytes, data: bytes) -> bytes:
    """AESV2 encryption of one string/stream: a deterministic
    content-derived IV (fixtures must be byte-reproducible) followed
    by CBC ciphertext with padding (§7.6.2: the IV is the first 16
    bytes of the encrypted data)."""
    from pdfspark.sources.aes import cbc_encrypt

    iv = _md5(b"pdfspark-aes-iv|" + key + b"|" + data)[:16]
    return iv + cbc_encrypt(key, iv, data)


def _aes_decrypt_entry(key: bytes, data: bytes) -> bytes:
    from pdfspark.sources.aes import cbc_decrypt

    if len(data) < 32:
        raise ValueError("AES entry shorter than IV + one block")
    return cbc_decrypt(key, data[:16], data[16:])


def _crypt_object_body(body: bytes, key: bytes,
                       cipher: str = "rc4",
                       encrypting: bool = False) -> bytes:
    """Transform the encrypted parts of ONE object body with its
    object key: the stream payload (sliced by the direct /Length —
    mandatory here) and every string token in the dict part,
    re-emitted as hex strings (sidesteps literal-escape length games
    on binary ciphertext). RC4 is symmetric (same transform both
    directions, length-preserving). AESV2 prepends an IV and pads, so
    the transformed stream's length differs — the head's /Length
    value is rewritten to match, keeping the dict truthful for the
    downstream slicing. Decryption precedes filter decode, per
    §7.6.2's order of operations."""
    if cipher == "rc4":
        def fn(data: bytes) -> bytes:
            return _rc4(key, data)
    elif encrypting:
        def fn(data: bytes) -> bytes:
            return _aes_encrypt_entry(key, data)
    else:
        def fn(data: bytes) -> bytes:
            return _aes_decrypt_entry(key, data)

    def _tok(m) -> bytes:
        raw = m.group(1)
        data = (_unescape_bytes(raw) if raw is not None
                else _hex_bytes(m.group(2)))
        return b"<" + fn(data).hex().encode("ascii") + b">"

    sm = _STREAM_START_RE.search(body)
    if sm is None:
        return _STR_TOKEN_RE.sub(_tok, body)
    head = body[:sm.start()]
    lm = _LENGTH_RE.search(head)
    if lm is None:
        raise ValueError("encrypted stream without direct /Length")
    want = int(lm.group(1))
    data = body[sm.end():sm.end() + want]
    tail = body[sm.end() + want:]
    if len(data) != want or not tail.lstrip(b"\r\n").startswith(
            b"endstream"):
        raise ValueError("encrypted stream shorter than /Length")
    out = fn(data)
    new_head = _STR_TOKEN_RE.sub(_tok, head)
    if cipher != "rc4" and len(out) != want:
        new_head = _LENGTH_RE.sub(
            b"/Length %d" % len(out), new_head, count=1)
    return (new_head + body[sm.start():sm.end()] + out + tail)


import functools


@functools.lru_cache(maxsize=256)
def _r6_hash(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 'hardened' KDF): iterated
    SHA-256/384/512 selected by an AES-128-CBC round over the
    running digest. Public-spec, stdlib-only. Memoized: ~0.5 s per
    derivation by design (it is a password KDF), and a decode session
    re-derives the same empty-password keys for every document that
    shares salts."""
    import hashlib

    from pdfspark.sources.aes import cbc_encrypt

    k = hashlib.sha256(pw + salt + udata).digest()
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = {0: hashlib.sha256, 1: hashlib.sha384,
             2: hashlib.sha512}[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _string_entry(enc: bytes, lit_re, hex_re) -> bytes | None:
    """A string-valued dict entry (/O, /U) in literal or hex form."""
    m = lit_re.search(enc)
    if m is not None:
        return _unescape_bytes(m.group(1))
    m = hex_re.search(enc)
    if m is not None:
        return _hex_bytes(m.group(1))
    return None


def _decrypt_objects(objs: dict[int, bytes], trailer: bytes,
                     fallback_ids: list[bytes]) -> None:
    """Authenticate the EMPTY user password against the standard
    security handler and RC4-decrypt every object in place (streams +
    dict strings; /Type /XRef streams and the /Encrypt dictionary
    itself are never encrypted, §7.5.8.2/§7.6.2). Runs BEFORE object-
    stream expansion: an ObjStm's stream is decrypted like any other,
    and the objects expanded out of it are plaintext that must NOT be
    decrypted again (§7.6.2). Raises ValueError (-> quarantine) for
    anything outside the RC4/empty-password slice."""
    em = _ENCRYPT_REF_RE.search(trailer)
    if em is None:
        raise ValueError("encrypted document (inline /Encrypt dict)")
    enc_num = int(em.group(1))
    enc = objs.get(enc_num)
    if enc is None:
        raise ValueError("encrypted document (missing /Encrypt object)")
    if _FILTER_STD_RE.search(enc) is None:
        raise ValueError("encrypted document (non-Standard handler)")
    vm, rm, pm = (_V_NUM_RE.search(enc), _R_NUM_RE.search(enc),
                  _P_NUM_RE.search(enc))
    o_val = _string_entry(enc, _O_LIT_RE, _O_HEX_RE)
    u_val = _string_entry(enc, _U_LIT_RE, _U_HEX_RE)
    if None in (vm, rm, pm, o_val, u_val):
        raise ValueError("encrypted document (incomplete /Encrypt)")
    v, r, p = int(vm.group(1)), int(rm.group(1)), int(pm.group(1))
    cipher = "rc4"
    encrypt_metadata = True
    if v in (1, 2) and r in (2, 3):
        lm = _LENGTH_RE.search(enc)  # key length in BITS in this dict
        n = int(lm.group(1)) // 8 if (v == 2 and lm is not None) else 5
        if not 5 <= n <= 16:
            raise ValueError(f"encrypted document (key length {n * 8})")
    elif v == 4 and r == 4:
        # AESV2 crypt filter (§7.6.5): this slice handles the one
        # configuration real writers emit — a single /StdCF AESV2
        # filter applied to BOTH streams and strings. /Identity or
        # per-stream /Crypt overrides would silently mis-decrypt if
        # assumed away, so anything else quarantines.
        cm_ = _CFM_RE.search(enc)
        if cm_ is None or cm_.group(1) != b"AESV2":
            raise ValueError(
                "encrypted document (V4 without AESV2 crypt filter)")
        stm = _STMF_RE.search(enc)
        stf = _STRF_RE.search(enc)
        if (stm is None or stm.group(1) != b"StdCF"
                or stf is None or stf.group(1) != b"StdCF"):
            raise ValueError(
                "encrypted document (V4 stream/string filter not StdCF)")
        emm = _ENCMETA_RE.search(enc)
        encrypt_metadata = emm is None or emm.group(1) == b"true"
        cipher = "aes"
        n = 16
    elif v == 5 and r == 6:
        # AES-256 (PDF 2.0 default, §7.6.4): /StdCF AESV3 on both
        # streams and strings; the file key is wrapped in /UE by an
        # Algorithm-2.B-derived intermediate key, and every object
        # encrypts with the file key directly (no per-object MD5).
        cm_ = _CFM_RE.search(enc)
        if cm_ is None or cm_.group(1) != b"AESV3":
            raise ValueError(
                "encrypted document (V5 without AESV3 crypt filter)")
        stm = _STMF_RE.search(enc)
        stf = _STRF_RE.search(enc)
        if (stm is None or stm.group(1) != b"StdCF"
                or stf is None or stf.group(1) != b"StdCF"):
            raise ValueError(
                "encrypted document (V5 stream/string filter not StdCF)")
        cipher = "aes"
        n = 32
    else:
        raise ValueError(
            f"encrypted document (V={v} R={r}: beyond the "
            f"RC4/AESV2/AESV3 slice)")
    if v == 5:
        from pdfspark.sources.aes import cbc_decrypt, ecb_decrypt

        ue_val = _string_entry(enc, _UE_LIT_RE, _UE_HEX_RE)
        if ue_val is None or len(u_val) < 48 or len(ue_val) < 32:
            raise ValueError("encrypted document (incomplete R6 keys)")
        # Algorithm 11: empty-user-password validation against /U =
        # hash(32) || validation salt(8) || key salt(8)
        if _r6_hash(b"", u_val[32:40], b"") != u_val[:32]:
            raise ValueError("encrypted document (password protected)")
        ikey = _r6_hash(b"", u_val[40:48], b"")
        file_key = cbc_decrypt(ikey, b"\x00" * 16, ue_val[:32],
                               unpad=False)
        # Algorithm 13 sanity slice: /Perms decrypts under the file
        # key to ... 'a' 'd' 'b' at bytes 9-11 — a wrong key (or a
        # tampered dict) fails here instead of emitting garbage
        perms = _string_entry(enc, _PERMS_LIT_RE, _PERMS_HEX_RE)
        if perms is not None and len(perms) >= 16:
            if ecb_decrypt(file_key, perms[:16])[9:12] != b"adb":
                raise ValueError(
                    "encrypted document (/Perms check failed)")
    else:
        idm = _ID_HEX_RE.search(trailer)
        if idm is not None:
            id0 = _hex_bytes(idm.group(1))
        else:
            idm = _ID_LIT_RE.search(trailer)
            id0 = (_unescape_bytes(idm.group(1))
                   if idm is not None else None)
        if id0 is None:
            # /ID may live in an earlier trailer of the update chain
            id0 = fallback_ids[-1] if fallback_ids else None
        if id0 is None:
            raise ValueError("encrypted document (missing /ID)")
        file_key = _std_file_key(b"", o_val, p, id0, r, n,
                                 encrypt_metadata=encrypt_metadata)
        expect = _std_user_value(file_key, id0, r)
        sig = 32 if r == 2 else 16  # R3+: first 16 bytes compare
        if expect[:sig] != u_val[:sig]:
            raise ValueError("encrypted document (password protected)")
    aes = cipher == "aes"
    for num, body in list(objs.items()):
        if num == enc_num or _TYPE_XREF_RE.search(body):
            continue
        key = (file_key if v == 5
               else _obj_key(file_key, num, aes=aes))
        objs[num] = _crypt_object_body(body, key, cipher=cipher)


def build_tiny_pdf(doc_id: str, pages: list[list[str]],
                   compress=False, hex_show: bool = False,
                   images: list[int] | None = None,
                   form_header: str | None = None,
                   inline_images: list[int] | None = None,
                   quote_show: bool = False,
                   title_utf16: bool = False,
                   cid: bool = False,
                   encrypt: str | None = None,
                   encoding: str | None = None,
                   rotate: int | None = None,
                   rotate_on_parent: bool = False,
                   tagged: bool = False,
                   widths: tuple[int, list[float]] | None = None,
                   type3_unit: float = 0.01
                   ) -> bytes:
    """A complete PDF: one content stream per page, one Tj text-show
    per line, doc_id in the Info /Title. ``compress`` selects the
    content-stream filter: True/'flate' (/FlateDecode, the real-world
    default), 'lzw', 'a85', 'rle' (/RunLengthDecode), or the chain
    'ahx+flate' (/Filter [/ASCIIHexDecode /FlateDecode]). ``hex_show=True`` emits
    text-show operands as hex strings (`<...> Tj`), the form CID-era
    writers use for every string. ``images`` gives a per-page count of
    embedded image XObjects, painted with `/ImN Do` after the page's
    text (4x4 DeviceGray payloads) — the interleaved text+media shape
    the span model's Image/media_ref rows come from. ``form_header``
    adds ONE shared Form XObject (a nested BT..ET content stream, the
    way real writers implement running headers/watermarks) painted
    `/Fm1 Do` ahead of every page's text — exercising the decoder's
    form recursion. ``inline_images`` gives a per-page count of BI..
    ID..EI inline images whose raw sample bytes deliberately spell
    text/paint operators (" BT ", " Tj ", " Do ") — bytes the
    decoder's tokenizer must skip unread. ``quote_show``
    emits each page's first line with Tj and the rest with the
    move-and-show operators (`(line) '`, and the last line as
    `aw ac (line) "`) — the older word-processor-writer shape.
    ``title_utf16`` stores the Info /Title as a BOM-prefixed UTF-16BE
    hex string (`/Title <FEFF...>`), the way real writers encode
    non-ASCII titles. ``cid=True`` makes /F1 a Type0 (CID) font with
    an Identity-H encoding and a /ToUnicode CMap: every show operand
    becomes a hex string of 2-byte character CODES (0x0100 + index of
    the char in the document's sorted alphabet — deliberately NOT the
    Unicode code points, so a latin-1 identity decode emits garbage
    and only the CMap path recovers the text). This is the shape
    every modern embedded-subset font produces. /DescendantFonts is
    omitted (glyph metrics only — irrelevant to text extraction).
    ``encrypt`` applies the standard security handler: 'rc4-40'
    (V1/R2) or 'rc4-128' (V2/R3), both owner-locked with an EMPTY user
    password (the world-readable restricted-permissions shape);
    'aesv2' (V4/R4, /StdCF AESV2 crypt filter — the modern writer
    default; content-derived deterministic IVs keep fixtures
    reproducible); 'rc4-128-pw' / 'aesv2-pw' set a real user
    password (the decoder must quarantine, not guess); 'aes256'
    (V5/R6 AES-256, the PDF 2.0 default: Algorithm 2.B KDF, /UE
    key wrap, /Perms); 'aes256-r5' writes the deprecated pre-ISO
    /R 5 revision (beyond the slice — must quarantine).
    ``widths=(first_char, [w, ...])`` declares a simple-font /Widths
    table (glyph units, §9.6.2.1) so show advances come from real
    metrics instead of the GLYPH_W model.
    ``tagged=True`` wraps every Tj in a §14.6 marked-content sequence
    (`/P << /MCID n /ActualText (line) >> BDC .. EMC`) — the
    accessibility shape modern office writers emit, whose property
    strings are BDC operands, not shows.
    ``rotate`` writes a `/Rotate N` page attribute — on every page
    object, or (``rotate_on_parent=True``) once on the /Pages tree
    node so the decoder's inheritance path (§7.7.3.4) is exercised —
    the scanned-landscape shape whose geometry pdfminer reorients via
    the page's base CTM. ``encoding`` selects the simple-font
    encoding shape (ignored
    under ``cid``): 'macroman' declares /Encoding /MacRomanEncoding
    and emits show bytes in Mac OS Roman (the pre-OSX-writer shape
    where é is byte 0x8E, not 0xE9); 'differences' declares an
    /Encoding dict whose /Differences remaps every non-ASCII char of
    the document to codes 128+ under AGL glyph names (the embedded-
    subset Type1 shape) — in both, a latin-1 identity decode emits
    garbage and only the /Encoding path recovers the text; 'type3'
    builds a /Subtype /Type3 font (§9.6.5 — the TeX/dvi-writer
    shape): /FontMatrix [u 0 0 u 0 0] with ``u = type3_unit``,
    /CharProcs glyph streams, uniform /Widths of GLYPH_W/u glyph
    units (so the geometry matches the deterministic model and any
    /1000 width assumption is geometry-visible), and an /Encoding
    /Differences that remaps EVERY character — space to code 32
    (word-spacing semantics intact), the rest to 33+ in sorted
    order, so codes are arbitrary like a real glyph-proc font and
    only the /Differences path recovers the text."""
    n_pages = len(pages)
    images = images or [0] * n_pages
    # object numbering: 1 catalog, 2 pages, 3..2+n page objs,
    # 3+n..2+2n content streams, 3+2n font, 4+2n info, then one
    # object per embedded image
    page_objs = [3 + i for i in range(n_pages)]
    cont_objs = [3 + n_pages + i for i in range(n_pages)]
    font_obj = 3 + 2 * n_pages
    info_obj = font_obj + 1
    img_objs: list[list[int]] = []
    nxt = info_obj + 1
    for i in range(n_pages):
        img_objs.append(list(range(nxt, nxt + images[i])))
        nxt += images[i]
    form_obj = nxt if form_header is not None else None
    if form_obj is not None:
        nxt += 1
    tounicode_obj = nxt if cid else None
    type3 = encoding == "type3" and not cid
    charprocs_obj = nxt if type3 else None
    glyphproc_obj = nxt + 1 if type3 else None
    # deterministic CID alphabet: code 0x0100 + index of the char in
    # the document's sorted distinct-char list
    cid_codes: dict[str, int] = {}
    if cid:
        alphabet = sorted({c for pg in pages for ln in pg for c in ln}
                          | set(form_header or ""))
        cid_codes = {c: 0x0100 + i for i, c in enumerate(alphabet)}

    diff_codes: dict[str, int] = {}
    if encoding == "differences" and not cid:
        specials = sorted({c for pg in pages for ln in pg for c in ln
                           if ord(c) > 126} | {c for c in (form_header
                                                           or "")
                                               if ord(c) > 126})
        diff_codes = {c: 128 + i for i, c in enumerate(specials)}
    type3_codes: dict[str, int] = {}
    if type3:
        alpha = sorted({c for pg in pages for ln in pg for c in ln}
                       | set(form_header or ""))
        rest = [c for c in alpha if c != " "]
        if len(rest) > 222:
            raise ValueError("type3 fixture alphabet too large")
        type3_codes = {c: 33 + i for i, c in enumerate(rest)}
        if " " in alpha:
            type3_codes[" "] = 32

    def _show_operand(line: str) -> bytes:
        if cid:
            # the form inherits the page's /F1, so its shows must be
            # CID codes too (a literal string would be a wrong-width
            # show under a 2-byte Identity-H font)
            codes = b"".join(b"%04X" % cid_codes[c] for c in line)
            return b"<" + codes + b">"
        if encoding == "macroman":
            raw = line.encode("mac_roman")
            return b"(" + _escape("".join(chr(b) for b in raw)) + b")"
        if encoding == "differences":
            remapped = "".join(chr(diff_codes.get(c, ord(c)))
                               for c in line)
            return b"(" + _escape(remapped) + b")"
        if type3:
            remapped = "".join(chr(type3_codes[c]) for c in line)
            return b"(" + _escape(remapped) + b")"
        if hex_show:
            return (b"<" + line.encode("latin-1", "replace")
                    .hex().encode("ascii") + b">")
        return b"(" + _escape(line) + b")"

    objs: dict[int, bytes] = {}
    if form_obj is not None:
        fstream = (b"BT /F1 10 Tf 72 770 Td "
                   + _show_operand(form_header) + b" Tj ET")
        objs[form_obj] = (
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
            b"/Length %d >>\nstream\n" % len(fstream)
            + fstream + b"\nendstream")
    kids = b" ".join(b"%d 0 R" % p for p in page_objs)
    rot_attr = (b" /Rotate %d" % rotate) if rotate is not None else b""
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (b"<< /Type /Pages /Kids [" + kids
               + b"] /Count %d" % n_pages
               + (rot_attr if rotate_on_parent else b"") + b" >>")
    for i, (pobj, cobj) in enumerate(zip(page_objs, cont_objs)):
        res = b"<< /Font << /F1 %d 0 R >>" % font_obj
        xnames = [b"/Im%d %d 0 R" % (k + 1, onum)
                  for k, onum in enumerate(img_objs[i])]
        if form_obj is not None:
            xnames.insert(0, b"/Fm1 %d 0 R" % form_obj)
        if xnames:
            res += b" /XObject << " + b" ".join(xnames) + b" >>"
        res += b" >>"
        objs[pobj] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            + (rot_attr if not rotate_on_parent else b"")
            + b" /Resources " + res + b" /Contents %d 0 R >>" % cobj
        )
        ops = []
        if form_obj is not None:
            ops.append(b"q /Fm1 Do Q")
        ops += [b"BT", b"/F1 12 Tf", b"72 720 Td"]
        if quote_show:
            ops.append(b"14 TL")  # ' / " move by the text leading
        for j, line in enumerate(pages[i]):
            operand = _show_operand(line)
            if quote_show and j > 0:
                if j + 1 == len(pages[i]) and j > 1:
                    # aw=0 ac=0: the " operator form without a word-
                    # spacing delta, so quote-mode output stays span-
                    # AND geometry-identical to the Tj form (nonzero
                    # aw genuinely widens spaces per §9.4.4 — that
                    # semantic is pinned by the dedicated Tw test)
                    ops.append(b"0 0 " + operand + b' "')
                else:
                    ops.append(operand + b" '")
            else:
                if tagged:
                    # the tagged-PDF shape: every show wrapped in a
                    # marked-content sequence whose property list
                    # carries an /ActualText STRING (operand, not a
                    # show) — office-writer accessibility output
                    ops.append(b"/P << /MCID %d /ActualText " % j
                               + operand + b" >> BDC")
                ops.append(operand + b" Tj")
                if tagged:
                    ops.append(b"EMC")
                # in quote mode the NEXT line's ' / " does the T*
                # line move itself — an explicit Td too would double
                # the leading (geometry-visible)
                if not quote_show:
                    ops.append(b"0 -14 Td")
        ops.append(b"ET")
        for k in range((inline_images or [0] * n_pages)[i]):
            # adversarial sample bytes: operator spellings inside the
            # binary payload must NOT parse as content
            data = b"\x01 BT (fake text) Tj ET /ImX Do \xff" + bytes(
                (k + j) % 256 for j in range(8))
            ops.append(
                b"BI /W 4 /H 4 /CS /G /BPC 8 /L %d ID " % len(data)
                + data + b" EI")
        for k, onum in enumerate(img_objs[i]):
            ops.append(b"q 100 0 0 80 72 %d cm /Im%d Do Q"
                       % (600 - 90 * k, k + 1))
            pix = bytes((k * 16 + j) % 256 for j in range(16))
            objs[onum] = (
                b"<< /Type /XObject /Subtype /Image /Width 4 "
                b"/Height 4 /ColorSpace /DeviceGray "
                b"/BitsPerComponent 8 /Length %d >>\nstream\n"
                % len(pix) + pix + b"\nendstream")
        stream = b"\n".join(ops)
        clause, stream = _encode_stream(stream, compress)
        objs[cobj] = (b"<< /Length %d%s >>\nstream\n"
                      % (len(stream), clause)
                      + stream + b"\nendstream")
    if cid:
        objs[font_obj] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /FakeSubset "
            b"/Encoding /Identity-H /ToUnicode %d 0 R >>"
            % tounicode_obj)
        ents = [(b"<%04X>" % code,
                 b"<" + c.encode("utf-16-be").hex().upper()
                 .encode("ascii") + b">")
                for c, code in sorted(cid_codes.items(),
                                      key=lambda kv: kv[1])]
        blocks = []
        for s in range(0, len(ents), 100):  # <=100 entries per block
            chunk = ents[s:s + 100]
            blocks.append(b"%d beginbfchar\n" % len(chunk)
                          + b"\n".join(src + b" " + dst
                                       for src, dst in chunk)
                          + b"\nendbfchar")
        cm = (b"/CIDInit /ProcSet findresource begin\n"
              b"12 dict begin\nbegincmap\n"
              b"1 begincodespacerange\n<0000> <FFFF>\n"
              b"endcodespacerange\n"
              + b"\n".join(blocks)
              + b"\nendcmap\nend\nend")
        objs[tounicode_obj] = (b"<< /Length %d >>\nstream\n" % len(cm)
                               + cm + b"\nendstream")
    elif type3:
        # §9.6.5 Type3: glyph space is /FontMatrix-defined (NOT
        # thousandths), /CharProcs holds the glyph programs, and
        # /Encoding /Differences is the ONLY code→name mapping.
        # Uniform widths of GLYPH_W/unit glyph units keep the
        # geometry identical to the deterministic-model twin, so a
        # decoder that assumed /1000 scaling is geometry-visible.
        rev = {}
        for k in sorted(_AGL):
            rev.setdefault(_AGL[k], k)
        by_code = sorted(type3_codes.items(), key=lambda kv: kv[1])
        ents = b" ".join(b"%d /%s" % (code, rev[c].encode("ascii"))
                         for c, code in by_code)
        first = by_code[0][1]
        last = by_code[-1][1]
        gw_units = GLYPH_W / type3_unit
        proc = b"%g 0 d0 0 0 %g %g re f" % (gw_units, gw_units,
                                            gw_units)
        objs[glyphproc_obj] = (b"<< /Length %d >>\nstream\n"
                               % len(proc) + proc + b"\nendstream")
        objs[charprocs_obj] = (
            b"<< " + b" ".join(b"/%s %d 0 R"
                               % (rev[c].encode("ascii"),
                                  glyphproc_obj)
                               for c, _ in by_code) + b" >>")
        objs[font_obj] = (
            b"<< /Type /Font /Subtype /Type3 "
            b"/FontBBox [0 0 %g %g] " % (gw_units, gw_units)
            + b"/FontMatrix [%g 0 0 %g 0 0] "
            % (type3_unit, type3_unit)
            + b"/CharProcs %d 0 R " % charprocs_obj
            + b"/Encoding << /Differences [ " + ents + b" ] >> "
            + b"/FirstChar %d /LastChar %d " % (first, last)
            + b"/Widths [ " + b" ".join(
                b"%g" % gw_units for _ in range(first, last + 1))
            + b" ] >>")
    else:
        enc_clause = b""
        if encoding == "macroman":
            enc_clause = b" /Encoding /MacRomanEncoding"
        elif encoding == "differences" and diff_codes:
            rev = {}
            for k in sorted(_AGL):
                rev.setdefault(_AGL[k], k)
            ents = b" ".join(
                b"%d /%s" % (code, rev[c].encode("ascii"))
                for c, code in sorted(diff_codes.items(),
                                      key=lambda kv: kv[1]))
            enc_clause = b" /Encoding << /Differences [ " + ents + b" ] >>"
        w_clause = b""
        if widths is not None:
            first, ws = widths
            w_clause = (b" /FirstChar %d /Widths [ " % first
                        + b" ".join(b"%g" % w for w in ws) + b" ]")
        objs[font_obj] = (b"<< /Type /Font /Subtype /Type1 "
                          b"/BaseFont /Helvetica" + enc_clause
                          + w_clause + b" >>")
    if title_utf16:
        thex = (b"\xfe\xff" + doc_id.encode("utf-16-be")
                ).hex().upper().encode("ascii")
        objs[info_obj] = b"<< /Title <" + thex + b"> >>"
    else:
        objs[info_obj] = b"<< /Title (" + _escape(doc_id) + b") >>"

    trailer_extra = b""
    if encrypt is not None:
        id0 = _md5(b"pdfspark-id:" + doc_id.encode("utf-8"))
        enc_obj = max(objs) + 1
        user_pw = (b"hunter2"
                   if encrypt in ("rc4-128-pw", "aesv2-pw", "aes256-pw")
                   else b"")
        if encrypt == "aes256-r5":
            # plausible V5/R5 dict (the deprecated pre-ISO Adobe
            # revision); beyond the implemented slice, so O/U
            # placeholders never authenticate anything
            zeros = b"00" * 48
            objs[enc_obj] = (
                b"<< /Filter /Standard /V 5 /R 5 /Length 256 /P -44 "
                b"/CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF "
                b"/StrF /StdCF /O <" + zeros + b"> /U <" + zeros
                + b"> >>")
        elif encrypt in ("aes256", "aes256-pw"):
            from pdfspark.sources.aes import cbc_encrypt, ecb_encrypt

            p = -44
            # deterministic 32-byte file key + salts (fixtures must
            # be byte-reproducible)
            file_key = _md5(b"fk1|" + id0) + _md5(b"fk2|" + id0)
            vsalt = _md5(b"vs|" + id0)[:8]
            ksalt = _md5(b"ks|" + id0)[:8]
            u_val = _r6_hash(user_pw, vsalt, b"") + vsalt + ksalt
            ikey = _r6_hash(user_pw, ksalt, b"")
            ue_val = cbc_encrypt(ikey, b"\x00" * 16, file_key,
                                 pad=False)
            ovs = _md5(b"ovs|" + id0)[:8]
            oks = _md5(b"oks|" + id0)[:8]
            o_val = (_r6_hash(b"fixture-owner", ovs, u_val)
                     + ovs + oks)
            oikey = _r6_hash(b"fixture-owner", oks, u_val)
            oe_val = cbc_encrypt(oikey, b"\x00" * 16, file_key,
                                 pad=False)
            # /Perms (§7.6.4.3): P || 0xFFFFFFFF || 'T' || 'adb' ||
            # 4 filler bytes, AES-256-ECB under the file key
            perms = ecb_encrypt(
                file_key,
                (p & 0xFFFFFFFF).to_bytes(4, "little")
                + b"\xff\xff\xff\xffTadb" + b"fix!")
            for num in list(objs):
                objs[num] = _crypt_object_body(
                    objs[num], file_key, cipher="aes", encrypting=True)
            objs[enc_obj] = (
                b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P %d "
                b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                b"/StmF /StdCF /StrF /StdCF "
                b"/O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> >>"
                % (p, o_val.hex().encode("ascii"),
                   u_val.hex().encode("ascii"),
                   oe_val.hex().encode("ascii"),
                   ue_val.hex().encode("ascii"),
                   perms.hex().encode("ascii")))
        elif encrypt in ("aesv2", "aesv2-pw", "aesv2-nometa"):
            r, n, p = 4, 16, -44
            meta = encrypt != "aesv2-nometa"
            o_val = _std_owner_value(b"fixture-owner", user_pw, r, n)
            file_key = _std_file_key(user_pw, o_val, p, id0, r, n,
                                     encrypt_metadata=meta)
            u_val = _std_user_value(file_key, id0, r)
            for num in list(objs):
                objs[num] = _crypt_object_body(
                    objs[num], _obj_key(file_key, num, aes=True),
                    cipher="aes", encrypting=True)
            objs[enc_obj] = (
                b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P %d "
                b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                b"/StmF /StdCF /StrF /StdCF%s "
                b"/O <%s> /U <%s> >>"
                % (p,
                   b"" if meta else b" /EncryptMetadata false",
                   o_val.hex().encode("ascii"),
                   u_val.hex().encode("ascii")))
        else:
            v, r, n = ((1, 2, 5) if encrypt == "rc4-40" else (2, 3, 16))
            p = -44  # print/copy restricted — the common owner-lock
            o_val = _std_owner_value(b"fixture-owner", user_pw, r, n)
            file_key = _std_file_key(user_pw, o_val, p, id0, r, n)
            u_val = _std_user_value(file_key, id0, r)
            for num in list(objs):
                objs[num] = _crypt_object_body(
                    objs[num], _obj_key(file_key, num))
            objs[enc_obj] = (
                b"<< /Filter /Standard /V %d /R %d /Length %d /P %d "
                b"/O <%s> /U <%s> >>"
                % (v, r, n * 8, p,
                   o_val.hex().encode("ascii"),
                   u_val.hex().encode("ascii")))
        idh = id0.hex().encode("ascii")
        trailer_extra = (b" /Encrypt %d 0 R /ID [<%s> <%s>]"
                         % (enc_obj, idh, idh))

    buf = bytearray(b"%PDF-1.4\n%\xc2\xb5\xc2\xb6\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(buf)
    n_objs = max(objs) + 1
    buf += b"xref\n0 %d\n" % n_objs
    buf += b"0000000000 65535 f \n"
    for num in range(1, n_objs):
        buf += b"%010d 00000 n \n" % offsets[num]
    buf += (b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R%s >>\n"
            b"startxref\n%d\n%%%%EOF\n"
            % (n_objs, info_obj, trailer_extra, xref_at))
    return bytes(buf)


def build_layout_pdf(doc_id: str,
                     pages: list[list[tuple[str, float, float]]],
                     compress=False, rotate: int | None = None) -> bytes:
    """A PDF whose text is POSITIONED: each page is a list of
    (text, x, y) shows, each placed with `1 0 0 1 x y Tm` — the shape
    table-emitting writers produce (cells at explicit coordinates).
    This is the fixture source for the bytes-in → tables-out EP3
    path: decode_payloads_geom over this payload yields a geometry
    frame the A4/EP3 row-clustering pipeline reconstructs tables
    from. Same object skeleton as build_tiny_pdf (flat page tree,
    one content stream per page, Info /Title doc_id).

    ``rotate=90`` stores the page the way a rotated-scan writer does:
    `/Rotate 90` on the page plus SIDEWAYS text matrices
    (`0 1 -1 0 xu yu Tm`, glyphs advancing along user +y) computed so
    that each (text, x, y) entry still DISPLAYS at (x, y) after the
    page rotation — the decoded geometry is position-identical to the
    unrotated build (coordinates must fit the displayed landscape
    612-pt height). Only 90 is supported; the point is the writer
    shape, not a rotation library."""
    if rotate not in (None, 90):
        raise ValueError("build_layout_pdf supports rotate=90 only")
    n_pages = len(pages)
    page_objs = [3 + i for i in range(n_pages)]
    cont_objs = [3 + n_pages + i for i in range(n_pages)]
    font_obj = 3 + 2 * n_pages
    info_obj = font_obj + 1
    objs: dict[int, bytes] = {}
    kids = b" ".join(b"%d 0 R" % p for p in page_objs)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (b"<< /Type /Pages /Kids [" + kids
               + b"] /Count %d >>" % n_pages)
    for i, (pobj, cobj) in enumerate(zip(page_objs, cont_objs)):
        objs[pobj] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            + (b" /Rotate 90" if rotate == 90 else b"")
            + b" /Resources << /Font << /F1 %d 0 R >> >> "
            b"/Contents %d 0 R >>" % (font_obj, cobj))
        ops = [b"BT", b"/F1 12 Tf"]
        for text, x, y in pages[i]:
            if rotate == 90:
                # displayed (x, y) = (yu, 612 - xu) under the page's
                # base CTM, so the user-space origin is (612 - y, x)
                # and the glyph advance runs along user +y
                ops.append(b"0 1 -1 0 %s %s Tm" % (
                    (b"%g" % (612 - y)), (b"%g" % x)))
            else:
                ops.append(b"1 0 0 1 %s %s Tm" % (
                    (b"%g" % x), (b"%g" % y)))
            ops.append(b"(" + _escape(text) + b") Tj")
        ops.append(b"ET")
        stream = b"\n".join(ops)
        clause, stream = _encode_stream(stream, compress)
        objs[cobj] = (b"<< /Length %d%s >>\nstream\n"
                      % (len(stream), clause)
                      + stream + b"\nendstream")
    objs[font_obj] = (b"<< /Type /Font /Subtype /Type1 "
                      b"/BaseFont /Helvetica >>")
    objs[info_obj] = b"<< /Title (" + _escape(doc_id) + b") >>"
    buf = bytearray(b"%PDF-1.4\n%\xc2\xb5\xc2\xb6\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(buf)
    n_objs = max(objs) + 1
    buf += b"xref\n0 %d\n" % n_objs
    buf += b"0000000000 65535 f \n"
    for num in range(1, n_objs):
        buf += b"%010d 00000 n \n" % offsets[num]
    buf += (b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\n"
            b"startxref\n%d\n%%%%EOF\n"
            % (n_objs, info_obj, xref_at))
    return bytes(buf)


def build_nested_pdf(doc_id: str, pages: list[list[str]],
                     inherited_form: str | None = None) -> bytes:
    """The page-tree shapes big real-world writers emit that the flat
    builder does not: a NESTED /Pages tree (every page hangs off an
    intermediate node, itself a kid of the root) and per-page
    ``/Contents [a 0 R b 0 R]`` ARRAYS (each page's operators split
    across two streams — the spec joins them with whitespace into one
    logical stream). Decodes to exactly the same spans as
    ``build_tiny_pdf(doc_id, pages)`` — pinned by test.
    ``inherited_form`` declares a running-header Form XObject in the
    INTERMEDIATE /Pages node's /Resources (inheritable page attribute,
    PDF 7.7.3.4) and paints it ``/FmH Do`` from every page, which
    itself carries NO /XObject entry — the shared-resource shape real
    writers use for headers/watermarks."""
    n = len(pages)
    page_objs = [4 + i for i in range(n)]
    cont_objs = [[4 + n + 2 * i, 4 + n + 2 * i + 1] for i in range(n)]
    font_obj = 4 + 3 * n
    info_obj = font_obj + 1
    form_obj = info_obj + 1 if inherited_form is not None else None

    objs: dict[int, bytes] = {}
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = b"<< /Type /Pages /Kids [3 0 R] /Count %d >>" % n
    kids = b" ".join(b"%d 0 R" % p for p in page_objs)
    inres = b""
    if form_obj is not None:
        fstream = (b"BT /F1 10 Tf 72 770 Td ("
                   + _escape(inherited_form) + b") Tj ET")
        objs[form_obj] = (
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
            b"/Length %d >>\nstream\n" % len(fstream)
            + fstream + b"\nendstream")
        inres = (b" /Resources << /XObject << /FmH %d 0 R >> >>"
                 % form_obj)
    objs[3] = (b"<< /Type /Pages /Parent 2 0 R /Kids [" + kids
               + b"]" + inres + b" /Count %d >>" % n)
    for i, pobj in enumerate(page_objs):
        ca, cb = cont_objs[i]
        objs[pobj] = (
            b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> "
            b"/Contents [%d 0 R %d 0 R] >>" % (font_obj, ca, cb)
        )
        ops = [b"q /FmH Do Q"] if form_obj is not None else []
        ops += [b"BT", b"/F1 12 Tf", b"72 720 Td"]
        for line in pages[i]:
            ops.append(b"(" + _escape(line) + b") Tj")
            ops.append(b"0 -14 Td")
        ops.append(b"ET")
        # split mid-list: BT lands in the first stream and its ET in
        # the second, so the page only parses if the decoder joins the
        # array into ONE logical stream before scanning (the spec's
        # semantics, and what real split-content writers rely on)
        half = max(1, len(ops) // 2)
        for cobj, part in ((ca, ops[:half]), (cb, ops[half:])):
            stream = b"\n".join(part)
            objs[cobj] = (b"<< /Length %d >>\nstream\n" % len(stream)
                          + stream + b"\nendstream")
    objs[font_obj] = (b"<< /Type /Font /Subtype /Type1 "
                      b"/BaseFont /Helvetica >>")
    objs[info_obj] = b"<< /Title (" + _escape(doc_id) + b") >>"

    buf = bytearray(b"%PDF-1.4\n%\xc2\xb5\xc2\xb6\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(buf)
    n_objs = max(objs) + 1
    buf += b"xref\n0 %d\n" % n_objs
    buf += b"0000000000 65535 f \n"
    for num in range(1, n_objs):
        buf += b"%010d 00000 n \n" % offsets[num]
    buf += (b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (n_objs, info_obj, xref_at))
    return bytes(buf)


def append_incremental_update(pdf: bytes,
                              replacements: dict[int, bytes]) -> bytes:
    """Append an incremental-update section (PDF 7.5.6) — the way
    annotate/edit tools save: the edited objects' NEW versions after
    the old %%EOF, a classic xref subsection covering only them, and a
    trailer whose /Prev points at the prior xref. The trailer repeats
    /Root but NOT /Info — readers inherit it through the /Prev chain.
    ``replacements`` maps object number -> new object body."""
    xm = list(_STARTXREF_RE.finditer(pdf))
    if not xm:
        raise ValueError("no startxref to chain from")
    prev_xref = int(xm[-1].group(1))
    tdicts = list(_TRAILER_DICT_RE.finditer(pdf))
    if not tdicts:
        raise ValueError("no trailer to inherit from")
    rm = _ROOT_RE.search(tdicts[-1].group(1))
    sm = _SIZE_VAL_RE.search(tdicts[-1].group(1))
    if rm is None or sm is None:
        raise ValueError("trailer missing /Root or /Size")
    size = max(int(sm.group(1)), max(replacements) + 1)

    buf = bytearray(pdf)
    offsets = {}
    for num in sorted(replacements):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + replacements[num] + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n"
    for num in sorted(replacements):
        buf += b"%d 1\n%010d 00000 n \n" % (num, offsets[num])
    buf += (b"trailer\n<< /Size %d /Root %s 0 R /Prev %d >>\n"
            b"startxref\n%d\n%%%%EOF\n"
            % (size, rm.group(1), prev_xref, xref_at))
    return bytes(buf)


def build_tiny_pdf_15(doc_id: str, pages: list[list[str]],
                      outlines: list | None = None,
                      encrypt: str | None = None) -> bytes:
    """A complete PDF 1.5-style file — the structure modern writers
    emit by default: every non-stream object packed into one
    compressed object stream (/Type /ObjStm), content streams
    FlateDecode'd at top level, and a cross-reference STREAM
    (/Type /XRef, /W-packed entries, FlateDecode + PNG Up predictor
    12) instead of an xref table + trailer; /Root and /Info live in
    the xref stream dict. ``outlines`` is a recursive
    ``[(title, children), ...]`` tree emitted as /Outlines.

    ``encrypt='rc4-128'`` layers the standard security handler the
    way an owner-locked 1.5 writer does (§7.5.7/§7.6.2): streams are
    encrypted AFTER filter encoding (file bytes = RC4(Flate(data))),
    the ObjStm stream is encrypted like any other so its packed
    objects — including the /Info title STRING — travel as plaintext
    inside it and must NOT be decrypted again on expansion, the
    /Encrypt dictionary is a TOP-LEVEL object (it may not live in an
    object stream), and the xref STREAM is never encrypted with
    /Encrypt + /ID carried in its dict rather than a trailer."""
    n_pages = len(pages)
    page_objs = [3 + i for i in range(n_pages)]
    cont_objs = [3 + n_pages + i for i in range(n_pages)]
    font_obj = 3 + 2 * n_pages
    info_obj = font_obj + 1

    # --- compressed (ObjStm-resident) objects -------------------------
    packed: list[tuple[int, bytes]] = []
    kids = b" ".join(b"%d 0 R" % p for p in page_objs)
    cat = b"<< /Type /Catalog /Pages 2 0 R"
    counter = [info_obj]

    def alloc(items):
        out = []
        for title, children in items or []:
            counter[0] += 1
            out.append({"num": counter[0], "title": title,
                        "children": alloc(children)})
        return out

    def emit_outline(nodes, parent):
        for i, node in enumerate(nodes):
            try:  # latin-1-safe titles: literal string form
                t = b"/Title (" + _escape_strict(node["title"]) + b")"
            except UnicodeEncodeError:  # else BOM'd UTF-16BE hex
                t = (b"/Title <" + (b"\xfe\xff" + node["title"]
                     .encode("utf-16-be")).hex().upper()
                     .encode("ascii") + b">")
            e = [t, b"/Parent %d 0 R" % parent]
            if i > 0:
                e.append(b"/Prev %d 0 R" % nodes[i - 1]["num"])
            if i + 1 < len(nodes):
                e.append(b"/Next %d 0 R" % nodes[i + 1]["num"])
            if node["children"]:
                e.append(b"/First %d 0 R" % node["children"][0]["num"])
                e.append(b"/Last %d 0 R" % node["children"][-1]["num"])
                e.append(b"/Count %d" % len(node["children"]))
            packed.append((node["num"], b"<< " + b" ".join(e) + b" >>"))
            emit_outline(node["children"], node["num"])

    outline_root = None
    roots = alloc(outlines)
    if roots:
        counter[0] += 1
        outline_root = counter[0]
        cat += b" /Outlines %d 0 R" % outline_root
    cat += b" >>"
    packed.append((1, cat))
    packed.append((2, b"<< /Type /Pages /Kids [" + kids
                   + b"] /Count %d >>" % n_pages))
    for pobj, cobj in zip(page_objs, cont_objs):
        packed.append((pobj, (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> "
            b"/Contents %d 0 R >>" % (font_obj, cobj))))
    packed.append((font_obj, b"<< /Type /Font /Subtype /Type1 "
                   b"/BaseFont /Helvetica >>"))
    packed.append((info_obj, b"<< /Title (" + _escape(doc_id) + b") >>"))
    if roots:
        packed.append((outline_root,
                       b"<< /Type /Outlines /First %d 0 R /Last %d 0 R "
                       b"/Count %d >>" % (roots[0]["num"],
                                          roots[-1]["num"], len(roots))))
        emit_outline(roots, outline_root)

    enc_obj = counter[0] + 1 if encrypt is not None else None
    objstm_obj = counter[0] + (2 if encrypt is not None else 1)
    xref_obj = objstm_obj + 1
    file_key = None
    enc_body = b""
    id_clause = b""
    if encrypt is not None:
        if encrypt != "rc4-128":  # the combined-shape pin needs one arm
            raise ValueError("build_tiny_pdf_15: only rc4-128 is built")
        id0 = _md5(b"pdfspark-id15:" + doc_id.encode("utf-8"))
        v, r, n, p = 2, 3, 16, -44
        o_val = _std_owner_value(b"fixture-owner", b"", r, n)
        file_key = _std_file_key(b"", o_val, p, id0, r, n)
        u_val = _std_user_value(file_key, id0, r)
        enc_body = (b"<< /Filter /Standard /V %d /R %d /Length %d /P %d "
                    b"/O <%s> /U <%s> >>"
                    % (v, r, n * 8, p, o_val.hex().encode("ascii"),
                       u_val.hex().encode("ascii")))
        idh = id0.hex().encode("ascii")
        id_clause = (b"/Encrypt %d 0 R /ID [<%s> <%s>] "
                     % (enc_obj, idh, idh))

    # ObjStm payload: "num off" pairs, then the bodies at /First
    offs, parts, off = [], [], 0
    for num, body in packed:
        offs.append(b"%d %d" % (num, off))
        parts.append(body)
        off += len(body) + 1
    header = b" ".join(offs) + b"\n"
    payload = header + b"\n".join(parts)
    first = len(header)
    zpayload = zlib.compress(payload)
    if file_key is not None:  # encrypt AFTER encoding (§7.6.2)
        zpayload = _rc4(_obj_key(file_key, objstm_obj), zpayload)
    objstm_body = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n"
        % (len(packed), first, len(zpayload)) + zpayload + b"\nendstream")

    # --- file assembly -------------------------------------------------
    buf = bytearray(b"%PDF-1.5\n%\xc2\xb5\xc2\xb6\n")
    top_offsets: dict[int, int] = {}
    for i, cobj in enumerate(cont_objs):
        ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
        for line in pages[i]:
            ops.append(b"(" + _escape(line) + b") Tj")
            ops.append(b"0 -14 Td")
        ops.append(b"ET")
        z = zlib.compress(b"\n".join(ops))
        if file_key is not None:
            z = _rc4(_obj_key(file_key, cobj), z)
        top_offsets[cobj] = len(buf)
        buf += (b"%d 0 obj\n<< /Length %d /Filter /FlateDecode >>\n"
                b"stream\n" % (cobj, len(z)) + z + b"\nendstream\nendobj\n")
    top_offsets[objstm_obj] = len(buf)
    buf += b"%d 0 obj\n" % objstm_obj + objstm_body + b"\nendobj\n"
    if enc_obj is not None:  # top-level by spec (§7.5.7), unencrypted
        top_offsets[enc_obj] = len(buf)
        buf += b"%d 0 obj\n" % enc_obj + enc_body + b"\nendobj\n"
    xref_at = len(buf)
    top_offsets[xref_obj] = xref_at

    # xref stream: W [1 3 2]; type 0 = free, 1 = top-level offset,
    # 2 = (objstm, index); rows PNG-Up-predicted (type-2 filter byte)
    objstm_index = {num: i for i, (num, _b) in enumerate(packed)}
    rows = []
    for num in range(xref_obj + 1):
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num in objstm_index:
            t, f2, f3 = 2, objstm_obj, objstm_index[num]
        elif num in top_offsets:
            t, f2, f3 = 1, top_offsets[num], 0
        else:
            t, f2, f3 = 0, 0, 0
        rows.append(bytes([t]) + f2.to_bytes(3, "big")
                    + f3.to_bytes(2, "big"))
    pred = bytearray()
    prev = bytes(6)
    for r in rows:
        pred.append(2)
        pred += bytes((r[i] - prev[i]) & 0xFF for i in range(6))
        prev = r
    zx = zlib.compress(bytes(pred))
    buf += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 3 2] "
            b"/Root 1 0 R /Info %d 0 R " + id_clause
            + b"/Filter /FlateDecode "
            b"/DecodeParms << /Predictor 12 /Columns 6 >> "
            b"/Length %d >>\nstream\n") % (
                xref_obj, xref_obj + 1, info_obj, len(zx))
    buf += zx + b"\nendstream\nendobj\n"
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(buf)


def _raw_stream_slice(cbody: bytes) -> tuple[bytes, bytes]:
    """(stream dict prefix, raw stream bytes) of one stream object.

    Stream data is sliced by the dict's direct /Length when present —
    the only sound delimiter for binary deflate output, which may
    contain ``endstream`` (or even ``endobj``; if deflate bytes
    truncate the enclosing object at a phantom ``endobj``, the length
    check below fails and the doc quarantines — never a wrong parse).
    Falls back to the endstream scan for length-less uncompressed
    payloads. Dict keys are only searched in the prefix before
    ``stream`` so binary stream bytes can never fake a /Filter or
    /Length."""
    m = _STREAM_START_RE.search(cbody)
    if m is None:
        raise ValueError("object without stream")
    sdict = cbody[:m.start()]
    lm = _LENGTH_RE.search(sdict)
    data = None
    if lm is not None:
        want = int(lm.group(1))
        cand = cbody[m.end():m.end() + want]
        tail = cbody[m.end() + want:m.end() + want + 11]
        # trust /Length only when `endstream` actually follows the
        # slice — writers with stale lengths exist, and a wrong slice
        # must fall back to the scan, not silently mis-parse
        if len(cand) == want and tail.lstrip(b"\r\n").startswith(
                b"endstream"):
            data = cand
    if data is None:
        sm = _STREAM_RE.search(cbody)
        if sm is None:
            raise ValueError("object without stream")
        data = sm.group(1)
    return sdict, data


def _stream_filters(sdict: bytes) -> list[bytes]:
    """Filter names of a stream dict, in application (decode) order.
    A /Filter whose value the dict regex cannot read (an indirect
    reference like ``/Filter 9 0 R``) raises and the caller
    quarantines: treating it as unfiltered would silently drop the
    page text."""
    if b"/Filter" not in sdict:
        return []
    fm = _FILTER_RE.search(sdict)
    if fm is None:
        raise ValueError("unreadable stream filter")
    return re.findall(rb"/(\w+)", fm.group(1))


# Decompression-bomb guard: cap on DECODED bytes per stream stage.
# A web-scale corpus will contain crafted zip-bomb PDFs — a few-KB
# Flate/LZW stream expanding to GBs; without a cap that OOMs the
# executor (killing the whole task's batch) instead of quarantining
# one document. 64 MiB is orders of magnitude above any real content
# or xref stream; each filter-chain STAGE is capped, so a chain of
# bombs still peaks at one cap. Tests monkeypatch this down.
MAX_STREAM_BYTES = 64 << 20


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (PDF 7.4.5): length byte L < 128 copies the
    next L+1 bytes literally, L > 128 repeats the next byte 257-L
    times, L == 128 is EOD. Truncated input (a run promised past the
    end, or no EOD) raises and the doc quarantines."""
    out = bytearray()
    i = 0
    while True:
        if i >= len(data):
            raise ValueError("RunLength stream without EOD")
        if len(out) > MAX_STREAM_BYTES:
            raise ValueError("RunLength expansion over cap")
        ln = data[i]
        i += 1
        if ln == 128:
            return bytes(out)
        if ln < 128:
            chunk = data[i:i + ln + 1]
            if len(chunk) != ln + 1:
                raise ValueError("truncated RunLength literal")
            out += chunk
            i += ln + 1
        else:
            if i >= len(data):
                raise ValueError("truncated RunLength run")
            out += data[i:i + 1] * (257 - ln)
            i += 1


def _rle_encode(data: bytes) -> bytes:
    """Builder-side §7.4.5 encoder: runs of >= 3 equal bytes become
    (257-n, byte) pairs, everything else literal chunks of <= 128."""
    out = bytearray()
    i = 0
    while i < len(data):
        j = i
        while j < len(data) and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out += bytes([257 - (j - i), data[i]])
            i = j
            continue
        j = i
        while (j < len(data) and j - i < 128
               and not (j + 2 < len(data)
                        and data[j] == data[j + 1] == data[j + 2])):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    out.append(128)
    return bytes(out)


def _ahx_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (PDF 7.4.2): whitespace ignored, `>` is EOD, an
    odd final digit is padded with 0."""
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    h = re.sub(rb"\s+", b"", data)
    if re.search(rb"[^0-9A-Fa-f]", h):
        raise ValueError("bad ASCIIHex data")
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def _a85_decode(data: bytes) -> bytes:
    """ASCII85Decode (PDF 7.4.3): `~>` is EOD, whitespace ignored,
    `z` shorthand for a zero group (stdlib a85decode handles both)."""
    body = data.split(b"~>")[0]
    try:
        return base64.a85decode(re.sub(rb"\s+", b"", body))
    except ValueError as ex:
        raise ValueError(f"bad ASCII85 data: {ex}")


def _lzw_decode(data: bytes) -> bytes:
    """LZWDecode (PDF 7.4.4, TIFF flavor, EarlyChange 1 — the only
    value real writers use): 9..12-bit codes MSB-first, 256 = clear
    table, 257 = EOD; code width grows one code EARLY (at table size
    2^w - 1, pdfminer's 511/1023/2047 thresholds)."""
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    buf = bits = 0
    prev = b""
    out = bytearray()
    for byte in data:
        buf = (buf << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (buf >> bits) & ((1 << width) - 1)
            buf &= (1 << bits) - 1
            if code == 256:
                table = table[:258]
                width = 9
                prev = b""
                continue
            if code == 257:
                return bytes(out)
            if code < len(table) and (code < 256 or code >= 258):
                entry = table[code]
            elif code == len(table) and prev:
                entry = prev + prev[:1]
            else:
                raise ValueError("bad LZW code")
            out += entry
            if len(out) > MAX_STREAM_BYTES:
                raise ValueError("LZW expansion over cap")
            if prev:
                table.append(prev + entry[:1])
            prev = entry
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
    raise ValueError("LZW stream missing EOD")


_DECODERS = {
    b"ASCIIHexDecode": _ahx_decode,
    b"ASCII85Decode": _a85_decode,
    b"LZWDecode": _lzw_decode,
    b"RunLengthDecode": _rle_decode,
}


def _apply_filters(sdict: bytes, data: bytes) -> bytes:
    """Run the stream's /Filter chain in order. Supported:
    FlateDecode, ASCIIHexDecode, ASCII85Decode, LZWDecode — any other
    name raises and the caller quarantines (never a wrong parse)."""
    for name in _stream_filters(sdict):
        if name == b"FlateDecode":
            try:
                d = zlib.decompressobj()
                data = d.decompress(data, MAX_STREAM_BYTES + 1)
            except zlib.error as ex:
                raise ValueError(f"bad deflate stream: {ex}")
            if len(data) > MAX_STREAM_BYTES:
                raise ValueError("deflate expansion over cap")
            if not d.eof:
                # zlib.decompress() semantics preserved: a truncated
                # stream quarantines (decompressobj just stops short)
                raise ValueError("bad deflate stream: incomplete or "
                                 "truncated stream")
        elif name in _DECODERS:
            data = _DECODERS[name](data)
        else:
            raise ValueError("unsupported stream filter")
    return data


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Reverse PNG row predictors (PDF /Predictor >= 10): every row is
    a filter-type byte + `columns` data bytes. All five RFC 2083 row
    filters are decoded — 0 (None), 1 (Sub), 2 (Up — what real
    xref-stream writers emit), 3 (Average), 4 (Paeth) — at bpp=1
    (integer-packed xref columns); an unknown type byte raises and
    the doc quarantines."""
    row_len = columns + 1
    if columns <= 0 or len(data) % row_len:
        raise ValueError("bad predictor row geometry")
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(data), row_len):
        ft = data[r]
        row = bytearray(data[r + 1:r + row_len])
        if ft == 1:  # Sub (bpp=1 for integer-packed xref columns)
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ft == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average: floor((left + up) / 2)
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth: nearest of left/up/upper-left
            for i in range(columns):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"unsupported PNG predictor type {ft}")
        out += row
        prev = row
    return bytes(out)


def _tiff_unpredict(data: bytes, columns: int, colors: int) -> bytes:
    """TIFF /Predictor 2 at 8 bits per component (§7.4.4.4 via TIFF 6
    horizontal differencing): each sample is the delta from the same
    component one pixel to the LEFT, rows are columns*colors bytes
    with NO leading filter-type byte (unlike PNG). Undo = per-row
    cumulative sum at stride ``colors``. Bad row geometry raises and
    the doc quarantines."""
    if columns <= 0 or colors <= 0:
        raise ValueError("bad predictor row geometry")
    row_len = columns * colors
    if len(data) % row_len:
        raise ValueError("bad predictor row geometry")
    out = bytearray(data)
    for r in range(0, len(out), row_len):
        for i in range(colors, row_len):
            out[r + i] = (out[r + i] + out[r + i - colors]) & 0xFF
    return bytes(out)


def _filtered_stream(cbody: bytes) -> tuple[bytes, bytes]:
    """(stream dict prefix, fully decoded stream bytes): /Length
    slice, the /Filter chain, then /DecodeParms PNG predictor if
    present (the xref-stream / object-stream decode path)."""
    sdict, data = _raw_stream_slice(cbody)
    data = _apply_filters(sdict, data)
    pm = _PRED_RE.search(sdict)
    if pm is not None:
        pred = int(pm.group(1))
        if pred >= 10:
            cm = _COLS_RE.search(sdict)
            cols = int(cm.group(1)) if cm else 1
            data = _png_unpredict(data, cols)
        elif pred == 2:
            cm = _COLS_RE.search(sdict)
            cols = int(cm.group(1)) if cm else 1
            colm = _COLORS_RE.search(sdict)
            colors = int(colm.group(1)) if colm else 1
            bm = _BPC_PARM_RE.search(sdict)
            if bm is not None and int(bm.group(1)) != 8:
                # sub-byte/16-bit TIFF differencing needs bit-level
                # carry semantics we cannot vouch for -> quarantine
                raise ValueError("unsupported TIFF predictor depth")
            data = _tiff_unpredict(data, cols, colors)
        elif pred != 1:
            raise ValueError(f"unsupported predictor {pred}")
    return sdict, data


def _content_stream(cbody: bytes) -> bytes:
    """Raw (decoded) bytes of one content-stream object (no
    predictors: /DecodeParms is an image/xref concept; a content
    stream carrying one would be a parse we cannot vouch for)."""
    sdict, data = _raw_stream_slice(cbody)
    if _PRED_RE.search(sdict):
        raise ValueError("predictor on a content stream")
    return _apply_filters(sdict, data)


def _parse_xref_streams(content: bytes,
                        objs: dict[int, bytes]) -> tuple[bytes, set]:
    """Follow startxref -> /Prev through cross-reference STREAMS
    (PDF 1.5+). Returns (newest xref stream dict or b'', object
    numbers of live object streams referenced by type-2 entries).
    A classic ``xref`` table at the startxref offset (PDF 1.4) yields
    (b'', set()) — the caller's whole-file scan already covers it."""
    sm = None
    for sm in _STARTXREF_RE.finditer(content):
        pass  # last startxref wins (incremental updates append)
    if sm is None:
        return b"", set()
    off = int(sm.group(1))
    trailer_dict = b""
    objstm_nums: set[int] = set()
    seen_offsets = set()
    for _ in range(16):  # /Prev chain bound
        if off in seen_offsets or off < 0 or off >= len(content):
            break
        seen_offsets.add(off)
        if content[off:off + 4] == b"xref":
            break  # classic table — scan path covers it
        om = _OBJ_RE.match(content, off)
        if om is None or b"/XRef" not in om.group(2)[:512]:
            break
        body = om.group(2)
        sdict, data = _filtered_stream(body)
        if not trailer_dict:
            trailer_dict = sdict
        wm = _W_RE.search(sdict)
        zm = _SIZE_RE.search(sdict)
        if wm is None or zm is None:
            raise ValueError("xref stream without /W or /Size")
        w = [int(wm.group(i)) for i in (1, 2, 3)]
        rec = sum(w)
        im = _INDEX_RE.search(sdict)
        if im is not None:
            nums = [int(x) for x in im.group(1).split()]
            index = list(zip(nums[::2], nums[1::2]))
        else:
            index = [(0, int(zm.group(1)))]
        pos = 0
        for _start, count in index:
            for _i in range(count):
                if pos + rec > len(data):
                    raise ValueError("truncated xref stream")
                f = data[pos:pos + rec]
                pos += rec
                etype = int.from_bytes(f[:w[0]], "big") if w[0] else 1
                if etype == 2:
                    objstm_nums.add(int.from_bytes(f[w[0]:w[0] + w[1]],
                                                   "big"))
        pm = _PREV_RE.search(sdict)
        if pm is None:
            break
        off = int(pm.group(1))
    return trailer_dict, objstm_nums


def _expand_objstm(body: bytes, objs: dict[int, bytes]) -> None:
    """Inflate one /Type /ObjStm object and register its member
    objects. Members never override an object the whole-file scan
    already found (scan results are at least syntactically complete;
    real 1.5 writers keep compressed objects OUT of the scan anyway)."""
    sdict, data = _filtered_stream(body)
    nm = _N_RE.search(sdict)
    fm = _FIRST_OFF_RE.search(sdict)
    if nm is None or fm is None:
        raise ValueError("object stream without /N or /First")
    n, first = int(nm.group(1)), int(fm.group(1))
    header = data[:first].split()
    if len(header) < 2 * n:
        raise ValueError("truncated object stream header")
    pairs = [(int(header[2 * i]), int(header[2 * i + 1]))
             for i in range(n)]
    for i, (num, rel) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < n else len(data) - first
        if num not in objs:
            objs[num] = data[first + rel:first + end]


def _title_of(body: bytes) -> str | None:
    """The object's /Title as a PDF text string: literal or hex form,
    UTF-16BE when BOM-prefixed (the way real writers store non-ASCII
    titles), PDFDocEncoding/latin-1 otherwise."""
    m = _TITLE_RE.search(body)
    if m is not None:
        return _text_string(_unescape_bytes(m.group(1)))
    m = _TITLE_HEX_RE.search(body)
    if m is not None:
        return _text_string(_hex_bytes(m.group(1)))
    return None


def _outline_titles(objs: dict[int, bytes]) -> list[str]:
    """Depth-first /Title walk of the outline tree (children before
    the next sibling — pdfminer's get_outlines order, which the
    reference's extract_toc writes one title per line;
    ref src/pdf_extractor.py:40-72). Cycle-guarded; a malformed tree
    yields what was walked before the guard tripped."""
    catalog = next(
        (b for b in objs.values()
         if b"/Type /Catalog" in b or b"/Type/Catalog" in b), None)
    if catalog is None:
        return []
    om = _OUTLINES_RE.search(catalog)
    if om is None:
        return []
    root = objs.get(int(om.group(1)))
    if root is None:
        return []
    titles: list[str] = []
    seen: set[int] = set()

    def walk(num: int, depth: int) -> None:
        while num is not None and num not in seen and depth < 64:
            seen.add(num)
            body = objs.get(num)
            if body is None:
                return
            t = _title_of(body)
            if t is not None:
                titles.append(t)
            fm = _FIRST_REF_RE.search(body)
            if fm is not None:
                walk(int(fm.group(1)), depth + 1)
            nm = _NEXT_REF_RE.search(body)
            num = int(nm.group(1)) if nm is not None else None

    fm = _FIRST_REF_RE.search(root)
    if fm is not None:
        walk(int(fm.group(1)), 0)
    return titles


def decode_tiny_pdf(content: bytes) -> dict:
    """PDF bytes -> dict(doc_id, spans), the same contract as the JSON
    payload decode. Raises ValueError on anything it cannot parse —
    the caller quarantines, mirroring F4.

    Spans carry page_id and x0/y0/x1/y1 (round 5): the geometry the
    reference gets from pdfminer layout boxes — parse_util.py:444-455
    sorts textboxes by (-y1, x1) and element_processors.py:87-89
    reads bbox ordinates — comes here from the codec's own text-state
    tracking (_walk_content), so W1 reading order, F10-F12 margins,
    A1 header/footer and A4/EP3 table reconstruction run from raw
    bytes with no external PDF library."""
    if not content.startswith(b"%PDF"):
        raise ValueError("not a PDF payload")
    objs = {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(content)}
    if not objs:
        raise ValueError("no PDF objects")
    # PDF 1.5+: the xref stream names the live object streams (type-2
    # entries) and carries the trailer fields; expand every object
    # stream it names, plus any /Type /ObjStm the scan found (fallback
    # for a damaged xref — degrade to scan, never silently drop)
    xref_dict, live_objstms = _parse_xref_streams(content, objs)
    # /Encrypt in any trailer dict (or the 1.5 xref stream dict) means
    # every string and stream in the file is ciphertext. The RC4 slice
    # of the standard security handler (V 1-2 / R 2-3, empty user
    # password — the owner-locked world-readable shape) authenticates
    # and decrypts in place; anything else raises -> quarantine, since
    # parsing ciphertext on would be a WRONG parse, not a failed one.
    # This runs BEFORE object-stream expansion (objects expanded from
    # a decrypted ObjStm are plaintext and must not be decrypted
    # again, §7.6.2) and skips /Type /XRef streams (never encrypted).
    enc_trailer = None
    fallback_ids: list[bytes] = []
    for tm in _TRAILER_DICT_RE.finditer(content):
        im_ = _ID_HEX_RE.search(tm.group(1)) or _ID_LIT_RE.search(
            tm.group(1))
        if im_ is not None:
            fallback_ids.append(
                _hex_bytes(im_.group(1))
                if im_.re is _ID_HEX_RE else _unescape_bytes(im_.group(1)))
        if _ENCRYPT_RE.search(tm.group(1)):
            enc_trailer = tm.group(1)  # newest update wins
    if enc_trailer is None and xref_dict and _ENCRYPT_RE.search(xref_dict):
        enc_trailer = xref_dict
    if enc_trailer is not None:
        _decrypt_objects(objs, enc_trailer, fallback_ids)
    objstm_nums = set(live_objstms)
    objstm_nums.update(
        num for num, body in objs.items()
        if b"/Type /ObjStm" in body or b"/Type/ObjStm" in body
    )
    for num in sorted(objstm_nums):
        body = objs.get(num)
        if body is None:
            raise ValueError(f"missing object stream {num}")
        _expand_objstm(body, objs)
    # page-tree ROOT comes from the catalog's /Pages ref, not from
    # "first /Pages object in file order" — an incremental update can
    # append a replacement root AFTER an intermediate node, and nested
    # trees have many /Pages objects
    pages_obj = None
    catalog = next(
        (b for b in objs.values()
         if b"/Type /Catalog" in b or b"/Type/Catalog" in b), None)
    if catalog is not None:
        pm = _PAGES_REF_RE.search(catalog)
        if pm is not None:
            pages_obj = objs.get(int(pm.group(1)))
    if pages_obj is None:  # damaged catalog: degrade to scan
        pages_obj = next(
            (body for body in objs.values()
             if b"/Type /Pages" in body or b"/Type/Pages" in body), None)
    if pages_obj is None:
        raise ValueError("no page tree")
    kids_m = _KIDS_RE.search(pages_obj)
    if kids_m is None:
        raise ValueError("no /Kids")

    # page-tree walk: real writers emit NESTED /Pages trees (kids may
    # be intermediate /Pages nodes, not leaf /Page objects) — recurse
    # depth-first in /Kids order, the pdfminer page iteration order,
    # with a visited-set cycle guard. /Resources are INHERITABLE page
    # attributes (PDF 7.7.3.4): each node's /XObject map layers over
    # its ancestors', so a shared form/image declared once on the
    # /Pages node resolves from every descendant page.
    def _res_layer(regex, body: bytes, inherited: dict) -> dict:
        rm = regex.search(body)
        if rm is None:
            return inherited
        layer = dict(inherited)
        layer.update({m.group(1): int(m.group(2))
                      for m in _XOBJ_NAME_RE.finditer(rm.group(1))})
        return layer

    def _res_text(body: bytes) -> bytes:
        # '/Resources 9 0 R' (the common real-writer shape) holds
        # the /Font and /XObject dicts in a SEPARATE object — append
        # its body so the dict regexes see them; without this the
        # font map comes up empty and CID shows silently decode as
        # latin-1 garbage
        rm = _RES_REF_RE.search(body)
        if rm is None:
            return body
        ref = objs.get(int(rm.group(1)))
        if ref is None:
            raise ValueError("missing /Resources object")
        return body + b"\n" + ref

    def _inh_rot_mb(body: bytes, inh_rot, inh_mb):
        # /Rotate and /MediaBox are inheritable page attributes
        # (§7.7.3.4): the NEAREST ancestor value applies, so each
        # tree node overrides what it inherited — checking only the
        # leaf and the root (the pre-round-5 shape) silently ignored
        # a rotation on an intermediate /Pages node
        rm = _ROTATE_RE.search(body)
        mm = _MEDIABOX_RE.search(body)
        return (
            int(rm.group(1)) if rm is not None else inh_rot,
            tuple(float(mm.group(i)) for i in range(1, 5))
            if mm is not None else inh_mb,
        )

    page_list: list[tuple[int, dict, dict, int | None, tuple | None]] \
        = []

    def _collect_pages(kid_ids, seen, inh_xobj, inh_font,
                       inh_rot, inh_mb) -> None:
        for kid in kid_ids:
            if kid in seen:
                raise ValueError("page tree cycle")
            body = objs.get(kid)
            if body is None:
                raise ValueError(f"missing page-tree object {kid}")
            rbody = _res_text(body)
            xl = _res_layer(_XOBJ_DICT_RE, rbody, inh_xobj)
            fl = _res_layer(_FONT_DICT_RE, rbody, inh_font)
            rot, mbox = _inh_rot_mb(body, inh_rot, inh_mb)
            km = _KIDS_RE.search(body)
            if km is not None and _PAGES_TYPE_RE.search(body):
                _collect_pages(
                    [int(m.group(1))
                     for m in _REF_RE.finditer(km.group(1))],
                    seen | {kid},
                    xl, fl, rot, mbox,
                )
            else:
                page_list.append((kid, xl, fl, rot, mbox))

    root_res = _res_text(pages_obj)
    root_rot, root_mb = _inh_rot_mb(pages_obj, None, None)
    _collect_pages(
        [int(m.group(1)) for m in _REF_RE.finditer(kids_m.group(1))],
        frozenset(),
        _res_layer(_XOBJ_DICT_RE, root_res, {}),
        _res_layer(_FONT_DICT_RE, root_res, {}),
        root_rot, root_mb,
    )
    if not page_list:
        raise ValueError("empty /Kids")

    # doc_id comes from the trailer-designated Info dict, NOT from the
    # last /Title of any object: an outline/annotation object carrying
    # its own /Title must not override the document title and mis-key
    # every downstream doc_id join
    title = None
    # the NEWEST trailer carrying /Info wins: an incremental update's
    # trailer repeats /Root but usually omits /Info, which readers
    # inherit through the /Prev chain — file order IS update order,
    # so "last trailer with /Info" implements the chain walk
    im = None
    for tm in _TRAILER_DICT_RE.finditer(content):
        m2 = _INFO_RE.search(tm.group(1))
        if m2 is not None:
            im = m2
    if im is None and xref_dict:
        # 1.5 files have no `trailer` keyword: the xref stream dict
        # carries /Root and /Info instead
        im = _INFO_RE.search(xref_dict)
    if im is not None:
        title = _title_of(objs.get(int(im.group(1)), b""))
    if title is None:
        # legacy payloads without an Info reference: last /Title wins
        for body in objs.values():
            t = _title_of(body)
            if t is not None:
                title = t
    doc_id = title

    spans: list[dict] = []
    # page context for the geometry columns: 0 = document prologue
    # (TOC spans), pages count from 1 — the synthetic corpus
    # convention (synth.py spans_geom)
    page_ctx = [0]

    def emit(kind, text, media_ref=None, bbox=None):
        x0, y0, x1, y1 = bbox if bbox is not None else (None,) * 4
        spans.append(dict(
            kind=kind, text=text, media_ref=media_ref,
            offset=len(spans), page_id=page_ctx[0],
            x0=None if x0 is None else round(x0, 2),
            y0=None if y0 is None else round(y0, 2),
            x1=None if x1 is None else round(x1, 2),
            y1=None if y1 is None else round(y1, 2),
        ))

    # S5 outline-tree scan: one TOC span per outline /Title, ahead of
    # the page spans (document prologue, like the synthetic corpus)
    for t in _outline_titles(objs):
        emit("TOC", t)

    cmap_cache: dict = {}
    for page_no, (pid, xobjs, fonts, inh_rot, inh_mb) in enumerate(
            page_list, start=1):
        page_ctx[0] = page_no
        body = objs.get(pid)
        if body is None:
            raise ValueError(f"missing page object {pid}")
        # /Contents may be a single ref or an ARRAY of refs (the spec
        # says the array's streams form ONE logical stream with
        # whitespace between them — writers split big pages this way)
        am = _CONTENTS_ARR_RE.search(body)
        if am is not None:
            cnums = [int(m.group(1))
                     for m in _REF_RE.finditer(am.group(1))]
        else:
            cm = _CONTENTS_RE.search(body)
            cnums = [int(cm.group(1))] if cm is not None else []
        # /Contents is OPTIONAL (§7.7.3.3): a page without it is a
        # legal BLANK page — pdfminer iterates it as empty, so emit
        # its PageStart and nothing else rather than quarantining
        # the whole document over an intentionally empty page
        parts = []
        for cnum in cnums:
            cbody = objs.get(cnum)
            if cbody is None:
                raise ValueError("missing content stream object")
            parts.append(_content_stream(cbody))
        cdata = b"\n".join(parts)
        # PageStart carries the page box: /MediaBox from the page
        # object, else the page-tree root (inheritable, §7.7.3.4),
        # else US Letter — downstream margin operators key header/
        # footer bands off this span's y1 (synth._hf_local shape)
        # inherited through the page-tree WALK (nearest ancestor,
        # §7.7.3.4) — the leaf's own value already overrode it there
        box = inh_mb if inh_mb is not None else (0.0, 0.0, 612.0, 792.0)
        # /Rotate (inheritable, §7.7.3.4): the page's base CTM is
        # exactly pdfminer's process_page matrix — 90/180/270 rotate
        # the user space into the displayed orientation and every
        # variant (including the identity) translates the MediaBox
        # origin to (0,0), so PageStart lands at (0,0,w,h) with w/h
        # swapped on 90/270 (pdfminer's LTPage frame). Values that
        # are not a multiple of 90 fall to the translate-only branch,
        # matching pdfminer's else-branch rather than quarantining.
        # For the overwhelmingly common unrotated zero-origin page the
        # matrix is the identity and every bbox is byte-identical to
        # the pre-/Rotate decode.
        rot = ((inh_rot % 360 + 360) % 360
               if inh_rot is not None else 0)
        bx0, by0, bx1, by1 = box
        if rot == 90:
            base = (0.0, -1.0, 1.0, 0.0, -by0, bx1)
        elif rot == 180:
            base = (-1.0, 0.0, 0.0, -1.0, bx1, by1)
        elif rot == 270:
            base = (0.0, 1.0, -1.0, 0.0, by1, -bx0)
        else:
            base = (1.0, 0.0, 0.0, 1.0, -bx0, -by0)
        if base == (1.0, 0.0, 0.0, 1.0, 0.0, 0.0):
            pemit = emit
        else:
            def pemit(kind, text, media_ref=None, bbox=None, _m=base):
                if bbox is not None:
                    a, b, c, d, e, f = _m
                    pts = [(a * x + c * y + e, b * x + d * y + f)
                           for x, y in ((bbox[0], bbox[1]),
                                        (bbox[2], bbox[1]),
                                        (bbox[0], bbox[3]),
                                        (bbox[2], bbox[3]))]
                    bbox = (min(p[0] for p in pts),
                            min(p[1] for p in pts),
                            max(p[0] for p in pts),
                            max(p[1] for p in pts))
                emit(kind, text, media_ref=media_ref, bbox=bbox)
        # xobjs: the page's own /XObject map layered over everything
        # inherited down the page tree (built during the tree walk)
        pemit("PageStart", "", bbox=box)
        _walk_content(objs, cdata, xobjs, pemit, frozenset(),
                      fonts=fonts, cmap_cache=cmap_cache)
    return dict(doc_id=doc_id, spans=spans)


def _parse_tounicode(data: bytes) -> dict:
    """Parse a /ToUnicode CMap stream (bfchar + bfrange sections) into
    ``{"width": bytes_per_code, "map": {int code: str}}``. Destination
    hex is UTF-16BE (the CMap spec's encoding for bf* targets); range
    destinations increment the last code unit, and array destinations
    list one target per code. Code width comes from the source hex
    token length (what Identity-H writers emit; begincodespacerange
    agrees for every real ToUnicode this models) — or from the
    codespacerange alone when the CMap maps nothing (a subset font
    whose document only ever shows empty strings is legal)."""
    width = None
    cmap: dict[int, str] = {}

    def _dst(h: bytes) -> str:
        return bytes.fromhex(h.decode("ascii")).decode(
            "utf-16-be", "replace")

    for sec in _BFCHAR_RE.finditer(data):
        toks = [m.group(1) for m in _CMAP_TOK_RE.finditer(sec.group(1))
                if m.group(1) is not None]
        for i in range(0, len(toks) - 1, 2):
            src, dst = toks[i], toks[i + 1]
            width = width or len(src) // 2
            cmap[int(src, 16)] = _dst(dst)
    for sec in _BFRANGE_RE.finditer(data):
        toks = list(_CMAP_TOK_RE.finditer(sec.group(1)))
        i = 0
        while i < len(toks):
            if (i + 2 >= len(toks) or toks[i].group(1) is None
                    or toks[i + 1].group(1) is None):
                raise ValueError("malformed bfrange")
            lo = int(toks[i].group(1), 16)
            hi = int(toks[i + 1].group(1), 16)
            width = width or len(toks[i].group(1)) // 2
            if i + 2 < len(toks) and toks[i + 2].group(2) is not None:
                # [ <d> <d> ... ]: one destination per code
                j = i + 3
                code = lo
                while j < len(toks) and toks[j].group(3) is None:
                    if toks[j].group(1) is None:
                        raise ValueError("malformed bfrange array")
                    cmap[code] = _dst(toks[j].group(1))
                    code += 1
                    j += 1
                if code != hi + 1:
                    raise ValueError("bfrange array arity mismatch")
                i = j + 1
            else:
                if i + 2 >= len(toks) or toks[i + 2].group(1) is None:
                    raise ValueError("malformed bfrange")
                base = toks[i + 2].group(1)
                base_cp = int(base, 16) & 0xFFFF  # last code unit
                prefix = base[:-4] if len(base) > 4 else b""
                for k in range(hi - lo + 1):
                    h = prefix + b"%04X" % (base_cp + k)
                    cmap[lo + k] = _dst(h)
                i += 3
    if width is None:
        for sec in _CSRANGE_RE.finditer(data):
            toks = [m.group(1)
                    for m in _CMAP_TOK_RE.finditer(sec.group(1))
                    if m.group(1) is not None]
            if toks:
                width = len(toks[0]) // 2
                break
    if width is None:
        raise ValueError("empty ToUnicode cmap")
    return {"width": width, "map": cmap}


def _build_agl() -> dict[str, str]:
    """Glyph-name -> Unicode table: the slice of the public Adobe
    Glyph List a simple-font /Differences array draws from — ASCII
    names, Latin accents (generated via unicodedata, deterministic),
    and the common typographic/symbol names. uniXXXX / uXXXXXX names
    are handled programmatically in _glyph_char."""
    import string as _string
    import unicodedata as _ud

    agl = {
        "space": " ", "exclam": "!", "quotedbl": '"',
        "numbersign": "#", "dollar": "$", "percent": "%",
        "ampersand": "&", "quotesingle": "'", "parenleft": "(",
        "parenright": ")", "asterisk": "*", "plus": "+", "comma": ",",
        "hyphen": "-", "period": ".", "slash": "/", "colon": ":",
        "semicolon": ";", "less": "<", "equal": "=", "greater": ">",
        "question": "?", "at": "@", "bracketleft": "[",
        "backslash": "\\", "bracketright": "]", "asciicircum": "^",
        "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
        "braceright": "}", "asciitilde": "~",
    }
    agl.update({c: c for c in _string.ascii_letters})
    for i, w in enumerate(["zero", "one", "two", "three", "four",
                           "five", "six", "seven", "eight", "nine"]):
        agl[w] = str(i)
    for base in "aceinouyACEINOUY":
        for suffix, uname in [
            ("acute", "ACUTE"), ("grave", "GRAVE"),
            ("circumflex", "CIRCUMFLEX"), ("dieresis", "DIAERESIS"),
            ("tilde", "TILDE"), ("ring", "RING ABOVE"),
            ("cedilla", "CEDILLA"), ("macron", "MACRON"),
            ("caron", "CARON"), ("breve", "BREVE"),
        ]:
            case = "SMALL" if base.islower() else "CAPITAL"
            try:
                agl[base + suffix] = _ud.lookup(
                    f"LATIN {case} LETTER {base.upper()} WITH {uname}")
            except KeyError:
                pass
    agl.update({
        "germandbls": "ß", "ae": "æ", "AE": "Æ",
        "oe": "œ", "OE": "Œ", "oslash": "ø",
        "Oslash": "Ø", "thorn": "þ", "Thorn": "Þ",
        "eth": "ð", "Eth": "Ð", "dotlessi": "ı",
        "lslash": "ł", "Lslash": "Ł", "Euro": "€",
        "sterling": "£", "yen": "¥", "cent": "¢",
        "currency": "¤", "section": "§",
        "paragraph": "¶", "copyright": "©",
        "registered": "®", "trademark": "™",
        "degree": "°", "plusminus": "±",
        "divide": "÷", "multiply": "×", "mu": "µ",
        "periodcentered": "·", "bullet": "•",
        "dagger": "†", "daggerdbl": "‡",
        "ellipsis": "…", "emdash": "—", "endash": "–",
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "guillemotleft": "«", "guillemotright": "»",
        "guilsinglleft": "‹", "guilsinglright": "›",
        "exclamdown": "¡", "questiondown": "¿",
        "florin": "ƒ", "fraction": "⁄",
        "perthousand": "‰", "brokenbar": "¦",
        "ordfeminine": "ª", "ordmasculine": "º",
        "onequarter": "¼", "onehalf": "½",
        "threequarters": "¾", "onesuperior": "¹",
        "twosuperior": "²", "threesuperior": "³",
        "logicalnot": "¬", "acute": "´",
        "dieresis": "¨", "cedilla": "¸",
        "tilde": "˜", "circumflex": "ˆ",
        "caron": "ˇ", "macron": "¯", "breve": "˘",
        "dotaccent": "˙", "ring": "˚", "ogonek": "˛",
        "hungarumlaut": "˝",
    })
    return agl


_AGL = _build_agl()


def _glyph_char(name: str) -> str:
    """AGL-subset glyph name -> character; uniXXXX / uXXXX[XX] parsed
    per the AGL algorithm. Unknown names quarantine — substituting
    .notdef or guessing would be a silent wrong parse."""
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) == 7:
        return chr(int(name[3:], 16))
    if name.startswith("u") and len(name) in (5, 7):
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            pass
    raise ValueError(f"unknown glyph name /{name}")


def _base_encoding_map(name: bytes | None) -> dict[int, str]:
    """Byte -> char table for a named simple-font base encoding.
    WinAnsi IS cp1252 and MacRoman IS the classic Mac OS Roman set —
    both stdlib codecs, so the tables come from the codecs themselves
    (undefined cp1252 slots stay unmapped; showing one quarantines).
    No /Encoding name (bare /Differences dict) keeps the latin-1
    identity base the codec has always used for plain simple fonts.
    Any OTHER name (StandardEncoding's 30+ high-range moves,
    MacExpertEncoding, symbolic sets) quarantines — decoding those
    through latin-1 would silently emit wrong characters."""
    if name is None:
        codec = "latin-1"
    elif name == b"WinAnsiEncoding":
        codec = "cp1252"
    elif name == b"MacRomanEncoding":
        codec = "mac_roman"
    else:
        raise ValueError(
            f"unsupported base encoding /{name.decode('latin-1')}")
    table: dict[int, str] = {}
    for b in range(256):
        try:
            table[b] = bytes([b]).decode(codec)
        except UnicodeDecodeError:
            pass
    return table


def _parse_differences(raw: bytes, table: dict[int, str]) -> None:
    """Overlay a /Differences array (§9.6.6.3: a code number followed
    by the glyph names for consecutive codes) onto ``table``."""
    code = None
    for tok in _DIFF_TOK_RE.finditer(raw):
        if tok.group(1) is not None:
            code = int(tok.group(1))
            continue
        if code is None or code > 255:
            raise ValueError("malformed /Differences array")
        table[code] = _glyph_char(tok.group(2).decode("latin-1"))
        code += 1


def _font_cmap(objs, fnum: int | None, cache: dict) -> dict | None:
    """The decode table of font object ``fnum``, memoized per decode
    call. Three shapes: a /ToUnicode CMap ({'width','map'} — wins
    when present, it IS the text mapping); a simple-font /Encoding
    ({'enc_map'}: WinAnsi / MacRoman base + /Differences overlay,
    §9.6.6); or None — fonts with neither keep the latin-1 identity
    (their string bytes ARE the character codes). EXCEPT Type3: its
    codes index user-defined /CharProcs glyphs, so a Type3 without
    /Encoding or /ToUnicode has no text mapping at all — identity
    decode would be silent garbage, quarantine instead (§9.6.5
    requires /Encoding on Type3)."""
    if fnum is None:
        return None
    if fnum not in cache:
        body = objs.get(fnum)
        cm = _TOUNICODE_RE.search(body) if body is not None else None
        if cm is not None:
            tu = objs.get(int(cm.group(1)))
            if tu is None:
                raise ValueError("missing ToUnicode stream object")
            cache[fnum] = _parse_tounicode(_content_stream(tu))
        else:
            enc = _font_encoding(objs, body)
            if enc is None and body is not None:
                if _TYPE3_RE.search(body) is not None:
                    raise ValueError("Type3 font without /Encoding")
                if _TYPE0_RE.search(body) is not None:
                    # a composite font's string bytes are 2-byte CIDs
                    # (Identity-H et al.); without /ToUnicode the
                    # latin-1 byte-wise identity would emit garbage
                    # char PAIRS per glyph — a silent wrong parse.
                    # pdfminer itself can only produce (cid:N)
                    # placeholders here; quarantine is the honest form
                    # of that degradation.
                    raise ValueError("Type0 font without /ToUnicode")
            cache[fnum] = enc
    return cache[fnum]


_FIRSTCHAR_RE = re.compile(rb"/FirstChar\s+(\d+)")
_WIDTHS_ARR_RE = re.compile(rb"/Widths\s*\[([^\]]*)\]")
_WIDTHS_REF_RE = re.compile(rb"/Widths\s+(\d+)\s+0\s+R")
_FONTDESC_RE = re.compile(rb"/FontDescriptor\s+(\d+)\s+0\s+R")
_MISSWIDTH_RE = re.compile(rb"/MissingWidth\s+(" + _NUM + rb")")
_TYPE3_RE = re.compile(rb"/Subtype\s*/Type3\b")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_FONTMATRIX_RE = re.compile(rb"/FontMatrix\s*\[([^\]]*)\]")


def _font_wscale(body: bytes) -> float:
    """Glyph-space → text-space width scale of a font dict: 1/1000
    for every non-Type3 font (§9.2.4: glyph space IS thousandths of
    text space there), the /FontMatrix x-image of (1,1) for Type3
    (§9.6.5: glyph space is user-defined; pdfminer PDFType3Font maps
    widths through apply_matrix_norm(matrix, (1,1)) — a + c — and
    this codec follows its metrics path). A Type3 without the
    spec-required /FontMatrix quarantines: every advance would be
    a guess."""
    if _TYPE3_RE.search(body) is None:
        return 0.001
    mm = _FONTMATRIX_RE.search(body)
    if mm is None:
        raise ValueError("Type3 font without /FontMatrix")
    nums = [float(x) for x in re.findall(_NUM, mm.group(1))]
    if len(nums) != 6:
        raise ValueError("malformed /FontMatrix")
    return nums[0] + nums[2]


def _font_widths(objs, fnum: int | None, cache: dict):
    """Declared width table of font object ``fnum``:
    ({code: glyph-units}, missing_width, wscale) or None when the
    font declares no /Widths (Type0 /W arrays are CID-keyed, a
    different structure — CID shows keep the deterministic GLYPH_W
    model). ``wscale`` converts glyph units to text space —
    1/1000 for simple fonts (§9.6.2.1), the /FontMatrix x-scale for
    Type3 (§9.6.5, pdfminer's PDFType3Font hscale). Codes outside
    [FirstChar, FirstChar+len) take /MissingWidth from
    the /FontDescriptor when declared, else the deterministic
    GLYPH_W glyph (a zero default per spec would emit degenerate
    zero-area boxes downstream ops cluster on). A /Widths without
    /FirstChar, or an unresolvable indirect array, raises and the doc
    quarantines — guessing the base code would misplace every
    advance. Memoized in the per-decode cache under ('w', fnum)."""
    if fnum is None:
        return None
    key = ("w", fnum)
    if key not in cache:
        body = objs.get(fnum)
        res = None
        if body is not None:
            am = _WIDTHS_ARR_RE.search(body)
            arr = None
            if am is not None:
                arr = am.group(1)
            else:
                rm = _WIDTHS_REF_RE.search(body)
                if rm is not None:
                    wobj = objs.get(int(rm.group(1)))
                    if wobj is None:
                        raise ValueError("missing /Widths array object")
                    aam = re.search(rb"\[([^\]]*)\]", wobj)
                    if aam is None:
                        raise ValueError("/Widths ref is not an array")
                    arr = aam.group(1)
            if arr is not None:
                fm = _FIRSTCHAR_RE.search(body)
                if fm is None:
                    raise ValueError("/Widths without /FirstChar")
                first = int(fm.group(1))
                ws = [float(x) for x in
                      re.findall(_NUM, arr)]
                wscale = _font_wscale(body)
                # missing-width fallback stays the GLYPH_W glyph in
                # TEXT space whatever the glyph-space unit is
                miss = GLYPH_W / wscale
                dm = _FONTDESC_RE.search(body)
                if dm is not None:
                    desc = objs.get(int(dm.group(1)))
                    if desc is not None:
                        mm = _MISSWIDTH_RE.search(desc)
                        if mm is not None:
                            miss = float(mm.group(1))
                res = ({first + i: w for i, w in enumerate(ws)},
                       miss, wscale)
        cache[key] = res
    return cache[key]


def _font_encoding(objs, body: bytes | None) -> dict | None:
    """Parse a simple font's /Encoding entry (name, inline dict, or
    indirect dict) into {'enc_map': {byte: char}}; None when the font
    has no /Encoding."""
    if body is None:
        return None
    dm = _ENC_DICT_RE.search(body)
    if dm is None:
        rm = _ENC_REF_RE.search(body)
        if rm is not None:
            enc_obj = objs.get(int(rm.group(1)))
            if enc_obj is None:
                raise ValueError("missing /Encoding object")
            dm = _ENC_DICT_RE_BODY.search(enc_obj)
            if dm is None:
                raise ValueError("/Encoding ref is not a dictionary")
        else:
            nm = _ENC_NAME_RE.search(body)
            if nm is None:
                return None
            return {"enc_map": _base_encoding_map(nm.group(1))}
    ddict = dm.group(1)
    bm = _BASEENC_RE.search(ddict)
    table = _base_encoding_map(bm.group(1) if bm is not None else None)
    dfm = _DIFFS_RE.search(ddict)
    if dfm is not None:
        _parse_differences(dfm.group(1), table)
    return {"enc_map": table}


def _decode_simple(bs: bytes, enc_map: dict[int, str]) -> str:
    """String bytes -> text through a simple-font encoding table; a
    byte outside the table (undefined cp1252 slot, un-overlaid code)
    is a WRONG parse and quarantines."""
    out = []
    for b in bs:
        t = enc_map.get(b)
        if t is None:
            raise ValueError(f"byte {b:#x} undefined in font encoding")
        out.append(t)
    return "".join(out)


def _decode_codes(bs: bytes, cmap: dict) -> str:
    """String bytes -> text through a ToUnicode CMap: fixed-width
    big-endian codes, each of which must map. An unmapped code or a
    ragged tail is a WRONG parse (the latin-1 identity would emit
    garbage for a subset font), so it quarantines."""
    w = cmap["width"]
    if len(bs) % w:
        raise ValueError("CID string length not a multiple of width")
    out = []
    for i in range(0, len(bs), w):
        code = int.from_bytes(bs[i:i + w], "big")
        t = cmap["map"].get(code)
        if t is None:
            raise ValueError(f"code {code:#x} outside ToUnicode cmap")
        out.append(t)
    return "".join(out)


def _show_text(raw: bytes, cmap) -> str:
    """Show-string bytes -> text under the active font's decode table
    (``_font_cmap``): the latin-1 identity, a simple-font /Encoding or
    ToUnicode CMap codes."""
    if cmap is None:
        return raw.decode("latin-1")
    if "enc_map" in cmap:
        return _decode_simple(raw, cmap["enc_map"])
    return _decode_codes(raw, cmap)


def _nested_string(data: bytes, start: int) -> tuple[bytes, int]:
    """Body of the literal string whose `(` ends just before ``start``
    and whose parentheses nest (§7.3.4.2: balanced pairs need no
    escape), plus the offset after its closing `)`. A string still
    open at the end of the stream would swallow every operator after
    it, so it raises."""
    depth = 1
    for m in _PAREN_RE.finditer(data, start):
        tok = m.group()
        if tok == b"(":
            depth += 1
        elif tok == b")":
            depth -= 1
            if not depth:
                return data[start:m.start()], m.end()
    raise ValueError("unterminated string")


def _last_nums(args: list, n: int) -> list | None:
    """The last ``n`` operands when all are numbers, else None: the
    operator is then skipped, as pdfminer skips one short of operands."""
    nums = args[-n:]
    if len(nums) == n and all(type(x) is float for x in nums):
        return nums
    return None


def _unit_box(ctm) -> tuple:
    """Axis-aligned envelope of the unit square under ``ctm``: where an
    image paints (§8.3.4)."""
    a, b, c, d, e, f = ctm
    xs = (e, e + a, e + c, e + a + c)
    ys = (f, f + b, f + d, f + b + d)
    return (min(xs), min(ys), max(xs), max(ys))


def _next_line(tm: list, lm: list, tx: float, ty: float) -> None:
    """Td (§9.4.2): translate the line matrix by (tx, ty) in its own
    space and start the text matrix there."""
    lm[4] = tx * lm[0] + ty * lm[2] + lm[4]
    lm[5] = tx * lm[1] + ty * lm[3] + lm[5]
    tm[:] = lm


def _paint_xobject(objs, name: str, xobjs, fonts, emit, active,
                   cmap_cache, ctm) -> None:
    """``/name Do`` (§8.8): /Image emits an Image span with the
    deterministic media_ref ``xobj://<obj>/<name>`` and the unit-square
    box under ``ctm`` (None before any cm); /Form walks the form's own
    content stream with its /Resources /XObject and /Font maps layered
    over the inherited ones. A missing XObject, another subtype or a
    form cycle quarantines."""
    onum = xobjs.get(name.encode("latin-1"))
    xbody = objs.get(onum) if onum is not None else None
    if xbody is None:
        raise ValueError(f"unresolvable XObject /{name}")
    head = (xbody[:xbody.find(b"stream")]
            if b"stream" in xbody else xbody)
    if _SUBTYPE_IMG_RE.search(head):
        emit("Image", "", media_ref=f"xobj://{onum}/{name}",
             bbox=None if ctm is None else _unit_box(ctm))
        return
    if not _SUBTYPE_FORM_RE.search(head):
        raise ValueError("unsupported XObject subtype paint")
    if onum in active:
        raise ValueError("form XObject cycle")
    # forms carry indirect '/Resources N 0 R' too — append the
    # referenced body so the dict scans below see the form's own
    # fonts/xobjects
    rrm = _RES_REF_RE.search(head)
    if rrm is not None:
        rref = objs.get(int(rrm.group(1)))
        if rref is None:
            raise ValueError("missing /Resources object")
        head = head + b"\n" + rref
    fx = dict(xobjs)
    fm = _XOBJ_DICT_RE.search(head)
    if fm is not None:
        fx.update({m2.group(1): int(m2.group(2))
                   for m2 in _XOBJ_NAME_RE.finditer(fm.group(1))})
    ff = dict(fonts)  # form /Font layers over inherited
    ffm = _FONT_DICT_RE.search(head)
    if ffm is not None:
        ff.update({m2.group(1): int(m2.group(2))
                   for m2 in _XOBJ_NAME_RE.finditer(ffm.group(1))})
    _walk_content(objs, _content_stream(xbody), fx, emit, active | {onum},
                  fonts=ff, cmap_cache=cmap_cache)


_IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
_CLOSER = {b"[": b"]", b"<<": b">>"}
_SHOWS = (b"Tj", b"'", b'"', b"TJ")
_TEXT_SCALARS = (b"TL", b"Tc", b"Tw", b"Tz", b"Ts")


def _walk_content(objs, cdata, xobjs, emit, active,
                  fonts=None, cmap_cache=None) -> None:
    """Run one content stream through one left-to-right tokenizer pass
    (§7.8.2: operands, then the operator that takes them), emitting
    TextBox and Image spans in stream order — span order is the
    document's reading-order contract. pdfminer, the reference's
    decoder, reads a stream the same way.

    State, in stream order:
    - the text state — Tf font and size, TL, Tc, Tw, Tz, Ts — persists
      across BT blocks (§9.3.1); TD sets TL, " sets Tw and Tc;
    - the text and line matrices reset at BT and move under Td, TD,
      Tm, T*, ' and " (§9.4.2); these and the shows act only inside
      BT..ET;
    - the q/Q/cm stack maps the unit square to each image's box
      (§8.4.2: a paint after Q never sees the popped transform).

    A show (Tj, ', ", TJ) decodes its strings through the active
    font — a ToUnicode CMap (the CID shape), a simple /Encoding, else
    the latin-1 identity — and advances per §9.4.4. Do dispatches
    through ``_paint_xobject``; a form walks with fresh text and
    graphics state, and nesting deeper than 8 (what pdfminer tolerates
    in practice) quarantines. An inline image (BI <dict> ID <data> EI)
    emits an Image span keyed on the BI offset in the decoded stream
    (``inline://<offset>``, filter-invariant); its data is skipped
    unread. BDC/DP take their property lists (tagged-PDF /ActualText
    strings included) like any operand, and pdfminer ignores them.

    Wrong-parse guards, each a ValueError that quarantines the document
    instead of silently losing text: inside BT..ET a string operand
    taken by any operator but a show, BDC or DP ("unconsumed string in
    text object"); a BT with no ET; an array, dictionary or inline
    image left open at the end of the stream (it swallowed every
    operator after it), or a closer that matches no opener; a stray
    delimiter; an unterminated string or inline image (no EI)."""
    if len(active) > 8:
        raise ValueError("form XObject nesting too deep")
    fonts = fonts or {}
    if cmap_cache is None:
        cmap_cache = {}
    font, size = None, 12.0
    state = {b"TL": 0.0, b"Tc": 0.0, b"Tw": 0.0, b"Tz": 100.0, b"Ts": 0.0}
    in_bt = False
    tm = list(_IDENT)
    lm = list(_IDENT)
    ctm, cm_seen, saved = _IDENT, False, []
    args: list = []
    nest: list = []  # open [, << and BI: (opener, outer args, offset)
    n_str = 0  # strings among the pending operands, at any depth
    pos, end = 0, len(cdata)
    while pos < end:
        m = _TOKEN_RE.match(cdata, pos)
        pos = m.end()
        kind = m.lastgroup
        if kind is None:
            continue
        if kind == "num":
            args.append(float(m.group(kind)))
            continue
        if kind == "name":
            args.append(m.group(kind).decode("latin-1"))
            continue
        if kind == "str":
            args.append(_unescape_bytes(m.group(kind)))
            n_str += 1
            continue
        if kind == "hex":
            args.append(_hex_bytes(m.group(kind)))
            n_str += 1
            continue
        if kind == "lpar":
            raw, pos = _nested_string(cdata, pos)
            args.append(_unescape_bytes(raw))
            n_str += 1
            continue
        if kind == "open":
            nest.append((m.group(kind), args, m.start()))
            args = []
            continue
        if kind == "close":
            if not nest or _CLOSER.get(nest[-1][0]) != m.group(kind):
                raise ValueError("unbalanced array or dictionary")
            opener, outer, _at = nest.pop()
            outer.append(args if opener == b"[" else tuple(args))
            args = outer
            continue
        if kind == "junk" and not nest:
            raise ValueError("stray delimiter in content stream")
        op = m.group("op")
        if nest:
            if op != b"ID" or nest[-1][0] != b"BI":
                # a keyword inside an array or dict is a value (true,
                # false, null — or, as pdfminer's PSStackParser reads
                # it, any spelling or stray delimiter inside a
                # malformed property list)
                args.append(None)
                continue
            _bi, args, at = nest.pop()
            ei = _EI_RE.search(cdata, pos + 1)
            if ei is None:
                raise ValueError("inline image without EI")
            pos = ei.end()
            n_str = 0
            emit("Image", "", media_ref=f"inline://{at}",
                 bbox=_unit_box(ctm) if cm_seen else None)
            continue
        was_bt = in_bt
        if op in _SHOWS:
            shown = args[-1] if in_bt and args else None
            if op == b"TJ":
                raws = ([e for e in shown if type(e) is bytes]
                        if type(shown) is list else None)
            else:
                raws = [shown] if type(shown) is bytes else None
            if raws is not None:
                n_str -= len(raws)
                fnum = fonts.get(font)
                cmap = _font_cmap(objs, fnum, cmap_cache)
                widths = _font_widths(objs, fnum, cmap_cache)
                # word spacing applies per byte-32 of SINGLE-BYTE
                # encodings only (§9.3.3) — CID multi-byte codes never
                # trigger it, so spaces are counted on the raw bytes
                # and only for non-CMap fonts
                simple = cmap is None or "enc_map" in cmap
                text = "".join([_show_text(r, cmap) for r in raws])
                all_raw = b"".join(raws)
                n_spaces = all_raw.count(0x20) if simple else 0
                # TJ kerning, thousandths of an em (§9.4.3)
                kern = (sum(e for e in shown if type(e) is float)
                        if op == b"TJ" else 0.0)
                # ' and " move to the next line BEFORE showing; " also
                # SETS word/char spacing from its aw ac operands
                if op == b'"':
                    awac = _last_nums(args[:-1], 2)
                    if awac is not None:
                        state[b"Tw"], state[b"Tc"] = awac
                if op == b"'" or op == b'"':
                    _next_line(tm, lm, 0.0, -state[b"TL"])
                # text-space advance per §9.4.4 — (w0*Tfs + Tc +
                # Tw_if_space) * Tz% per glyph. w0 comes from the
                # simple font's declared /Widths table when one is
                # present (pdfminer's real-metrics path, per CODE byte;
                # glyph units scale by 1/1000, or by the /FontMatrix
                # x-scale for Type3 — pdfminer PDFType3Font hscale),
                # else from the deterministic GLYPH_W model; the box is
                # the text-space rect (0,rise)-(adv,rise+size) — Ts
                # lifts the baseline in unscaled text space (§9.3.7)
                # without entering the line-advance — with all FOUR
                # corners mapped through Tm (pdfminer's apply_matrix
                # shape), so rotated/sheared text gets its true
                # axis-aligned envelope instead of a degenerate box
                if widths is not None and simple:
                    w_map, miss, wscale = widths
                    gw = sum(w_map.get(b, miss) for b in all_raw) \
                        * wscale * size
                    n_glyphs = len(all_raw)
                else:
                    gw = GLYPH_W * size * len(text)
                    n_glyphs = len(text)
                # TJ kern stays thousandths even under Type3: pdfminer's
                # render_string scales TJ numbers by a fixed 0.001
                # whatever the font class, and this codec follows its
                # metrics path (§9.4.3 note: the spec says glyph space,
                # pdfminer does not special-case it)
                adv = (gw + state[b"Tc"] * n_glyphs
                       + state[b"Tw"] * n_spaces
                       - kern / 1000.0 * size) * (state[b"Tz"] / 100.0)
                rise = state[b"Ts"]
                xs, ys = [], []
                for dx, dy in ((0.0, rise), (adv, rise),
                               (0.0, rise + size), (adv, rise + size)):
                    xs.append(tm[4] + dx * tm[0] + dy * tm[2])
                    ys.append(tm[5] + dx * tm[1] + dy * tm[3])
                emit("TextBox", text,
                     bbox=(min(xs), min(ys), max(xs), max(ys)))
                tm[4] += adv * tm[0]
                tm[5] += adv * tm[1]
        elif op == b"Td" or op == b"TD":
            move = _last_nums(args, 2) if in_bt else None
            if move is not None:
                if op == b"TD":
                    state[b"TL"] = -move[1]
                _next_line(tm, lm, move[0], move[1])
        elif op == b"T*":
            if in_bt:
                _next_line(tm, lm, 0.0, -state[b"TL"])
        elif op == b"Tm":
            mat = _last_nums(args, 6) if in_bt else None
            if mat is not None:
                tm[:] = mat
                lm[:] = mat
        elif op == b"BT":
            if in_bt:
                raise ValueError("BT without ET")
            in_bt = True
            tm[:] = _IDENT
            lm[:] = _IDENT
        elif op == b"ET":
            in_bt = False
        elif op == b"Tf":
            if (len(args) >= 2 and type(args[-2]) is str
                    and type(args[-1]) is float):
                font, size = args[-2].encode("latin-1"), args[-1]
        elif op in _TEXT_SCALARS:
            if args and type(args[-1]) is float:
                state[op] = args[-1]
        elif op == b"q":
            saved.append(ctm)
        elif op == b"Q":
            ctm = saved.pop() if saved else _IDENT
        elif op == b"cm":
            mat = _last_nums(args, 6)
            if mat is not None:
                cm_seen = True
                a1, b1, c1, d1, e1, f1 = mat
                a2, b2, c2, d2, e2, f2 = ctm
                ctm = (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
                       c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
                       e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)
        elif op == b"Do":
            if args and type(args[-1]) is str:
                _paint_xobject(objs, args[-1], xobjs, fonts, emit, active,
                               cmap_cache, ctm if cm_seen else None)
        elif op == b"BI":
            nest.append((op, [], m.start()))
        if n_str:
            if was_bt and op != b"BDC" and op != b"DP":
                raise ValueError("unconsumed string in text object")
            n_str = 0
        args = []
    if nest:
        # an unclosed operand swallowed every operator after it
        raise ValueError("unclosed array, dictionary or inline image")
    if in_bt:
        raise ValueError("BT without ET")
