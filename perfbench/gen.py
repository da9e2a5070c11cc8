"""Seeded input generator for the benchmark workloads.

Every input is derived from files the repository already holds
(``fixtures/sf0.1`` and ``perfbench/data``); the seed only picks the
order, the split into files and waves, and the replica names, so two
seeds give inputs of the same composition and size.

Replicas get distinct doc_ids. The doc_id of a payload comes from its
body (JSON ``doc_id``) or from the PDF Info ``/Title``, never from the
file name, so a plain copy would merge into the base document:

* JSON replicas rewrite ``doc_id`` in the body;
* PDF replica 0 keeps the original bytes; later replicas append an
  incremental-update section (new Info object, one-entry xref, trailer
  with ``/Prev``) whose ``/Title`` names the replica. Encrypted bases
  get the title encrypted under the document's own key, so the codec's
  encrypted slice stays in the mix;
* a base the decoder quarantines has its doc_id from the file stem, so
  its replicas are byte copies under a new name.

Each replica is checked with the Spark-free decoder when it is made.
Nothing here imports the fixture writers of ``pdfspark.sources``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

SF = "sf0.1"        # payload fixtures
SPANS_SF = "sf0.01"  # span tables: 605 docs, one 10k-span skew doc
CORPUS_SF = "sf0.01"  # text corpus: 530 docs

_OBJ_NUM_RE = re.compile(rb"(\d+)\s+0\s+obj\b")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_TRAILER_RE = re.compile(rb"trailer\s*<<(.*?)>>\s*startxref", re.DOTALL)
_XREF_STM_RE = re.compile(rb"<<((?:(?!>>).)*?/Type\s*/XRef.*?)stream",
                          re.DOTALL)
_ROOT_RE = re.compile(rb"/Root\s+(\d+\s+\d+)\s+R")
_INFO_RE = re.compile(rb"/Info\s+(\d+)\s+\d+\s+R")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)")
_ENCRYPT_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\]")
_HEX_TITLE_RE = re.compile(rb"/Title\s*<(?!<)")


# --- PDF replica: appended incremental update --------------------------

_PAD = bytes.fromhex(
    "28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a")


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for b in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _hexval(enc: bytes, name: bytes) -> bytes:
    m = re.search(rb"/" + name + rb"\s*<([0-9A-Fa-f]+)>", enc)
    if m is None:
        raise ValueError(f"/Encrypt without hex /{name.decode()}")
    return bytes.fromhex(m.group(1).decode())


def _intval(enc: bytes, name: bytes) -> int:
    m = re.search(rb"/" + name + rb"\s+(-?\d+)(?![0-9])", enc)
    if m is None:
        raise ValueError(f"/Encrypt without /{name.decode()}")
    return int(m.group(1))


def _r6_hash(salt: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B for the empty password."""
    from pdfspark.sources.aes import cbc_encrypt

    k = hashlib.sha256(salt).digest()
    i = 0
    while True:
        e = cbc_encrypt(k[:16], k[16:32], k * 64, pad=False)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _string_encryptor(enc: bytes, id0: bytes, num: int):
    """bytes -> ciphertext for a string of object ``num`` under the
    standard security handler with the empty user password (the only
    encrypted slice the decoder opens)."""
    from pdfspark.sources.aes import cbc_decrypt, cbc_encrypt

    v, r = _intval(enc, b"V"), _intval(enc, b"R")
    o_val = _hexval(enc, b"O")
    if v == 5:
        u_val = _hexval(enc, b"U")
        ikey = _r6_hash(u_val[40:48])
        fkey = cbc_decrypt(ikey, b"\x00" * 16, _hexval(enc, b"UE")[:32],
                           unpad=False)
        return lambda data: (b"\x00" * 16
                             + cbc_encrypt(fkey, b"\x00" * 16, data))
    n = 5 if v == 1 else (16 if v == 4 else _intval(enc, b"Length") // 8)
    p = _intval(enc, b"P") & 0xFFFFFFFF
    h = hashlib.md5(_PAD + o_val[:32] + p.to_bytes(4, "little")
                    + id0).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    fkey = h[:n]
    aes = v == 4
    okey = hashlib.md5(fkey + num.to_bytes(3, "little") + b"\x00\x00"
                       + (b"sAlT" if aes else b"")).digest()[:min(n + 5, 16)]
    if aes:
        return lambda data: b"\x00" * 16 + cbc_encrypt(okey, b"\x00" * 16,
                                                       data)
    return lambda data: _rc4(okey, data)


def _literal(s: str) -> bytes:
    b = s.encode("latin-1")
    return b"(" + b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(
        b")", b"\\)") + b")"


def retitle_pdf(pdf: bytes, title: str) -> bytes:
    """Append an incremental update whose new Info dict carries
    ``title``. The trailer chains to the previous cross-reference
    section by ``/Prev`` and repeats ``/Root`` (and ``/Encrypt`` and
    ``/ID`` for an encrypted base); the newest ``/Info`` wins."""
    starts = _STARTXREF_RE.findall(pdf)
    if not starts:
        raise ValueError("no startxref to chain from")
    trailers = _TRAILER_RE.findall(pdf) + _XREF_STM_RE.findall(pdf)
    if not trailers:
        raise ValueError("no trailer dictionary")
    root = next((m.group(1) for t in reversed(trailers)
                 for m in [_ROOT_RE.search(t)] if m), None)
    if root is None:
        raise ValueError("trailer without /Root")
    sizes = [int(s) for t in trailers for s in _SIZE_RE.findall(t)]
    nums = [int(n) for n in _OBJ_NUM_RE.findall(pdf)]
    num = max(sizes + [max(nums, default=0) + 1])
    extra = b""
    enc_t = next((t for t in reversed(trailers) if _ENCRYPT_RE.search(t)),
                 None)
    old_info = next((m.group(1) for t in reversed(trailers)
                     for m in [_INFO_RE.search(t)] if m), None)
    hex_title = False
    if old_info is not None:
        om = re.search(rb"(?<!\d)" + old_info + rb"\s+0\s+obj\b(.*?)endobj",
                       pdf, re.DOTALL)
        hex_title = om is not None and bool(_HEX_TITLE_RE.search(om.group(1)))
    if enc_t is not None:
        idm = _ID_RE.search(enc_t)
        enc_num = _ENCRYPT_RE.search(enc_t).group(1)
        em = re.search(rb"(?<!\d)" + enc_num + rb"\s+0\s+obj\b(.*?)endobj",
                       pdf, re.DOTALL)
        if idm is None or em is None:
            raise ValueError("encrypted base without /ID or /Encrypt body")
        id0 = bytes.fromhex(idm.group(1).decode())
        crypt = _string_encryptor(em.group(1), id0, num)
        tbytes = crypt(title.encode("latin-1"))
        title_tok = b"<" + tbytes.hex().encode() + b">"
        extra = b" /Encrypt " + enc_num + b" 0 R " + idm.group(0)
    elif hex_title:
        title_tok = (b"<" + (b"\xfe\xff" + title.encode("utf-16-be"))
                     .hex().upper().encode() + b">")
    else:
        title_tok = _literal(title)
    buf = bytearray(pdf)
    if not buf.endswith(b"\n"):
        buf += b"\n"
    off = len(buf)
    buf += b"%d 0 obj\n<< /Title " % num + title_tok + b" >>\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n%d 1\n%010d 00000 n \n" % (num, off)
    buf += (b"trailer\n<< /Size %d /Root " % (num + 1) + root
            + b" R /Info %d 0 R /Prev %d" % (num, int(starts[-1]))
            + extra + b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_at)
    return bytes(buf)


def retitle_json(body: bytes, doc_id: str) -> bytes:
    doc = json.loads(body.decode("utf-8"))
    doc["doc_id"] = doc_id
    return json.dumps(doc).encode("utf-8")


# --- payload mix --------------------------------------------------------

@dataclass(frozen=True)
class Payload:
    """One file of the mix: ``base`` is the fixture file it derives
    from, ``name`` the file name it lands under, ``doc_id`` the id the
    decoder must give (None for a quarantined payload)."""
    base: str
    replica: int
    name: str
    doc_id: str | None


def _decode(content: bytes):
    from pdfspark.sources.binary_decode import _decode_payload

    return _decode_payload(content)


def payload_paths(root: str) -> list[str]:
    """Every fixture payload file, relative to ``root``."""
    rel = os.path.join("fixtures", SF)
    return sorted(
        os.path.join(rel, sub, f)
        for sub in ("payloads", "payloads_pdf")
        for f in os.listdir(os.path.join(root, rel, sub)))


def decode_all(blobs: dict[str, bytes]) -> dict[str, dict | None]:
    out = {}
    for p, b in blobs.items():
        try:
            out[p] = _decode(b)
        except Exception:
            out[p] = None
    return out


class PayloadSource:
    """The fixture payload files, decoded once Spark-free: the base
    doc_id and spans of each, or None where the decoder quarantines."""

    def __init__(self, root: str, decoded: dict | None = None):
        """``decoded`` (path relative to ``root`` -> decode or None)
        skips decoding the bases again when a cached copy exists."""
        self.root = root
        self.paths = payload_paths(root)
        self.bytes: dict[str, bytes] = {}
        for p in self.paths:
            with open(os.path.join(root, p), "rb") as fh:
                self.bytes[p] = fh.read()
        self.decoded = decoded if decoded is not None else decode_all(
            self.bytes)

    def make(self, pl: Payload) -> bytes:
        """The replica's bytes, checked against the base decode."""
        base = self.bytes[pl.base]
        dec = self.decoded[pl.base]
        if pl.replica == 0 or dec is None:
            out = base
        elif base.startswith(b"%PDF"):
            out = retitle_pdf(base, pl.doc_id)
        else:
            out = retitle_json(base, pl.doc_id)
        try:
            got = _decode(out)
        except Exception:
            got = None
        if dec is None:
            if got is not None:
                raise ValueError(f"replica {pl.name} of a quarantined "
                                 "payload decodes")
        elif got is None or got["doc_id"] != pl.doc_id or \
                got["spans"] != dec["spans"]:
            raise ValueError(f"replica {pl.name} does not decode to "
                             f"{pl.doc_id} with the base spans")
        return out


def payload_mix(src: PayloadSource, seed: int, replicas: int,
                per_wave: dict[str, int], n_waves: int,
                leads=lambda base: False) -> list[list[Payload]]:
    """Every fixture payload ``replicas`` times, in ``n_waves`` waves of
    the same make-up: ``per_wave`` files from each category ('json' and
    'pdf' payloads that decode, and 'quarantined' ones of either kind).
    Each category is walked in file-name order, bases for which
    ``leads(base)`` holds first, every base with all its replicas in a
    row, cycling when the category runs out. The walk does not depend on
    the seed, so every seed meets the same documents and commits the
    same bytes; the seed sets the order in which each wave's files
    land."""
    rng = random.Random(f"perfbench|payloads|{seed}")
    cats: dict[str, list[Payload]] = {c: [] for c in per_wave}
    for p in sorted(src.paths, key=lambda p: (not leads(p), p)):
        stem, ext = os.path.splitext(os.path.basename(p))
        dec = src.decoded[p]
        for k in range(replicas):
            if dec is None:
                name = stem if k == 0 else f"{stem}-r{k}"
                cats["quarantined"].append(Payload(p, k, name + ext, None))
            else:
                did = dec["doc_id"] or stem
                did = did if k == 0 else f"{did}-r{k}"
                cats["pdf" if ext == ".pdf" else "json"].append(
                    Payload(p, k, f"{did}{ext}", did))
    waves = []
    for i in range(n_waves):
        w = []
        for c in sorted(per_wave):
            items, n = cats[c], per_wave[c]
            w += [items[(i * n + j) % len(items)] for j in range(n)]
        rng.shuffle(w)
        waves.append(w)
    return waves


# --- parquet inputs -----------------------------------------------------

def _write_split(tbl: pa.Table, out_dir: str, n_files: int,
                 rows_per_group: int | None = None) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = tbl.num_rows
    step = -(-n // n_files)
    for i in range(n_files):
        part = tbl.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part,
                           os.path.join(out_dir, f"part-{i:03d}.parquet"),
                           row_group_size=rows_per_group)


def _span_tables(root: str):
    fx = os.path.join(root, "fixtures", SPANS_SF)
    return (pq.read_table(os.path.join(fx, "documents_in.parquet")),
            pq.read_table(os.path.join(fx, "spans_geom.parquet")))


def _write_docs_geom(docs: pa.Table, geom: pa.Table, out_dir: str,
                     n_files: int) -> dict:
    import pyarrow.compute as pc

    geom = geom.filter(pc.is_in(geom["doc_id"], value_set=docs["doc_id"]))
    _write_split(docs, os.path.join(out_dir, "docs"), n_files, 256)
    _write_split(geom, os.path.join(out_dir, "geom"), n_files, 20_000)
    return dict(docs=os.path.join(out_dir, "docs"),
                geom=os.path.join(out_dir, "geom"), n_docs=docs.num_rows,
                bytes=sum(os.path.getsize(os.path.join(d, f))
                          for d, _s, fs in os.walk(out_dir) for f in fs))


def spans_replica(root: str, seed: int, replica: int, out_dir: str,
                  n_files: int) -> dict:
    """``documents_in`` + ``spans_geom`` as replica ``replica`` (doc_ids
    suffixed ``-r<replica>``; replica 0 keeps them), documents in a
    seeded order, each table written as ``n_files`` parquet files.
    ``ids`` maps each replica doc_id to its base doc_id."""
    import pyarrow.compute as pc

    docs, geom = _span_tables(root)
    base_ids = docs["doc_id"]
    rng = random.Random(f"perfbench|spans|{seed}|{replica}")
    perm = list(range(docs.num_rows))
    rng.shuffle(perm)
    if replica:
        sfx = f"-r{replica}"
        docs = docs.set_column(0, "doc_id", pc.binary_join_element_wise(
            docs["doc_id"], sfx, ""))
        geom = geom.set_column(0, "doc_id", pc.binary_join_element_wise(
            geom["doc_id"], sfx, ""))
    sel = pa.array(perm)
    out = _write_docs_geom(docs.take(sel), geom, out_dir, n_files)
    out["ids"] = dict(zip(docs["doc_id"].to_pylist(), base_ids.to_pylist()))
    return out


def spans_sample(root: str, out_dir: str, n_docs: int,
                 skew_spans: int) -> dict:
    """A small span table for warm-up calls: the first ``n_docs``
    documents plus the skew document cut to its first ``skew_spans``
    spans, so the warm-up takes the same split route as the timed calls
    at a fraction of the cost."""
    import pyarrow.compute as pc

    docs, geom = _span_tables(root)
    skew = pc.starts_with(docs["doc_id"], "skew-")
    head = docs.slice(0, n_docs).filter(pc.invert(pc.starts_with(
        docs.slice(0, n_docs)["doc_id"], "skew-")))
    cut = docs.filter(skew)
    cut = cut.set_column(1, "spans", pc.list_slice(cut["spans"], 0,
                                                   skew_spans))
    geom = geom.filter(pc.or_(
        pc.invert(pc.starts_with(geom["doc_id"], "skew-")),
        pc.less(geom["offset"], skew_spans)))
    return _write_docs_geom(pa.concat_tables([head, cut.cast(head.schema)]),
                            geom, out_dir, 2)


def corpus_inputs(root: str, seed: int, out_dir: str,
                  n_files: int = 8) -> int:
    """The text corpus (``perfbench/data/documents_<sf>.parquet``, a copy
    of the ``documents`` testdata table the fixtures were derived from,
    plus ``fixtures/<sf>/documents_aug.parquet``) in a seeded order,
    written as ``n_files`` parquet files. Returns the document count."""
    base = pq.read_table(os.path.join(root, "perfbench", "data",
                                      f"documents_{CORPUS_SF}.parquet"))
    aug = pq.read_table(os.path.join(root, "fixtures", CORPUS_SF,
                                     "documents_aug.parquet"))
    tbl = pa.concat_tables([base, aug.cast(base.schema)])
    tbl = tbl.replace_schema_metadata(None)
    rng = random.Random(f"perfbench|corpus|{seed}")
    perm = list(range(tbl.num_rows))
    rng.shuffle(perm)
    tbl = tbl.take(pa.array(perm))
    _write_split(tbl, out_dir, n_files)
    return tbl.num_rows
