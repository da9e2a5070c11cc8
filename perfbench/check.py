"""Spark-free references for the per-run correctness check.

Extraction rows are compared with ``pdfspark.oracle.oracle_extract``
(the reference transliteration, independent of the fold), with the
header/footer text from ``pdfspark.synth._hf_local``. PDF decodes are
also compared with the geometry digests in
``fixtures/sf0.1/payloads_pdf_expected.parquet``. Curation survivors
are compared with the DuckDB twin ``oracle_pipeline.curation_sql``.

A document the reference quarantines counts as correct whether its
committed row is absent or present with status ``quarantined``.
"""

from __future__ import annotations

import os
import types

MISSING = "missing"
DUPLICATE = "duplicate"
DIFFERS = "differs"


def hf_reference(geom_spans: list[dict]) -> tuple[str, str]:
    """Header/footer text of one document from its geometry rows, in
    offset order. Rows without coordinates never take part (the Spark
    operator's margin tests are NULL for them), and NULL text counts
    as ''."""
    spans = []
    for s in geom_spans:
        if s["kind"] == "PageStart" and s.get("y1") is None:
            continue
        if s["kind"] == "TextBox" and s.get("y0") is None:
            continue
        spans.append(dict(s, text=s.get("text") or ""))
    from pdfspark.synth import _hf_local

    return _hf_local(types.SimpleNamespace(spans=spans))


def extraction_reference(spans: list[dict], header: str,
                         footer: str) -> dict:
    """(status, spans, sections) the reference gives for one doc."""
    from pdfspark.config import ExtractConfig
    from pdfspark.oracle import oracle_extract

    res = oracle_extract(
        [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
              offset=s["offset"]) for s in spans],
        header, footer, ExtractConfig())
    return dict(status=res["status"], spans=res["out_spans"],
                sections=res["sections"])


QUARANTINED = dict(status="quarantined", spans=[], sections=[])


def _norm_spans(spans) -> list[dict]:
    return [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                 offset=s["offset"]) for s in (spans or [])]


def _norm_sections(secs) -> list[dict]:
    return [dict(heading=s["heading"],
                 paragraphs=list(s["paragraphs"] or []),
                 figures=list(s["figures"] or []),
                 tables=list(s["tables"] or [])) for s in (secs or [])]


def compare_rows(expected: dict[str, dict], rows: list[dict]) -> dict:
    """Compare committed rows with the reference per input doc_id.
    ``rows`` hold doc_id, status, spans and, where the mode commits
    them, sections. Returns {doc_id: reason} for every input doc whose
    committed row is missing, duplicated or differs; committed doc_ids
    that are no input doc are reported as 'unexpected'."""
    by_id: dict[str, list[dict]] = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r)
    bad: dict[str, str] = {}
    for doc_id, exp in expected.items():
        got = by_id.get(doc_id, [])
        if exp["status"] == "quarantined":
            if any(g["status"] != "quarantined" for g in got):
                bad[doc_id] = DIFFERS
            elif len(got) > 1:
                bad[doc_id] = DUPLICATE
            continue
        if not got:
            bad[doc_id] = MISSING
        elif len(got) > 1:
            bad[doc_id] = DUPLICATE
        else:
            g = got[0]
            same = (g["status"] == exp["status"]
                    and _norm_spans(g["spans"]) == _norm_spans(exp["spans"]))
            if same and "sections" in g:
                same = (_norm_sections(g["sections"])
                        == _norm_sections(exp["sections"]))
            if not same:
                bad[doc_id] = DIFFERS
    for doc_id in by_id:
        if doc_id not in expected:
            bad[doc_id] = "unexpected"
    return bad


def pdf_digest_mismatches(root: str,
                          decoded: dict[str, dict | None]) -> list[str]:
    """Fixture PDFs whose Spark-free decode disagrees with the recorded
    status / span count / geometry digest. ``decoded`` maps fixture
    path -> decode result (None = quarantined)."""
    import pyarrow.parquet as pq

    from pdfspark.sources.binary_decode import geom_digest

    fx = os.path.join(root, "fixtures", "sf0.1")
    want = {r["doc_id"]: r for r in pq.read_table(
        os.path.join(fx, "payloads_pdf_expected.parquet")).to_pylist()}
    bad = []
    for path, dec in decoded.items():
        if not path.endswith(".pdf"):
            continue
        stem = os.path.splitext(os.path.basename(path))[0]
        exp = want.get(dec["doc_id"] if dec else stem)
        if exp is None:
            bad.append(stem)
        elif dec is None:
            if exp["status"] != "decode_error":
                bad.append(stem)
        elif (exp["status"] != "ok" or exp["n_spans"] != len(dec["spans"])
              or exp["geom_digest"] != geom_digest(dec["spans"])):
            bad.append(stem)
    return sorted(bad)


def curation_reference(root: str, corpus_dir: str, work: str,
                       sf: str) -> set:
    """Survivor doc_ids of the DuckDB twin over the corpus files. The
    twin unions ``documents`` with ``<fix>/documents_aug.parquet``; the
    corpus files already hold the augmented rows, so ``fix`` points at
    an empty table of the same schema."""
    import duckdb
    import pyarrow.parquet as pq

    from pdfspark.oracle_pipeline import curation_sql

    fix = os.path.join(work, "curation_fix")
    os.makedirs(fix, exist_ok=True)
    aug = os.path.join(fix, "documents_aug.parquet")
    if not os.path.exists(aug):
        schema = pq.read_schema(os.path.join(
            root, "fixtures", sf, "documents_aug.parquet"))
        pq.write_table(schema.empty_table(), aug)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{corpus_dir}/*.parquet')")
        rows = con.execute(
            f"SELECT doc_id FROM ({curation_sql(fix)})").fetchall()
    finally:
        con.close()
    return {r[0] for r in rows}
