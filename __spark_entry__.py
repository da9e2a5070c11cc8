"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on the sf0.001
testdata + layout fixtures. ``queries()`` exposes one entry per
implemented operator from SURVEY.md §2 (see §2.10 for the full
coverage map): the extraction core (ep1_*/ep3_*/w*/a*/f*/x*/j*
families), sources (s6/s7), streaming (s8_*, incl. a stateful
applyInPandasWithState sessionizer), and the training-data pipeline
extensions (dd_* dedup, sim_* ANN, ts_* text analysis, m1_media).
``oracle_sql()`` provides a DuckDB twin for EVERY queries() entry
(fixture parquet referenced by absolute path; the driver's
pre-registered views cover the testdata tables). The exact-parity
queries are additionally pytest-gated against the pure-Python
reference transliteration; their driver oracles read the
transliteration's output materialized to parquet at fixture-gen time
(synth.write_oracle_outputs, a Spark-free code path).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdfspark.schema import DOCUMENTS_IN, SPANS_GEOM
from pdfspark.synth import ensure_fixtures

# fixture parquet paths for the DuckDB oracle (driver runs at sf0.01)
FIX01 = os.path.join(REPO, "fixtures", "sf0.01")
GEOM01 = f"read_parquet('{FIX01}/spans_geom.parquet')"
DOCS01 = f"read_parquet('{FIX01}/documents_in.parquet')"


def _fixture_dir(sf_dir: str) -> str:
    name = os.path.basename(os.path.normpath(sf_dir))
    if not name.startswith("sf"):
        # loud failure: silently defaulting to sf0.01 fixtures here
        # would join tables from TWO different corpora (documents from
        # sf_dir, aug/geom fixtures from sf0.01) — wrong bench numbers
        # and parity MISMATCHes that masquerade as engine bugs
        raise ValueError(
            f"sf_dir basename must start with 'sf' (got {sf_dir!r}); "
            "fixtures are generated per scale factor"
        )
    return ensure_fixtures(name)


# declared schemas (the files' own): inference is a Spark job per read
def _geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(SPANS_GEOM).parquet(
        os.path.join(_fixture_dir(sf_dir), "spans_geom.parquet")
    )


def _docs_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS_IN).parquet(
        os.path.join(_fixture_dir(sf_dir), "documents_in.parquet")
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: span-ize the sf0.001 documents table, union with the
    layout fixtures, run boilerplate-strip -> classify -> section
    fill-down -> section assembly; returns the sections table."""
    from pdfspark.operators.classify import (
        classify_spans,
        explode_documents,
        sections_assembled,
        strip_boilerplate,
        with_current_section,
    )
    from pdfspark.sources.spanize import spanize_documents

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    spanized = spanize_documents(docs)
    fixture_docs = _docs_in(spark, sf_dir)
    all_docs = spanized.unionByName(fixture_docs)

    spans = explode_documents(all_docs)
    spans = strip_boilerplate(spans, _geom(spark, sf_dir))
    classified = with_current_section(classify_spans(spans))
    return sections_assembled(classified).select(
        "doc_id",
        "heading",
        "first_offset",
        F.array_join("paragraphs", " | ").alias("paragraphs"),
        F.array_join("figures", " | ").alias("figures"),
        F.array_join("tables", " | ").alias("tables"),
        "section_text",
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_reading_order(spark, sf_dir):
    """W1 dual-variant row: 'ref' is the reference's flat (-y1, x1)
    page sort (parse_util.py:454, parity-pinned); 'xycut' is the
    recursive widest-gap XY-cut segmentation order the north-star
    names — on the multi-column fixture family the two genuinely
    disagree (ref interleaves aligned column lines; xycut reads the
    left column through first), pinned in tests/test_reading_order."""
    from pdfspark.operators.reading_order import (
        with_reading_order,
        with_xy_cut_order,
    )

    geom = _geom(spark, sf_dir)
    ref = with_reading_order(geom).select(
        F.lit("ref").alias("variant"),
        "doc_id", "page_id", "offset", "rord")
    xy = with_xy_cut_order(geom).select(
        F.lit("xycut").alias("variant"),
        "doc_id", "page_id", "offset", "rord")
    return ref.unionByName(xy)


def _q_header_footer(spark, sf_dir):
    from pdfspark.operators.boilerplate import all_doc_headers_footers

    return all_doc_headers_footers(_geom(spark, sf_dir))


def _q_margins(spark, sf_dir):
    """F10 + F12 in one probe, tagged by `variant`: absolute-position
    margin candidates ('abs') and the normalized-position variant
    ('norm') with the reference bug reproduced (footer test
    `y1/h < 0.9` marks ~everything)."""
    from pdfspark.operators.boilerplate import (
        margin_candidates,
        margin_candidates_normalized,
    )

    g = _geom(spark, sf_dir)
    cols = ["doc_id", "offset", "txt", "is_header", "is_footer"]
    a = margin_candidates(g).select(F.lit("abs").alias("variant"), *cols)
    n = margin_candidates_normalized(g).select(
        F.lit("norm").alias("variant"), *cols
    )
    return a.unionByName(n)


def _q_table_stats(spark, sf_dir):
    """A5: per-table row/column diagnostics (ref
    generate_json_table_output, src/pdf_test_parse.py:692-729)."""
    t = _tables_sql(spark, sf_dir)
    return t.groupBy("doc_id", "page_id", "table_id").agg(
        F.max("row_id").cast("int").alias("n_rows"),
        F.max(F.size("cells")).cast("int").alias("n_cols"),
    ).withColumn("table_id", F.col("table_id").cast("int"))


def _q_page_scans(spark, sf_dir):
    """S3 + S4 in one probe: single-page scan (ref
    extract_textboxes_by_pageid, parse_util.py:444-455) and page-window
    scan (ref extract_textboxes hardcoded 8-14, pdf_test_parse.py:473-
    487; fixture pages are 1-4, window 2-3), tagged by a `probe`
    column. Both are pushed-down page_id predicates on the same scan —
    merged so the driver's 50-row correctness budget covers every
    registry entry."""
    g = _geom(spark, sf_dir)
    cols = ["doc_id", "page_id", "offset"]
    one = g.filter((F.col("page_id") == 2) & (F.col("kind") == "TextBox")) \
        .select(F.lit("page").alias("probe"), *cols,
                F.trim("text").alias("content"))
    win = g.filter(
        F.col("page_id").between(2, 3) & (F.col("kind") == "TextBox")
    ).select(F.lit("window").alias("probe"), *cols,
             F.trim("text").alias("content"))
    return one.unionByName(win)


def _q_embeddings_upsert(spark, sf_dir):
    """S13: embeddings upsert sink semantics (ref _upsert_to_pinecone_
    index, pinecone_vector_db.py:74-120,269-296): updates replace
    current rows by vec_id (delete+insert = left-anti + union), the
    Iceberg MERGE-by-key analogue."""
    from pdfspark.operators.retrieval import upsert_embeddings

    cur = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    upd = spark.read.parquet(
        os.path.join(_fixture_dir(sf_dir), "embeddings_aug.parquet")
    ).withColumn(
        # aug ids are base+1M with base a multiple of 25: ids at %50==0
        # map back onto existing rows (replace branch), the rest keep
        # their +1M offset (insert branch) — the previous blanket -1M
        # made EVERY update collide, so the union's insert-new-key path
        # was never driver-exercised
        "vec_id",
        F.when(F.col("vec_id") % 50 == 0,
               F.col("vec_id") - 1_000_000).otherwise(F.col("vec_id")),
    )
    merged = upsert_embeddings(cur.select("vec_id", "embedding"),
                               upd.select("vec_id", "embedding"))
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0), lambda s, v: s + v,
            )
        ), 4,
    )
    return merged.select("vec_id", F.size("embedding").alias("n_dims"),
                         norm.alias("norm"))


def _tables_sql(spark, sf_dir):
    from pdfspark.operators.tables import extract_tables_sql

    return extract_tables_sql(_geom(spark, sf_dir))


def _q_tables_sql(spark, sf_dir):
    t = _tables_sql(spark, sf_dir)
    return t.select(
        "doc_id",
        "page_id",
        F.col("table_id").cast("int").alias("table_id"),
        "title",
        F.col("row_id").cast("int").alias("row_id"),
        F.array_join("cells", "|").alias("cells"),
    )


def _q_tables_doc_scope(spark, sf_dir):
    """EP3 doc-scope variant (ref textboxes_to_tabular_json fed the
    whole doc stream): continued titles do NOT open a table; their
    rows continue the current one across pages."""
    from pdfspark.operators.tables import extract_tables_sql

    t = extract_tables_sql(_geom(spark, sf_dir), scope="doc")
    return t.select(
        "doc_id",
        "page_id",
        F.col("table_id").cast("int").alias("table_id"),
        "title",
        F.col("row_id").cast("int").alias("row_id"),
        F.array_join("cells", "|").alias("cells"),
    )


def _q_tables_merged(spark, sf_dir):
    from pdfspark.operators.tables import merge_continued_tables

    m = merge_continued_tables(_tables_sql(spark, sf_dir))
    return m.select(
        "doc_id",
        F.col("table_id").cast("int").alias("table_id"),
        "title",
        F.col("row_id").cast("int").alias("row_id"),
        F.array_join("cells", "|").alias("cells"),
    )


def _q_tables_exact(spark, sf_dir):
    """Exact-parity fold (many pages per Arrow batch). Fully
    hash-compared by the driver: oracle_sql() serves the materialized
    pure-Python fold output (the oracle_tables_exact.parquet sidecar
    synth writes at fixture-gen time), so schema/column changes here
    must be mirrored in that sidecar."""
    from pdfspark.operators.tables import extract_tables_exact

    t = extract_tables_exact(_geom(spark, sf_dir))
    return t.select(
        "doc_id", "page_id", "table_id", "title", "row_id",
        F.array_join("cells", "|").alias("cells"),
    )


def _q_table_titles(spark, sf_dir):
    """J2: title<->table parent-id join with consume-once semantics
    (ref parse_util.py:188-205) over the Unstructured-shaped elements
    fixture."""
    from pdfspark.operators.table_titles import match_table_titles

    el = spark.read.parquet(
        os.path.join(_fixture_dir(sf_dir), "elements.parquet")
    )
    return match_table_titles(el)


def _q_toc_skeleton(spark, sf_dir):
    from pdfspark.operators.classify import explode_documents, toc_skeleton

    return toc_skeleton(explode_documents(_docs_in(spark, sf_dir)))


def _classified(spark, sf_dir):
    from pdfspark.operators.classify import (
        classify_spans,
        explode_documents,
        strip_boilerplate,
        with_current_section,
    )

    spans = explode_documents(_docs_in(spark, sf_dir))
    spans = strip_boilerplate(spans, _geom(spark, sf_dir))
    return with_current_section(classify_spans(spans))


def _q_classify_flags(spark, sf_dir):
    """X1-X17 classification flags + W3 section carry-forward in one
    row set: `current_section` is the last-heading fill-down the W3
    operator computes over the same classified frame."""
    c = _classified(spark, sf_dir)
    return c.filter(F.col("kind") == "TextBox").select(
        "doc_id",
        "offset",
        "first_line",
        "line_count",
        "is_section",
        "is_named",
        "is_appendix",
        "is_figure",
        "is_table_title",
        "is_heading",
        "current_section",
    )


def _q_heading_lookup(spark, sf_dir):
    """J1 relational: whole-word heading -> TOC-skeleton lookup as a
    broadcast theta join (first-match-wins); literal-safe candidates
    only, unsafe ones surface with NULL = the reference's swallowed
    re.error no-match."""
    from pdfspark.operators.classify import explode_documents, headings_to_toc, toc_skeleton

    c = _classified(spark, sf_dir)
    toc = toc_skeleton(explode_documents(_docs_in(spark, sf_dir)))
    return headings_to_toc(c, toc).select(
        "doc_id", "offset", "lookup", "heading",
        F.col("line_no").cast("int").alias("line_no"),
    )


def _q_sections(spark, sf_dir):
    from pdfspark.operators.classify import sections_assembled

    s = sections_assembled(_classified(spark, sf_dir))
    return s.select(
        "doc_id",
        "heading",
        "first_offset",
        F.array_join("paragraphs", "|").alias("paragraphs"),
        F.array_join("figures", "|").alias("figures"),
        F.array_join("tables", "|").alias("tables"),
        "section_text",
    )


def _q_extract_spans(spark, sf_dir):
    """North-rule flagship: exact extraction fold (mapInPandas), one
    row per output span, behind the adaptive skew route: a
    max-span-count probe engages the exploded-rows skew splitter only
    when a doc crosses the straggler threshold. Local sf0.1 A/B is a
    wash (interleaved mins 3.4 vs 3.4 s) — the win here is the scale
    shape: the unskewed route scans the doc table once instead of
    three filtered times, and on Iceberg the probe is
    manifest-statistics-only while the deleted branches are real
    scans of a 100 TB table. Chunking a merely-large doc (20k spans
    folds in ~0.2 s in one task) measured as a net loss, hence the
    straggler-only config.SKEW_SPAN_THRESHOLD default. The skew path
    itself (extract_spans_split_rows) is pinned equal to this route by
    the forced-threshold tests; its array-collecting sibling
    extract_spans_split is what the bench scaling job drives. The
    DuckDB oracle replicates the quirk-mode semantics relationally
    (labels are state-free, see pdfspark/fold.py). The fold's
    dict-membership header/footer strip reads no per-doc strings, so
    no geometry goes in."""
    from pdfspark.operators.extract import extract_spans_auto

    return extract_spans_auto(_docs_in(spark, sf_dir))


def _q_extract_spans_sql(spark, sf_dir):
    """Flagship fast path: the same span extraction as ep1_extract_spans
    (the fold's one semantics, the reference's quirks) as pure SQL — no
    Python worker at all."""
    from pdfspark.operators.extract import extract_spans_relational

    return extract_spans_relational(_docs_in(spark, sf_dir))


def _q_extract_sections(spark, sf_dir):
    """Sections side output of the exact fold: the plain salted fold,
    one task per document (extract.extract_sections), with no skew
    probe. Oracle = materialized output of the independent reference
    transliteration; parity is additionally pytest-gated
    (tests/test_extract_parity). As in ep1_extract_spans, the fold
    reads no geometry."""
    from pdfspark.operators.extract import extract_sections

    out = extract_sections(_docs_in(spark, sf_dir))
    return out.select(
        "doc_id", "status", F.posexplode("sections").alias("section_id", "sec")
    ).select(
        "doc_id",
        "section_id",
        F.col("sec.heading").alias("heading"),
        F.array_join("sec.paragraphs", "|").alias("paragraphs"),
        F.array_join("sec.figures", "|").alias("figures"),
    )


def _q_lineage(spark, sf_dir):
    """Per-doc lineage rows (doc_id, status, spans_in, spans_out,
    bytes_in) — the deterministic foundation the per-partition metrics
    table (the fold's lineage accumulator, extract.lineage_frame,
    committed by jobs/extract_job) rolls up from. Fully SQL-oracled:
    spans_in/bytes_in from the input span arrays, spans_out from the
    extract-spans oracle. Like ep1_extract_spans, it folds the
    documents alone, after the driver routes' salted repartition."""
    from pdfspark.operators.extract import _fold_salted

    # spans_only: this query reads five scalar columns — no reason to
    # run the sections state machine or ship its arrays through Arrow
    out = _fold_salted(_docs_in(spark, sf_dir), spans_only=True,
                       num_partitions=spark.sparkContext.defaultParallelism)
    return out.select(
        "doc_id",
        "status",
        F.col("spans_in").cast("int").alias("spans_in"),
        F.col("spans_out").cast("int").alias("spans_out"),
        F.col("bytes_in").cast("long").alias("bytes_in"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (dedup / similarity / textstats / media)
# ---------------------------------------------------------------------------

def _docs_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    aug = spark.read.parquet(
        os.path.join(_fixture_dir(sf_dir), "documents_aug.parquet")
    )
    return td.select("doc_id", "text").unionByName(aug.select("doc_id", "text"))


def _emb_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    aug = spark.read.parquet(
        os.path.join(_fixture_dir(sf_dir), "embeddings_aug.parquet")
    )
    return td.select("vec_id", "embedding").unionByName(
        aug.select("vec_id", "embedding")
    )


def _ann_queries(emb: DataFrame) -> DataFrame:
    return emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1000000))


def _q_exact_dups(spark, sf_dir):
    from pdfspark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs_all(spark, sf_dir))


def _q_minhash_pairs(spark, sf_dir):
    from pdfspark.operators.dedup import minhash_candidates

    return minhash_candidates(_docs_all(spark, sf_dir))


def _q_minhash_verified(spark, sf_dir):
    from pdfspark.operators.dedup import minhash_verified

    return minhash_verified(_docs_all(spark, sf_dir))


def _q_simhash_pairs(spark, sf_dir):
    """Dual-config Hamming blocking: the fixture-regime 32-bit 4x8
    banding (full recall on the planted ~9%-bit-distance corpus)
    UNION the production tight contract (64-bit, 4x16 bands,
    hamming <= 3 — pigeonhole-exact, O(N) candidates at scale)."""
    from pdfspark.operators.dedup import (
        simhash_candidates,
        simhash_candidates_tight,
    )

    from pdfspark.operators.dedup import simhash_signatures

    docs = _docs_all(spark, sf_dir)
    # ONE bigram explode + ONE 64-column groupBy feeds BOTH configs:
    # bits 0..31 of the 64-bit signature use the identical digit
    # source as the 32-bit signature, so the fixture variant's sigs
    # are literally the 64-bit prefix (pinned by
    # test_simhash32_is_prefix_of_simhash64) — the dual-config query
    # costs one signature pass, not two
    sigs64 = simhash_signatures(docs, bits=64).localCheckpoint(eager=False)
    sigs32 = sigs64.select(
        "doc_id", F.substring("simhash", 1, 32).alias("simhash"))
    cols = ["variant", "doc_a", "doc_b", "sh_a", "sh_b", "hamming"]
    fx = simhash_candidates(docs, precomputed_sigs=sigs32).withColumn(
        "variant", F.lit("b32x8"))
    tt = simhash_candidates_tight(docs, precomputed_sigs=sigs64).withColumn(
        "variant", F.lit("b64x16h3"))
    return fx.select(*cols).unionByName(tt.select(*cols))


def _q_langid(spark, sf_dir):
    from pdfspark.operators.textstats import language_id

    return language_id(_docs_all(spark, sf_dir))


def _q_text_profile(spark, sf_dir):
    # quality + token + winnowing fingerprints merged into ONE
    # zero-shuffle pass and one driver row (round 5; the r4
    # quality+token merge set the precedent) — freeing a correctness
    # slot for the HTML main-content op while all three feature
    # families stay hash-checked
    from pdfspark.operators.textstats import text_profile

    return text_profile(_docs_all(spark, sf_dir))


def _q_components(spark, sf_dir):
    from pdfspark.operators.dedup import neardup_components

    return neardup_components(_docs_all(spark, sf_dir))


def _q_curation(spark, sf_dir):
    from pdfspark.operators.textstats import curate_documents

    return curate_documents(_docs_all(spark, sf_dir))


def _q_html_main(spark, sf_dir):
    """HTML main-content extraction (north rule: boilerplate strip +
    DOM heuristics): Kohlschuetter WSDM-2010 shallow-text stumps +
    semantic-container veto over stdlib-parsed text blocks, one
    zero-shuffle mapInPandas (operators/html_main.py). Oracle = the
    Spark-free kernel sidecar (synth.write_html_pages), the
    xycut/payload-decode oracle pattern."""
    from pdfspark.operators.html_main import main_content_blocks

    pages = spark.read.parquet(
        os.path.join(_fixture_dir(sf_dir), "html_pages.parquet")
    )
    return main_content_blocks(pages)


def _q_ann_topk(spark, sf_dir):
    from pdfspark.operators.similarity import cosine_topk

    emb = _emb_all(spark, sf_dir)
    return cosine_topk(emb, _ann_queries(emb))


def _q_euclidean_topk(spark, sf_dir):
    from pdfspark.operators.similarity import euclidean_topk

    emb = _emb_all(spark, sf_dir)
    return euclidean_topk(emb, _ann_queries(emb))


def _q_ivf_topk(spark, sf_dir):
    from pdfspark.operators.similarity import ivf_topk_cosine

    emb = _emb_all(spark, sf_dir)
    return ivf_topk_cosine(emb, _ann_queries(emb))


def _q_ivf_euclidean(spark, sf_dir):
    from pdfspark.operators.similarity import ivf_topk_euclidean

    emb = _emb_all(spark, sf_dir)
    return ivf_topk_euclidean(emb, _ann_queries(emb))


def _q_neardup_lsh(spark, sf_dir):
    from pdfspark.operators.similarity import neardup_lsh

    return neardup_lsh(_emb_all(spark, sf_dir))


def _q_max_score(spark, sf_dir):
    from pdfspark.operators.retrieval import max_score_per_query
    from pdfspark.operators.similarity import cosine_topk

    emb = _emb_all(spark, sf_dir)
    return max_score_per_query(cosine_topk(emb, _ann_queries(emb)))


def _q_keyword_hits(spark, sf_dir):
    from pdfspark.operators.retrieval import keyword_hits

    kw = spark.read.parquet(
        os.path.join(_fixture_dir(sf_dir), "keywords.parquet")
    )
    return keyword_hits(_docs_all(spark, sf_dir), kw)


def _q_fill_down(spark, sf_dir):
    from pdfspark.operators.retrieval import fill_down_events

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return fill_down_events(ev)


def _q_tabular_pairs(spark, sf_dir):
    from pdfspark.operators.retrieval import tabular_pairs

    return tabular_pairs(_geom(spark, sf_dir))


def _q_sessionize(spark, sf_dir):
    from pdfspark.operators.retrieval import sessionize_events

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sessionize_events(ev)


def _q_stream_windowed(spark, sf_dir):
    from pdfspark.streaming.windowed import windowed_counts_stream

    return windowed_counts_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def _q_media_features(spark, sf_dir):
    """M1 + M3 in one row set: the Arrow-batched decode/featurize
    kernel joined 1:1 (on media_ref) with the resize-plan kernel, so
    BOTH mapInPandas paths are driver-exercised; out_w/out_h are M3's
    integer-exact aspect-preserving targets."""
    from pdfspark.operators.media import media_features, media_table, resize_plan

    m = media_table(_docs_all(spark, sf_dir))
    feats = media_features(m)
    rz = resize_plan(m).select("media_ref", "out_w", "out_h")
    return feats.join(rz, "media_ref")


def _q_frame_sample(spark, sf_dir):
    """M2: video frame sampling — one output row per sampled frame
    (1->N mapInPandas shape), demux stubbed deterministically."""
    from pdfspark.operators.media import media_table_video, sample_frames

    return sample_frames(media_table_video(_docs_all(spark, sf_dir)))


def _q_audio_chunks(spark, sf_dir):
    """M4: fixed-window audio chunking plan over fake-decoded sample
    counts."""
    from pdfspark.operators.media import audio_chunk_plan, media_table

    m = media_table(_docs_all(spark, sf_dir)).withColumn(
        "media_ref",
        F.concat(F.lit("aud://"), F.regexp_replace("media_ref", "^img://", "")),
    )
    return audio_chunk_plan(m)


def _q_text_cleanup(spark, sf_dir):
    """X11/F5-F8 scalar cleanup vocabulary (parse_util.py:117-168) as
    parallel columns, plus the F3 page-number predicate
    (parse_util.py:407-415) as `is_page_number` — the page-number
    strip is exactly `filter(~is_page_number)` over this frame."""
    from pdfspark.functions import patterns as P
    from pdfspark.functions.text import (
        replace_extra_space,
        strip_non_alphanumeric,
        strip_non_alphanumeric_end,
    )

    g = _geom(spark, sf_dir).filter(F.col("kind") == "TextBox")
    t = F.col("text")
    stripped = F.regexp_replace(
        F.regexp_replace(t, "€", " "), "\n", " "
    )

    # pytrim (Python str.strip()); the F5-F8 columns use the (?U)
    # text.py vocabulary — this row certifies the PRODUCTION forms,
    # not ASCII lookalikes (reference runs Python re: \W/\s Unicode)
    def pytrim(c):
        return F.regexp_replace(c, r"(?U)^\s+|\s+$", "")

    return g.select(
        "doc_id",
        "offset",
        strip_non_alphanumeric(t).alias("alnum_only"),
        strip_non_alphanumeric_end(t).alias("no_trailing_punct"),
        replace_extra_space(t).alias("collapsed"),
        pytrim(replace_extra_space(stripped)).alias("stripped"),
        pytrim(t).rlike(P.JAVA_PAGE_NUMBER_MATCH).alias("is_page_number"),
    )


def _q_lines_source(spark, sf_dir):
    """S6: lines-file source (ref file_util.py:20-44) — read, trim,
    drop empties (order-insensitive compare)."""
    p = os.path.join(_fixture_dir(sf_dir), "lines.txt")
    df = spark.read.text(p)
    return (
        df.select(F.trim("value").alias("line"))
        .filter(F.col("line") != "")
    )


def _q_json_source(spark, sf_dir):
    """S7: JSON source (ref file_util.py:177-194) with explicit schema."""
    p = os.path.join(_fixture_dir(sf_dir), "meta.jsonl")
    df = spark.read.schema("id long, name string, note string").json(p)
    return df.select("id", "name", "note")


def _q_collated_tables(spark, sf_dir):
    """S15 + A9: directory collation source — natural-sort filenames
    (alphanum_key, ref file_util.py:160-170), then fold fragments into
    tables by label fill-down (ref pdf_test_parse.py:238-303). One
    collation run = one batch directory (hive-style `batch=` partition
    column), and the fill-down window is PARTITIONED by batch: the
    scale path shuffles each batch to one task instead of moving the
    whole input through a single global window (fixture batch b2
    starts unlabeled, so a global window would leak b1's label into it
    and fail the oracle)."""
    from pyspark.sql import Window

    coll = os.path.join(_fixture_dir(sf_dir), "collate")
    df = (
        spark.read.schema("seq int, title string, cells string").json(coll)
        .withColumn("fname", F.input_file_name())
        .withColumn("batch", F.regexp_extract("fname", r"batch=([^/]+)/", 1))
        .withColumn(
            "natkey",
            F.regexp_extract("fname", r"table_(\d+)\.json", 1).cast("int"),
        )
    )
    label_re = r"^\bTable\s\d+\b"
    lbl = F.when(
        F.col("title").rlike(label_re),
        F.regexp_extract("title", label_re, 0),
    )
    w = Window.partitionBy("batch").orderBy("natkey", "seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    df = df.withColumn("label", F.last(lbl, ignorenulls=True).over(w))
    return df.groupBy("batch", "label").agg(
        F.count("*").cast("int").alias("n_rows"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("natkey", "seq", "cells"))),
                lambda s: s["cells"],
            ),
            ",",
        ).alias("cells_seq"),
    )


def _q_html_tables(spark, sf_dir):
    """X19: HTML table -> rows (ref parse_util.py:58-115), mapInPandas
    over stdlib html.parser."""
    from pdfspark.operators.html_tables import html_tables

    snip = spark.read.parquet(
        os.path.join(_fixture_dir(sf_dir), "html_snippets.parquet")
    )
    return html_tables(snip)


def _q_binary_decode(spark, sf_dir):
    """S1: binaryFile scan -> Arrow-batched decode -> documents rows
    with quarantine (corrupt payloads become status='decode_error'
    rows, never task failures). Reads BOTH payload fixture dirs: the
    JSON stand-ins and the real tiny `%PDF` byte streams decoded by
    the stdlib mini-decoder (oracle side: a Spark-free materialized
    sidecar, pdfspark/synth.py write_pdf_payloads)."""
    from pdfspark.sources.binary_decode import decode_payloads, read_payloads

    fix = _fixture_dir(sf_dir)
    bins = read_payloads(spark, os.path.join(fix, "payloads"))
    pdfs = read_payloads(spark, os.path.join(fix, "payloads_pdf"))
    d = decode_payloads(bins.unionByName(pdfs))
    return d.select(
        "doc_id", "status",
        F.size("spans").cast("int").alias("n_spans"),
        F.col("bytes_len").cast("long").alias("bytes_len"),
        # md5 over every span's page_id + x0..y1 (offset order) — the
        # y-ordinate hash check for the codec's geometry slice; ''
        # for geometry-free payloads (JSON stand-ins, quarantine)
        F.col("geom_digest"),
    )


def _q_stream_extract(spark, sf_dir):
    """Streaming extraction ingest: binaryFile stream -> decode ->
    fold -> snapshot sink with checkpoint (availableNow drain), read
    back through read_committed and exploded. Quarantined payloads surface as a single
    __quarantined__ row each."""
    import hashlib
    import shutil
    import tempfile

    from pdfspark.sinks.snapshot import read_committed
    from pdfspark.streaming.extract_stream import extract_payload_stream

    # per-(sf_dir, pid) scratch location, wiped at entry and removed
    # at interpreter exit: the wipe guarantees the checkpoint never
    # skips this run's files, the PID scope keeps two concurrent
    # drivers on one host (e.g. selfcheck and bench) from rmtree-ing
    # each other's live checkpoint mid-drain, and the atexit hook
    # keeps per-process dirs from accumulating in /tmp
    import atexit

    d = os.path.join(
        tempfile.gettempdir(),
        "pdfspark_stream_extract_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        + f"_{os.getpid()}",
    )
    shutil.rmtree(d, ignore_errors=True)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    out, cp = os.path.join(d, "out"), os.path.join(d, "cp")
    extract_payload_stream(
        spark, os.path.join(_fixture_dir(sf_dir), "payloads"), out, cp
    )
    df = read_committed(spark, out)
    ok = df.filter(F.col("status") == "ok").select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
    quar = df.filter(F.col("status") != "ok").select(
        "doc_id",
        F.lit(-1).cast("int").alias("offset"),
        F.lit("__quarantined__").alias("kind"),
        F.lit("").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )
    return ok.unionByName(quar)


def _q_stream_sessionize(spark, sf_dir):
    """§2.8 stateful streaming: applyInPandasWithState sessionization;
    on availableNow finite input equals the batch gaps-and-islands
    (same DuckDB oracle as a9_sessionize)."""
    from pdfspark.streaming.stateful import sessionize_stream

    return sessionize_stream(spark, os.path.join(sf_dir, "events.parquet"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dd_exact_dups": _q_exact_dups,
        "dd_minhash_pairs": _q_minhash_pairs,
        "dd_minhash_verified": _q_minhash_verified,
        "dd_simhash_pairs": _q_simhash_pairs,
        "dd_components": _q_components,
        "ts_langid": _q_langid,
        "ts_text_profile": _q_text_profile,
        "hm1_main_content": _q_html_main,
        "td_curation": _q_curation,
        "sim_ann_topk": _q_ann_topk,
        "sim_ivf_topk": _q_ivf_topk,
        "j5_topk_euclidean": _q_euclidean_topk,
        "sim_ivf_euclidean": _q_ivf_euclidean,
        "sim_neardup_lsh": _q_neardup_lsh,
        "a6_max_score": _q_max_score,
        "j6_keyword_hits": _q_keyword_hits,
        "s11_fill_down": _q_fill_down,
        "j7_tabular_pairs": _q_tabular_pairs,
        "a9_sessionize": _q_sessionize,
        "s8_stream_windowed": _q_stream_windowed,
        "m1_m3_media_features": _q_media_features,
        "m2_frame_sample": _q_frame_sample,
        "m4_audio_chunks": _q_audio_chunks,
        "x11_f3_cleanup": _q_text_cleanup,
        "s1_binary_decode": _q_binary_decode,
        "s34_page_scans": _q_page_scans,
        "s13_embeddings_upsert": _q_embeddings_upsert,
        "s6_lines_source": _q_lines_source,
        "s7_json_source": _q_json_source,
        "x19_html_tables": _q_html_tables,
        "s15_collated_tables": _q_collated_tables,
        "s8_stream_sessionize": _q_stream_sessionize,
        "s1_stream_extract": _q_stream_extract,
        "ep1_extract_spans": _q_extract_spans,
        "ep1_extract_spans_sql": _q_extract_spans_sql,
        "ep1_extract_sections": _q_extract_sections,
        "lineage_metrics": _q_lineage,
        "w1_reading_order": _q_reading_order,
        "a1_header_footer": _q_header_footer,
        "f10_f12_margins": _q_margins,
        "a5_table_stats": _q_table_stats,
        "ep3_tables_sql": _q_tables_sql,
        "ep3_tables_doc_scope": _q_tables_doc_scope,
        "j3_tables_merged": _q_tables_merged,
        "ep3_tables_exact": _q_tables_exact,
        "j2_table_titles": _q_table_titles,
        "j4_toc_skeleton": _q_toc_skeleton,
        "j1_heading_lookup": _q_heading_lookup,
        "x1_w3_classify_flags": _q_classify_flags,
        "a8_sections": _q_sections,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; fixture parquet by absolute path)
# ---------------------------------------------------------------------------

_PAGENO = r"(?i)^(?:Page|page|pg)\s(?:\d+|[ivx])+"
_TABLE_TITLE = r"(?i)^(Table\s+\d+[\s\S]*)"
_CONTINUED = r"(?i)(continued|cont\.{1}?)"
_SECTION_GROUPS = r"^((?:\d+\.{0,1})(?:\d+)*(?:\.\d+)*)(\s+[A-Za-z][\w\s\-\,]+)"
_SECTION_NOGRP = r"^(?:\d+\.{0,1})(?:\d+)*(?:\.\d+)*\s+[A-Za-z][\w\s\-\,]+"
_NAMED = r"(?i)^(executive\s+summary|foreword|introduction|summary|bibliography|references)\b"
_APPENDIX = r"(?i)^(Appendix|Annex)\s+[A-Z]\.*"
_FIGURE = r"(?i)^Figure\s\d+|Fig\.\s\d+"

_HF_CTE = f"""
sg AS (SELECT * FROM {GEOM01}),
withy AS (
  SELECT *, coalesce(
    max(CASE WHEN kind='PageStart' THEN y1 END)
      OVER (PARTITION BY doc_id, page_id), 792.0) AS page_y1
  FROM sg),
cand AS (
  SELECT doc_id, "offset" AS o,
         replace(coalesce(text, ''), chr(10), '') AS txt,
         ((page_y1 - y0) <= 50.0) AS is_header,
         (NOT ((page_y1 - y0) <= 50.0) AND y0 <= 20.0) AS is_footer
  FROM withy WHERE kind = 'TextBox'),
agg AS (
  SELECT doc_id,
    coalesce(list(txt ORDER BY o) FILTER (WHERE is_header), []) AS h,
    coalesce(list(txt ORDER BY o) FILTER (WHERE is_footer), []) AS f
  FROM cand WHERE is_header OR is_footer GROUP BY doc_id),
folded AS (
  SELECT doc_id,
    list_reduce(list_prepend('', h),
      (acc, x) -> CASE WHEN contains(acc, x) THEN acc ELSE acc || x || ' ' END) AS header,
    list_reduce(list_prepend('', f),
      (acc, x) -> CASE WHEN contains(acc, x) THEN acc ELSE acc || x || ' ' END) AS footer
  FROM agg),
hf AS (
  SELECT d.doc_id, coalesce(header, '') AS header, coalesce(footer, '') AS footer
  FROM (SELECT DISTINCT doc_id FROM sg) d LEFT JOIN folded USING (doc_id))
"""

_TABLES_CTE = f"""
{_HF_CTE},
tb AS (
  SELECT doc_id, page_id, text, x0, y1, "offset" AS o,
         row_number() OVER (PARTITION BY doc_id, page_id
                            ORDER BY y1 DESC, x1 ASC, "offset" ASC) AS rord
  FROM sg WHERE kind = 'TextBox'),
j AS (SELECT tb.*, hf.header, hf.footer FROM tb LEFT JOIN hf USING (doc_id)),
cl AS (SELECT *, trim(replace(text, chr(10), '')) AS clean FROM j),
flt AS (
  SELECT * FROM cl
  WHERE NOT contains(header, clean) AND NOT contains(footer, clean)
        AND NOT regexp_matches(clean, '{_PAGENO}')),
flags AS (
  SELECT *, regexp_matches(clean, '{_TABLE_TITLE}') AS is_title FROM flt),
run AS (
  SELECT *, sum(CASE WHEN is_title THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id, page_id ORDER BY rord
                    ROWS UNBOUNDED PRECEDING) AS table_id
  FROM flags),
filt2 AS (SELECT * FROM run WHERE table_id >= 1),
titles AS (
  SELECT doc_id, page_id, table_id,
         trim(regexp_extract(clean, '{_TABLE_TITLE}', 1)) AS title
  FROM filt2 WHERE is_title),
drows AS (
  SELECT *, CASE WHEN lag(y1) OVER w IS NULL
                      OR abs(y1 - lag(y1) OVER w) > 10.0
                 THEN 1 ELSE 0 END AS new_row
  FROM filt2 WHERE NOT is_title
  WINDOW w AS (PARTITION BY doc_id, page_id, table_id ORDER BY rord)),
rid AS (
  SELECT *, sum(new_row) OVER (PARTITION BY doc_id, page_id, table_id
                               ORDER BY rord ROWS UNBOUNDED PRECEDING) AS row_id0
  FROM drows),
cells AS (
  SELECT doc_id, page_id, table_id, row_id0,
         list(text ORDER BY x0, rord) AS cells
  FROM rid GROUP BY doc_id, page_id, table_id, row_id0),
tbls AS (
  SELECT r.doc_id, r.page_id, CAST(r.table_id AS INT) AS table_id, t.title,
         CAST(row_number() OVER (PARTITION BY r.doc_id, r.page_id, r.table_id
                                 ORDER BY r.row_id0) AS INT) AS row_id,
         r.cells
  FROM cells r JOIN titles t USING (doc_id, page_id, table_id))
"""

_TABLES_DOC_CTE = f"""
{_HF_CTE},
tbd AS (
  SELECT doc_id, page_id, text, x0, y1, "offset" AS o,
         row_number() OVER (PARTITION BY doc_id, page_id
                            ORDER BY y1 DESC, x1 ASC, "offset" ASC) AS rord
  FROM sg WHERE kind = 'TextBox'),
jd AS (SELECT tbd.*, hf.header, hf.footer FROM tbd LEFT JOIN hf USING (doc_id)),
cld AS (SELECT *, trim(replace(text, chr(10), '')) AS clean FROM jd),
fltd AS (
  SELECT * FROM cld
  WHERE NOT contains(header, clean) AND NOT contains(footer, clean)
        AND NOT regexp_matches(clean, '{_PAGENO}')),
flagsd AS (
  SELECT *, regexp_matches(clean, '{_TABLE_TITLE}') AS is_title,
         (regexp_matches(clean, '{_TABLE_TITLE}')
          AND NOT regexp_matches(clean, '{_CONTINUED}')) AS opens
  FROM fltd),
rund AS (
  SELECT *,
    sum(CASE WHEN opens THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY page_id, rord
            ROWS UNBOUNDED PRECEDING) AS table_id,
    sum(CASE WHEN is_title THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY page_id, rord
            ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagsd),
filt2d AS (SELECT * FROM rund WHERE table_id >= 1),
titlesd AS (
  SELECT doc_id, table_id,
         trim(regexp_extract(clean, '{_TABLE_TITLE}', 1)) AS title
  FROM filt2d WHERE opens),
drowsd AS (
  SELECT *, CASE WHEN lag(grp) OVER w IS NULL
                      OR lag(grp) OVER w <> grp
                      OR abs(y1 - lag(y1) OVER w) > 10.0
                      OR lag(page_id) OVER w <> page_id
                 THEN 1 ELSE 0 END AS new_row
  FROM filt2d WHERE NOT is_title
  WINDOW w AS (PARTITION BY doc_id ORDER BY page_id, rord)),
ridd AS (
  SELECT *, sum(new_row) OVER (PARTITION BY doc_id ORDER BY page_id, rord
                               ROWS UNBOUNDED PRECEDING) AS row_id0
  FROM drowsd),
cellsd AS (
  SELECT doc_id, table_id, grp, row_id0,
         min(page_id) AS row_page_id,
         list(text ORDER BY x0, rord) AS cells
  FROM ridd GROUP BY doc_id, table_id, grp, row_id0),
tblsd AS (
  SELECT r.doc_id, r.row_page_id AS page_id,
         CAST(r.table_id AS INT) AS table_id, t.title,
         CAST(row_number() OVER (PARTITION BY r.doc_id, r.table_id
                                 ORDER BY r.grp, r.row_id0) AS INT) AS row_id,
         r.cells
  FROM cellsd r JOIN titlesd t USING (doc_id, table_id))
"""

_CLASSIFY_CTE = f"""
{_HF_CTE},
spans AS (SELECT doc_id, kind, text, media_ref, "offset" AS o FROM sg),
strip0 AS (SELECT s.*, hf.header, hf.footer FROM spans s LEFT JOIN hf USING (doc_id)),
stripped AS (
  -- pytrim + NULL coercion: Python str.strip() semantics, matching
  -- the fold and the Spark side's (?U)-trim (plain trim() = spaces
  -- only; NULL text folds as '')
  SELECT * FROM strip0
  WHERE kind <> 'TextBox' OR (
    NOT ((length(header) > 0 AND contains(header, replace(regexp_replace(coalesce(text, ''), '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g'), chr(10), '')))
         OR (length(footer) > 0 AND contains(footer, replace(regexp_replace(coalesce(text, ''), '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g'), chr(10), ''))))
    AND NOT regexp_matches(regexp_replace(coalesce(text, ''), '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g'), '{_PAGENO}'))),
cls AS (
  SELECT doc_id, kind, text, media_ref, o,
         regexp_replace(coalesce(text, ''), '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g') AS content,
         regexp_replace(split_part(regexp_replace(coalesce(text, ''), '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g'), chr(10), 1), '\\s{{2,}}', ' ', 'g') AS first_line,
         CASE WHEN regexp_replace(coalesce(text, ''), '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g') = '' THEN 0
              ELSE len(string_split(regexp_replace(coalesce(text, ''), '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g'), chr(10))) END AS line_count
  FROM stripped),
flagged AS (
  SELECT *,
    (kind = 'TextBox' AND regexp_matches(first_line, '{_SECTION_GROUPS}')) AS is_section,
    CASE WHEN kind = 'TextBox' AND regexp_matches(first_line, '{_SECTION_GROUPS}')
         THEN trim(regexp_extract(first_line, '{_SECTION_GROUPS}', 1)) END AS section_num,
    CASE WHEN kind = 'TextBox' AND regexp_matches(first_line, '{_SECTION_GROUPS}')
         THEN trim(regexp_extract(first_line, '{_SECTION_GROUPS}', 2)) END AS section_title,
    (kind = 'TextBox' AND regexp_matches(first_line, '{_NAMED}')) AS is_named,
    (kind = 'TextBox' AND regexp_matches(first_line, '{_APPENDIX}')) AS is_appendix,
    (kind = 'TextBox' AND regexp_matches(first_line, '{_FIGURE}')) AS is_figure,
    (kind = 'TextBox' AND regexp_matches(content, '{_TABLE_TITLE}')) AS is_table_title
  FROM cls),
headed AS (
  -- branch PRIORITY (reference if/elif): heading wins over figure,
  -- no demotion — mirrors classify_spans
  SELECT *,
    (is_section OR is_named OR is_appendix) AS is_heading
  FROM flagged),
wtoc AS (
  -- TOC skeleton (j4 cleaning pipeline) for the conditional rewrite
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(text, '\\\\u20ac', ' ', 'g'),
             '\\\\n', ' ', 'g'), '€', ' ', 'g'),
             '\\s{{2,}}', ' ', 'g'),
             '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g') AS heading
  FROM sg WHERE kind = 'TOC'),
wmatch AS (
  -- numbered headings whose title whole-word-matches a TOC section
  -- (safe subset, same contract as the j1 lookup): ONLY these
  -- canonicalize to 'num title' — element_processors.py:116-131
  -- renames only after find_section_by_heading(group2) succeeds
  SELECT DISTINCT c.doc_id, c.o
  FROM (SELECT doc_id, o,
               regexp_replace(section_title, '[^\\p{{L}}\\p{{N}}]+$', '')
                 AS clean
        FROM headed WHERE is_section) c
  JOIN wtoc t
    ON c.doc_id = t.doc_id
   AND regexp_matches(t.heading, '(?i)\\b' || c.clean || '\\b')
  WHERE coalesce(regexp_matches(c.clean,
    '^[A-Za-z0-9_](?:[A-Za-z0-9_ ,;:''\\-]*[A-Za-z0-9_])?$'), false)),
cursec AS (
  SELECT h.*,
    last_value(CASE WHEN is_heading THEN
        CASE WHEN is_section AND m.o IS NOT NULL
             THEN concat_ws(' ', section_num, section_title)
             ELSE first_line END END IGNORE NULLS)
      OVER (PARTITION BY h.doc_id ORDER BY h.o ROWS UNBOUNDED PRECEDING) AS current_section
  FROM headed h LEFT JOIN wmatch m ON h.doc_id = m.doc_id AND h.o = m.o)
"""

_SECTIONS_SQL = f"""
WITH {_CLASSIFY_CTE},
roled AS (
  SELECT *,
    -- appendix elif branch appends content with NO line_count gate
    -- (element_processors.py:142-161) — mirrors sections_assembled
    CASE WHEN is_heading AND line_count > 1 THEN 'paragraph'
         WHEN is_appendix AND NOT is_section AND NOT is_named THEN 'paragraph'
         WHEN is_heading THEN 'heading_only'
         WHEN is_figure THEN 'figure'
         WHEN is_table_title THEN 'table'
         ELSE 'paragraph' END AS role
  FROM cursec
  WHERE kind = 'TextBox' AND current_section IS NOT NULL),
secagg AS (
  SELECT doc_id, current_section AS heading,
         CAST(min(o) AS INT) AS first_offset,
         coalesce(list(content ORDER BY o) FILTER (WHERE role = 'paragraph'), []) AS paragraphs,
         coalesce(list(content ORDER BY o) FILTER (WHERE role = 'figure'), []) AS figures,
         coalesce(list(content ORDER BY o) FILTER (WHERE role = 'table'), []) AS tables
  FROM roled GROUP BY doc_id, current_section)
SELECT doc_id, heading, first_offset,
       coalesce(array_to_string(paragraphs, '|'), '') AS paragraphs,
       coalesce(array_to_string(figures, '|'), '') AS figures,
       coalesce(array_to_string(tables, '|'), '') AS tables,
       heading || chr(10) || coalesce(array_to_string(paragraphs, ' '), '')
               || chr(10) || coalesce(array_to_string(figures, ' '), '') AS section_text
FROM secagg
"""


_EXTRACT_SPANS_SQL = f"""
WITH sg AS (SELECT * FROM {GEOM01}),
bad AS (SELECT DISTINCT doc_id FROM sg WHERE kind = 'DecodeError'),
tbx AS (
  -- pytrim: Python str.strip() semantics (all ASCII whitespace incl.
  -- \x0b), matching the engine's (?U)-trim; plain trim() = spaces only
  -- coalesce: the fold coerces NULL text to '' and still emits the
  -- span (same as the engine's SQL fast path)
  SELECT doc_id, kind, media_ref, "offset" AS o,
         regexp_replace(coalesce(text, ''),
                        '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g')
           AS content,
         regexp_replace(split_part(
             regexp_replace(coalesce(text, ''),
                            '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g'),
             chr(10), 1), '\\s{{2,}}', ' ', 'g')
           AS first_line
  FROM sg WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
surv AS (
  SELECT doc_id, o,
    CASE
      WHEN kind IN ('TextLine', 'Line', 'Rectangle') THEN kind
      WHEN kind IN ('Figure', 'Image') THEN 'media'
      -- matcher-always-fires quirk: ANY non-blank first line is a
      -- heading, so a TextBox can only ever be heading|paragraph —
      -- no appendix/figure_caption arm can fire (a section/appendix/
      -- figure match implies a non-blank line, already caught here)
      WHEN trim(first_line) <> '' THEN 'heading'
      ELSE 'paragraph'
    END AS kind_out,
    CASE WHEN kind = 'TextBox' THEN content ELSE '' END AS text,
    CASE WHEN kind IN ('Figure', 'Image') THEN media_ref END AS media_ref
  FROM tbx
  WHERE (kind = 'TextBox'
         AND NOT (replace(content, chr(10), '') IN ('header', 'footer'))
         AND NOT regexp_matches(content, '{_PAGENO}'))
        OR kind IN ('TextLine', 'Line', 'Rectangle', 'Figure', 'Image'))
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY o) - 1 AS INT)
         AS offset,
       kind_out AS kind, text, media_ref
FROM surv
"""


def oracle_sql() -> dict[str, str]:
    from pdfspark import oracle_pipeline as OP

    pipeline = {
        "dd_exact_dups": OP.exact_dups_sql(FIX01),
        "dd_minhash_pairs": OP.minhash_pairs_sql(FIX01),
        "dd_minhash_verified": OP.minhash_verified_sql(FIX01),
        "dd_simhash_pairs": OP.simhash_pairs_sql(FIX01),
        "dd_components": OP.components_sql(FIX01),
        "ts_langid": OP.langid_sql(FIX01),
        "ts_text_profile": f"""
            -- LEFT JOIN: docs too short for one winnowing window keep
            -- their quality/token row with NULL fingerprint columns
            SELECT q.*, t.n_ws_tokens, t.n_bpe_tokens, t.chars_per_token,
                   f.n_fingerprints, f.fp_digest
            FROM ({OP.quality_sql(FIX01)}) q
            JOIN ({OP.tokens_sql(FIX01)}) t USING (doc_id)
            LEFT JOIN ({OP.fingerprints_sql(FIX01)}) f USING (doc_id)
        """,
        "hm1_main_content": f"""
            -- expected sidecar = the domseg kernel run Spark-free
            -- (synth.write_html_pages), same pattern as the xycut and
            -- payload-decode oracles
            SELECT doc_id, block_id, tag, n_words, n_link_words,
                   link_density, dom_boiler, is_content, text
            FROM read_parquet('{FIX01}/html_main_expected.parquet')
        """,
        "td_curation": OP.curation_sql(FIX01),
        "sim_ann_topk": OP.ann_cosine_sql(FIX01),
        "sim_ivf_topk": OP.ivf_topk_sql(FIX01),
        "j5_topk_euclidean": OP.euclidean_topk_sql(FIX01),
        "sim_ivf_euclidean": OP.ivf_euclidean_sql(FIX01),
        "sim_neardup_lsh": OP.neardup_lsh_sql(FIX01),
        "a6_max_score": OP.max_score_sql(FIX01),
        "j6_keyword_hits": OP.keyword_hits_sql(FIX01),
        "s11_fill_down": OP.fill_down_sql(),
        "j7_tabular_pairs": OP.tabular_pairs_sql(GEOM01),
        "a9_sessionize": OP.sessionize_sql(),
        "s8_stream_windowed": OP.stream_windowed_sql(),
        "s8_stream_sessionize": OP.sessionize_sql(),
        "x19_html_tables": OP.html_tables_sql(FIX01),
        "s15_collated_tables": f"""
            WITH j AS (
              SELECT seq, title, cells,
                regexp_extract(filename, 'batch=([^/]+)/', 1) AS batch,
                CAST(regexp_extract(filename, 'table_(\\d+)\\.json', 1)
                     AS INT) AS natkey
              FROM read_json('{FIX01}/collate/*/*.json', filename=true,
                             columns={{'seq': 'INT', 'title': 'VARCHAR',
                                       'cells': 'VARCHAR'}})),
            lbld AS (
              SELECT *, last_value(
                CASE WHEN regexp_matches(title, '^\\bTable\\s\\d+\\b')
                     THEN regexp_extract(title, '^\\bTable\\s\\d+\\b')
                END IGNORE NULLS)
                OVER (PARTITION BY batch ORDER BY natkey, seq
                      ROWS UNBOUNDED PRECEDING) AS label
              FROM j)
            SELECT batch, label, CAST(count(*) AS INT) AS n_rows,
                   string_agg(cells, ',' ORDER BY natkey, seq) AS cells_seq
            FROM lbld GROUP BY batch, label
        """,
        "m1_m3_media_features": OP.media_features_sql(FIX01),
        "m2_frame_sample": OP.frame_sample_sql(FIX01),
        "m4_audio_chunks": OP.audio_chunks_sql(FIX01),
        "x11_f3_cleanup": f"""
            -- Unicode-faithful RE2 twins of the (?U) engine forms:
            -- [\\W_]+$ emulated as the complement of letter/number
            -- (the j1-oracle precedent — RE2's \\W is ASCII and would
            -- strip trailing accented letters); whitespace classes use
            -- the repo's [\\s\\x0B] pytrim convention
            SELECT doc_id, "offset" AS offset,
                   regexp_replace(text, '[^a-zA-Z0-9]', '', 'g') AS alnum_only,
                   regexp_replace(text, '[^\\p{{L}}\\p{{N}}]+$', '') AS no_trailing_punct,
                   regexp_replace(text, '[\\s\\x0B]{{2,}}', ' ', 'g') AS collapsed,
                   regexp_replace(regexp_replace(
                     regexp_replace(regexp_replace(text, '€', ' ', 'g'),
                                    chr(10), ' ', 'g'),
                     '[\\s\\x0B]{{2,}}', ' ', 'g'),
                     '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g') AS stripped,
                   regexp_matches(regexp_replace(text,
                     '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g'),
                     '{_PAGENO}') AS is_page_number
            FROM {GEOM01} WHERE kind = 'TextBox'
        """,
        "s34_page_scans": f"""
            SELECT 'page' AS probe, doc_id, page_id, "offset" AS offset,
                   trim(text) AS content
            FROM {GEOM01} WHERE page_id = 2 AND kind = 'TextBox'
            UNION ALL
            SELECT 'window' AS probe, doc_id, page_id, "offset" AS offset,
                   trim(text) AS content
            FROM {GEOM01}
            WHERE page_id BETWEEN 2 AND 3 AND kind = 'TextBox'
        """,
        "s13_embeddings_upsert": f"""
            WITH upd AS (
              SELECT CASE WHEN vec_id % 50 = 0 THEN vec_id - 1000000
                          ELSE vec_id END AS vec_id, embedding
              FROM read_parquet('{FIX01}/embeddings_aug.parquet')),
            cur AS (SELECT vec_id, embedding FROM embeddings),
            merged AS (
              SELECT c.vec_id, c.embedding FROM cur c
              LEFT JOIN upd u USING (vec_id) WHERE u.vec_id IS NULL
              UNION ALL
              SELECT vec_id, embedding FROM upd)
            SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
                   round(sqrt(list_dot_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[])), 4)
                     AS norm
            FROM merged
        """,
        "s1_binary_decode": f"""
            WITH raw AS (
              SELECT filename, content,
                     octet_length(content) AS bytes_len
              FROM read_blob('{FIX01}/payloads/*.bin')),
            j AS (
              SELECT CASE WHEN json_valid(decode(content))
                          THEN json_extract_string(decode(content), '$.doc_id')
                          ELSE regexp_extract(filename, '([^/]+)\\.bin$', 1)
                     END AS doc_id,
                     CASE WHEN json_valid(decode(content)) THEN 'ok'
                          ELSE 'decode_error' END AS status,
                     CASE WHEN json_valid(decode(content))
                          THEN CAST(json_array_length(decode(content),
                                                      '$.spans') AS INT)
                          ELSE 0 END AS n_spans,
                     CAST(bytes_len AS BIGINT) AS bytes_len,
                     '' AS geom_digest
              FROM raw WHERE substring(hex(content), 1, 2) = '7B'),
            c AS (
              SELECT regexp_extract(filename, '([^/]+)\\.bin$', 1) AS doc_id,
                     'decode_error' AS status, CAST(0 AS INT) AS n_spans,
                     CAST(bytes_len AS BIGINT) AS bytes_len,
                     '' AS geom_digest
              FROM raw WHERE substring(hex(content), 1, 2) <> '7B')
            SELECT * FROM j UNION ALL SELECT * FROM c
            UNION ALL
            SELECT doc_id, status, n_spans, CAST(bytes_len AS BIGINT),
                   geom_digest
            FROM read_parquet('{FIX01}/payloads_pdf_expected.parquet')
        """,
        "s6_lines_source": f"""
            SELECT trim(column0) AS line
            FROM read_csv('{FIX01}/lines.txt', header=false, sep=chr(1),
                          quote='', columns={{'column0': 'VARCHAR'}})
            WHERE trim(column0) <> ''
        """,
        "s7_json_source": f"""
            SELECT id, name, note
            FROM read_json('{FIX01}/meta.jsonl',
                           columns={{'id': 'BIGINT', 'name': 'VARCHAR',
                                     'note': 'VARCHAR'}})
        """,
    }
    return pipeline | {
        "ep1_extract_spans": _EXTRACT_SPANS_SQL,
        "ep1_extract_spans_sql": _EXTRACT_SPANS_SQL,
        # exact-parity side outputs: DuckDB reads the materialized
        # output of the INDEPENDENT reference transliteration
        # (pdfspark/oracle.py + local fold_tables_page, written at
        # fixture-gen time by synth.write_oracle_outputs — no Spark in
        # that path)
        "ep1_extract_sections": f"""
            SELECT doc_id, CAST(section_id AS INT) AS section_id, heading,
                   paragraphs, figures
            FROM read_parquet('{FIX01}/oracle_sections.parquet')
        """,
        "ep3_tables_exact": f"""
            SELECT doc_id, CAST(page_id AS INT) AS page_id,
                   CAST(table_id AS INT) AS table_id, title,
                   CAST(row_id AS INT) AS row_id, cells
            FROM read_parquet('{FIX01}/oracle_tables_exact.parquet')
        """,
        "s1_stream_extract": f"""
            WITH pf AS (
              SELECT regexp_extract(filename, '([^/]+)\\.bin$', 1) AS doc_id
              FROM read_blob('{FIX01}/payloads/*.bin')),
            allspans AS ({_EXTRACT_SPANS_SQL}),
            okrows AS (
              SELECT s.doc_id, s.offset, s.kind, s.text, s.media_ref
              FROM allspans s JOIN pf USING (doc_id))
            SELECT * FROM okrows
            UNION ALL
            SELECT pf.doc_id, CAST(-1 AS INT) AS offset,
                   '__quarantined__' AS kind, '' AS text,
                   CAST(NULL AS VARCHAR) AS media_ref
            FROM pf LEFT JOIN (
              SELECT doc_id, len(spans) AS n_spans,
                     len(list_filter(spans, s -> s['kind'] = 'DecodeError'))
                       AS n_bad
              FROM {DOCS01}) d USING (doc_id)
            -- structural, not name-based: a payload is quarantined iff
            -- its bytes don't decode to a known doc (corrupt garbage),
            -- it carries a DecodeError span, or it has no spans at all
            -- ('empty' status) — exactly the engine's status != 'ok'
            WHERE d.doc_id IS NULL OR d.n_bad > 0 OR d.n_spans = 0
        """,
        "lineage_metrics": f"""
            WITH base AS (
              SELECT doc_id,
                     len(spans) AS spans_in,
                     len(list_filter(spans, s -> s['kind'] = 'DecodeError'))
                       AS n_bad,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(spans,
                             s -> CAST(length(coalesce(s['text'], ''))
                                       AS BIGINT))),
                         (a, b) -> a + b) AS bytes_in
              FROM {DOCS01}),
            outs AS (
              SELECT doc_id, count(*) AS spans_out
              FROM ({_EXTRACT_SPANS_SQL}) GROUP BY doc_id)
            SELECT b.doc_id,
                   CASE WHEN b.n_bad > 0 THEN 'quarantined'
                        WHEN b.spans_in = 0 THEN 'empty'
                        ELSE 'ok' END AS status,
                   CAST(b.spans_in AS INT) AS spans_in,
                   CAST(coalesce(o.spans_out, 0) AS INT) AS spans_out,
                   CAST(b.bytes_in AS BIGINT) AS bytes_in
            FROM base b LEFT JOIN outs o USING (doc_id)
        """,
        "w1_reading_order": f"""
            SELECT 'ref' AS variant, doc_id, page_id,
                   "offset" AS offset,
                   CAST(row_number() OVER (PARTITION BY doc_id, page_id
                        ORDER BY y1 DESC, x1 ASC, "offset" ASC) AS INT) AS rord
            FROM {GEOM01} WHERE kind = 'TextBox'
            UNION ALL
            -- xycut expected = the Spark-free kernel twin sidecar
            -- (synth.write_xycut_expected), same pattern as the
            -- payload-decode oracles
            SELECT 'xycut' AS variant, doc_id, page_id,
                   "offset" AS offset, rord
            FROM read_parquet('{FIX01}/xycut_expected.parquet')
        """,
        "a1_header_footer": f"WITH {_HF_CTE} SELECT * FROM hf",
        "f10_f12_margins": f"""
            SELECT 'abs' AS variant, * FROM (
              WITH {_HF_CTE}
              SELECT doc_id, CAST(o AS INT) AS offset, txt,
                     is_header, is_footer
              FROM cand WHERE is_header OR is_footer)
            UNION ALL
            SELECT 'norm' AS variant, * FROM (
              WITH sg AS (SELECT * FROM {GEOM01}),
              withy AS (
                SELECT *, coalesce(
                  max(CASE WHEN kind='PageStart' THEN y1 END)
                    OVER (PARTITION BY doc_id, page_id), 792.0) AS page_y1
                FROM sg),
              cand AS (
                SELECT doc_id, CAST("offset" AS INT) AS offset,
                       trim(text) AS txt,
                       (y1 / page_y1 > 0.9) AS is_header,
                       (y1 / page_y1 < 0.9) AS is_footer
                FROM withy WHERE kind IN ('TextBox', 'TextLine'))
              SELECT * FROM cand WHERE is_header OR is_footer)
        """,
        "a5_table_stats": f"""
            WITH {_TABLES_CTE}
            SELECT doc_id, page_id, CAST(table_id AS INT) AS table_id,
                   CAST(max(row_id) AS INT) AS n_rows,
                   CAST(max(len(cells)) AS INT) AS n_cols
            FROM tbls GROUP BY doc_id, page_id, table_id
        """,
        "ep3_tables_doc_scope": f"""
            WITH {_TABLES_DOC_CTE}
            SELECT doc_id, page_id, table_id, title, row_id,
                   array_to_string(cells, '|') AS cells
            FROM tblsd
        """,
        "ep3_tables_sql": f"""
            WITH {_TABLES_CTE}
            SELECT doc_id, page_id, table_id, title, row_id,
                   array_to_string(cells, '|') AS cells
            FROM tbls
        """,
        "j3_tables_merged": f"""
            WITH {_TABLES_CTE},
            marked AS (
              SELECT *,
                contains(lower(title), 'continued') AS is_cont,
                CASE WHEN contains(lower(title), 'continued')
                     THEN trim(split_part(title, '(', 1)) ELSE title END AS base_title
              FROM tbls),
            tbllvl AS (
              -- header arity from the lowest non-negative row_id (works
              -- for 1-based SQL-path and 0-based exact-path row ids)
              SELECT doc_id, page_id, table_id, title, base_title, is_cont,
                     arg_min(len(cells),
                             CASE WHEN row_id >= 0 THEN row_id END) AS n_cols
              FROM marked
              GROUP BY doc_id, page_id, table_id, title, base_title, is_cont),
            orded AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY page_id, table_id) AS tord
              FROM tbllvl),
            anch AS (
              -- anchor = last NON-continued table at or before (the
              -- reference's current_table stays the base after a merge,
              -- so 3+-page chains merge fully)
              SELECT *,
                last_value(CASE WHEN NOT is_cont THEN tord END IGNORE NULLS)
                  OVER wrun AS anchor_tord,
                last_value(CASE WHEN NOT is_cont THEN title END IGNORE NULLS)
                  OVER wrun AS anchor_title,
                last_value(CASE WHEN NOT is_cont THEN n_cols END IGNORE NULLS)
                  OVER wrun AS anchor_cols
              FROM orded
              WINDOW wrun AS (PARTITION BY doc_id ORDER BY tord
                              ROWS UNBOUNDED PRECEDING)),
            badc AS (
              SELECT *,
                (is_cont AND (anchor_tord IS NULL
                              OR lower(anchor_title) <> lower(base_title)))
                  AS title_bad
              FROM anch),
            grp AS (
              SELECT *, min(CASE WHEN title_bad THEN tord END)
                          OVER (PARTITION BY doc_id, anchor_tord) AS first_bad
              FROM badc),
            decided AS (
              SELECT *,
                (is_cont AND NOT title_bad
                 AND (first_bad IS NULL OR tord < first_bad)
                 AND anchor_cols IS NOT DISTINCT FROM n_cols) AS merged
              FROM grp),
            mids AS (
              SELECT *,
                CASE WHEN merged THEN anchor_tord ELSE tord END AS grp_tord,
                CASE WHEN merged THEN anchor_title ELSE title END AS out_title
              FROM decided),
            dense AS (
              SELECT *, dense_rank() OVER (PARTITION BY doc_id
                                           ORDER BY grp_tord) AS merged_id
              FROM mids),
            keyed AS (
              -- no row_id=-1 marker handling here: the SQL
              -- reconstruction feeding this oracle drops empty tables
              -- entirely (title rows are filtered, no data rows), so
              -- markers cannot occur in this input; the engine's
              -- marker-preserving branch is pytest-pinned instead
              SELECT m.doc_id, i.merged_id, i.out_title, m.page_id,
                     m.table_id, m.row_id, m.cells
              FROM marked m JOIN dense i
                   USING (doc_id, page_id, table_id))
            SELECT doc_id, CAST(merged_id AS INT) AS table_id,
                   out_title AS title,
                   CAST(row_number() OVER wm AS INT) AS row_id,
                   array_to_string(cells, '|') AS cells
            FROM keyed
            WINDOW wm AS (PARTITION BY doc_id, merged_id
                          ORDER BY page_id, table_id, row_id)
        """,
        "j2_table_titles": f"""
            WITH el AS (SELECT * FROM read_parquet('{FIX01}/elements.parquet')),
            titles AS (
              SELECT doc_id, coalesce(parent_id, element_id) AS key,
                     max_by(text, "ord") AS title
              FROM el WHERE etype = 'NarrativeText'
              GROUP BY doc_id, coalesce(parent_id, element_id)),
            tbls AS (
              SELECT doc_id, element_id, parent_id, "ord" AS tord
              FROM el WHERE etype = 'Table'),
            p1 AS (
              SELECT * FROM (
                SELECT t.doc_id, t.element_id, t.tord, ti.key, ti.title,
                       row_number() OVER (PARTITION BY t.doc_id, ti.key
                                          ORDER BY t.tord) AS rn
                FROM tbls t JOIN titles ti
                  ON t.doc_id = ti.doc_id AND t.parent_id = ti.key)
              WHERE rn = 1),
            rem AS (
              SELECT ti.* FROM titles ti
              LEFT JOIN p1 ON p1.doc_id = ti.doc_id AND p1.key = ti.key
              WHERE p1.key IS NULL),
            p2 AS (
              SELECT t.doc_id, t.element_id, t.tord, r.title
              FROM tbls t
              LEFT JOIN p1 ON p1.doc_id = t.doc_id
                          AND p1.element_id = t.element_id
              JOIN rem r ON r.doc_id = t.doc_id AND r.key = t.element_id
              WHERE p1.element_id IS NULL),
            m AS (SELECT doc_id, element_id, title FROM p1
                  UNION ALL SELECT doc_id, element_id, title FROM p2)
            SELECT t.doc_id, t.element_id, CAST(t.tord AS INT) AS tord,
                   coalesce(m.title, '') AS title
            FROM tbls t LEFT JOIN m ON m.doc_id = t.doc_id
                                   AND m.element_id = t.element_id
        """,
        "j4_toc_skeleton": f"""
            SELECT doc_id,
                   -- pytrim (Python str.strip(), all whitespace), matching
                   -- the fold's clean_toc_line and the engine's (?U)-trim
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       text, '\\\\u20ac', ' ', 'g'), '\\\\n', ' ', 'g'), '€', ' ', 'g'),
                       '\\s{{2,}}', ' ', 'g'),
                       '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g') AS heading,
                   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY "offset")
                        AS INT) AS line_no
            FROM {GEOM01} WHERE kind = 'TOC'
        """,
        "j1_heading_lookup": f"""
            WITH {_CLASSIFY_CTE},
            toc AS (
              SELECT doc_id,
                     -- pytrim, matching toc_skeleton (see j4 oracle)
                     regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                         regexp_replace(text, '\\\\u20ac', ' ', 'g'),
                         '\\\\n', ' ', 'g'), '€', ' ', 'g'),
                         '\\s{{2,}}', ' ', 'g'),
                         '(^[\\s\\x0B]+)|([\\s\\x0B]+$)', '', 'g') AS heading,
                     CAST(row_number() OVER (PARTITION BY doc_id
                          ORDER BY "offset") AS INT) AS line_no
              FROM {GEOM01} WHERE kind = 'TOC'),
            hcand AS (
              SELECT doc_id, o,
                     coalesce(section_title, first_line) AS lookup,
                     -- RE2 has no (?U): emulate Python's [\\W_]+$ (strip
                     -- trailing non-alphanumerics INCLUDING underscore) with
                     -- the complement of letter/number only
                     regexp_replace(coalesce(section_title, first_line),
                                    '[^\\p{{L}}\\p{{N}}]+$', '') AS clean
              FROM cursec WHERE is_heading),
            hsafe AS (
              SELECT *, coalesce(regexp_matches(clean,
                '^[A-Za-z0-9_](?:[A-Za-z0-9_ ,;:''\\-]*[A-Za-z0-9_])?$'),
                false) AS is_safe
              FROM hcand),
            matched AS (
              SELECT s.doc_id, s.o, s.lookup, t.heading, t.line_no,
                     row_number() OVER (PARTITION BY s.doc_id, s.o
                                        ORDER BY t.line_no NULLS LAST) AS rn
              FROM hsafe s LEFT JOIN toc t
                ON s.doc_id = t.doc_id
               AND regexp_matches(t.heading, '(?i)\\b' || s.clean || '\\b')
              WHERE s.is_safe)
            SELECT doc_id, CAST(o AS INT) AS offset, lookup, heading, line_no
            FROM matched WHERE rn = 1
            UNION ALL
            SELECT doc_id, CAST(o AS INT) AS offset, lookup,
                   CAST(NULL AS VARCHAR) AS heading, CAST(NULL AS INT) AS line_no
            FROM hsafe WHERE NOT is_safe
        """,
        "x1_w3_classify_flags": f"""
            WITH {_CLASSIFY_CTE}
            SELECT doc_id, CAST(o AS INT) AS offset, first_line,
                   CAST(line_count AS INT) AS line_count,
                   is_section, is_named, is_appendix, is_figure,
                   is_table_title, is_heading, current_section
            FROM cursec WHERE kind = 'TextBox'
        """,
        "a8_sections": _SECTIONS_SQL,
    }
