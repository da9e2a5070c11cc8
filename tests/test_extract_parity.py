"""Span-sequence equality: engine fold vs reference-transliteration
oracle (pure Python), then Spark plumbing vs the fold, then the skew
splitter vs the unsplit path."""

import itertools
import random

from pyspark.sql import functions as F

from pdfspark.fold import fold_document
from pdfspark.operators.boilerplate import all_doc_headers_footers
from pdfspark.operators.extract import (
    extract_documents,
    extract_spans_split,
    lineage_accumulator,
    lineage_frame,
    resume_filter,
)
from pdfspark.oracle import oracle_extract
from pdfspark.synth import generate_docs


def _docs():
    return {d.doc_id: d.spans for d in generate_docs("sf0.001")}


def _hf_strings(spark, spans_geom):
    return {
        r.doc_id: (r.header, r.footer)
        for r in all_doc_headers_footers(spans_geom).collect()
    }


def test_fold_matches_oracle_all_fixture_docs(spark, spans_geom):
    """fold.py vs the independent transliteration on every fixture doc.
    The oracle gets each doc's real header/footer strings, as the
    reference does; its dict-membership strip ignores them, and the
    fold takes none."""
    hf = _hf_strings(spark, spans_geom)
    n_checked = 0
    for doc_id, spans in _docs().items():
        sp = [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                   offset=s["offset"]) for s in spans]
        got = fold_document(sp)
        want = oracle_extract(sp, *hf.get(doc_id, ("", "")))
        assert got["status"] == want["status"], doc_id
        assert got["out_spans"] == want["out_spans"], (
            doc_id,
            [a for a, b in itertools.zip_longest(
                got["out_spans"], want["out_spans"]) if a != b][:3],
        )
        assert got["sections"] == want["sections"], doc_id
        n_checked += 1
    assert n_checked >= 60


def test_spark_extract_matches_fold(spark, documents_in):
    """The plain fold and the skew route (forced onto the chunk fold
    for the skew doc) equal fold_document run per doc, and neither
    plan joins anything into the fold's input."""
    from tools.explain_audit import plan_summary

    want = {}
    for doc_id, spans in _docs().items():
        res = fold_document([dict(kind=s["kind"], text=s["text"],
                                  media_ref=s["media_ref"],
                                  offset=s["offset"]) for s in spans])
        want[doc_id] = (res["status"], res["out_spans"])

    routes = {
        "extract_documents": extract_documents(documents_in),
        "extract_spans_split": extract_spans_split(
            documents_in, skew_threshold=500, spans_per_chunk=200),
    }
    for name, out in routes.items():
        s = plan_summary(out._jdf.queryExecution().executedPlan().toString())
        assert s["bhj"] + s["smj"] == 0, (name, s)
        rows = out.collect()
        got = {r.doc_id: [t.asDict() for t in r.spans] for r in rows}
        assert set(got) == set(want), name
        for doc_id, (status, spans) in want.items():
            assert got[doc_id] == spans, (name, doc_id)
        if "status" in out.columns:
            assert {r.doc_id: r.status for r in rows} == {
                d: w[0] for d, w in want.items()}, name


def test_partitioning_determinism(spark, documents_in):
    # the fold coalesces its input to the default parallelism (4): 2
    # partitions stay 2, 16 merge into 4
    a = extract_documents(documents_in.repartition(2))
    b = extract_documents(documents_in.repartition(16))
    ka = {(r.doc_id): [t.asDict() for t in r.spans] for r in a.collect()}
    kb = {(r.doc_id): [t.asDict() for t in r.spans] for r in b.collect()}
    assert ka == kb


def test_skew_splitter_equality(spark, documents_in):
    # force the skew path for the 2000-span skew doc
    split = extract_spans_split(documents_in, skew_threshold=500,
                                spans_per_chunk=200)
    unsplit = extract_documents(documents_in).select(
        "doc_id", "spans")
    ks = {r.doc_id: [t.asDict() for t in r.spans] for r in split.collect()}
    ku = {r.doc_id: [t.asDict() for t in r.spans] for r in unsplit.collect()}
    assert set(ks) == set(ku)
    assert ks["skew-00000"], "skew doc produced no spans"
    for d in ku:
        assert ks[d] == ku[d], d


def test_lineage_and_resume(spark, documents_in):
    """The fold's tasks count one lineage row per partition they fold;
    the rows add up to the folded rows' own per-doc columns."""
    lineage = lineage_accumulator(spark)
    full = extract_documents(documents_in.repartition(4),
                             lineage=lineage).collect()
    lin = lineage_frame(spark, lineage).collect()
    assert sorted(r.partition_id for r in lin) == sorted(
        {r.partition_id for r in full})
    for col in ("bytes_in", "spans_out"):
        assert sum(r[col] for r in lin) == sum(r[col] for r in full), col
    assert sum(r.doc_count for r in lin) == len(full) == documents_in.count()
    assert all(r.wall_ms >= 0 for r in lin)
    # resume: after committing half the docs, only the rest remain
    committed = documents_in.limit(30).select("doc_id")
    rest = resume_filter(documents_in, committed)
    assert rest.count() == documents_in.count() - 30


def test_lineage_merge_keeps_one_entry_per_partition():
    """Spark-free: a task Spark runs again reports its partition's
    lineage totals a second time, and the accumulator's merge keeps one
    entry per partition id, equal to one run's, instead of adding."""
    import functools

    import pandas as pd

    from pdfspark.operators.extract import LineageMerge, _fold_batches

    class Updates:
        """Stands in for the accumulator: records what a task adds."""

        def __init__(self):
            self.seen = []

        def add(self, value):
            self.seen.append(value)

    docs = _docs()
    batch = pd.DataFrame(
        [dict(doc_id=d, spans=sp) for d, sp in sorted(docs.items())[:5]])
    updates = Updates()
    for _attempt in range(2):
        list(_fold_batches(lineage=updates)(iter([batch])))
    assert len(updates.seen) == 2
    merge = LineageMerge()
    got = functools.reduce(merge.addInPlace, updates.seen, merge.zero({}))
    # outside Spark there is no task context: partition id -1
    assert list(got) == list(updates.seen[0]) == [-1]
    n_docs, bytes_in, spans_out, wall_ms = got[-1]
    assert (n_docs, bytes_in, spans_out) == updates.seen[0][-1][:3]
    assert n_docs == 5 and wall_ms > 0
    assert spans_out == sum(len(fold_document(sp)["out_spans"])
                            for _d, sp in sorted(docs.items())[:5])
    # an empty task reports nothing
    empty = Updates()
    list(_fold_batches(lineage=empty)(iter([])))
    assert empty.seen == []


def test_local_hf_transliteration_matches_spark(spark, spans_geom):
    """synth._hf_local (used to materialize the driver oracle's exact-
    parity inputs) must equal the Spark A1 operator byte-for-byte."""
    from pdfspark.synth import _hf_local, generate_docs

    want = _hf_strings(spark, spans_geom)
    for d in generate_docs("sf0.001"):
        h, f = _hf_local(d)
        wh, wf = want.get(d.doc_id, ("", ""))
        assert (h, f) == (wh, wf), d.doc_id


def test_skew_giant_doc_parallel_presplit(spark):
    """A 100k-span pathological doc: the skew path must (a) equal the
    sequential fold and (b) run its chunk folds across >1 task — the
    pre-split itself must not serialize the doc into one task."""
    from pdfspark.synth import DocBuilder, gen_skew
    import random

    b = DocBuilder("giant-00000")
    gen_skew(b, random.Random("42|giant"), 100_000)
    b.finish()
    spans = [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                  offset=s["offset"]) for s in b.spans]
    df = spark.createDataFrame(
        [(b.doc_id, spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = extract_spans_split(df, skew_threshold=5000, spans_per_chunk=4096)
    got = [t.asDict() for t in out.collect()[0].spans]
    want = fold_document(spans)["out_spans"]
    assert got == want
    # the REAL chunk assignment (the chunk fold the split path runs)
    # must fan the doc out over many chunk ids — not arithmetic on len()
    from pdfspark.operators.extract import _fold_big_chunks

    chunked = _fold_big_chunks(df, 4096)
    n_chunks = chunked.select("chunk").distinct().count()
    assert n_chunks > 20, n_chunks


def test_spans_auto_routes_equal(spark, documents_in):
    """The flagship's adaptive route must emit identical span rows
    whichever plan the probe picks (high threshold -> plain fold +
    posexplode, forced low -> exploded-rows split path)."""
    from pdfspark.operators.extract import extract_spans_auto

    def key(df):
        rows = df.collect()
        return sorted(
            (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
            for r in rows
        )

    hi = key(extract_spans_auto(documents_in, skew_threshold=10**9))
    lo = key(extract_spans_auto(documents_in, skew_threshold=500,
                                spans_per_chunk=200))
    assert hi == lo


def test_spans_auto_routing_choice(spark, documents_in, monkeypatch):
    """The probe must pick the one-scan sequential fold when no doc
    crosses the threshold, and the split path only when one does —
    the round-3 review caught the flagship call site shipping with a
    threshold below the planted sf-fixture doc, silently putting the
    whole corpus on the chunk machinery."""
    import pdfspark.operators.extract as X

    def boom(*a, **k):
        raise AssertionError("split path engaged")

    # no doc crosses: the split path must NOT be touched
    monkeypatch.setattr(X, "extract_spans_split_rows", boom)
    assert X.extract_spans_auto(documents_in,
                                skew_threshold=10**9).count() > 0

    # a doc crosses: the split path MUST be the route
    sentinel = object()
    monkeypatch.setattr(X, "extract_spans_split_rows",
                        lambda *a, **k: sentinel)
    assert X.extract_spans_auto(documents_in,
                                skew_threshold=1) is sentinel


def test_skew_big_doc_fewer_pages_than_start_page(spark):
    """A big doc of only two pages, whose 600 TextBoxes all sit on
    the first: the skew path must match the sequential fold."""
    spans = [dict(kind="TOC", text="1. Intro", media_ref=None, offset=0),
             dict(kind="PageStart", text="", media_ref=None, offset=1)]
    spans += [dict(kind="TextBox", text=f"body {i}", media_ref=None,
                   offset=2 + i) for i in range(600)]
    spans.append(dict(kind="PageStart", text="", media_ref=None,
                      offset=len(spans)))
    df = spark.createDataFrame(
        [("fewpages-00000", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = extract_spans_split(df, skew_threshold=500,
                              spans_per_chunk=200).collect()
    want = extract_documents(df).select("doc_id", "spans").collect()
    assert len(got) == 1 and len(want) == 1
    assert [t.asDict() for t in got[0].spans] == \
        [t.asDict() for t in want[0].spans]

    # full-output split route: the same doc plus a TOC-less twin —
    # each must come out as exactly ONE row (no duplicate from the
    # big-doc joins, none missing), equal to the sequential fold
    from pdfspark.operators.extract import extract_documents_split

    notoc = [s for s in spans if s["kind"] != "TOC"]
    df2 = spark.createDataFrame(
        [("fewpages-00000", spans), ("fewpages-notoc", notoc)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )

    def full(r):
        return (r.status, [t.asDict() for t in r.spans],
                [t.asDict() for t in r.sections], r.spans_in,
                r.spans_out, r.bytes_in)

    got2 = extract_documents_split(df2, skew_threshold=500,
                                   spans_per_chunk=200).collect()
    assert sorted(r.doc_id for r in got2) == ["fewpages-00000",
                                              "fewpages-notoc"]
    want2 = {r.doc_id: full(r)
             for r in extract_documents(df2).collect()}
    for r in got2:
        assert full(r) == want2[r.doc_id], r.doc_id


def test_skew_big_doc_with_decode_error_is_quarantined(spark):
    """A doc ABOVE the skew threshold that contains a DecodeError span
    must come out empty from the split path exactly like the
    sequential fold quarantines it — not as partial spans from its
    clean chunks."""
    from pdfspark.synth import DocBuilder, gen_skew
    import random

    b = DocBuilder("bigbad-00000")
    gen_skew(b, random.Random("42|bigbad"), 3000)
    b.spans.append(dict(page_id=99, kind="DecodeError", text="enc",
                        media_ref=None, x0=0.0, y0=0.0, x1=0.0, y1=0.0))
    b.finish()
    spans = [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                  offset=s["offset"]) for s in b.spans]
    df = spark.createDataFrame(
        [(b.doc_id, spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = extract_spans_split(df, skew_threshold=500,
                              spans_per_chunk=200).collect()
    assert len(out) == 1
    assert out[0].doc_id == b.doc_id
    assert list(out[0].spans) == []
    seq = extract_documents(df).collect()[0]
    assert seq.status == "quarantined" and list(seq.spans) == []


def test_relational_spans_equal_fold_default_config(spark, documents_in):
    """The pure-SQL fast path must equal the mapInPandas fold span-for-
    span (labels are text-local under the reference quirks),
    including on adversarially padded text (tabs/newlines around page
    numbers and headings — Python strip() vs Spark trim territory)."""
    from pdfspark.operators.extract import extract_spans_relational

    pad_spans = [
        dict(kind="TextBox", text="\tPage 3", media_ref=None, offset=0),
        dict(kind="TextBox", text="\n1. Intro\nbody text", media_ref=None,
             offset=1),
        dict(kind="TextBox", text="  Figure 2 padded  \t", media_ref=None,
             offset=2),
        dict(kind="TextBox", text="\x0bpg iv\n", media_ref=None, offset=3),
        dict(kind="TextBox", text="plain\ttabbed body", media_ref=None,
             offset=4),
        # NULL text: the fold coerces None to '' and emits a span; the
        # SQL path must coalesce, not silently drop the row
        dict(kind="TextBox", text=None, media_ref=None, offset=5),
    ]
    pad_doc = spark.createDataFrame(
        [("pad-00000", pad_spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    docs = documents_in.unionByName(pad_doc)

    fold_out = extract_documents(docs).filter(
        "status = 'ok'"
    ).select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.offset", "s.kind", "s.text", "s.media_ref"
    )
    a = {(r.doc_id, r.offset): (r.kind, r.text, r.media_ref)
         for r in fold_out.collect()}
    b = {(r.doc_id, r.offset): (r.kind, r.text, r.media_ref)
         for r in extract_spans_relational(docs).collect()}
    assert a == b
    assert any(k[0] == "pad-00000" for k in a)  # padded doc exercised


def _unicode_doc_spans():
    """Non-ASCII headings, NBSP/em-space whitespace, unicode word
    chars — the divergence class the (?U) regex alignment exists for."""
    spans = [
        dict(kind="TOC", text="Résumé", media_ref=None, offset=0),
        dict(kind="PageStart", text="pageid:1", media_ref=None, offset=1),
        dict(kind="TextBox", text="2. Résumé\nCorps du texte",
             media_ref=None, offset=2),
        dict(kind="TextBox", text="3. Überblick und Kontext",
             media_ref=None, offset=3),
        dict(kind="TextBox", text="Appendix B. em-space annex",
             media_ref=None, offset=4),
        dict(kind="TextBox", text="Figure 7 caption nbsp",
             media_ref=None, offset=5),
        dict(kind="TextBox", text="plain körper paragraph",
             media_ref=None, offset=6),
        dict(kind="TextBox", text="page 12", media_ref=None, offset=7),
    ]
    return spans


def test_fold_matches_oracle_on_unicode_doc():
    """fold.py vs the independent transliteration on the unicode doc
    (pure-Python both sides — the ground truth)."""
    spans = _unicode_doc_spans()
    got = fold_document(list(spans))
    want = oracle_extract(list(spans), "", "")
    assert got["out_spans"] == want["out_spans"]
    assert got["sections"] == want["sections"]


def test_relational_spans_equal_fold_on_unicode_doc(spark):
    """The (?U)-aligned SQL fast path must agree with the Python-re
    fold on non-ASCII text too."""
    from pdfspark.operators.extract import extract_spans_relational

    spans = _unicode_doc_spans()
    df = spark.createDataFrame(
        [("uni-00000", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    want = fold_document(spans)["out_spans"]
    got = [
        dict(kind=r.kind, text=r.text, media_ref=r.media_ref,
             offset=r.offset)
        for r in extract_spans_relational(df).orderBy("offset").collect()
    ]
    assert got == want


def test_full_split_extraction_equals_sequential(spark, documents_in):
    """extract_documents_split (chunk-parallel classification, span
    reassembly + segment-parallel sections replay) must equal
    extract_documents on status, spans, the order-stateful sections
    side-output AND the input-derived lineage counts."""
    from pdfspark.operators.extract import extract_documents_split

    split = extract_documents_split(documents_in, skew_threshold=500,
                                    spans_per_chunk=200)
    seq = extract_documents(documents_in)
    ks = {r.doc_id: (r.status, [t.asDict() for t in r.spans],
                     [t.asDict() for t in r.sections],
                     (r.spans_in, r.spans_out, r.bytes_in))
          for r in split.collect()}
    ku = {r.doc_id: (r.status, [t.asDict() for t in r.spans],
                     [t.asDict() for t in r.sections],
                     (r.spans_in, r.spans_out, r.bytes_in))
          for r in seq.collect()}
    assert set(ks) == set(ku)
    for d in ku:
        assert ks[d][0] == ku[d][0], d
        assert ks[d][1] == ku[d][1], d
        assert ks[d][2] == ku[d][2], d
        assert ks[d][3] == ku[d][3], d  # input-derived lineage
    # the skew doc actually exercised the chunked branch
    assert ks["skew-00000"][2] == ku["skew-00000"][2]


def test_exploded_rows_split_equals_sequential(spark, documents_in):
    """extract_spans_split_rows (no nested-array reassembly; offsets
    from chunk-size prefix sums) must equal the sequential fold span-
    for-span on the fixture, skew path forced."""
    from pdfspark.operators.extract import extract_spans_split_rows

    collected = extract_spans_split_rows(documents_in, skew_threshold=500,
                                         spans_per_chunk=200).collect()
    got = {}
    for r in collected:
        got.setdefault(r.doc_id, {})[r.offset] = (r.kind, r.text, r.media_ref)
    # no duplicate (doc_id, offset) rows hiding behind the dict
    assert len(collected) == sum(len(v) for v in got.values())
    seq = extract_documents(documents_in)
    want = {}
    for r in seq.collect():
        want[r.doc_id] = {s.offset: (s.kind, s.text, s.media_ref)
                          for s in r.spans}
    # docs with zero output spans have no rows in the exploded shape
    want = {d: v for d, v in want.items() if v}
    assert got == want
    assert "skew-00000" in got  # the chunked branch ran


def test_split_path_null_spans_and_null_toc_text_parity(spark):
    """Two ANSI NULL edges the skew path used to diverge on: a doc
    with spans=NULL (size(NULL) is NULL -> fell out of all three
    _split_inputs branches and VANISHED, vs. the sequential fold's
    status='empty' row) and a skew-routed doc with a NULL-text TOC
    span (replay's clean_toc_line crashed on re.sub(None) while the
    fold coerces `text or ''`). Both must now match the sequential
    output doc-for-doc."""
    from pdfspark.operators.extract import (
        extract_documents,
        extract_documents_split,
    )

    span_t = ("array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    big = ([("TOC", None, None, 0)]
           + [("TOC", "1. Intro ... 1", None, 1)]
           + [("NarrativeText", f"body line {i}", None, i + 2)
              for i in range(30)])
    docs = spark.createDataFrame(
        [("nullspans", None), ("tocnull", big),
         ("plain", [("NarrativeText", "hello", None, 0)])],
        f"doc_id string, spans {span_t}")

    seq = {r.doc_id: (r.status, [t.asDict() for t in r.spans])
           for r in extract_documents(docs).collect()}
    spl = {r.doc_id: (r.status, [t.asDict() for t in r.spans])
           for r in extract_documents_split(
               docs, skew_threshold=10, spans_per_chunk=8).collect()}
    assert set(spl) == set(seq) == {"nullspans", "tocnull", "plain"}
    for d in seq:
        assert spl[d] == seq[d], d
    assert seq["nullspans"][0] == "empty"


def test_skew_route_equality_out_of_order_spans_array(spark):
    """A spans array stored OUT of offset order (upstream reassembly)
    must fold identically on the sequential and skew routes: both now
    order by the span's own offset field (fold.py:182), with array
    position as the stable tiebreak — the skew path used to chunk by
    raw array position."""
    import random

    from pdfspark.operators.extract import (
        extract_documents,
        extract_spans_split,
    )

    rng = random.Random(99)
    n = 4096 + 200
    spans = [dict(kind="TOC", text="Introduction", media_ref=None,
                  offset=0)]
    spans += [dict(kind="PageStart", text=None, media_ref=None, offset=1)]
    spans += [
        dict(kind="TextBox", text=f"line {i} body", media_ref=None,
             offset=i)
        for i in range(2, n)
    ]
    shuffled = spans[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame(
        [("ooo-doc", shuffled)],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>",
    )
    seq = extract_documents(df).collect()
    par = extract_spans_split(df, skew_threshold=4096).collect()
    assert len(seq) == len(par) == 1
    assert [t.asDict() for t in seq[0].spans] == \
           [t.asDict() for t in par[0].spans]


# TextBox texts of the mixed-event documents, by the fold event each
# one makes: headings (hitting, missing, rewriting a TOC section,
# raising re.error in the unescaped lookup, multi-line, or looking
# like an appendix or a figure caption), blanks (paragraph events)
# and wipes (the header/footer literals and page numbers)
_MIXED_HEADINGS = [
    "Introduction", "Risk management", "Results\nwith a second line",
    "1. Introduction\nbody text follows", "2. Risk management",
    "3.1 Methods\nstep one\nstep two", "4. Unknown part",
    "C++ (v2)", "C++ (v2)\nsecond line", "Appendix A. Data tables",
    "Annex B\ndetails here", "Figure 2 shows growth", "see Fig. 3 here",
    "plain words of body text\nsecond line", "Methods",
]
_MIXED_BLANKS = ["", "   ", " \n\t ", None]
_MIXED_WIPES = ["header", "footer", " header\n", "Page 3", "page iv"]
_MIXED_OTHER = [
    ("Figure", None, "fig-1.png"), ("Image", None, "img-2.jpg"),
    ("TextLine", "a line", None), ("Line", None, None),
    ("Rectangle", None, None), ("Curve", None, None),
    ("TextGroup", None, None), ("NarrativeText", "unsupported", None),
    ("PageStart", "pageid:1", None),
]
_MIXED_TOC = ["Introduction", "Risk management", "Methods", "Results ... 7",
              "C++ (v2)", "Appendix A Data", "Figure 1 Overview"]


def _mixed_doc(rng, n_spans):
    """One document of ``n_spans`` spans mixing every fold event, with
    a TOC of 4-6 lines at random positions; every fifth call stores
    the spans array out of offset order."""
    spans = []
    for _ in range(n_spans):
        r = rng.random()
        if r < 0.35:
            kind, text, ref = "TextBox", rng.choice(_MIXED_HEADINGS), None
        elif r < 0.75:
            kind, text, ref = "TextBox", rng.choice(_MIXED_BLANKS), None
        elif r < 0.83:
            kind, text, ref = "TextBox", rng.choice(_MIXED_WIPES), None
        else:
            kind, text, ref = rng.choice(_MIXED_OTHER)
        spans.append(dict(kind=kind, text=text, media_ref=ref))
    for line in rng.sample(_MIXED_TOC, rng.randint(4, 6)):
        spans.insert(rng.randrange(len(spans) + 1),
                     dict(kind="TOC", text=line, media_ref=None))
    for i, s in enumerate(spans):
        s["offset"] = i
    if rng.random() < 0.2:
        rng.shuffle(spans)
    return spans


def _mixed_docs(n_docs, seed, lo=30, hi=400):
    rng = random.Random(seed)
    return {f"mixed-{i:03d}": _mixed_doc(rng, rng.randint(lo, hi))
            for i in range(n_docs)}


def test_documents_split_equals_fold_on_mixed_events(spark):
    """On documents whose fold events mix headings, paragraphs and
    wipes across 7-span chunks, the full skew route equals the
    sequential fold, and the fold equals the reference
    transliteration."""
    from pdfspark.operators.extract import extract_documents_split

    docs = _mixed_docs(40, "42|mixed")
    want = {d: fold_document(sp) for d, sp in docs.items()}
    for d, sp in docs.items():
        ref = oracle_extract(sp, "", "")
        got = want[d]
        assert (got["status"], got["out_spans"], got["sections"]) == (
            ref["status"], ref["out_spans"], ref["sections"]), d
    # the documents reach what they are built for: paragraph spans,
    # and paragraph appends into sections
    assert sum(s["kind"] == "paragraph" for w in want.values()
               for s in w["out_spans"]) > 2000
    assert sum(p == "" for w in want.values() for sec in w["sections"]
               for p in sec["paragraphs"]) > 400

    df = spark.createDataFrame(
        list(docs.items()),
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    full = {r.doc_id: (r.status, [t.asDict() for t in r.spans],
                       [t.asDict() for t in r.sections],
                       r.spans_in, r.spans_out, r.bytes_in)
            for r in extract_documents_split(
                df, skew_threshold=10, spans_per_chunk=7).collect()}
    assert full == {
        d: (w["status"], w["out_spans"], w["sections"], w["spans_in"],
            w["spans_out"], sum(len(s["text"] or "") for s in docs[d]))
        for d, w in want.items()}
