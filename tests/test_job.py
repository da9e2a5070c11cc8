"""S9/S10 sink path: jobs/extract_job.main() end-to-end — snapshot-
committed append, bucket layout, metrics table, exactly-once --resume,
and crash-safety of the manifest commit protocol."""

import os

import pytest

from jobs.extract_job import main
from pdfspark.sinks.snapshot import (
    committed_snapshots,
    read_committed,
)

N_BUCKETS = 4


def _read_out(spark, output, fmt="parquet"):
    df = read_committed(spark, output, fmt)
    assert df is not None, "no committed snapshots"
    return df


def _run_counting_jobs(spark, group, argv):
    """main(argv)'s exit code and the number of Spark jobs it ran,
    counted as the jobs of a job group named ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, f"extract_job {argv[0]}")
    try:
        rc = main(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rc, len(sc.statusTracker().getJobIdsForGroup(group))


def _parquet_layout(paths):
    """What the sink's writer settings decide, over every column chunk
    of ``paths``: the set of codecs, whether any chunk has a
    dictionary page, and the set of encodings of each column path."""
    import collections

    import pyarrow.parquet as pq

    codecs, dict_pages = set(), False
    encodings = collections.defaultdict(set)
    for p in paths:
        md = pq.ParquetFile(p).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(g).column(c)
                codecs.add(col.compression)
                dict_pages |= col.has_dictionary_page
                encodings[col.path_in_schema].update(col.encodings)
    return codecs, dict_pages, encodings


def _committed_files(table):
    """Absolute paths of every data file of ``table``'s committed
    snapshots."""
    from pdfspark.sinks.snapshot import _list_data_files

    return [os.path.join(table, f) for s in committed_snapshots(table)
            for f in _list_data_files(os.path.join(table, s), table)]


def _assert_sink_layout(output, metrics):
    """Every committed data and lineage file is zstd with no
    dictionary page, and the span offsets are delta-encoded (DataPageV2
    integers)."""
    for table in (output, metrics):
        codecs, dict_pages, _ = _parquet_layout(_committed_files(table))
        assert (codecs, dict_pages) == ({"ZSTD"}, False), table
    _, _, enc = _parquet_layout(_committed_files(output))
    assert enc["spans.list.element.offset"] == {"DELTA_BINARY_PACKED"}


@pytest.fixture(scope="module")
def job_paths(spark, fixture_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("extract_job")
    paths = dict(
        input=os.path.join(fixture_dir, "documents_in.parquet"),
        geom=os.path.join(fixture_dir, "spans_geom.parquet"),
        output=str(d / "out"),
        metrics=str(d / "metrics"),
    )
    rc = main([
        "--input", paths["input"], "--geom", paths["geom"],
        "--output", paths["output"], "--metrics", paths["metrics"],
        "--buckets", str(N_BUCKETS),
    ])
    assert rc == 0
    return paths


def test_job_writes_every_doc_once(spark, job_paths):
    docs = spark.read.parquet(job_paths["input"])
    out = _read_out(spark, job_paths["output"])
    assert out.count() == docs.count()
    in_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    out_ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert out_ids == in_ids


def test_job_bucket_layout(job_paths):
    snaps = committed_snapshots(job_paths["output"])
    assert len(snaps) == 1
    snap_dir = os.path.join(job_paths["output"], snaps[0])
    buckets = sorted(
        e for e in os.listdir(snap_dir) if e.startswith("bucket=")
    )
    assert 1 <= len(buckets) <= N_BUCKETS
    assert all(e.split("=")[1].isdigit() for e in buckets)


def test_job_metrics_rows(spark, job_paths):
    docs = spark.read.parquet(job_paths["input"])
    m = _read_out(spark, job_paths["metrics"])
    assert {"partition_id", "doc_count", "bytes_in", "spans_out", "wall_ms"} \
        <= set(m.columns)
    agg = m.groupBy().sum("doc_count").collect()[0][0]
    assert agg == docs.count()
    assert all(r.wall_ms >= 0 for r in m.collect())
    # metrics commit under the SAME snapshot id as the data
    assert committed_snapshots(job_paths["metrics"]) == \
        committed_snapshots(job_paths["output"])


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_job_big_doc_folds_with_lineage(spark, job_paths, tmp_path):
    """A doc above config.SKEW_SPAN_THRESHOLD spans takes the same
    fold as every other doc: the job commits one row per doc equal to
    extract_documents over the same input, every lineage row carries a
    real partition_id and wall_ms, and no cached frame is left behind.
    The removed skew-routing options are usage errors."""
    import random

    from pdfspark.config import SKEW_SPAN_THRESHOLD
    from pdfspark.operators.extract import extract_documents
    from pdfspark.synth import DocBuilder, gen_skew

    docs = spark.read.parquet(job_paths["input"])
    b = DocBuilder("giant-00000")
    gen_skew(b, random.Random("42|giant"), SKEW_SPAN_THRESHOLD + 1000)
    b.finish()
    spans = [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                  offset=s["offset"]) for s in b.spans]
    assert len(spans) > SKEW_SPAN_THRESHOLD
    inp = str(tmp_path / "skew_in.parquet")
    docs.unionByName(spark.createDataFrame([(b.doc_id, spans)], docs.schema)
                     ).write.parquet(inp)
    n_docs = docs.count() + 1

    out = str(tmp_path / "skew_out")
    metrics = str(tmp_path / "skew_metrics")
    cached_before = _persistent_rdds(spark)
    assert main([
        "--input", inp, "--geom", job_paths["geom"],
        "--output", out, "--metrics", metrics,
    ]) == 0
    assert _persistent_rdds(spark) <= cached_before

    cols = ("doc_id", "status", "spans", "sections")
    rows = _read_out(spark, out).select(*cols).collect()
    got = {r.doc_id: r for r in rows}
    assert len(rows) == len(got) == n_docs
    want = extract_documents(spark.read.parquet(inp)).filter(
        f"doc_id = '{b.doc_id}'").select(*cols).first()
    assert got[b.doc_id] == want
    assert len(want.spans) > 0

    m = _read_out(spark, metrics)
    assert m.filter("partition_id IS NULL OR wall_ms IS NULL").count() == 0
    assert m.groupBy().sum("doc_count").first()[0] == n_docs

    with pytest.raises(SystemExit) as exc:
        main(["--input", inp, "--output", str(tmp_path / "x"),
              "--skew-threshold", "5"])
    assert exc.value.code == 2


def test_job_routes_call_wrapped_names(spark, job_paths, fixture_dir,
                                       tmp_path, monkeypatch):
    """The job must look its fold entry points up on their modules at
    call time: the traced benchmark (perfbench/layers.py) wraps
    extract_documents by name for its fold-route attribution. --input
    folds every doc through extract_documents and --payloads through
    binary_decode.extract_payloads, with no skew probe or split route."""
    import pdfspark.operators.extract as X
    import pdfspark.sources.binary_decode as B

    calls = []

    def counting(mod, name):
        fn = getattr(mod, name)

        def wrapper(*a, **kw):
            calls.append(name)
            return fn(*a, **kw)

        monkeypatch.setattr(mod, name, wrapper)

    for name in ("extract_documents", "_max_span_count",
                 "extract_documents_split"):
        counting(X, name)
    counting(B, "extract_payloads")
    for mode, src, want in (
            ("--input", job_paths["input"], "extract_documents"),
            ("--payloads", os.path.join(fixture_dir, "payloads"),
             "extract_payloads")):
        del calls[:]
        assert main([mode, src, "--output",
                     str(tmp_path / mode.strip("-"))]) == 0
        assert calls == [want], mode


def test_job_geom_is_not_read(spark, job_paths, tmp_path, monkeypatch):
    """--geom is accepted with --input and not read: the fold's
    dict-membership header/footer strip needs no per-doc strings. An
    --input --metrics call with --geom commits the same rows as one
    without, builds no header/footer frame and runs the same number of
    Spark jobs, 4 (reading the geometry parquet's schema would cost one
    more): the input's schema read, the fold with the commit's
    rebalance, the data write and the lineage write."""
    import pdfspark.operators.boilerplate as BP

    calls = []
    real = BP.header_footer

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(BP, "header_footer", counting)
    cols = ("doc_id", "status", "spans", "sections")
    rows, n_jobs = {}, {}
    for name, geom in (("geom", ["--geom", job_paths["geom"]]),
                       ("nogeom", [])):
        out = str(tmp_path / name)
        rc, n_jobs[name] = _run_counting_jobs(
            spark, f"{tmp_path.name}-{name}",
            ["--input", job_paths["input"], *geom, "--output", out,
             "--metrics", str(tmp_path / f"{name}_met")])
        assert rc == 0
        rows[name] = sorted(_read_out(spark, out).select(*cols).collect())
    assert calls == []
    assert rows["geom"] == rows["nogeom"]
    assert len(rows["geom"]) == spark.read.parquet(job_paths["input"]).count()
    assert n_jobs["geom"] == n_jobs["nogeom"] == 4, n_jobs


def test_job_crash_between_data_and_metrics_manifest_heals(
        spark, job_paths, tmp_path, monkeypatch):
    """Kill between the data manifest publish and the metrics manifest
    publish: the data is committed, the metrics data is on disk but
    unmanifested. The next run's reconcile_aux must republish it —
    sum(doc_count) over committed metrics equals the docs committed."""
    import pdfspark.sinks.snapshot as S

    out = str(tmp_path / "mcrash_out")
    metrics = str(tmp_path / "mcrash_metrics")
    real_publish = S._publish
    calls = []

    def dying_publish(output, snap, **kw):
        calls.append(output)
        if len(calls) == 2:  # data manifest published; die on metrics
            raise RuntimeError("simulated crash before metrics manifest")
        real_publish(output, snap, **kw)

    monkeypatch.setattr(S, "_publish", dying_publish)
    with pytest.raises(RuntimeError):
        main([
            "--input", job_paths["input"], "--geom", job_paths["geom"],
            "--output", out, "--metrics", metrics,
        ])
    assert len(committed_snapshots(out)) == 1
    assert committed_snapshots(metrics) == []

    monkeypatch.setattr(S, "_publish", real_publish)
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", out, "--metrics", metrics, "--resume",
    ])
    assert rc == 0
    docs = spark.read.parquet(job_paths["input"])
    assert _read_out(spark, out).count() == docs.count()
    m = _read_out(spark, metrics)
    assert m.groupBy().sum("doc_count").collect()[0][0] == docs.count()


def test_job_resume_is_exactly_once(spark, job_paths, capsys):
    """Second run with --resume must add zero documents (anti-join
    against the committed snapshot), and with nothing left to write it
    commits no snapshot, neither data nor metrics, and says so."""
    docs = spark.read.parquet(job_paths["input"])
    before = _read_out(spark, job_paths["output"]).count()
    snaps = {t: committed_snapshots(job_paths[t])
             for t in ("output", "metrics")}
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", job_paths["output"], "--metrics", job_paths["metrics"],
        "--buckets", str(N_BUCKETS), "--resume",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert ("extract_job: no new rows; committed nothing to "
            f"{job_paths['output']}") in printed, printed
    assert "wrote snapshot" not in printed, printed
    out = _read_out(spark, job_paths["output"])
    assert out.count() == before == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    assert {t: committed_snapshots(job_paths[t]) for t in snaps} == snaps


def test_job_resume_on_missing_output_runs_full(spark, job_paths,
                                                tmp_path):
    """--resume against a not-yet-existing output path must fall back
    to a full run (no manifests -> nothing committed), not fail."""
    fresh = str(tmp_path / "fresh_out")
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", fresh, "--resume",
    ])
    assert rc == 0
    docs = spark.read.parquet(job_paths["input"])
    assert _read_out(spark, fresh).count() == docs.count()


def test_job_json_sink_roundtrip(spark, job_paths, tmp_path):
    """S9/S10: --format json writes append-mode JSON-lines (the
    reference's JSON sinks) that read back complete, and --resume
    stays exactly-once on the JSON output too."""
    out = str(tmp_path / "json_out")
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", out, "--format", "json",
    ])
    assert rc == 0
    docs = spark.read.parquet(job_paths["input"])
    j = _read_out(spark, out, "json")
    assert j.count() == docs.count()
    assert {"doc_id", "status"} <= set(j.columns)
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", out, "--format", "json", "--resume",
    ])
    assert rc == 0
    assert _read_out(spark, out, "json").count() == docs.count()


def test_job_crash_before_manifest_neither_loses_nor_duplicates(
        spark, job_paths, tmp_path, monkeypatch):
    """Kill-mid-commit: the first run dies AFTER writing its data but
    BEFORE publishing the manifest (the worst crash point — data looks
    complete on disk). The rerun with --resume must emit every
    document exactly once: the unmanifested snapshot is invisible to
    readers and to the resume anti-join."""
    import pdfspark.sinks.snapshot as S

    out = str(tmp_path / "crash_out")
    real_publish = S._publish

    def dying_publish(output, snap, **kw):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(S, "_publish", dying_publish)
    with pytest.raises(RuntimeError):
        main([
            "--input", job_paths["input"], "--geom", job_paths["geom"],
            "--output", out,
        ])
    # data dir exists but is NOT committed
    assert any(e.startswith("snap-") for e in os.listdir(out))
    assert committed_snapshots(out) == []
    assert read_committed(spark, out) is None

    monkeypatch.setattr(S, "_publish", real_publish)
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", out, "--resume",
    ])
    assert rc == 0
    docs = spark.read.parquet(job_paths["input"])
    committed = _read_out(spark, out)
    assert committed.count() == docs.count()  # nothing lost
    assert committed.select("doc_id").distinct().count() == docs.count()


def test_job_crash_mid_staging_is_invisible(spark, job_paths, tmp_path):
    """Garbage left under _staging by a crash during the data write is
    never visible to readers or resume."""
    out = str(tmp_path / "stage_out")
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", out,
    ])
    assert rc == 0
    junk = os.path.join(out, "_staging", "snap-dead", "part-0.parquet")
    os.makedirs(os.path.dirname(junk), exist_ok=True)
    with open(junk, "wb") as fh:
        fh.write(b"\x00torn bytes")
    docs = spark.read.parquet(job_paths["input"])
    assert _read_out(spark, out).count() == docs.count()
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", out, "--resume",
    ])
    assert rc == 0
    assert _read_out(spark, out).count() == docs.count()


def test_gc_orphans_reclaims_crash_debris(spark, job_paths, tmp_path):
    """Unmanifested snapshot/staging dirs past the grace period are
    swept; committed data is untouched."""
    from pdfspark.sinks.snapshot import gc_orphans

    out = str(tmp_path / "gc_out")
    rc = main([
        "--input", job_paths["input"], "--geom", job_paths["geom"],
        "--output", out,
    ])
    assert rc == 0
    before = _read_out(spark, out).count()

    # plant orphans: an unmanifested renamed snapshot + staging junk
    for orphan in [os.path.join(out, "snap-000-orphan", "p.parquet"),
                   os.path.join(out, "_staging", "snap-001-dead",
                                "p.parquet")]:
        os.makedirs(os.path.dirname(orphan), exist_ok=True)
        with open(orphan, "wb") as fh:
            fh.write(b"\x00torn")

    assert gc_orphans(out, grace_s=3600) == 0  # inside grace: kept
    assert os.path.isdir(os.path.join(out, "snap-000-orphan"))
    assert gc_orphans(out, grace_s=0) == 2  # past grace: swept
    assert not os.path.isdir(os.path.join(out, "snap-000-orphan"))
    assert not os.path.isdir(os.path.join(out, "_staging",
                                          "snap-001-dead"))
    # the committed snapshot survives and still reads back identically
    assert _read_out(spark, out).count() == before


def test_job_payloads_bytes_in_extraction_out(spark, tmp_path):
    """--payloads mode: raw %PDF byte files in, committed extraction
    snapshots out — no pre-decoded table anywhere. Span sequences
    must equal decode_tiny_pdf + the sequential fold run by hand. A
    corrupt payload is one quarantined row; --stream-payloads over the
    same directory commits the same rows, lineage counts every file in
    both modes, a --resume rerun commits no rows and no lineage, and
    --geom is rejected."""
    import collections
    import os as _os

    from pdfspark.fold import fold_document
    from pdfspark.sources.pdf_mini import (
        build_layout_pdf,
        build_tiny_pdf,
        decode_tiny_pdf,
    )

    pdir = str(tmp_path / "payloads")
    _os.makedirs(pdir)
    payloads = {
        "pdf-j1": build_tiny_pdf(
            "pdf-j1", [["1. Intro", "Body text."], ["2. More", "Tail."]],
            compress=True),
        "pdf-j2": build_layout_pdf(
            "pdf-j2", [[("Table 1 Results", 72, 720),
                        ("a", 72, 700), ("b", 200, 700)]]),
        "pdf-j3": build_tiny_pdf("pdf-j3", [["Sealed."]],
                                 encrypt="aesv2"),
    }
    for name, data in payloads.items():
        with open(_os.path.join(pdir, f"{name}.pdf"), "wb") as fh:
            fh.write(data)
    with open(_os.path.join(pdir, "broken.pdf"), "wb") as fh:
        fh.write(b"%PDF-1.4\nnot really\n")
    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    rc = main(["--payloads", pdir, "--output", out, "--metrics", met])
    assert rc == 0
    rows = _read_out(spark, out).collect()
    got = {r.doc_id: [tuple(s) for s in r.spans] for r in rows}
    assert len(rows) == len(got) == len(payloads) + 1
    assert [r.status for r in rows if r.doc_id == "broken"] == [
        "quarantined"]
    for doc_id, raw in payloads.items():
        spans = decode_tiny_pdf(raw)["spans"]
        res = fold_document(
            [dict(kind=s["kind"], text=s["text"],
                  media_ref=s["media_ref"], offset=s["offset"])
             for s in spans])
        assert got[doc_id] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in res["out_spans"]], doc_id

    # the stream commits the same rows from the same decode stage
    s_out, s_met = str(tmp_path / "s_out"), str(tmp_path / "s_met")
    rc = main(["--stream-payloads", pdir, "--checkpoint",
               str(tmp_path / "ck"), "--output", s_out, "--metrics", s_met])
    assert rc == 0

    def multiset(table):
        return collections.Counter(
            (r.doc_id, r.status, tuple(tuple(s) for s in r.spans))
            for r in _read_out(spark, table).collect())

    assert multiset(s_out) == multiset(out)
    for table in (met, s_met):
        assert _read_out(spark, table).groupBy().sum(
            "doc_count").first()[0] == len(payloads) + 1, table

    # exactly-once: the quarantined payload is committed too, so a
    # resume run has nothing left to write
    rc = main(["--payloads", pdir, "--output", out, "--metrics", met,
               "--resume"])
    assert rc == 0
    assert _read_out(spark, out).count() == len(rows)
    # the skipped docs append no lineage either
    assert _read_out(spark, met).groupBy().sum(
        "doc_count").first()[0] == len(payloads) + 1

    # the job never reads --geom in bytes-in mode: a usage error, not a
    # silent no-op
    with pytest.raises(SystemExit) as exc:
        main(["--payloads", pdir, "--geom", pdir,
              "--output", str(tmp_path / "g")])
    assert exc.value.code == 2


def test_extract_payloads_matches_the_kernels(spark, tmp_path):
    """extract_payloads (decode and fold in one Python stage) against
    the Spark-free kernels: every decoded payload's fold row equals
    fold_document over its narrowed decode run by hand, and a corrupt
    payload is one quarantined row whose lineage bytes_in is its file
    size."""
    import json
    import os as _os

    from pdfspark.fold import fold_document
    from pdfspark.operators.extract import lineage_accumulator, lineage_frame
    from pdfspark.sources.binary_decode import (
        _decode_payload,
        extract_payloads,
        read_payloads,
    )
    from pdfspark.sources.pdf_mini import build_layout_pdf, build_tiny_pdf

    pdir = str(tmp_path / "payloads")
    _os.makedirs(pdir)
    payloads = {
        "pdf-k1": build_tiny_pdf(
            "pdf-k1", [["1. Intro", "Body text."], ["2. More", "Tail."]]),
        "pdf-k2": build_layout_pdf(
            "pdf-k2", [[("Table 1 Results", 72, 720),
                        ("a", 72, 700), ("b", 200, 700)]]),
    }
    for i in range(3):
        payloads[f"json-k{i}"] = json.dumps(dict(
            doc_id=f"json-k{i}",
            spans=[dict(kind="TextBox", text=f"{i + 1}. Heading",
                        media_ref=None, offset=0),
                   dict(kind="TextBox", text="Some body.",
                        media_ref=None, offset=1)])).encode("utf-8")
    for name, data in payloads.items():
        with open(_os.path.join(pdir, f"{name}.bin"), "wb") as fh:
            fh.write(data)
    corrupt = b"%PDF-1.4\nnot really\n"
    with open(_os.path.join(pdir, "broken.bin"), "wb") as fh:
        fh.write(corrupt)

    lineage = lineage_accumulator(spark)
    full = extract_payloads(read_payloads(spark, pdir), lineage)
    rows = {r.doc_id: r for r in full.collect()}
    assert len(rows) == len(payloads) + 1
    for doc_id, raw in payloads.items():
        res = fold_document(
            [dict(kind=s["kind"], text=s["text"],
                  media_ref=s["media_ref"], offset=s["offset"])
             for s in _decode_payload(raw)["spans"]])
        r = rows[doc_id]
        assert r.status == res["status"], doc_id
        assert [s.asDict() for s in r.spans] == res["out_spans"], doc_id
        assert ([s.asDict() for s in r.sections]
                == res["sections"]), doc_id
        assert (r.spans_in, r.spans_out) == (
            res["spans_in"], res["spans_out"]), doc_id
    bad = rows["broken"]
    assert (bad.status, bad.bytes_in) == ("quarantined", len(corrupt))
    assert lineage_frame(spark, lineage).groupBy().sum(
        "doc_count").first()[0] == len(payloads) + 1


def test_job_commits_files_sized_by_data(spark, fixture_dir, tmp_path):
    """Appends write files sized by the data, not one per fold task:
    the fixture payloads through --payloads and through one
    --stream-payloads epoch each commit exactly one data file and one
    lineage file per snapshot, holding the rows extract_payloads
    yields; --input --buckets 4 commits at most one data file per
    bucket= directory, and --compact keeps that layout. Every data and
    lineage file the commits and the compaction write is in the sink's
    page layout: zstd, no dictionary page, delta-encoded span
    offsets."""
    import collections

    from pyspark.sql import functions as F

    from pdfspark.sinks.snapshot import _list_data_files, detect_partition_col
    from pdfspark.sources.binary_decode import extract_payloads, read_payloads

    def snapshot_files(table):
        return [_list_data_files(os.path.join(table, s), table)
                for s in committed_snapshots(table)]

    def multiset(rows):
        return collections.Counter(
            (r.doc_id, r.status, tuple(tuple(s) for s in r.spans))
            for r in rows)

    pdir = os.path.join(fixture_dir, "payloads")
    want = multiset(extract_payloads(read_payloads(spark, pdir)).collect())
    for mode, argv in (
            ("payloads", ["--payloads", pdir]),
            ("stream", ["--stream-payloads", pdir,
                        "--checkpoint", str(tmp_path / "ck")])):
        out, met = str(tmp_path / f"{mode}_out"), str(tmp_path / f"{mode}_met")
        assert main(argv + ["--output", out, "--metrics", met]) == 0
        for table in (out, met):
            files = snapshot_files(table)
            assert [len(f) for f in files] == [1], (mode, table, files)
        _assert_sink_layout(out, met)
        assert multiset(_read_out(spark, out).collect()) == want, mode

    def files_per_bucket(table):
        counts = collections.Counter()
        for files in snapshot_files(table):
            for f in files:
                (bucket,) = [p for p in f.split(os.sep)
                             if p.startswith("bucket=")]
                counts[(f.split(os.sep)[0], bucket)] += 1
        return counts

    docs = spark.read.parquet(os.path.join(fixture_dir,
                                           "documents_in.parquet"))
    out, met = str(tmp_path / "bucketed"), str(tmp_path / "bucketed_met")
    for half in range(2):
        p = str(tmp_path / f"half{half}")
        docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == half) \
            .write.parquet(p)
        assert main(["--input", p, "--output", out, "--metrics", met,
                     "--buckets", "4"]) == 0
    assert len(committed_snapshots(out)) == 2
    assert max(files_per_bucket(out).values()) == 1
    assert detect_partition_col(out) == "bucket"
    _assert_sink_layout(out, met)

    assert main(["--compact", "--output", out, "--metrics", met]) == 0
    assert len(committed_snapshots(out)) == len(committed_snapshots(met)) == 1
    assert detect_partition_col(out) == "bucket"
    assert max(files_per_bucket(out).values()) == 1
    assert _read_out(spark, out).count() == docs.count()
    _assert_sink_layout(out, met)


@pytest.fixture(scope="module")
def input_commit(fixture_dir, tmp_path_factory):
    """One plain ``--input --metrics`` commit of the tier-1 fixture
    (no --geom, no --buckets): (output, metrics)."""
    d = tmp_path_factory.mktemp("input_commit")
    out, met = str(d / "out"), str(d / "metrics")
    assert main(["--input", os.path.join(fixture_dir, "documents_in.parquet"),
                 "--output", out, "--metrics", met]) == 0
    return out, met


def test_committed_layout_reads_identically_everywhere(spark, input_commit):
    """The sink's DataPageV2 delta encodings are acceptable only while
    every parquet reader in the repo decodes them: Spark with the
    vectorized (flat and nested) reader on and then off, pyarrow and
    DuckDB read the same rows from the committed data and lineage
    tables."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = ("spark.sql.parquet.enableVectorizedReader",
            "spark.sql.parquet.enableNestedColumnVectorizedReader")
    saved = {k: spark.conf.get(k) for k in keys}
    for table in input_commit:
        files = _committed_files(table)
        reads = {}
        try:
            for flag in ("true", "false"):
                for k in keys:
                    spark.conf.set(k, flag)
                df = _read_out(spark, table)
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert f"Batched: {flag}" in plan, (flag, plan)
                reads[f"spark vectorized={flag}"] = [
                    r.asDict(recursive=True) for r in df.collect()]
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        reads["pyarrow"] = pa.concat_tables(
            pq.read_table(f) for f in files).to_pylist()
        con = duckdb.connect()
        try:
            reads["duckdb"] = con.read_parquet(files).arrow().to_pylist()
        finally:
            con.close()
        canon = {k: sorted(v, key=repr) for k, v in reads.items()}
        want = canon.pop("spark vectorized=true")
        assert want
        for reader, got in canon.items():
            assert got == want, (table, reader)


# data bytes of the plain --input commit of the tier-1 fixture in the
# sink's page layout (39,076 B on the local[4] test session) plus 5%.
# The layout before it (v1 pages, dictionaries, zstd's default level)
# writes 44,436 B, and v1 pages without dictionaries at level 9 41,675 B.
INPUT_COMMIT_MAX_BYTES = 41_029


def test_input_commit_stays_under_its_byte_ceiling(input_commit):
    """A change that reverts the sink's page layout, or otherwise grows
    the committed bytes, fails here before the benchmark sees it."""
    out, _ = input_commit
    n = sum(os.path.getsize(f) for f in _committed_files(out))
    assert n <= INPUT_COMMIT_MAX_BYTES, n


def test_input_lineage_totals_match_the_committed_rows(spark, fixture_dir,
                                                      input_commit):
    """The --input lineage rows, counted by the fold's tasks, add up to
    the committed rows: one doc per committed row, their spans, and the
    span text of their input documents; one row per partition id."""
    import pyarrow.parquet as pq

    out, met = input_commit
    lin = _read_out(spark, met).collect()
    rows = _read_out(spark, out).collect()
    docs = pq.read_table(os.path.join(fixture_dir, "documents_in.parquet"),
                         columns=["spans"]).to_pylist()
    assert len({r.partition_id for r in lin}) == len(lin)
    assert sum(r.doc_count for r in lin) == len(rows) == len(docs)
    assert sum(r.spans_out for r in lin) == sum(len(r.spans) for r in rows)
    assert sum(r.bytes_in for r in lin) == sum(
        len(s["text"] or "") for d in docs for s in d["spans"] or [])
    assert all(r.wall_ms > 0 for r in lin)


def test_payloads_partial_resume_lineage_counts_the_fold(spark, tmp_path):
    """Under --payloads --resume the resume anti-join runs after the
    fold (doc_ids exist only after decode), and the lineage describes
    the fold's tasks: a rerun over a directory half of which is
    committed commits only the new half, while its lineage counts
    every payload the fold decoded, the skipped ones included."""
    import json
    import shutil

    from pdfspark.sinks.snapshot import _read_snapshot

    pdir, first = str(tmp_path / "payloads"), str(tmp_path / "first")
    os.makedirs(pdir)
    os.makedirs(first)
    sizes = {}
    for i in range(6):
        body = json.dumps(dict(doc_id=f"json-r{i}", spans=[
            dict(kind="TextBox", text=f"{i + 1}. Heading {i}",
                 media_ref=None, offset=0)])).encode("utf-8")
        sizes[i] = len(f"{i + 1}. Heading {i}")
        with open(os.path.join(pdir, f"json-r{i}.bin"), "wb") as fh:
            fh.write(body)
        if i < 3:
            shutil.copy(os.path.join(pdir, f"json-r{i}.bin"), first)
    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    assert main(["--payloads", first, "--output", out,
                 "--metrics", met]) == 0
    assert main(["--payloads", pdir, "--output", out, "--metrics", met,
                 "--resume"]) == 0
    snaps = committed_snapshots(out)
    assert committed_snapshots(met) == snaps and len(snaps) == 2
    data = _read_snapshot(spark, out, snaps[1]).collect()
    lin = _read_snapshot(spark, met, snaps[1]).collect()
    assert sorted(r.doc_id for r in data) == [f"json-r{i}" for i in (3, 4, 5)]
    assert sum(r.doc_count for r in lin) == 6
    assert sum(r.bytes_in for r in lin) == sum(sizes.values())
    assert all(r.wall_ms > 0 for r in lin)


def test_job_html_mode_blocks_resume_and_metrics(spark, tmp_path):
    """--html mode: a directory of .html pages in, snapshot-committed
    classified block rows out, doc_id = filename stem. Block verdicts
    must equal the Spark-free domseg kernel; --resume must be
    exactly-once (new file only); metrics rows carry doc/byte/block
    counts."""
    import os as _os

    from pdfspark.functions.domseg import extract_blocks

    hdir = str(tmp_path / "html")
    _os.makedirs(hdir)
    pages = {
        "page-a": ("<nav><a href='/'>Home</a> <a href='/b'>B</a></nav>"
                   "<p>" + " ".join(f"w{i}" for i in range(25)) + "</p>"),
        "page-b": ("<article><h1>Title Words Here</h1><p>"
                   + " ".join(f"x{i}" for i in range(30))
                   + "</p></article><footer><p>legal legal legal legal "
                   "legal legal</p></footer>"),
    }
    for name, html in pages.items():
        with open(_os.path.join(hdir, f"{name}.html"), "w") as fh:
            fh.write(html)
    with open(_os.path.join(hdir, "notes.txt"), "w") as fh:
        fh.write("not html, must be glob-filtered out")

    out = str(tmp_path / "blocks_out")
    met = str(tmp_path / "blocks_metrics")
    # 3 Spark jobs: the page kernel with the commit's rebalance, the
    # data write and the lineage write (the stem-collision check reads
    # the driver's file listing)
    rc, n_jobs = _run_counting_jobs(
        spark, f"{tmp_path.name}-html",
        ["--html", hdir, "--output", out, "--metrics", met])
    assert rc == 0
    assert n_jobs == 3

    got = {}
    for r in _read_out(spark, out).collect():
        got.setdefault(r.doc_id, []).append(r)
    assert set(got) == set(pages)
    for doc_id, html in pages.items():
        exp = extract_blocks(html)
        rows = sorted(got[doc_id], key=lambda r: r.block_id)
        assert [(r.tag, r.n_words, r.is_content, r.text) for r in rows] \
            == [(b.tag, b.n_words, b.is_content, b.text) for b in exp]

    m = _read_out(spark, met).collect()
    n_blocks = sum(len(v) for v in got.values())
    assert sum(r.doc_count for r in m) == 2
    assert sum(r.spans_out for r in m) == n_blocks
    assert sum(r.bytes_in for r in m) == sum(
        len(h.encode()) for h in pages.values())
    # the page kernel's own tasks counted it: each row names one of
    # them and carries their time
    par = spark.sparkContext.defaultParallelism
    assert all(0 <= r.partition_id < par for r in m), m
    assert all(r.wall_ms is not None and r.wall_ms >= 0 for r in m), m

    # resume: add one page, rerun — only the new doc's blocks append
    with open(_os.path.join(hdir, "page-c.html"), "w") as fh:
        fh.write("<p>" + " ".join(f"y{i}" for i in range(20)) + "</p>")
    rc = main(["--html", hdir, "--output", out, "--metrics", met,
               "--resume"])
    assert rc == 0
    after = _read_out(spark, out).collect()
    assert len(after) == n_blocks + 1
    assert sum(1 for r in after if r.doc_id == "page-c") == 1


def test_job_html_mode_quarantine_and_zero_block_resume(spark, tmp_path):
    """F4 semantics for --html: a non-UTF-8 page must not kill the
    stage (Spark 4 ANSI decode would) and a zero-block page must
    still COMMIT a sentinel row — otherwise --resume re-admits it
    forever and its lineage double-counts in --metrics on every
    rerun. --buckets must partition this mode too."""
    import os as _os

    hdir = str(tmp_path / "html")
    _os.makedirs(hdir)
    with open(_os.path.join(hdir, "good.html"), "w") as fh:
        fh.write("<p>" + " ".join(f"w{i}" for i in range(25)) + "</p>")
    # latin-1 bytes: invalid UTF-8 -> NULL html -> zero blocks
    with open(_os.path.join(hdir, "latin1.html"), "wb") as fh:
        fh.write(b"<p>caf\xe9 r\xe9sum\xe9</p>")
    # valid UTF-8 but script-only body: segments to zero blocks
    with open(_os.path.join(hdir, "empty.html"), "w") as fh:
        fh.write("<script>var x = 1;</script>")

    out = str(tmp_path / "q_out")
    met = str(tmp_path / "q_met")
    rc = main(["--html", hdir, "--output", out, "--metrics", met,
               "--buckets", "4"])
    assert rc == 0

    rows = _read_out(spark, out).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {"good", "latin1", "empty"}
    # the degenerate pages committed exactly one sentinel row each
    for d in ("latin1", "empty"):
        (s,) = by_doc[d]
        assert (s.block_id, s.tag, s.n_words, s.is_content) \
            == (-1, "_empty", 0, False)
    assert all(r.bucket is not None for r in rows)

    m1 = _read_out(spark, met).collect()
    m1_docs = sum(r.doc_count for r in m1)
    assert m1_docs == 3
    # lineage counts every committed row, the sentinels included: a
    # sentinel counts under its own page's partition id
    assert sum(r.spans_out for r in m1) == len(rows)

    # resume with nothing new: no re-scan, no metrics double count
    rc = main(["--html", hdir, "--output", out, "--metrics", met,
               "--buckets", "4", "--resume"])
    assert rc == 0
    assert len(_read_out(spark, out).collect()) == len(rows)
    m2_docs = sum(r.doc_count for r in _read_out(spark, met).collect())
    assert m2_docs == 3, "zero-block pages must not re-admit on resume"


def test_manifest_torn_write_guard_and_tmp_gc(spark, job_paths, tmp_path):
    """A power loss can surface an empty/truncated manifest (before
    the fsync fix) — reading one must raise loudly, never pass as the
    manifest of a snapshot dir whose commit never completed.
    gc_orphans must also sweep the hidden .tmp manifest a crash inside
    _publish leaves behind."""
    import os as _os
    import time as _time

    from pdfspark.sinks.snapshot import (
        _manifest_files, committed_snapshots, gc_orphans)

    out = job_paths["output"]
    snaps = committed_snapshots(out)
    assert snaps
    mdir = _os.path.join(out, "_manifests")
    # torn manifest: truncate to zero bytes
    torn = _os.path.join(mdir, "snap-torn.manifest")
    with open(torn, "w"):
        pass
    with pytest.raises(ValueError, match="corrupt manifest"):
        _manifest_files(out, "snap-torn")
    _os.remove(torn)
    # a real manifest still parses
    assert _manifest_files(out, snaps[0]) is not None

    # crash-orphaned tmp manifest: swept once past the grace period
    tmp = _os.path.join(mdir, ".snap-crash.tmp")
    with open(tmp, "w") as fh:
        fh.write("snap-crash\n")
    old = _time.time() - 7200
    _os.utime(tmp, (old, old))
    n = gc_orphans(out, grace_s=3600)
    assert not _os.path.exists(tmp) and n >= 1


def test_compact_snapshots_rewrites_without_row_change(spark, tmp_path):
    """Compaction (the rewrite_data_files analogue): N append
    snapshots collapse into one snapshot of exactly n_files files (the
    append path's rebalance must not resize it), rows and values
    bit-identical, inputs reclaimed, later appends untouched. Two
    inputs are hand-published in older layouts of the sink: a snappy
    snapshot, as committed before the sink wrote zstd, and a zstd one
    with v1 pages and dictionary encoding, as committed before the
    sink set its page layout. The mixed table reads as one, and
    compaction rewrites both into the sink's layout: zstd, no
    dictionary page, delta-encoded columns."""
    import glob

    from pdfspark.sinks.snapshot import (
        _publish,
        commit_append,
        committed_snapshots,
        compact_snapshots,
        read_committed,
    )

    schema = "doc_id string, v int"
    for n_files in (1, 2):
        out = str(tmp_path / f"tbl{n_files}")
        rows = []
        for i in range(4):
            batch = [(f"d{i}{j}", i * 10 + j) for j in range(5)]
            rows += batch
            commit_append(spark.createDataFrame(batch, schema), out)
        # hand-published in the sink's layout: a <snap> dir and a bare
        # manifest. The v1 batch repeats one v, so its dictionary pays
        # and parquet-mr keeps it.
        for old, batch, options in (
                ("snap-0-snappy", [(f"s{j}", 100 + j) for j in range(5)],
                 {"compression": "snappy"}),
                ("snap-1-v1dict", [(f"o{j}", 200) for j in range(5)],
                 {"compression": "zstd", "parquet.writer.version": "v1",
                  "parquet.enable.dictionary": "true"})):
            rows += batch
            spark.createDataFrame(batch, schema).write.options(**options) \
                .parquet(os.path.join(out, old))
            _publish(out, old)
        before = sorted(read_committed(spark, out).collect())
        assert [tuple(r) for r in before] == sorted(rows)
        assert len(committed_snapshots(out)) == 6
        files_before = glob.glob(f"{out}/**/*.parquet", recursive=True)
        codecs, dict_pages, _ = _parquet_layout(files_before)
        assert (codecs, dict_pages) == ({"SNAPPY", "ZSTD"}, True)

        snap = compact_snapshots(spark, out, n_files=n_files)
        assert snap is not None
        assert committed_snapshots(out) == [snap]
        assert sorted(read_committed(spark, out).collect()) == before
        files_after = glob.glob(f"{out}/**/*.parquet", recursive=True)
        assert len(files_after) < len(files_before)
        assert len(files_after) == n_files, n_files
        codecs, dict_pages, enc = _parquet_layout(files_after)
        assert (codecs, dict_pages) == ({"ZSTD"}, False)
        assert enc == {"doc_id": {"DELTA_BYTE_ARRAY"},
                       "v": {"DELTA_BINARY_PACKED"}}

    # idempotent: a second run finds < min_snapshots inputs
    assert compact_snapshots(spark, out) is None

    # appends after compaction coexist with the compacted snapshot
    commit_append(
        spark.createDataFrame([("late", 99)], "doc_id string, v int"),
        out)
    got = sorted(read_committed(spark, out).collect())
    assert len(got) == len(before) + 1


def test_compact_crash_before_publish_changes_nothing(spark, tmp_path,
                                                      monkeypatch):
    """Die after the compacted data is staged but before its manifest
    publishes: readers still see exactly the original snapshots, and
    a retry completes."""
    import pdfspark.sinks.snapshot as S

    out = str(tmp_path / "tbl")
    for i in range(3):
        S.commit_append(
            spark.createDataFrame([(f"d{i}", i)], "doc_id string, v int"),
            out)
    before = sorted(S.read_committed(spark, out).collect())
    snaps_before = S.committed_snapshots(out)

    real_publish = S._publish

    def die(*a, **kw):
        raise RuntimeError("crash before compaction commit")

    monkeypatch.setattr(S, "_publish", die)
    with pytest.raises(RuntimeError):
        S.compact_snapshots(spark, out)
    monkeypatch.setattr(S, "_publish", real_publish)

    assert S.committed_snapshots(out) == snaps_before
    assert sorted(S.read_committed(spark, out).collect()) == before
    snap = S.compact_snapshots(spark, out)
    assert S.committed_snapshots(out) == [snap]
    assert sorted(S.read_committed(spark, out).collect()) == before


def test_compact_lock_takeover_blocks_publish(spark, tmp_path,
                                             monkeypatch):
    """A compactor that loses its lock mid-rewrite (paused past the
    TTL, another compactor took over) must not publish: readers still
    see exactly the original snapshots, and the new holder's lock
    stays in place."""
    import pdfspark.sinks.snapshot as S

    out = str(tmp_path / "tbl")
    for i in range(3):
        S.commit_append(
            spark.createDataFrame([(f"d{i}", i)], "doc_id string, v int"),
            out)
    before = sorted(S.read_committed(spark, out).collect())
    snaps_before = S.committed_snapshots(out)
    lock = os.path.join(out, S.MANIFEST_DIR, ".maintenance.lock")
    real_stage = S._stage_snapshot

    def stage_then_taken_over(*a, **kw):
        files = real_stage(*a, **kw)
        with open(lock, "w", encoding="utf-8") as fh:
            fh.write("foreign-token")
        return files

    monkeypatch.setattr(S, "_stage_snapshot", stage_then_taken_over)
    with pytest.raises(RuntimeError, match="taken over"):
        S.compact_snapshots(spark, out)

    assert S.committed_snapshots(out) == snaps_before
    assert sorted(S.read_committed(spark, out).collect()) == before
    with open(lock, encoding="utf-8") as fh:
        assert fh.read() == "foreign-token"


def test_compact_crash_mid_cleanup_heals(spark, tmp_path, monkeypatch):
    """Die right AFTER the compacted manifest publishes (cleanup never
    runs): readers see only the compacted snapshot — never doubles —
    and the next maintenance pass reclaims the superseded debris."""
    import pdfspark.sinks.snapshot as S

    out = str(tmp_path / "tbl")
    for i in range(3):
        S.commit_append(
            spark.createDataFrame([(f"d{i}", i)], "doc_id string, v int"),
            out)
    before = sorted(S.read_committed(spark, out).collect())

    real_cleanup = S._cleanup_superseded
    calls = {"n": 0}

    def crash_second(output):
        # first call (pre-rewrite) runs; the post-publish one dies
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("crash mid cleanup")
        return real_cleanup(output)

    monkeypatch.setattr(S, "_cleanup_superseded", crash_second)
    with pytest.raises(RuntimeError):
        S.compact_snapshots(spark, out)
    monkeypatch.setattr(S, "_cleanup_superseded", real_cleanup)

    # the commit already happened: exactly one visible snapshot, no
    # row doubled, even though 3 superseded manifests are still on disk
    live = S.committed_snapshots(out)
    assert len(live) == 1
    assert sorted(S.read_committed(spark, out).collect()) == before
    # next maintenance pass reclaims them
    assert S._cleanup_superseded(out) == 3
    assert sorted(S.read_committed(spark, out).collect()) == before


def test_job_compact_mode_end_to_end(spark, fixture_dir, tmp_path):
    """--compact via the spark-submit CLI: two half-corpus runs build
    two snapshots each for data and metrics; maintenance rewrites
    them to one snapshot per table preserving every row AND the
    bucket partition layout; a --resume run after compaction still
    sees all doc_ids committed (writes nothing)."""
    import glob
    import json

    from pdfspark.sinks.snapshot import committed_snapshots

    inp = os.path.join(fixture_dir, "documents_in.parquet")
    geom = os.path.join(fixture_dir, "spans_geom.parquet")
    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    full = spark.read.parquet(inp)
    ids = sorted(r.doc_id for r in full.select("doc_id").collect())
    half = ids[len(ids) // 2]
    for lo, hi in ((None, half), (half, None)):
        part = full
        if hi:
            part = part.filter(f"doc_id < '{hi}'")
        if lo:
            part = part.filter(f"doc_id >= '{lo}'")
        p = str(tmp_path / f"in_{lo or 'a'}")
        part.write.mode("overwrite").parquet(p)
        rc = main(["--input", p, "--geom", geom, "--output", out,
                   "--metrics", met, "--buckets", "4"])
        assert rc == 0
    assert len(committed_snapshots(out)) == 2
    assert len(committed_snapshots(met)) == 2
    before = sorted(_read_out(spark, out).select("doc_id").collect())

    # NO --buckets here: the layout is detected from the snapshot
    # dirs — re-passing the flag must not be required to keep it
    rc = main(["--compact", "--output", out, "--metrics", met])
    assert rc == 0
    assert len(committed_snapshots(out)) == 1
    assert len(committed_snapshots(met)) == 1
    assert sorted(_read_out(spark, out)
                  .select("doc_id").collect()) == before
    # bucket partition dirs survived the rewrite
    snap = committed_snapshots(out)[0]
    assert glob.glob(os.path.join(out, snap, "bucket=*")), \
        "compaction dropped the bucket partition layout"

    # post-compaction resume: everything already committed -> no new
    # snapshot
    rc = main(["--input", inp, "--geom", geom, "--output", out,
               "--metrics", met, "--buckets", "4", "--resume"])
    assert rc == 0
    assert len(committed_snapshots(out)) == 1


def test_compact_preserves_idempotent_replay_and_aux_heal(spark, tmp_path):
    """The two review-found crash×maintenance interactions:

    (1) exactly-once survives compaction: a deterministic snap_id
    committed pre-compaction must still no-op when replayed AFTER the
    per-epoch manifest was superseded and deleted — transitively,
    through a second compaction too.
    (2) a data-committed/aux-unmanifested crash must still heal via
    reconcile_aux after the data table was compacted without the
    metrics table (the '--compact without --metrics' window)."""
    import pdfspark.sinks.snapshot as S

    out, met = str(tmp_path / "out"), str(tmp_path / "met")

    def df(tag):
        return spark.createDataFrame([(tag, 1)], "doc_id string, v int")

    # three epoch-style deterministic commits, the last with aux whose
    # manifest we strip (simulating the crash between the publishes)
    for e in range(2):
        S.commit_append(df(f"e{e}"), out, snap_id=f"snap-epoch{e}-aa")
    S.commit_append(df("e2"), out, aux=[(lambda: df("m2"), met)],
                    snap_id="snap-epoch2-aa")
    os.remove(os.path.join(met, S.MANIFEST_DIR, "snap-epoch2-aa.manifest"))
    assert S.read_committed(spark, met) is None  # aux invisible

    # compact the DATA table only (no metrics passed)
    c1 = S.compact_snapshots(spark, out)
    assert S.committed_snapshots(out) == [c1]

    # (1) replaying any pre-compaction epoch is a no-op
    for e in range(3):
        sid = f"snap-epoch{e}-aa"
        assert S.commit_append(df("dup"), out, snap_id=sid) == sid
    assert S.read_committed(spark, out).count() == 3

    # ... and transitively through a second compaction
    S.commit_append(df("e3"), out, snap_id="snap-epoch3-aa")
    c2 = S.compact_snapshots(spark, out)
    assert S.committed_snapshots(out) == [c2]
    assert (S.commit_append(df("dup"), out, snap_id="snap-epoch0-aa")
            == "snap-epoch0-aa")
    assert S.read_committed(spark, out).count() == 4

    # (2) the orphaned aux data still heals: the superseded id is
    # carried in the compacted manifest, so reconcile finds it
    assert S.reconcile_aux(out, [met]) == 1
    assert [r.doc_id for r in S.read_committed(spark, met).collect()] \
        == ["m2"]


def test_detect_partition_col(spark, tmp_path):
    from pdfspark.sinks.snapshot import (
        commit_append,
        compact_snapshots,
        detect_partition_col,
    )

    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    df = spark.createDataFrame([("a", 0), ("b", 1)],
                               "doc_id string, bucket int")
    commit_append(df, flat)
    commit_append(df, part, partition_by="bucket")
    assert detect_partition_col(flat) is None
    assert detect_partition_col(part) == "bucket"
    assert detect_partition_col(str(tmp_path / "missing")) is None
    # mixed layout refuses rather than guessing
    commit_append(df, part)  # unpartitioned snapshot into same table
    with pytest.raises(ValueError, match="disagree"):
        detect_partition_col(part)
    # compaction of the consistent table keeps the layout end-to-end
    snap = compact_snapshots(spark, flat, min_snapshots=1)
    assert snap is not None and detect_partition_col(flat) is None


def test_compact_preserves_schema_evolution(spark, tmp_path):
    """Snapshots may disagree on columns (schema evolution across
    ingest versions); read_committed unions with allowMissingColumns
    and compaction must carry the WIDEST schema through the rewrite —
    dropping the new column would be silent data loss."""
    import pdfspark.sinks.snapshot as S

    out = str(tmp_path / "tbl")
    S.commit_append(
        spark.createDataFrame([("a", 1)], "doc_id string, v int"), out)
    S.commit_append(
        spark.createDataFrame([("b", 2, "en")],
                              "doc_id string, v int, lang string"), out)
    got = {r.doc_id: r.asDict() for r in S.read_committed(spark, out).collect()}
    assert got["a"]["lang"] is None and got["b"]["lang"] == "en"

    snap = S.compact_snapshots(spark, out)
    assert snap is not None
    after = {r.doc_id: r.asDict()
             for r in S.read_committed(spark, out).collect()}
    assert after == got


def test_compaction_maintenance_lock(spark, tmp_path, monkeypatch):
    """Single-maintenance-writer enforcement: a fresh lock makes a
    second compactor raise; a stale lock (crashed holder) is taken
    over; the lock is released on success AND on failure."""
    import pdfspark.sinks.snapshot as S

    out = str(tmp_path / "tbl")
    for i in range(2):
        S.commit_append(
            spark.createDataFrame([(f"d{i}", i)], "doc_id string, v int"),
            out)
    lock = os.path.join(out, S.MANIFEST_DIR, ".maintenance.lock")

    # fresh foreign lock -> refuse
    with open(lock, "w") as fh:
        fh.write("9999 0\n")
    with pytest.raises(ValueError, match="maintenance lock held"):
        S.compact_snapshots(spark, out)
    # stale lock -> taken over, compaction proceeds, lock released
    old = os.path.getmtime(lock) - 7200
    os.utime(lock, (old, old))
    snap = S.compact_snapshots(spark, out)
    assert snap is not None and not os.path.exists(lock)

    # a failure INSIDE the locked section (the rewrite's data write
    # dies) still releases the lock, and changes nothing
    S.commit_append(
        spark.createDataFrame([("x", 9)], "doc_id string, v int"), out)
    snaps_before = S.committed_snapshots(out)
    rows_before = sorted(S.read_committed(spark, out).collect())

    def dying_stage(*a, **kw):
        assert os.path.exists(lock)  # really inside the locked section
        raise RuntimeError("simulated crash during the compaction write")

    monkeypatch.setattr(S, "_stage_snapshot", dying_stage)
    with pytest.raises(RuntimeError, match="compaction write"):
        S.compact_snapshots(spark, out)
    monkeypatch.undo()
    assert not os.path.exists(lock)
    assert S.committed_snapshots(out) == snaps_before
    assert sorted(S.read_committed(spark, out).collect()) == rows_before
    assert S.compact_snapshots(spark, out) is not None


def test_maintenance_lock_ownership_and_heartbeat(tmp_path):
    """Lock internals (review findings): release is ownership-checked
    (a foreign token's lock is never removed), stale takeover is an
    atomic rename (a lost race falls through to the fresh-lock error),
    and the heartbeat keeps a live holder's mtime fresh so a long
    compaction is never mistaken for a crashed one."""
    import time as _time

    import pdfspark.sinks.snapshot as S

    out = str(tmp_path / "tbl")
    lock, token = S._acquire_maintenance_lock(out, ttl_s=3600)
    # foreign-token release must NOT strip the holder's lock
    S._release_maintenance_lock(lock, "not-the-token")
    assert os.path.exists(lock)
    # owner release removes it
    S._release_maintenance_lock(lock, token)
    assert not os.path.exists(lock)

    # heartbeat refreshes mtime faster than the ttl
    lock, token = S._acquire_maintenance_lock(out, ttl_s=4)
    old_m = os.path.getmtime(lock)
    os.utime(lock, (old_m - 10, old_m - 10))
    stop = S._start_lock_heartbeat(lock, ttl_s=4)
    try:
        _time.sleep(1.6)
        assert os.path.getmtime(lock) > old_m - 10
    finally:
        stop.set()
        S._release_maintenance_lock(lock, token)

    # fresh foreign lock: acquisition raises (no takeover)
    with open(os.path.join(out, S.MANIFEST_DIR, ".maintenance.lock"),
              "w") as fh:
        fh.write("foreign")
    with pytest.raises(ValueError, match="maintenance lock held"):
        S._acquire_maintenance_lock(out, ttl_s=3600)


def test_job_stream_payloads_mode(spark, fixture_dir, tmp_path):
    """--stream-payloads via the CLI: drains the backlog through the
    checkpointed streaming decode+fold with exactly-once snapshot
    output; a re-run with no new files commits nothing; a new file
    appears as exactly one more doc; --compact then folds the
    per-batch snapshots."""
    import shutil

    from pdfspark.sinks.snapshot import committed_snapshots

    src = os.path.join(fixture_dir, "payloads")
    pdir = str(tmp_path / "arrivals")
    os.makedirs(pdir)
    names = sorted(os.listdir(src))
    for n in names:
        shutil.copy(os.path.join(src, n), pdir)
    out, met, cp = (str(tmp_path / p) for p in ("out", "met", "cp"))

    rc = main(["--stream-payloads", pdir, "--output", out,
               "--metrics", met, "--checkpoint", cp,
               "--max-files-per-trigger", str(max(1, len(names) // 3))])
    assert rc == 0
    o = _read_out(spark, out)
    assert o.select("doc_id").distinct().count() == len(names)
    n_snaps = len(committed_snapshots(out))
    assert n_snaps >= 2  # throttled into multiple micro-batches
    assert committed_snapshots(met) == committed_snapshots(out)

    # idle re-run: nothing new, no new snapshots
    rc = main(["--stream-payloads", pdir, "--output", out,
               "--metrics", met, "--checkpoint", cp])
    assert rc == 0
    assert len(committed_snapshots(out)) == n_snaps

    # late arrival processed exactly once
    shutil.copy(os.path.join(src, names[0]),
                os.path.join(pdir, "late_arrival.bin"))
    rc = main(["--stream-payloads", pdir, "--output", out,
               "--metrics", met, "--checkpoint", cp])
    assert rc == 0
    assert _read_out(spark, out).count() == len(names) + 1

    # maintenance composes
    rc = main(["--compact", "--output", out, "--metrics", met])
    assert rc == 0
    assert len(committed_snapshots(out)) == 1
    assert _read_out(spark, out).count() == len(names) + 1

    # guard rails
    with pytest.raises(SystemExit):
        main(["--stream-payloads", pdir, "--output", out])  # no checkpoint
    with pytest.raises(SystemExit):
        main(["--stream-payloads", pdir, "--input", "x",
              "--output", out, "--checkpoint", cp])  # two inputs


def test_job_html_mode_accepts_htm_extension(spark, tmp_path):
    """Real page corpora mix .html and .htm; both land with clean
    doc_ids (the old single-extension glob silently skipped .htm)."""
    d = str(tmp_path / "pages")
    os.makedirs(d)
    for name in ("alpha.html", "bravo.htm"):
        with open(os.path.join(d, name), "w") as fh:
            fh.write("<html><body><p>Real paragraph text with many "
                     "words in it for the stump.</p></body></html>")
    out = str(tmp_path / "out")
    rc = main(["--html", d, "--output", out])
    assert rc == 0
    ids = {r.doc_id for r in
           _read_out(spark, out).select("doc_id").collect()}
    assert ids == {"alpha", "bravo"}


def test_job_html_mode_rejects_stem_collisions(spark, tmp_path):
    """alpha.html + alpha.htm map to one doc_id; merging them would be
    silent (and --resume would drop the late twin forever) — the job
    must fail loudly instead."""
    d = str(tmp_path / "pages")
    os.makedirs(d)
    for name in ("alpha.html", "alpha.htm"):
        with open(os.path.join(d, name), "w") as fh:
            fh.write("<html><body><p>text words here</p></body></html>")
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        main(["--html", d, "--output", str(tmp_path / "out")])


def test_job_html_mode_names_collisions_by_unquoted_stem(spark, tmp_path):
    """The collision check reads stems from the file listing, whose URIs
    percent-encode `a b.html` as `a%20b.html`: the stems are compared
    and reported as the doc_id the path column gives (`a b`)."""
    d = str(tmp_path / "pages")
    os.makedirs(d)
    for name in ("a b.html", "a b.htm", "a%20b.html"):
        with open(os.path.join(d, name), "w") as fh:
            fh.write("<html><body><p>text words here</p></body></html>")
    with pytest.raises(ValueError, match=r"duplicate doc_ids.*\['a b'\]"):
        main(["--html", d, "--output", str(tmp_path / "out")])


def test_job_stream_payloads_flag_guards(tmp_path):
    """No silent no-ops on the stream surface: empty input string,
    --buckets and --resume are usage errors, and the removed
    --commit-protocol flag is rejected."""
    import pytest as _pytest

    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    with _pytest.raises(SystemExit):
        main(["--stream-payloads", "", "--checkpoint", cp,
              "--output", out])
    with _pytest.raises(SystemExit):
        main(["--stream-payloads", str(tmp_path), "--checkpoint", cp,
              "--output", out, "--buckets", "4"])
    with _pytest.raises(SystemExit):
        main(["--stream-payloads", str(tmp_path), "--checkpoint", cp,
              "--output", out, "--resume"])
    # the single commit protocol has no flag left to pick it
    with _pytest.raises(SystemExit):
        main(["--stream-payloads", str(tmp_path), "--checkpoint", cp,
              "--output", out, "--commit-protocol", "rename"])


def test_snapshot_table_random_op_sequences_preserve_rows(spark, tmp_path):
    """Model-based check over the storage layer: a seeded random
    sequence of appends, compactions, crash-injected appends (die
    before manifest), crash-injected compactions (die before publish
    / after publish) and gc passes must keep read_committed exactly
    equal to the Python-side model multiset after every SUCCESSFUL
    operation — no op order may lose or double rows."""
    import random

    import pdfspark.sinks.snapshot as S

    rng = random.Random(0x5EED5)
    out = str(tmp_path / "tbl")
    model: list[tuple] = []
    seq = 0
    real_publish = S._publish

    def rows(n):
        nonlocal seq
        out_rows = [(f"d{seq}_{i}", seq * 100 + i) for i in range(n)]
        seq += 1
        return out_rows

    for step in range(14):
        op = rng.choice(["append", "append", "append", "compact",
                         "crash_append", "crash_compact_pre",
                         "crash_compact_post", "gc"])
        if op == "append":
            data = rows(rng.randint(1, 4))
            S.commit_append(
                spark.createDataFrame(data, "doc_id string, v int"), out)
            model.extend(data)
        elif op == "compact":
            S.compact_snapshots(spark, out, min_snapshots=1)
        elif op == "crash_append":
            data = rows(2)
            S._publish = lambda *a, **k: (_ for _ in ()).throw(
                RuntimeError("die"))
            try:
                with pytest.raises(RuntimeError):
                    S.commit_append(
                        spark.createDataFrame(data,
                                              "doc_id string, v int"), out)
            finally:
                S._publish = real_publish
            # crashed before its manifest: must NOT appear in reads
        elif op == "crash_compact_pre":
            S._publish = lambda *a, **k: (_ for _ in ()).throw(
                RuntimeError("die"))
            try:
                if S.committed_snapshots(out):
                    with pytest.raises(RuntimeError):
                        S.compact_snapshots(spark, out, min_snapshots=1)
            finally:
                S._publish = real_publish
        elif op == "crash_compact_post":
            real_cleanup = S._cleanup_superseded
            calls = {"n": 0}

            def crash_second(o):
                calls["n"] += 1
                if calls["n"] == 2:
                    raise RuntimeError("die post publish")
                return real_cleanup(o)

            S._cleanup_superseded = crash_second
            try:
                if S.committed_snapshots(out):
                    with pytest.raises(RuntimeError):
                        S.compact_snapshots(spark, out, min_snapshots=1)
            finally:
                S._cleanup_superseded = real_cleanup
        elif op == "gc":
            if os.path.isdir(out):
                S.gc_orphans(out, grace_s=0.0)
        got = ([] if S.read_committed(spark, out) is None
               else sorted((r.doc_id, r.v)
                           for r in S.read_committed(spark, out).collect()))
        assert got == sorted(model), f"divergence after step {step} ({op})"


def test_job_fold_modes_persist_nothing(spark, job_paths, fixture_dir,
                                       tmp_path, monkeypatch):
    """The kernel's own tasks count the --metrics lineage, so no job
    mode (--input, --payloads, --stream-payloads, --html) caches a
    frame, with or without --metrics, and none leaves one cached."""
    frame_cls = type(spark.range(1))
    real = frame_cls.persist
    calls = []

    def counting(self, *a, **kw):
        calls.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", counting)
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = set(cached())
    pdir = os.path.join(fixture_dir, "payloads")
    hdir = tmp_path / "html"
    hdir.mkdir()
    for r in spark.read.parquet(
            os.path.join(fixture_dir, "html_pages.parquet")).collect():
        (hdir / f"{r.doc_id}.html").write_text(r.html or "")
    for mode, src in (("--input", job_paths["input"]),
                      ("--payloads", pdir), ("--stream-payloads", pdir),
                      ("--html", str(hdir))):
        for met in ([], ["--metrics"]):
            name = f"{mode.strip('-')}{len(met)}"
            argv = [mode, src, "--output", str(tmp_path / name)]
            argv += [*met, str(tmp_path / f"{name}_met")] if met else []
            if mode == "--stream-payloads":
                argv += ["--checkpoint", str(tmp_path / f"{name}_ck")]
            del calls[:]
            assert main(argv) == 0
            assert calls == [], argv
            assert not set(cached()) - before, argv  # nothing left cached
