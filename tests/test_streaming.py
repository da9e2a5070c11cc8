"""Streaming surface: the stateful applyInPandasWithState sessionizer
and the watermarked window aggregate must equal their batch
equivalents on finite (availableNow) input."""

import os

from pyspark.sql import functions as F

from pdfspark.operators.retrieval import sessionize_events
from pdfspark.streaming.stateful import sessionize_stream
from pdfspark.streaming.windowed import windowed_counts_stream

SF_DIR = "/root/testdata/sf0.001"
EVENTS = os.path.join(SF_DIR, "events.parquet")


def test_stateful_stream_equals_batch_sessionize(spark):
    batch = {
        (r.user_id, r.session_id): (r.n_events, r.start_ts, r.end_ts,
                                    r.total_value)
        for r in sessionize_events(
            spark.read.parquet(EVENTS)
        ).collect()
    }
    stream = {
        (r.user_id, r.session_id): (r.n_events, r.start_ts, r.end_ts,
                                    r.total_value)
        for r in sessionize_stream(spark, EVENTS).collect()
    }
    assert batch == stream


def test_stateful_stream_multibatch_equals_batch(spark, tmp_path):
    """Sessions spanning micro-batches must not double-emit: split the
    events by time into two files, force one file per micro-batch, and
    require exact equality with the batch sessionizer (the cumulative-
    snapshot dedupe in sessionize_stream is what makes this hold)."""
    ev = spark.read.parquet(EVENTS).orderBy("ts", "event_id")
    rows = ev.collect()
    mid_ts = rows[len(rows) // 2].ts
    d = str(tmp_path)
    p0, p1 = os.path.join(d, "part-0.parquet"), os.path.join(d, "part-1.parquet")
    ev.filter(F.col("ts") <= F.lit(mid_ts)).toPandas().to_parquet(
        p0, coerce_timestamps="us")
    ev.filter(F.col("ts") > F.lit(mid_ts)).toPandas().to_parquet(
        p1, coerce_timestamps="us")
    # file source orders micro-batches by mod time: make part-0 older
    os.utime(p0, (1_000_000, 1_000_000))
    os.utime(p1, (2_000_000, 2_000_000))

    batch = {
        (r.user_id, r.session_id): (r.n_events, r.start_ts, r.end_ts,
                                    r.total_value)
        for r in sessionize_events(spark.read.parquet(d)).collect()
    }
    stream_rows = sessionize_stream(
        spark, p0, max_files_per_trigger=1, path_glob="part-*.parquet"
    ).collect()
    stream = {
        (r.user_id, r.session_id): (r.n_events, r.start_ts, r.end_ts,
                                    r.total_value)
        for r in stream_rows
    }
    assert len(stream_rows) == len(stream)  # no duplicate session rows
    assert batch == stream


def test_windowed_stream_equals_batch_groupby(spark):
    ev = spark.read.parquet(EVENTS).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").cast("int").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
        .collect()
    }
    stream = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in windowed_counts_stream(spark, EVENTS).collect()
    }
    assert batch == stream


def test_extract_payload_stream_matches_batch_and_resumes(spark, fixture_dir,
                                                          tmp_path):
    """Streaming ingest: (1) draining a payload backlog produces the
    same folded spans as the batch path, committed as manifested
    snapshots by default; (2) a restart with the same checkpoint
    processes ONLY newly arrived files (exactly-once per file)."""
    import shutil

    from pdfspark.config import ExtractConfig
    from pdfspark.fold import fold_document
    from pdfspark.sinks.snapshot import committed_snapshots, read_committed
    from pdfspark.sources.binary_decode import (
        decode_payloads,
        read_payloads,
    )
    from pdfspark.streaming.extract_stream import extract_payload_stream

    src = os.path.join(fixture_dir, "payloads")
    names = sorted(os.listdir(src))
    first, held_back = names[:-2], names[-2:]
    pdir = str(tmp_path / "payloads")
    os.makedirs(pdir)
    for n in first:
        shutil.copy(os.path.join(src, n), pdir)

    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    extract_payload_stream(spark, pdir, out, cp)
    assert committed_snapshots(out)  # the default output is snapshots
    got1 = {r.doc_id: (r.status, [t.asDict() for t in r.spans])
            for r in read_committed(spark, out).collect()}
    assert len(got1) == len(first)

    # batch equivalence on the same payloads
    batch = decode_payloads(read_payloads(spark, pdir)).collect()
    for b in batch:
        spans = [t.asDict() for t in b.spans]
        if b.status == "ok":
            want = fold_document(spans, "", "", ExtractConfig())
            assert got1[b.doc_id] == (want["status"], want["out_spans"]), b.doc_id
        else:
            assert got1[b.doc_id][0] == "quarantined"

    # late arrivals: restart with same checkpoint processes only them
    for n in held_back:
        shutil.copy(os.path.join(src, n), pdir)
    extract_payload_stream(spark, pdir, out, cp)
    got2 = read_committed(spark, out)
    assert got2.count() == len(names)          # no reprocessing of old files
    assert got2.select("doc_id").distinct().count() == len(names)


def test_extract_payload_stream_metrics(spark, fixture_dir, tmp_path):
    """With metrics: the streaming ingest commits per-batch lineage
    rows whose totals reconcile with the written documents."""
    from pdfspark.sinks.snapshot import read_committed
    from pdfspark.streaming.extract_stream import extract_payload_stream

    src = os.path.join(fixture_dir, "payloads")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    metrics = str(tmp_path / "metrics")
    extract_payload_stream(spark, src, out, cp, metrics_path=metrics,
                           max_files_per_trigger=4)
    docs = read_committed(spark, out)
    m = read_committed(spark, metrics)
    n_files = len(os.listdir(src))
    assert docs.count() == n_files
    assert m.groupBy().sum("doc_count").collect()[0][0] == n_files
    assert m.select("epoch_id").distinct().count() >= 2  # multi-batch
    assert {"partition_id", "doc_count", "bytes_in", "spans_out",
            "wall_ms", "epoch_id"} <= set(m.columns)


def test_stateful_stream_out_of_order_backfill(spark, tmp_path):
    """Cross-batch out-of-order arrival (a backfill file landing after
    live data): an event inside the open session's span is absorbed
    (batch-identical), an event older than the open session's start is
    dropped as late data, and end_ts never regresses."""
    import pandas as pd

    t0 = pd.Timestamp("2026-01-01 10:00:00")
    mk = lambda rows: pd.DataFrame(
        rows, columns=["user_id", "event_id", "ts", "value"]
    ).astype({"user_id": "int64", "event_id": "int64", "value": "float64"})
    live = mk([(1, 1, t0, 1.0), (1, 2, t0 + pd.Timedelta(minutes=10), 2.0)])
    backfill = mk([
        (1, 3, t0 + pd.Timedelta(minutes=5), 4.0),   # inside span: absorb
        (1, 4, t0 - pd.Timedelta(hours=2), 8.0),     # before start: drop
    ])
    d = str(tmp_path)
    p0, p1 = os.path.join(d, "part-0.parquet"), os.path.join(d, "part-1.parquet")
    live.to_parquet(p0, coerce_timestamps="us")
    backfill.to_parquet(p1, coerce_timestamps="us")
    os.utime(p0, (1_000_000, 1_000_000))   # live batch first
    os.utime(p1, (2_000_000, 2_000_000))   # backfill second

    rows = sessionize_stream(
        spark, p0, max_files_per_trigger=1, path_glob="part-*.parquet"
    ).collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.n_events == 3                       # absorbed, not 2 or 4
    assert r.total_value == 7.0                  # 1 + 2 + 4; 8 dropped
    assert r.start_ts.startswith("2026-01-01 10:00:00")
    assert r.end_ts.startswith("2026-01-01 10:10:00")  # no regression


def test_sessionize_stream_directory_dataset(spark, tmp_path):
    """A directory-shaped parquet dataset (the standard Spark output
    layout) must stream completely — the old basename-glob default
    matched nothing and silently drained an empty stream."""
    d = str(tmp_path / "events_ds")
    spark.read.parquet(EVENTS).write.parquet(d)
    batch = {
        (r.user_id, r.session_id): (r.n_events, r.start_ts, r.end_ts,
                                    r.total_value)
        for r in sessionize_events(spark.read.parquet(d)).collect()
    }
    stream = {
        (r.user_id, r.session_id): (r.n_events, r.start_ts, r.end_ts,
                                    r.total_value)
        for r in sessionize_stream(spark, d).collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_extract_payload_stream_mode_switch_single_layout(
        spark, fixture_dir, tmp_path):
    """Restarting the same checkpoint/out_path with metrics toggled ON
    must not hide earlier output: both modes write one compatible
    layout (the old split wrote a _spark_metadata-logged file sink
    first, making later plain appends invisible to batch reads)."""
    import shutil

    from pdfspark.sinks.snapshot import read_committed
    from pdfspark.streaming.extract_stream import extract_payload_stream

    src = os.path.join(fixture_dir, "payloads")
    names = sorted(os.listdir(src))
    first, later = names[:-2], names[-2:]
    pdir = str(tmp_path / "payloads")
    os.makedirs(pdir)
    for n in first:
        shutil.copy(os.path.join(src, n), pdir)
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    extract_payload_stream(spark, pdir, out, cp)            # no metrics
    for n in later:
        shutil.copy(os.path.join(src, n), pdir)
    metrics = str(tmp_path / "metrics")
    extract_payload_stream(spark, pdir, out, cp,            # with metrics
                           metrics_path=metrics)
    got = read_committed(spark, out)
    assert got.count() == len(names)                # nothing hidden
    assert got.select("doc_id").distinct().count() == len(names)
    m = read_committed(spark, metrics)
    assert m.groupBy().sum("doc_count").collect()[0][0] == len(later)


def test_dedup_stream_keep_first_across_batches_and_restart(
        spark, tmp_path):
    """Streaming exact dedup: within a batch the MIN doc_id per
    content hash wins; across batches the first batch wins; a restart
    with the same checkpoint processes only newly arrived files and
    never re-emits an already-kept hash."""
    from pdfspark.streaming.dedup_stream import dedup_stream

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "keepers")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(docs_dir)

    def wave(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1).write.mode("overwrite").parquet(str(tmp_path / ("w_" + name)))
        import glob
        import shutil
        src = glob.glob(str(tmp_path / ("w_" + name) / "*.parquet"))[0]
        shutil.copy(src, os.path.join(docs_dir, name + ".parquet"))

    # wave 1: two distinct texts plus a within-batch duplicate where
    # the LARGER doc_id arrives in the same file
    wave("0001", [(10, "alpha beta gamma"), (20, "delta epsilon"),
                  (30, "alpha  BETA gamma")])  # normalizes equal to 10's
    dedup_stream(spark, docs_dir, out, ckpt)
    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {10, 20}

    # wave 2: a cross-batch duplicate (of 10), a new text, and a
    # within-batch pair for the new text
    wave("0002", [(40, "alpha beta gamma"), (51, "zeta eta"),
                  (50, "zeta  eta")])
    dedup_stream(spark, docs_dir, out, ckpt)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {10, 20, 50}

    # idempotent restart with nothing new
    dedup_stream(spark, docs_dir, out, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {
        10, 20, 50}
    # one row per hash, ever
    n = spark.read.parquet(out).count()
    assert n == 3


def test_neardup_stream_cross_batch_keep_first(spark, tmp_path):
    """Streaming NEAR-dup keep-first: a batch doc that is a verified
    near-duplicate of an earlier KEPT doc is dropped via the
    accumulated band index (no rescan of keeper text); batch-internal
    near-dups drop under the linear doc_b contract; exact dups still
    drop at the hash gate; a restart processes only new files."""
    from pdfspark.streaming.dedup_stream import neardup_stream

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "keepers")
    bands = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(docs_dir)

    base = ("risk management governance framework model data system "
            "process control measure impact trust safety analysis "
            "design evaluation deployment")
    other = ("monitor lifecycle context actor harm benefit metric "
             "policy standard review audit scope boundary interface "
             "artifact ledger")

    def wave(name, rows):
        import glob
        import shutil
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1).write.mode("overwrite").parquet(str(tmp_path / ("n_" + name)))
        src = glob.glob(str(tmp_path / ("n_" + name) / "*.parquet"))[0]
        shutil.copy(src, os.path.join(docs_dir, name + ".parquet"))

    # wave 1: base text, a batch-internal NEAR dup of it (one word
    # appended -> high Jaccard, shares bands), and a distinct doc
    wave("0001", [(10, base), (11, base + " appendix"), (20, other)])
    neardup_stream(spark, docs_dir, out, bands, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {10, 20}

    # wave 2: cross-batch near dup of 10 (truncated tail), an exact
    # dup of 20, and a genuinely new doc
    wave("0002", [(30, base.rsplit(" ", 1)[0]), (31, other),
                  (40, "totally fresh unrelated content words here "
                       "seven eight nine ten eleven twelve")])
    neardup_stream(spark, docs_dir, out, bands, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {
        10, 20, 40}

    # wave 3: near dup of wave-2's keeper 40 -> dropped against state
    # written two batches in; restart afterwards is a no-op
    wave("0003", [(50, "totally fresh unrelated content words here "
                       "seven eight nine ten eleven twelve thirteen")])
    neardup_stream(spark, docs_dir, out, bands, ckpt)
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {10, 20, 40}
    neardup_stream(spark, docs_dir, out, bands, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == kept
    # the band index only carries keepers
    assert {r.doc_id for r in spark.read.parquet(bands).collect()} == kept


def test_dedup_streams_null_text_single_keeper(spark, tmp_path):
    """md5(NULL text) is NULL and a plain anti-join on NULL never
    matches — before the null-safe gate, EVERY null-bearing batch
    appended another NULL-hash keeper. Contract: one NULL-hash
    keeper ever (matching groupBy's one-NULL-group semantics), in
    both the exact and the near-dup stream."""
    import glob
    import shutil

    from pdfspark.streaming.dedup_stream import (
        dedup_stream, neardup_stream)

    def wave(docs_dir, name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1).write.mode("overwrite").parquet(str(tmp_path / ("t_" + name)))
        src = glob.glob(str(tmp_path / ("t_" + name) / "*.parquet"))[0]
        shutil.copy(src, os.path.join(docs_dir, name + ".parquet"))

    docs = str(tmp_path / "d1")
    out = str(tmp_path / "k1")
    os.makedirs(docs)
    wave(docs, "0001", [(10, None), (11, None), (20, "real text here")])
    dedup_stream(spark, docs, out, str(tmp_path / "c1"))
    wave(docs, "0002", [(30, None), (40, "more real text")])
    dedup_stream(spark, docs, out, str(tmp_path / "c1"))
    rows = spark.read.parquet(out).collect()
    nulls = [r for r in rows if r.content_hash is None]
    assert len(nulls) == 1 and nulls[0].doc_id == 10
    assert {r.doc_id for r in rows} == {10, 20, 40}

    docs2 = str(tmp_path / "d2")
    out2 = str(tmp_path / "k2")
    os.makedirs(docs2)
    long_a = ("risk management governance framework model data "
              "system process control measure impact trust safety")
    wave(docs2, "0001", [(10, None), (20, long_a)])
    neardup_stream(spark, docs2, out2, str(tmp_path / "b2"),
                   str(tmp_path / "c2"))
    wave(docs2, "0002", [(30, None), (40, "different words entirely "
                                          "alpha beta gamma delta")])
    neardup_stream(spark, docs2, out2, str(tmp_path / "b2"),
                   str(tmp_path / "c2"))
    rows = spark.read.parquet(out2).collect()
    nulls = [r for r in rows if r.content_hash is None]
    assert len(nulls) == 1 and nulls[0].doc_id == 10
    assert {r.doc_id for r in rows} == {10, 20, 40}


def _stream_and_batch(spark, pdir, tmp_path):
    """Yield (mode, committed rows, lineage rows) for the stream drain
    and for batch extract_job --payloads over one payload directory:
    both run the same decode stage and fold input."""
    from jobs.extract_job import main
    from pdfspark.sinks.snapshot import read_committed
    from pdfspark.streaming.extract_stream import extract_payload_stream

    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    extract_payload_stream(spark, pdir, out, str(tmp_path / "cp"),
                           metrics_path=met)
    yield ("stream", read_committed(spark, out).collect(),
           read_committed(spark, met).collect())
    out, met = str(tmp_path / "b_out"), str(tmp_path / "b_met")
    assert main(["--payloads", pdir, "--output", out, "--metrics", met]) == 0
    yield ("batch", read_committed(spark, out).collect(),
           read_committed(spark, met).collect())


def test_stream_lineage_bytes_in_reports_payload_size(spark, tmp_path):
    """A quarantined payload's lineage bytes_in must be the PAYLOAD
    size, not len('corrupt payload') — before the fix a 50 MB corrupt
    file under-reported ingest bytes by its full size exactly when a
    bad-input burst hits the dashboards. Same rule in batch
    --payloads."""
    pdir = str(tmp_path / "payloads")
    os.makedirs(pdir)
    big_garbage = b"\xff\x00GARBAGE" * 4096  # 32 KiB, undecodable
    with open(os.path.join(pdir, "bad.bin"), "wb") as fh:
        fh.write(big_garbage)
    for mode, rows, lineage in _stream_and_batch(spark, pdir, tmp_path):
        (row,) = rows
        assert row.status == "quarantined", mode
        assert sum(r.bytes_in for r in lineage) == len(big_garbage), mode


def test_stream_same_doc_id_two_payloads_no_fanout(spark, tmp_path):
    """Two payload files in ONE micro-batch declaring the same doc_id
    (two versions arriving together) must commit one output row per
    payload — the lineage bytes join used to be row-level on doc_id,
    fanning |payloads|^2 rows per colliding doc into the sink. Batch
    --payloads folds each payload to its own row too."""
    import json

    pdir = str(tmp_path / "payloads")
    os.makedirs(pdir)
    body = {"doc_id": "same-doc",
            "spans": [{"kind": "TextBox", "text": "1. Intro\nbody",
                       "media_ref": None, "offset": 0}]}
    for n in ("v1.bin", "v2.bin"):
        with open(os.path.join(pdir, n), "w") as fh:
            json.dump(body, fh)
    for mode, rows, _lineage in _stream_and_batch(spark, pdir, tmp_path):
        assert len(rows) == 2, mode      # one per payload, NOT 4 or 1
        assert {r.doc_id for r in rows} == {"same-doc"}, mode


def test_sessionize_stream_null_value_matches_batch(spark, tmp_path):
    """A NULL `value` event must not poison the session total to NaN:
    SUM semantics (skip the NULL, still count the event), matching the
    batch sessionizer."""
    import math

    from pdfspark.operators.retrieval import sessionize_events
    from pdfspark.streaming.stateful import sessionize_stream

    rows = [
        (1, 100, "2024-01-01 10:00:00.000000", 5.0),
        (1, 101, "2024-01-01 10:05:00.000000", None),
        (1, 102, "2024-01-01 10:10:00.000000", 2.5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    p = str(tmp_path / "events")
    df.write.parquet(p)
    got = sessionize_stream(spark, p).collect()
    assert len(got) == 1
    assert got[0].n_events == 3
    assert not math.isnan(got[0].total_value)
    assert got[0].total_value == 7.5
    batch = sessionize_events(spark.read.parquet(p)).collect()
    assert batch[0].n_events == 3 and float(batch[0].total_value) == 7.5


def test_extract_stream_snapshot_output_exactly_once_and_compacts(
        spark, fixture_dir, tmp_path, monkeypatch):
    """Snapshot output: (1) every micro-batch commits one
    manifested snapshot with lineage as its aux; (2) a crash-replayed
    batch no-ops on its deterministic snap id instead of doubling
    rows; (3) compaction then folds the per-batch snapshots into one
    without changing the table."""
    import shutil

    import pdfspark.sinks.snapshot as S
    from pdfspark.streaming.extract_stream import extract_payload_stream

    src = os.path.join(fixture_dir, "payloads")
    names = sorted(os.listdir(src))
    wave1, wave2 = names[: len(names) // 2], names[len(names) // 2:]
    pdir = str(tmp_path / "payloads")
    os.makedirs(pdir)
    for n in wave1:
        shutil.copy(os.path.join(src, n), pdir)

    out = str(tmp_path / "out")
    met = str(tmp_path / "met")
    cp = str(tmp_path / "cp")
    kw = dict(metrics_path=met,
              max_files_per_trigger=max(1, len(wave1) // 2))
    extract_payload_stream(spark, pdir, out, cp, **kw)
    snaps1 = S.committed_snapshots(out)
    assert len(snaps1) >= 2  # throttled: several micro-batch commits
    assert S.committed_snapshots(met) == snaps1  # aux under same ids
    assert all(s.startswith("snap-epoch") for s in snaps1)
    n1 = S.read_committed(spark, out).count()
    assert n1 == len(wave1)

    # crash-replay simulation: re-commit the LAST epoch's rows under
    # its own snap id — the manifest exists, so it must no-op
    df = S.read_committed(spark, out)
    assert S.commit_append(df.limit(1), out, snap_id=snaps1[-1]) == snaps1[-1]
    assert S.committed_snapshots(out) == snaps1
    assert S.read_committed(spark, out).count() == n1

    # wave 2 arrives; restart processes only the new files
    for n in wave2:
        shutil.copy(os.path.join(src, n), pdir)
    extract_payload_stream(spark, pdir, out, cp, **kw)
    assert S.read_committed(spark, out).count() == len(names)
    assert (S.read_committed(spark, out)
            .select("doc_id").distinct().count() == len(names))

    # maintenance: many per-batch snapshots -> one, rows unchanged
    before = sorted(S.read_committed(spark, out)
                    .select("doc_id", "status").collect())
    snap = S.compact_snapshots(spark, out)
    assert snap is not None and S.committed_snapshots(out) == [snap]
    assert sorted(S.read_committed(spark, out)
                  .select("doc_id", "status").collect()) == before
    # metrics table compacts independently
    msnap = S.compact_snapshots(spark, met)
    assert msnap is not None
    assert S.read_committed(spark, met).count() > 0

    # another wave after compaction coexists with the compacted snap
    extra = str(tmp_path / "payloads" / "zz_extra.bin")
    shutil.copy(os.path.join(src, names[0]), extra)
    extract_payload_stream(spark, pdir, out, cp, **kw)
    assert S.read_committed(spark, out).count() == len(names) + 1


def test_extract_stream_ingests_raw_pdf_arrivals(spark, tmp_path):
    """Raw %PDF files (.pdf extension) arriving in the watch dir are
    picked up by the default path glob and decode through the mini
    codec — interleaved text+media spans with media_refs — while a
    corrupt PDF quarantines as a row instead of killing the batch."""
    import pdfspark.sinks.snapshot as S
    from pdfspark.sources.pdf_mini import build_tiny_pdf
    from pdfspark.streaming.extract_stream import extract_payload_stream

    pdir = str(tmp_path / "arrivals")
    os.makedirs(pdir)
    with open(os.path.join(pdir, "doc-a.pdf"), "wb") as fh:
        fh.write(build_tiny_pdf("doc-a", [["1. Intro", "Body text."]],
                                compress=True))
    with open(os.path.join(pdir, "doc-b.pdf"), "wb") as fh:
        fh.write(b"%PDF-1.4\ngarbage only\n%%EOF\n")

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    extract_payload_stream(spark, pdir, out, cp)
    rows = {r.doc_id: r for r in S.read_committed(spark, out).collect()}
    assert rows["doc-a"].status == "ok"
    texts = [s.text for s in rows["doc-a"].spans]
    assert any("Body text." in t for t in texts)
    assert rows["doc-b"].status == "quarantined"
