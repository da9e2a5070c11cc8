"""Per-layer metrics of a traced run.

Three sources, all read from outside the program:

* spans the benchmark records around the calls it makes into a layer:
  the timed job calls, and (traced runs only) thin wrappers around the
  module functions ``extract_job`` calls at run time — the skew probe,
  the two fold entry points, the snapshot commit and compaction;
* Spark's plan-node and stage metrics from the status endpoint
  (``restmetrics``), attributed to layers by operator and columns;
* a ``StreamingQueryListener`` for the stream drains, and forced calls
  of the public dedup / text-statistics / decode functions after the
  timed loop, each in its own span.

A metric a workload cannot produce is reported as 0 with a reason from
``ABSENT``.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

from perfbench.harness import median, nproc
from perfbench.restmetrics import PYTHON_OPS

MB = 2**20

# name -> unit, in BENCHMARK.json order
METRICS = {
    "extract_job.probe_s": "s", "extract_job.regroup_s": "s",
    "extract_job.regroup_shuffle_mb": "MB", "extract_job.unattributed_s": "s",
    "binary_decode.scan_files": "count", "binary_decode.scan_mb": "MB",
    "binary_decode.tasks": "count", "binary_decode.docs_per_task": "docs/task",
    "binary_decode.py_boot_s": "s", "binary_decode.py_init_s": "s",
    "binary_decode.py_run_s": "s", "binary_decode.arrow_mb": "MB",
    "binary_decode.rows_out": "count", "binary_decode.quarantined": "count",
    "boilerplate.self_s": "s", "boilerplate.shuffle_mb": "MB",
    "boilerplate.hf_docs": "count",
    "extract.route": "code", "extract.max_spans": "count",
    "extract.self_s": "s", "extract.tasks": "count",
    "extract.task_skew": "ratio", "extract.py_init_s": "s",
    "extract.py_run_s": "s", "extract.arrow_mb": "MB",
    "extract.shuffle_mb": "MB", "extract.spans_out": "count",
    "snapshot.commit_s": "s", "snapshot.files_written": "count",
    "snapshot.mb_written": "MB", "snapshot.snapshots": "count",
    "snapshot.manifest_files": "count", "snapshot.compact_rewrite_mb": "MB",
    "snapshot.superseded": "count",
    "extract_stream.batches": "count", "extract_stream.batch_p50_s": "s",
    "extract_stream.add_batch_p50_s": "s",
    "extract_stream.files_per_batch": "count", "extract_stream.start_s": "s",
    "dedup.exact_s": "s", "dedup.minhash_s": "s", "dedup.candidates": "count",
    "dedup.verified": "count", "dedup.verify_yield": "ratio",
    "textstats.quality_s": "s", "textstats.langid_s": "s",
    "textstats.langid_docs": "count",
    "spark.tasks": "count", "spark.run_s": "s", "spark.cpu_s": "s",
    "spark.wait_s": "s", "spark.py_init_s": "s", "spark.failed_tasks": "count",
    "trace.docs_per_s": "docs/s",
}

ABSENT = {
    "bytes_in": {
        "dedup.": "table_in only: curation runs in the table_in traced run",
        "textstats.": "table_in only: curation runs in the table_in traced "
                      "run",
    },
    "table_in": {
        "extract_job.regroup": "payloads mode only: the --input mode reads "
                               "span lists and has no regroup",
        "binary_decode.": "no decode: table_in reads pre-decoded tables",
        "extract_stream.": "no stream drain on table_in",
    },
}

FORCED_DECODE = ("binary_decode.tasks", "binary_decode.docs_per_task",
                 "binary_decode.py_boot_s", "binary_decode.py_init_s",
                 "binary_decode.py_run_s", "binary_decode.arrow_mb",
                 "binary_decode.rows_out")
FORCED_DECODE_REASON = (
    "from a forced call of the public decode_payloads_geom over the same "
    "waves: the job localCheckpoints its decode, which hides that plan "
    "node's metrics from the status endpoint")


# --- instrumentation of a traced run ------------------------------------

@contextlib.contextmanager
def instrument(h):
    """Wrap the module functions the job calls at run time with spans,
    and register a streaming listener; undone on exit."""
    import pdfspark.operators.extract as ex
    import pdfspark.sinks.snapshot as snap

    saved = []

    def wrap(mod, name, span, after=None):
        fn = getattr(mod, name)

        def wrapper(*a, **kw):
            with h.tracer.span(span) as sp:
                out = fn(*a, **kw)
                if after is not None:
                    after(sp, a, kw, out)
                return out

        saved.append((mod, name, fn))
        setattr(mod, name, wrapper)

    def probe_after(sp, a, kw, out):
        sp["attrs"]["max_spans"] = out

    wrap(ex, "_max_span_count", "extract_job.probe", probe_after)
    wrap(ex, "extract_documents_split", "extract.split_route")
    wrap(ex, "extract_documents", "extract.fold_route")
    wrap(snap, "commit_append", "snapshot.commit",
         lambda sp, a, kw, out: sp["attrs"].update(snap=out))
    compact = snap.compact_snapshots

    def compact_wrapper(spark, output, *a, **kw):
        before = len(snap.committed_snapshots(output))
        with h.tracer.span("snapshot.compact") as sp:
            out = compact(spark, output, *a, **kw)
            sp["attrs"]["superseded"] = before if out else 0
            return out

    saved.append((snap, "compact_snapshots", compact))
    snap.compact_snapshots = compact_wrapper
    listener = _stream_listener(h)
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)
        if listener is not None:
            h.spark.streams.removeListener(listener)


def _stream_listener(h):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(dict(
                batch=p.batchId, timestamp=p.timestamp,
                duration=dict(p.durationMs), rows=p.numInputRows,
                received=time.time()))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    lst = Listener()
    h.spark.streams.addListener(lst)
    h.stream_listener = lst
    return lst


# --- forced calls of public layer functions -----------------------------

def forced_layer_calls(h, wl) -> None:
    """After the timed loop: call public layer functions one at a time
    on the workload's inputs and force each, every call in its own span
    with the endpoint's metrics attached."""
    spark = h.spark

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    if wl.name == "table_in":
        from pdfspark.operators import dedup, textstats

        wl.curate("curate.warm", forced=True, timed_docs=False)
        wl.curate("curate", forced=True, timed_docs=False)
        docs = spark.read.parquet(wl.corpus).select("doc_id", "text")
        h.call("dedup.exact", noop(dedup.exact_duplicates(docs)),
               docs=0, in_bytes=0, forced=True, timed_docs=False)
        box = {}
        h.call("dedup.minhash", lambda: box.update(
            candidates=dedup.minhash_candidates(docs).count()),
            docs=0, in_bytes=0, forced=True, timed_docs=False)
        h.call("dedup.verify", lambda: box.update(
            verified=dedup.minhash_verified(docs).count()),
            docs=0, in_bytes=0, forced=True, timed_docs=False)
        h.call("textstats.quality", noop(textstats.quality_scores(docs)),
               docs=0, in_bytes=0, forced=True, timed_docs=False)
        h.call("textstats.langid", noop(textstats.language_id(docs)),
               docs=0, in_bytes=0, forced=True, timed_docs=False)
        h.forced_counts = box
    else:
        from pdfspark.sources.binary_decode import (
            decode_payloads_geom,
            read_payloads,
        )

        for d in wl.batch_dirs:
            h.call("binary_decode.forced",
                   noop(decode_payloads_geom(read_payloads(spark, d))),
                   docs=len(os.listdir(d)), in_bytes=0, forced=True,
                   timed_docs=False)


# --- metric assembly -----------------------------------------------------

def _nodes(calls, layer=None, ops=None):
    for c in calls:
        for n in c.get("rest", {}).get("nodes", []):
            if layer is not None and n["layer"] != layer:
                continue
            if ops is not None and not n["name"].startswith(ops):
                continue
            yield c, n


def _sum(calls, layer, metric, ops=None) -> float:
    return sum(n["metrics"].get(metric, 0.0)
               for _c, n in _nodes(calls, layer, ops))


def _stage_tasks(calls, layer) -> int:
    total = 0
    for c in calls:
        stages = {s["id"]: s for s in c.get("rest", {}).get("stages", [])}
        ids = set()
        for n in c.get("rest", {}).get("nodes", []):
            if n["layer"] == layer and n["name"].startswith(PYTHON_OPS):
                ids |= set(n["stages"])
        total += sum(stages[i]["tasks"] for i in ids if i in stages)
    return total


def _spans_within(tracer, name, calls):
    """Spans called ``name`` nested in any of ``calls``' spans."""
    ids = {c["span_id"] for c in calls}
    by_id = {s["id"]: s for s in tracer.spans}
    out = []
    for s in tracer.named(name):
        p = s["parent"]
        while p is not None:
            if p in ids:
                out.append(s)
                break
            p = by_id[p]["parent"]
    return out


def layer_metrics(h, wl, docs_per_s: float) -> dict:
    """Every metric in METRICS as {value, unit, reason?}."""
    calls = [c for c in h.calls if not c.get("forced")]
    jobs = [c for c in calls if c["name"].startswith("extract_job.")
            and c["name"] != "extract_job.compact"]
    compacts = [c for c in calls if c["name"] == "extract_job.compact"]
    forced = [c for c in h.calls if c.get("forced")]
    t = h.tracer
    v: dict[str, float] = {}

    probes = _spans_within(t, "extract_job.probe", jobs)
    commits = _spans_within(t, "snapshot.commit", calls)
    v["extract_job.probe_s"] = sum(s["end"] - s["start"] for s in probes)
    v["extract_job.regroup_s"] = _sum(jobs, "extract_job.regroup",
                                      "time in aggregation build")
    v["extract_job.regroup_shuffle_mb"] = _sum(
        jobs, "extract_job.regroup", "shuffle bytes written") / MB

    # the Python-worker side of the decode comes from the forced decode
    # calls: the batch job localCheckpoints its decode, which hides that
    # plan node's metrics from the endpoint
    dec_calls = [c for c in forced if c["name"] == "binary_decode.forced"]
    v["binary_decode.scan_files"] = _sum(jobs, "binary_decode",
                                         "number of files read")
    v["binary_decode.scan_mb"] = _sum(jobs, "binary_decode",
                                      "size of files read") / MB
    v["binary_decode.tasks"] = _stage_tasks(dec_calls, "binary_decode")
    n_dec = sum(c["docs"] for c in dec_calls)
    v["binary_decode.docs_per_task"] = (
        n_dec / v["binary_decode.tasks"] if v["binary_decode.tasks"] else 0.0)
    for key, metric in (("py_boot_s", "time to start Python workers"),
                        ("py_init_s", "time to initialize Python workers"),
                        ("py_run_s", "time to run Python workers"),
                        ("rows_out", "number of output rows")):
        v[f"binary_decode.{key}"] = _sum(dec_calls, "binary_decode", metric,
                                         PYTHON_OPS)
    v["binary_decode.arrow_mb"] = (
        _sum(dec_calls, "binary_decode", "data sent to Python workers",
             PYTHON_OPS)
        + _sum(dec_calls, "binary_decode", "data returned from Python workers",
               PYTHON_OPS)) / MB
    v["binary_decode.quarantined"] = wl.quarantined

    v["boilerplate.self_s"] = _sum(jobs, "boilerplate",
                                   "time in aggregation build")
    v["boilerplate.shuffle_mb"] = _sum(jobs, "boilerplate",
                                       "shuffle bytes written") / MB
    v["boilerplate.hf_docs"] = sum(
        max([n["metrics"].get("number of output rows", 0.0)
             for cc, n in _nodes([c], "boilerplate")
             if "Aggregate" in n["name"]] or [0.0])
        for c in jobs if c["name"] != "extract_job.stream_drain")

    splits = _spans_within(t, "extract.split_route", jobs)
    v["extract.route"] = 1.0 if splits else 0.0
    v["extract.max_spans"] = max([s["attrs"].get("max_spans") or 0
                                  for s in probes] or [0])
    for key, metric in (("py_init_s", "time to initialize Python workers"),
                        ("py_run_s", "time to run Python workers")):
        v[f"extract.{key}"] = _sum(jobs, "extract", metric, PYTHON_OPS)
    v["extract.self_s"] = (v["extract.py_init_s"] + v["extract.py_run_s"]
                           + _sum(jobs, "extract",
                                  "time to start Python workers", PYTHON_OPS))
    v["extract.tasks"] = _stage_tasks(jobs, "extract")
    skews = []
    for c in jobs:
        for times in c.get("rest", {}).get("task_run_ms", {}).values():
            if len(times) > 1 and statistics.median(times) > 0:
                skews.append(max(times) / statistics.median(times))
    v["extract.task_skew"] = max(skews or [0.0])
    v["extract.arrow_mb"] = (
        _sum(jobs, "extract", "data sent to Python workers", PYTHON_OPS)
        + _sum(jobs, "extract", "data returned from Python workers",
               PYTHON_OPS)) / MB
    v["extract.shuffle_mb"] = _sum(jobs, "extract",
                                   "shuffle bytes written") / MB
    v["extract.spans_out"] = wl.spans_out

    v["snapshot.commit_s"] = sum(s["end"] - s["start"] for s in commits)
    writes = [c for c in calls if c not in compacts]
    v["snapshot.files_written"] = _sum(writes, "snapshot",
                                       "number of written files")
    v["snapshot.mb_written"] = _sum(writes, "snapshot", "written output") / MB
    v["snapshot.snapshots"] = sum(1 for s in commits
                                  if s["attrs"].get("snap"))
    v["snapshot.manifest_files"] = wl.manifest_files()
    v["snapshot.compact_rewrite_mb"] = _sum(compacts, "snapshot",
                                            "written output") / MB
    v["snapshot.superseded"] = sum(
        s["attrs"].get("superseded", 0)
        for s in _spans_within(t, "snapshot.compact", compacts))

    drains = [c for c in calls if c["name"] == "extract_job.stream_drain"]
    prog = _drain_progress(h, drains)
    v["extract_stream.batches"] = len(prog)
    if prog:
        v["extract_stream.batch_p50_s"] = median(
            [p["duration"].get("triggerExecution", 0) / 1e3 for p in prog])
        v["extract_stream.add_batch_p50_s"] = median(
            [p["duration"].get("addBatch", 0) / 1e3 for p in prog])
        v["extract_stream.files_per_batch"] = median(
            [p["rows"] for p in prog])
    starts = []
    for c in drains:
        first = [p for p in prog if p["call"] == c["span_id"]]
        if first:
            starts.append(first[0]["start_epoch"] - c["wall_start"])
    v["extract_stream.start_s"] = median(starts) if starts else 0.0

    def fsec(name):
        return sum(c["seconds"] for c in forced if c["name"] == name)

    counts = h.forced_counts
    v["dedup.exact_s"] = fsec("dedup.exact")
    v["dedup.minhash_s"] = fsec("dedup.minhash")
    v["dedup.candidates"] = counts.get("candidates", 0)
    v["dedup.verified"] = counts.get("verified", 0)
    v["dedup.verify_yield"] = (v["dedup.verified"] / v["dedup.candidates"]
                               if v["dedup.candidates"] else 0.0)
    v["textstats.quality_s"] = fsec("textstats.quality")
    v["textstats.langid_s"] = fsec("textstats.langid")
    v["textstats.langid_docs"] = _sum(
        [c for c in forced if c["name"] == "curate"], "textstats",
        "number of output rows", PYTHON_OPS)

    stages = [s for c in calls for s in c.get("rest", {}).get("stages", [])]
    wall = sum(c["seconds"] for c in calls)
    v["spark.tasks"] = sum(s["tasks"] for s in stages)
    v["spark.run_s"] = sum(s["run_ms"] for s in stages) / 1e3
    v["spark.cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    v["spark.wait_s"] = max(0.0, nproc() * wall - v["spark.run_s"])
    v["spark.py_init_s"] = _sum(calls, None,
                                "time to initialize Python workers",
                                PYTHON_OPS)
    v["spark.failed_tasks"] = sum(s["failed"] for s in stages)

    # job wall time that neither the probe span nor the executors' run
    # time (slot-seconds, so divided by the slot count) explains:
    # planning, scheduling gaps, renames and manifest writes
    run_s = sum(s["run_ms"] for c in jobs
                for s in c.get("rest", {}).get("stages", [])) / 1e3
    v["extract_job.unattributed_s"] = max(
        0.0, sum(c["seconds"] for c in jobs) - v["extract_job.probe_s"]
        - run_s / nproc())
    v["trace.docs_per_s"] = docs_per_s

    out = {}
    absent = ABSENT.get(wl.name, {})
    for name, unit in METRICS.items():
        rec = dict(value=float(v.get(name, 0.0)), unit=unit)
        for prefix, why in absent.items():
            if why and name.startswith(prefix):
                rec["reason"] = why
        if name in FORCED_DECODE and wl.name == "bytes_in":
            rec["reason"] = FORCED_DECODE_REASON
        out[name] = rec
    return out


def _drain_progress(h, drains) -> list[dict]:
    """Listener progress events, each assigned to the drain call whose
    wall-clock window holds its batch start."""
    from datetime import datetime

    lst = h.stream_listener
    if lst is None:
        return []
    deadline = time.time() + 3
    while time.time() < deadline and len(lst.progress) < len(drains):
        time.sleep(0.1)
    out = []
    for p in lst.progress:
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        start = ts.timestamp()
        for c in drains:
            if c["wall_start"] - 1 <= start <= c["wall_start"] + c["seconds"]:
                out.append(dict(p, call=c["span_id"], start_epoch=start))
                break
    return out
