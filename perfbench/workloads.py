"""The two benchmark workloads. Both are closed loops with one client:
the next call starts only when the previous one returns, and the loop
runs whole iterations until ``seconds`` have passed.

``bytes_in`` — raw payload files through both bytes-in job modes. One
iteration: a wave of payload files lands (atomic rename); ``extract_job
--payloads --metrics`` ingests it into a fresh table; the same files land
one by one in a fresh stream landing directory and ``extract_job
--stream-payloads --checkpoint --max-files-per-trigger M --metrics``
drains them; ``extract_job --compact`` then rewrites the stream table.

``table_in`` — pre-decoded span tables through the span fold. One
iteration: ``extract_job --input --geom --metrics`` runs over a fresh
sf0.01 replica (605 docs, the 10k-span skew document among them) into a
fresh table. The traced run adds the text curation pass:
``curate_documents`` over the sf0.01 text corpus, ``commit_append`` of
the survivors, and the dedup / text-statistics operators one by one.
"""

from __future__ import annotations

import os
import time

from perfbench import check, gen
from perfbench.harness import cached, committed_bytes, tree_bytes

WAVE = {"json": 10, "pdf": 2, "quarantined": 1}  # payload files per wave
N_WAVES = 64
MAX_FILES_PER_TRIGGER = 13  # one micro-batch per wave, whatever the order
REPLICAS = 2             # payload mix: every fixture file twice
SPAN_FILES = 8           # parquet files per span table
CORPUS_FILES = 8
WARM_DOCS = 200
WARM_SKEW_SPANS = 6000   # > the job's default --skew-threshold


def _code_key(root: str) -> list:
    return [os.path.join(root, "pdfspark"),
            os.path.join(root, "perfbench", "check.py"),
            os.path.join(root, "perfbench", "gen.py")]


def _job(args: list[str]):
    from jobs.extract_job import main

    return lambda: main(args)


class BytesIn:
    name = "bytes_in"

    def __init__(self, h):
        self.h = h
        self.root = h.root
        self.w = os.path.join(h.work, "bytes_in")
        os.makedirs(self.w, exist_ok=True)
        cache = os.path.join(self.root, ".perfbench_work", "cache")
        fx = os.path.join(self.root, "fixtures", gen.SF)
        key = [os.path.join(fx, "payloads"), os.path.join(fx, "payloads_pdf"),
               os.path.join(fx, "payloads_pdf_expected.parquet")]
        key += _code_key(self.root)
        refs = cached(cache, ["payload-refs"] + key, self._references)
        self.src = gen.PayloadSource(self.root, refs["decoded"])
        self.refs = refs["refs"]
        self.digest_bad = refs["digest_bad"]
        # PDFs whose geometry holds running header/footer text lead the
        # PDF walk, so the batch job's header/footer derivation has
        # candidates to fold in every run
        self.waves = gen.payload_mix(
            self.src, h.seed, REPLICAS, WAVE, N_WAVES,
            leads=lambda p: refs["has_hf"].get(p, False))
        self.expected: list[tuple[str, dict, dict]] = []
        self.warmups = [self.warm_batch, self.warm_stream]
        self.batch_dirs: list[str] = []
        self.land_s = os.path.join(self.w, "land-stream")
        os.makedirs(self.land_s)
        self.ck = os.path.join(self.w, "checkpoint")
        self.out_s = os.path.join(self.w, "out-stream")
        self.met_s = os.path.join(self.w, "met-stream")
        self.stream_expected: dict = {}
        self.outputs: list[str] = [self.out_s, self.met_s]
        self.quarantined = 0
        self.spans_out = 0

    def _references(self) -> dict:
        """Per fixture payload: the batch reference (header/footer from
        the decoded geometry) and the stream reference (the stream mode
        folds without a header/footer side input)."""
        blobs = {}
        for p in gen.payload_paths(self.root):
            with open(os.path.join(self.root, p), "rb") as fh:
                blobs[p] = fh.read()
        decoded = gen.decode_all(blobs)
        refs = {}
        for p, dec in decoded.items():
            if dec is None:
                refs[p] = dict(batch=check.QUARANTINED,
                               stream=check.QUARANTINED)
                continue
            hdr, ftr = check.hf_reference(dec["spans"])
            refs[p] = dict(
                batch=check.extraction_reference(dec["spans"], hdr, ftr),
                stream=check.extraction_reference(dec["spans"], "", ""))
        bad = check.pdf_digest_mismatches(
            self.root, {os.path.join(self.root, p): d
                        for p, d in decoded.items()})
        has_hf = {p: any(check.hf_reference(d["spans"]))
                  for p, d in decoded.items() if d is not None}
        return dict(decoded=decoded, refs=refs, digest_bad=bad,
                    has_hf=has_hf)

    def _stage(self, wave, dest: str) -> tuple[dict, int]:
        """Write a wave's files into ``dest``; returns the batch/stream
        references by doc_id and the byte count."""
        os.makedirs(dest, exist_ok=True)
        exp, n = {}, 0
        for pl in wave:
            data = self.src.make(pl)
            with open(os.path.join(dest, pl.name), "wb") as fh:
                fh.write(data)
            n += len(data)
            doc_id = pl.doc_id or os.path.splitext(pl.name)[0]
            exp[doc_id] = self.refs[pl.base]
        return exp, n

    def warm_batch(self) -> None:
        d = os.path.join(self.w, f"warm-{len(self.h.setups)}")
        self._stage(self.waves[-1], os.path.join(d, "in"))
        _job(["--payloads", os.path.join(d, "in"),
              "--output", os.path.join(d, "out"),
              "--metrics", os.path.join(d, "met")])()

    def warm_stream(self) -> None:
        d = os.path.join(self.w, f"warm-{len(self.h.setups)}")
        self._stage(self.waves[-1], os.path.join(d, "land"))
        _job(["--stream-payloads", os.path.join(d, "land"),
              "--checkpoint", os.path.join(d, "ck"),
              "--output", os.path.join(d, "out"),
              "--metrics", os.path.join(d, "met"),
              "--max-files-per-trigger", str(MAX_FILES_PER_TRIGGER)])()

    def iteration(self, i: int) -> None:
        h = self.h
        wave = self.waves[i % (len(self.waves) - 1)]
        it = os.path.join(self.w, f"it{i:03d}")
        exp, nbytes = self._stage(wave, os.path.join(it, "stage-batch"))
        self._stage(wave, os.path.join(it, "stage-stream"))
        n = len(wave)
        # batch: the wave directory appears atomically
        land_b = os.path.join(it, "land-batch")
        os.rename(os.path.join(it, "stage-batch"), land_b)
        out_b = os.path.join(it, "out-batch")
        met_b = os.path.join(it, "met-batch")
        h.call("extract_job.payloads", _job(
            ["--payloads", land_b, "--output", out_b, "--metrics", met_b]),
            docs=n, in_bytes=nbytes, tables=(out_b, met_b), iteration=i)
        self.expected.append(("batch", out_b,
                              {k: v["batch"] for k, v in exp.items()}))
        self.batch_dirs.append(land_b)
        self.outputs += [out_b, met_b]
        # stream: each file appears by atomic rename in the landing dir
        # the scheduled drains share with their checkpoint and table
        stage_s = os.path.join(it, "stage-stream")
        t_land = time.perf_counter()
        with h.tracer.span("land_wave", iteration=i):
            for f in sorted(os.listdir(stage_s)):
                os.rename(os.path.join(stage_s, f),
                          os.path.join(self.land_s, f))
        h.call("extract_job.stream_drain", _job(
            ["--stream-payloads", self.land_s, "--checkpoint", self.ck,
             "--output", self.out_s, "--metrics", self.met_s,
             "--max-files-per-trigger", str(MAX_FILES_PER_TRIGGER)]),
            docs=n, in_bytes=nbytes, tables=(self.out_s, self.met_s),
            iteration=i)
        self.stream_expected.update(exp)
        with h.tracer.span("wave_visible", iteration=i):
            visible = _visible(h.spark, self.out_s, set(exp))
        h.calls[-1]["wave_latency_s"] = (
            time.perf_counter() - t_land if visible else float("nan"))

    def finish(self) -> None:
        """Compact the stream table the drains committed to."""
        self.h.call("extract_job.compact", _job(
            ["--compact", "--output", self.out_s, "--metrics", self.met_s]),
            docs=0, in_bytes=0, timed_docs=False)
        self.expected.append(("stream", self.out_s, self.stream_expected))

    def verify(self) -> tuple[dict, dict]:
        """(mismatches against the shared reference, mismatches against
        each mode's own contract), each {doc_id: reason}. The batch
        mode's contract is the shared reference; the stream mode folds
        without the header/footer strip."""
        shared, contract = {}, {}
        for mode, table, exp in self.expected:
            rows = _read_rows(self.h.spark, table,
                              sections=(mode == "batch"))
            self._count(rows, exp)
            if mode == "batch":
                bad = check.compare_rows(exp, rows)
                shared.update(bad)
                contract.update(bad)
            else:
                shared.update({f"stream:{k}": v for k, v in
                               check.compare_rows(
                                   {d: e["batch"] for d, e in exp.items()},
                                   rows).items()})
                contract.update({f"stream:{k}": v for k, v in
                                 check.compare_rows(
                                     {d: e["stream"] for d, e in exp.items()},
                                     rows).items()})
        for stem in self.digest_bad:
            shared[f"digest:{stem}"] = check.DIFFERS
            contract[f"digest:{stem}"] = check.DIFFERS
        return shared, contract

    def _count(self, rows: list[dict], exp: dict) -> None:
        """Quarantined payloads (absent, or present as quarantined rows)
        and committed output spans, for the trace."""
        got = {r["doc_id"] for r in rows}
        self.quarantined += sum(1 for d in exp if d not in got) + sum(
            1 for r in rows if r["status"] == "quarantined")
        self.spans_out += sum(len(r["spans"] or []) for r in rows)

    def out_bytes(self) -> int:
        return sum(committed_bytes(t) for t in self.outputs)

    def manifest_files(self) -> int:
        return _manifest_count(self.outputs)


class TableIn:
    name = "table_in"

    def __init__(self, h):
        self.h = h
        self.root = h.root
        self.w = os.path.join(h.work, "table_in")
        os.makedirs(self.w, exist_ok=True)
        cache = os.path.join(self.root, ".perfbench_work", "cache")
        fx = os.path.join(self.root, "fixtures", gen.SPANS_SF)
        self.spans_ref = cached(
            cache, ["spans-refs", os.path.join(fx, "documents_in.parquet"),
                    os.path.join(fx, "spans_geom.parquet")]
            + _code_key(self.root), self._span_references)
        self.corpus = os.path.join(self.w, "corpus")
        self.survivors_ref: set | None = None
        self.expected: list[tuple[str, dict]] = []
        self.curated: list[str] = []
        self.outputs: list[str] = []
        self._inputs: dict[int, dict] = {}
        self.warmups = [self.warm_spans, self.warm_spans]
        self.quarantined = 0  # no decode: nothing is quarantined
        self.spans_out = 0

    def _span_references(self) -> dict:
        import pyarrow.parquet as pq

        fx = os.path.join(self.root, "fixtures", gen.SPANS_SF)
        docs = pq.read_table(
            os.path.join(fx, "documents_in.parquet")).to_pylist()
        geom: dict[str, list] = {}
        for r in pq.read_table(
                os.path.join(fx, "spans_geom.parquet")).to_pylist():
            geom.setdefault(r["doc_id"], []).append(r)
        out = {}
        for d in docs:
            rows = sorted(geom.get(d["doc_id"], []), key=lambda r: r["offset"])
            hdr, ftr = check.hf_reference(rows)
            out[d["doc_id"]] = check.extraction_reference(d["spans"], hdr, ftr)
        return out

    def _replica(self, i: int) -> dict:
        """Replica ``i`` of sf0.1, written as several parquet files."""
        if i not in self._inputs:
            self._inputs[i] = gen.spans_replica(
                self.root, self.h.seed, i, os.path.join(self.w, f"in{i:03d}"),
                SPAN_FILES)
        return self._inputs[i]

    def warm_spans(self) -> None:
        d = os.path.join(self.w, f"warm-{len(self.h.setups)}")
        gen.spans_sample(self.root, d, WARM_DOCS, WARM_SKEW_SPANS)
        _job(["--input", os.path.join(d, "docs"),
              "--geom", os.path.join(d, "geom"),
              "--output", os.path.join(d, "out"),
              "--metrics", os.path.join(d, "met")])()

    def iteration(self, i: int) -> None:
        h = self.h
        rep = self._replica(i)
        out, met = (os.path.join(self.w, f"out{i:03d}"),
                    os.path.join(self.w, f"met{i:03d}"))
        exp = {d: self.spans_ref[b] for d, b in rep["ids"].items()}
        t_land = time.perf_counter()
        h.call("extract_job.input", _job(
            ["--input", rep["docs"], "--geom", rep["geom"],
             "--output", out, "--metrics", met]),
            docs=rep["n_docs"], in_bytes=rep["bytes"], tables=(out, met),
            iteration=i)
        with h.tracer.span("wave_visible", iteration=i):
            visible = _visible(h.spark, out, set(exp))
        h.calls[-1]["wave_latency_s"] = (
            time.perf_counter() - t_land if visible else float("nan"))
        self.expected.append((out, exp))
        self.outputs += [out, met]
        self._replica(i + 1)  # staged ahead, outside the next timed call

    def finish(self) -> None:
        pass

    def curate(self, name: str, **attrs) -> None:
        """One curation call (traced runs only): ``curate_documents``
        over the text corpus and ``commit_append`` of the survivors into
        a fresh table, checked against the DuckDB twin."""
        from pdfspark.operators.textstats import curate_documents
        from pdfspark.sinks.snapshot import commit_append

        h = self.h
        if self.survivors_ref is None:
            self.corpus_docs = gen.corpus_inputs(self.root, h.seed,
                                                 self.corpus, CORPUS_FILES)
            self.survivors_ref = set(cached(
                os.path.join(self.root, ".perfbench_work", "cache"),
                ["curation-ref", os.path.join(self.root, "perfbench", "data"),
                 os.path.join(self.root, "fixtures", gen.CORPUS_SF,
                              "documents_aug.parquet")]
                + _code_key(self.root),
                lambda: sorted(check.curation_reference(
                    self.root, self.corpus, self.w, gen.CORPUS_SF))))
        cur = os.path.join(self.w, f"curated-{len(self.curated)}")

        def run():
            commit_append(
                curate_documents(h.spark.read.parquet(self.corpus)), cur)

        h.call(name, run, docs=self.corpus_docs,
               in_bytes=tree_bytes(self.corpus), tables=(cur,), **attrs)
        self.curated.append(cur)

    def verify(self) -> tuple[dict, dict]:
        from pdfspark.sinks.snapshot import read_committed

        bad = {}
        for table, exp in self.expected:
            rows = _read_rows(self.h.spark, table, sections=True)
            self.spans_out += sum(len(r["spans"] or []) for r in rows)
            bad.update(check.compare_rows(exp, rows))
        for k, table in enumerate(self.curated):
            df = read_committed(self.h.spark, table)
            got = set() if df is None else {
                r.doc_id for r in df.select("doc_id").collect()}
            for d in got ^ self.survivors_ref:
                bad[f"curate{k}:{d}"] = ("unexpected" if d in got
                                         else check.MISSING)
        return bad, dict(bad)

    def out_bytes(self) -> int:
        return sum(committed_bytes(t) for t in self.outputs)

    def manifest_files(self) -> int:
        return _manifest_count(self.outputs)


def _manifest_count(tables: list[str]) -> int:
    n = 0
    for t in tables:
        mdir = os.path.join(t, "_manifests")
        if os.path.isdir(mdir):
            n += sum(1 for f in os.listdir(mdir) if f.endswith(".manifest"))
    return n


def _visible(spark, table: str, doc_ids: set) -> bool:
    """Every doc in ``doc_ids`` is readable through read_committed."""
    from pdfspark.sinks.snapshot import read_committed

    df = read_committed(spark, table)
    if df is None:
        return not doc_ids
    return doc_ids <= {r.doc_id for r in df.select("doc_id").collect()}


def _read_rows(spark, table: str, sections: bool) -> list[dict]:
    from pdfspark.sinks.snapshot import read_committed

    df = read_committed(spark, table)
    if df is None:
        return []
    cols = ["doc_id", "status", "spans"] + (["sections"] if sections else [])
    return df.select(*cols).toArrow().to_pylist()


WORKLOADS = {"bytes_in": BytesIn, "table_in": TableIn}
