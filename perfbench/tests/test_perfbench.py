"""Tests of the benchmark itself (Spark-free, a few seconds).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, layers, restmetrics, run  # noqa: E402
from perfbench.tracing import Tracer, self_time  # noqa: E402


@pytest.fixture(scope="module")
def source():
    return gen.PayloadSource(ROOT)


# --- generator -----------------------------------------------------------

WAVE = {"json": 6, "pdf": 1, "quarantined": 1}


def test_payload_mix_is_deterministic_per_seed(source):
    a = gen.payload_mix(source, 7, 2, WAVE, 8)
    b = gen.payload_mix(source, 7, 2, WAVE, 8)
    c = gen.payload_mix(source, 8, 2, WAVE, 8)
    assert a == b
    assert a != c
    # the seed sets the landing order; the documents are the same
    assert [sorted(p.name for p in w) for w in a] == \
        [sorted(p.name for p in w) for w in c]
    assert all(len(w) == sum(WAVE.values()) for w in a)


def test_leading_bases_open_their_category(source):
    pdf = sorted(p for p in source.paths if p.endswith(".pdf")
                 and source.decoded[p] is not None)
    lead = pdf[-1]
    w = gen.payload_mix(source, 1, 2, WAVE, 2, leads=lambda p: p == lead)
    assert [p.base for p in w[0] if p.base.endswith(".pdf")] == [lead]
    assert [p.replica for p in w[1] if p.base.endswith(".pdf")] == [1]


def test_every_replica_has_a_distinct_doc_id(source):
    mix = gen.payload_mix(source, 3, 2, WAVE, 201)
    items = {p for w in mix for p in w}
    assert len(items) == 2 * len(source.paths)  # every file, both replicas
    ids = [p.doc_id or os.path.splitext(p.name)[0] for p in items]
    assert len(set(ids)) == len(ids)
    assert len({p.name for p in items}) == len(items)
    for w in mix:
        assert len({p.name for p in w}) == len(w)
    # every codec slice stays in the mix, encrypted and quarantined ones too
    assert {p.base for p in items} == set(source.paths)


def test_replicas_decode_to_new_doc_id_with_base_spans(source):
    from pdfspark.sources.binary_decode import _decode_payload

    for p in source.paths:
        pl = gen.Payload(p, 1, "x", None if source.decoded[p] is None
                         else source.decoded[p]["doc_id"] + "-r1")
        data = source.make(pl)  # raises unless the decode checks hold
        if source.decoded[p] is not None and p.endswith(".pdf"):
            assert data.startswith(source.bytes[p])  # appended update
            assert _decode_payload(data)["doc_id"] == pl.doc_id


def test_retitle_pdf_keeps_encrypted_slice(source):
    enc = [p for p in source.paths if p.endswith(".pdf")
           and b"/Encrypt" in source.bytes[p]
           and source.decoded[p] is not None]
    assert len(enc) >= 4  # RC4-40, RC4-128, AESV2, AES-256
    for p in enc:
        new = gen.retitle_pdf(source.bytes[p], "retitled-doc")
        from pdfspark.sources.binary_decode import _decode_payload

        got = _decode_payload(new)
        assert got["doc_id"] == "retitled-doc"
        assert got["spans"] == source.decoded[p]["spans"]


def test_replica_with_wrong_spans_is_refused(source):
    p = next(p for p in source.paths if p.endswith(".bin")
             and source.decoded[p] is not None)
    source.decoded[p] = dict(source.decoded[p], spans=[])
    try:
        with pytest.raises(ValueError):
            source.make(gen.Payload(p, 1, "y.bin", "some-id-r1"))
    finally:
        source.decoded[p] = gen.decode_all({p: source.bytes[p]})[p]


def test_parquet_inputs_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    def ids(d):
        return pq.read_table(d).column("doc_id").to_pylist()

    a = gen.spans_replica(ROOT, 5, 1, str(tmp_path / "a"), 3)
    b = gen.spans_replica(ROOT, 5, 1, str(tmp_path / "b"), 3)
    c = gen.spans_replica(ROOT, 6, 1, str(tmp_path / "c"), 3)
    assert ids(a["docs"]) == ids(b["docs"]) != ids(c["docs"])
    assert sorted(ids(a["docs"])) == sorted(ids(c["docs"]))
    assert len(set(ids(a["docs"]))) == a["n_docs"]
    assert all(d.endswith("-r1") for d in ids(a["docs"]))
    assert set(a["ids"]) == set(ids(a["docs"]))
    assert len(os.listdir(a["docs"])) == 3
    n1 = gen.corpus_inputs(ROOT, 5, str(tmp_path / "c1"), 4)
    n2 = gen.corpus_inputs(ROOT, 5, str(tmp_path / "c2"), 4)
    assert n1 == n2
    assert ids(str(tmp_path / "c1")) == ids(str(tmp_path / "c2"))


# --- correctness check ----------------------------------------------------

def _expected_and_rows(source):
    exp, rows = {}, []
    for p in source.paths[:40]:
        dec = source.decoded[p]
        if dec is None:
            continue
        hdr, ftr = check.hf_reference(dec["spans"])
        ref = check.extraction_reference(dec["spans"], hdr, ftr)
        exp[dec["doc_id"]] = ref
        rows.append(dict(doc_id=dec["doc_id"], status=ref["status"],
                         spans=[dict(s) for s in ref["spans"]],
                         sections=ref["sections"]))
    return exp, rows


def test_corrupted_committed_row_raises_docs_failed_frac(source):
    exp, rows = _expected_and_rows(source)
    wl = types.SimpleNamespace(verify=lambda: (check.compare_rows(exp, rows),
                                               {}),
                               out_bytes=lambda: 1)
    h = types.SimpleNamespace(
        calls=[dict(name="extract_job.payloads", docs=len(exp), seconds=1.0,
                    cpu_s=2.0, steal_frac=0.0, in_bytes=1, out_files=1,
                    ok=True)],
        setups=[1.0], rss=types.SimpleNamespace(peak_bytes=2**20))
    m, detail = run.e2e_metrics(h, wl)
    assert set(run.E2E_UNITS) | set(run.PRINTED_UNITS) == set(m)
    assert detail["docs_failed_frac"] == 0 and m["docs_ok_frac"] == 1
    victim = rows[3]
    victim["spans"][0]["text"] = victim["spans"][0]["text"] + " (corrupt)"
    m, detail = run.e2e_metrics(h, wl)
    assert detail["mismatches"] == {victim["doc_id"]: check.DIFFERS}
    assert detail["docs_failed_frac"] == pytest.approx(1 / len(exp))
    assert m["docs_ok_frac"] == pytest.approx(1 - 1 / len(exp))


def test_quarantined_reference_accepts_absent_or_quarantined_row():
    exp = {"a": check.QUARANTINED}
    assert check.compare_rows(exp, []) == {}
    assert check.compare_rows(
        exp, [dict(doc_id="a", status="quarantined", spans=[])]) == {}
    assert check.compare_rows(
        exp, [dict(doc_id="a", status="ok", spans=[])]) == {"a": "differs"}


def test_missing_duplicate_and_unexpected_rows_are_reported():
    ref = dict(status="ok", spans=[dict(kind="paragraph", text="t",
                                        media_ref=None, offset=0)],
               sections=[])
    row = dict(doc_id="a", status="ok", spans=ref["spans"], sections=[])
    assert check.compare_rows({"a": ref}, []) == {"a": "missing"}
    assert check.compare_rows({"a": ref}, [row, row]) == {"a": "duplicate"}
    assert check.compare_rows({"a": ref}, [row, dict(row, doc_id="b")]) == {
        "b": "unexpected"}


# --- printed metrics --------------------------------------------------------

def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.METRICS
    assert [w["name"] for w in b["workloads"]] == ["bytes_in", "table_in"]
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert max(m["bound"] for m in b["end_to_end"]) == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")


def test_every_e2e_metric_is_printed_with_its_unit(monkeypatch, capfd,
                                                   tmp_path):
    e2e = {k: 1.5 for k in run.E2E_UNITS}
    e2e.update(docs_per_cpu_s=1.0, docs_per_s=3.0, wave_latency_p50_s=4.0,
               compact_s=float("nan"), peak_rss_mb=2.5, steal_frac=0.1)
    report = dict(e2e=e2e, harness_s=0.1, calls=[dict(ok=True)],
                  detail=dict(docs=10, docs_failed=1, docs_failed_frac=0.1,
                              mismatches={"doc-7": "differs"},
                              contract_mismatches={}))
    monkeypatch.setattr(run, "run", lambda args: report)
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    run.main(["--workload", "bytes_in", "--seed", "1", "--seconds", "1"])
    out = capfd.readouterr().out.splitlines()
    last = json.loads(out[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True
    for name, unit in run.E2E_UNITS.items():
        assert last["metrics"][name] == {"value": 1.5, "unit": unit}
        assert f"{name} = 1.5 {unit}" in out
    assert "peak_rss_mb = 2.5 MB" in out
    assert "compact_s = n/a (no such call on this workload)" in out
    assert "mismatch doc-7: differs" in out
    assert any(line.startswith("docs_failed_frac = 0.1") for line in out)


# --- tracing ----------------------------------------------------------------

def _span(i, start, end, parent=None):
    return dict(id=i, name=f"s{i}", start=start, end=end, parent=parent)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0),
            _span(3, 6.0, 7.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_self_time_clips_children_to_the_span():
    parent = _span(0, 5.0, 10.0)
    kids = [_span(1, 3.0, 6.0, 0), _span(2, 9.0, 12.0, 0)]
    assert self_time(parent, kids) == pytest.approx(5.0 - 1.0 - 1.0)
    assert self_time(parent, []) == pytest.approx(5.0)


def test_tracer_records_parents():
    t = Tracer("r")
    with t.span("outer") as o:
        with t.span("inner") as i:
            pass
    assert i["parent"] == o["id"] and o["parent"] is None
    assert t.children(o) == [i]
    assert self_time(o, t.children(o)) <= o["end"] - o["start"]


# --- endpoint parsing -----------------------------------------------------

def test_metric_value_units():
    v = restmetrics.metric_value
    assert v("total (min, med, max (stageId: taskId))\n1.8 s (353 ms, 504 "
             "ms, 515 ms (stage 15.0: task 27))") == pytest.approx(1.8)
    assert v("16.0 KiB") == 16 * 1024
    assert v("42 ms") == pytest.approx(0.042)
    assert v("1,204") == 1204
    assert restmetrics.metric_stages("x (stage 15.0: task 27))") == {15}


PLAN = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- == Final Plan ==
   ResultQueryStage (3)
   +- MapInPandas (2)
      +- Scan binaryFile  (1)
+- == Initial Plan ==
   MapInPandas (4)
   +- Scan binaryFile  (1)


(1) Scan binaryFile
Output [3]: [path#0, length#2L, content#3]

(2) MapInPandas
Input [3]: [path#0, length#2L, content#3]
Arguments: run(path#0, length#2L, content#3)#5, [doc_id#6, page_id#7, x0#12], false

(3) ResultQueryStage
Output [3]: [doc_id#6, page_id#7, x0#12]

(4) MapInPandas
Arguments: run(path#0)#5, [doc_id#6], false

(5) AdaptiveSparkPlan
Output [3]: [doc_id#6, page_id#7, x0#12]
"""


def test_plan_nodes_map_to_layers_by_operator_and_columns():
    blocks = restmetrics.final_plan_blocks(PLAN)
    assert sorted(blocks) == [1, 2, 3, 5]
    execution = dict(planDescription=PLAN, edges=[
        dict(fromId=2, toId=1), dict(fromId=1, toId=0)], nodes=[
        dict(nodeId=0, nodeName="AdaptiveSparkPlan", metrics=[]),
        dict(nodeId=1, nodeName="MapInPandas", metrics=[
            dict(name="time to run Python workers", value="2.0 s")]),
        dict(nodeId=2, nodeName="Scan binaryFile", metrics=[
            dict(name="number of files read", value="10")])])
    nodes = restmetrics.map_nodes(execution)
    layers_by_name = {n["name"]: restmetrics.classify(n) for n in nodes}
    assert layers_by_name == {"MapInPandas": "binary_decode",
                              "Scan binaryFile": "binary_decode"}
    mip = next(n for n in nodes if n["name"] == "MapInPandas")
    assert mip["metrics"]["time to run Python workers"] == 2.0
