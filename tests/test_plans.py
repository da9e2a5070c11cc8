"""Plan-hygiene invariants, pinned per query class (VERDICT r3 #6):
a shuffle/join-strategy regression should fail pytest in-round, not
wait for an ad-hoc tools/explain_audit.py run.

All numbers read the pre-execution physical plan (AdaptiveSparkPlan's
initial plan): AQE may further improve strategies at runtime (e.g.
convert a stats-less SortMergeJoin to broadcast), never worsen them,
so upper bounds asserted here hold for the executed plan too.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.explain_audit import audit  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# Queries whose whole pipeline is per-row/per-doc: any Exchange here
# means a shuffle crept into a narrow op.
NARROW_ZERO_EXCHANGE = {
    "ts_langid", "ts_text_profile", "hm1_main_content",
    "m2_frame_sample", "m4_audio_chunks", "x11_f3_cleanup",
    "s1_binary_decode", "s34_page_scans", "s6_lines_source",
    "s7_json_source", "x19_html_tables", "s1_stream_extract",
}

# The one BroadcastNestedLoopJoin by design: J6's keyword->prompt
# containment join is a theta join on a ~10-row broadcast dimension.
BNLJ_ALLOWED = {"j6_keyword_hits": 1}

# SortMergeJoin allowance: td_curation's survivors frame is a
# localCheckpoint scan (no stats), so the pre-AQE plan picks SMJ for
# its doc_id joins; AQE converts to broadcast at runtime when small,
# and SMJ IS the right 100 TB shape for survivor-sized sides.
# dd_components: same class — the converged label frame is a
# checkpoint scan joined to its own size aggregate.
SMJ_ALLOWED = {
    "td_curation": 2, "dd_components": 2,
    # round 5: the W3 TOC-conditional rewrite joins the per-doc
    # matched-offset sets back onto the span stream on doc_id — the
    # same key the fill-down window partitions by, so the big side is
    # exchanged once for both; the match-set side is doc-count-sized
    # (not broadcastable at scale; AQE converts to broadcast when
    # small). One SMJ per query consuming with_current_section.
    "x1_w3_classify_flags": 1, "a8_sections": 1, "j1_heading_lookup": 1,
}

# Filter pushdown must reach the parquet scan for every query whose
# first move is a selective scan (kind=..., page ranges, margins).
PUSHDOWN_REQUIRED = {
    "x11_f3_cleanup", "s34_page_scans", "w1_reading_order",
    "j4_toc_skeleton", "ep1_extract_spans_sql", "a1_header_footer",
    "f10_f12_margins", "j7_tabular_pairs", "j6_keyword_hits",
    "ep3_tables_sql", "j3_tables_merged", "j1_heading_lookup",
    "j2_table_titles", "a5_table_stats", "x1_w3_classify_flags",
    "a8_sections",
}

# Exchange-count ceilings per query (today's audited values; lower is
# always fine). A new Exchange beyond the ceiling = a regression the
# round must explain or revert.
MAX_EXCHANGES = {
    "dd_exact_dups": 1, "dd_minhash_pairs": 5, "dd_minhash_verified": 11,
    # dd_simhash_pairs 5 -> 6 (round 5): the dual-config row (fixture
    # 4x8 + production 64-bit/4x16/h<=3) shares ONE bigram explode +
    # signature groupBy (32-bit sig = 64-bit prefix); the one extra
    # exchange is the second config's band/group stage, vs +3 for an
    # unshared union
    "dd_simhash_pairs": 6, "dd_components": 4, "ts_langid": 0,
    "ts_text_profile": 0, "hm1_main_content": 0, "td_curation": 3,
    "sim_ann_topk": 1, "sim_ivf_topk": 2, "j5_topk_euclidean": 1,
    # sim_neardup_lsh 4 -> 5 (round 4): the star-candidate rewrite
    # adds the bucket-representative min-aggregate — one extra
    # exchange bought O(m)-per-bucket candidates instead of C(m,2)
    "sim_ivf_euclidean": 2, "sim_neardup_lsh": 5, "a6_max_score": 1,
    "j6_keyword_hits": 2, "s11_fill_down": 1, "j7_tabular_pairs": 3,
    "a9_sessionize": 1, "m1_m3_media_features": 1, "m2_frame_sample": 0,
    "m4_audio_chunks": 0, "x11_f3_cleanup": 0, "s1_binary_decode": 0,
    "s34_page_scans": 0, "s13_embeddings_upsert": 1, "s6_lines_source": 0,
    "s7_json_source": 0, "x19_html_tables": 0, "s15_collated_tables": 1,
    # ep1 spans/sections and lineage 5 -> 1: the default config never
    # reads header/footer, so the fold joins no header/footer frame and
    # its salted repartition is the one exchange
    "s1_stream_extract": 0, "ep1_extract_spans": 1,
    "ep1_extract_spans_sql": 3, "ep1_extract_sections": 1,
    # w1 1 -> 2 (round 5): the dual-variant row unions the ref window
    # (one exchange) with the XY-cut page grouping (one exchange on
    # the same (doc_id, page_id) keys)
    "lineage_metrics": 1, "w1_reading_order": 2, "a1_header_footer": 5,
    "f10_f12_margins": 4, "a5_table_stats": 5, "ep3_tables_sql": 5,
    "ep3_tables_doc_scope": 6, "j3_tables_merged": 14,
    "ep3_tables_exact": 5, "j2_table_titles": 14, "j4_toc_skeleton": 1,
    # x1/a8 5 -> 13, j1 11 -> 13 (round 5): the W3 TOC-conditional
    # rewrite adds the heading->TOC whole-word semi join and the
    # per-doc matched-set join (audited 11-12 incl. broadcast
    # exchanges; AQE flips the tiny sides between BHJ and SMJ, so the
    # ceiling carries one unit of slack). The RUNTIME shuffle story
    # is one big-side exchange — the match-set join keys on doc_id,
    # which the fill-down window reuses.
    "j1_heading_lookup": 13, "x1_w3_classify_flags": 13, "a8_sections": 13,
}


@pytest.fixture(scope="module")
def plans(spark):
    # frames cached by earlier test modules would be substituted into
    # matching plan subtrees (CacheManager reuse), changing exchange
    # counts run-order-dependently — audit a cold catalog
    spark.catalog.clearCache()
    return audit(spark, SF_DIR)


def test_all_plans_build(plans):
    broken = {n: s for n, s in plans.items() if isinstance(s, str)}
    assert not broken, broken


def test_no_stray_nested_loop_joins(plans):
    bad = {
        n: s["bnlj"] for n, s in plans.items()
        if not isinstance(s, str) and s["bnlj"] > BNLJ_ALLOWED.get(n, 0)
    }
    assert not bad, f"unexpected BroadcastNestedLoopJoin: {bad}"


def test_no_stray_sort_merge_joins(plans):
    bad = {
        n: s["smj"] for n, s in plans.items()
        if not isinstance(s, str) and s["smj"] > SMJ_ALLOWED.get(n, 0)
    }
    assert not bad, f"unexpected SortMergeJoin: {bad}"


def test_narrow_ops_have_zero_exchanges(plans):
    bad = {
        n: plans[n]["exch"] for n in NARROW_ZERO_EXCHANGE
        if n in plans and not isinstance(plans[n], str)
        and plans[n]["exch"] != 0
    }
    assert not bad, f"shuffle crept into narrow ops: {bad}"


def test_filter_pushdown_reaches_scans(plans):
    bad = {
        n: plans[n]["pushed"] for n in PUSHDOWN_REQUIRED
        if n in plans and not isinstance(plans[n], str)
        and plans[n]["pushed"] == 0
    }
    assert not bad, f"pushdown missing at the scan: {bad}"


# Span-fold queries: the fold's dict-membership strip never reads
# header/footer strings, so its plan must not scan the geometry table
# that header_footer() aggregates.
NO_GEOM_SCAN = {"ep1_extract_spans", "ep1_extract_sections",
                "lineage_metrics"}


def test_default_span_fold_scans_no_geometry(plans):
    bad = {
        n: plans[n] for n in NO_GEOM_SCAN
        if isinstance(plans[n], str)
        or "spans_geom.parquet" in plans[n]["scans"]
        or "documents_in.parquet" not in plans[n]["scans"]
        or plans[n]["bhj"] != 0
    }
    assert not bad, f"header/footer side input still planned: {bad}"


def test_exchange_counts_bounded(plans):
    bad = {
        n: (s["exch"], MAX_EXCHANGES[n]) for n, s in plans.items()
        if not isinstance(s, str) and n in MAX_EXCHANGES
        and s["exch"] > MAX_EXCHANGES[n]
    }
    assert not bad, f"exchange count regressed (got, ceiling): {bad}"
    unknown = [n for n in plans if n not in MAX_EXCHANGES
               and not isinstance(plans[n], str)]
    assert not unknown, f"new queries missing an exchange ceiling: {unknown}"


def test_no_per_group_python_stages(plans):
    """Per-page-group kernels run many groups per Arrow batch
    (reading_order.map_sorted_groups): no driver plan makes every key
    group its own Arrow group through groupBy(...).applyInPandas."""
    bad = {n: s["grouped_py"] for n, s in plans.items()
           if not isinstance(s, str) and s["grouped_py"]}
    assert not bad, f"FlatMapGroupsInPandas in plan: {bad}"


def test_sections_query_runs_one_action(spark, monkeypatch):
    """ep1_extract_sections is the plain fold and nothing else: the
    jobs of a job group around the query and its collect() come from
    that collect() alone: the input is read with its declared schema
    (no schema-inference job), with no max-span-count probe and no
    frame left cached. The jobs are told apart by their stages' call
    sites, because AQE runs the salted shuffle's map side as a job of
    its own (2 jobs here, 4 with the probe)."""
    import pdfspark.operators.extract as X
    from __spark_entry__ import _q_extract_sections

    probes = []
    probe = X._max_span_count

    def counting(df):
        probes.append(df)
        return probe(df)

    monkeypatch.setattr(X, "_max_span_count", counting)
    sc = spark.sparkContext
    cached = set(sc._jsc.getPersistentRDDs().keys())
    group = "test-ep1-extract-sections"
    sc.setJobGroup(group, "ep1_extract_sections")
    try:
        rows = _q_extract_sections(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    st = sc.statusTracker()
    sites = {st.getStageInfo(s).name
             for j in st.getJobIdsForGroup(group)
             for s in st.getJobInfo(j).stageIds}
    assert sorted(s.split(" at ")[0] for s in sites) == [
        "collect"], sites
    assert probes == []
    assert set(sc._jsc.getPersistentRDDs().keys()) <= cached


def test_bytes_in_is_one_python_stage(spark):
    """Batch --payloads and the stream decode and fold each payload in
    one Python stage: no Exchange and exactly one MapInPandas above the
    binaryFile scan, coalesced (narrow) to at most the default
    parallelism, one row per payload file."""
    import glob

    from pdfspark.sources.binary_decode import (
        extract_payloads,
        read_payloads,
    )
    from tools.explain_audit import plan_summary

    src = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures", "*", "payloads")
    df = extract_payloads(read_payloads(spark, src))
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = plan_summary(plan)
    assert (s["exch"], s["pyarrow"]) == (0, 1), plan
    assert "EvalPython" not in plan and "MapInArrow" not in plan, plan
    assert plan.index("MapInPandas") < plan.index("binaryFile"), plan
    assert (df.rdd.getNumPartitions()
            <= spark.sparkContext.defaultParallelism)
    assert df.count() == len(glob.glob(os.path.join(src, "*")))


# Job commits per mode: (table, sources scanned, Python stages,
# exchange ceiling, broadcast joins). Every mode's data commit is its
# one Python kernel (the fold, or --html's page kernel) over its source
# plus the commit's rebalance, its only exchange, and joins nothing.
# The lineage commit is a local frame of what the kernel's tasks
# counted: no scan, no Python, no exchange. A stream epoch's data
# commit reads the micro-batch from the source's RDD (``Scan
# ExistingRDD``), which names no location.
JOB_COMMITS = {
    "--input": [("out", ["documents_in.parquet"], 1, 1, 0),
                ("met", [], 0, 0, 0)],
    "--payloads": [("out", ["payloads"], 1, 1, 0), ("met", [], 0, 0, 0)],
    "--stream-payloads": [("out", [], 1, 1, 0),
                          ("met", [], 0, 0, 0)],
    "--html": [("out", ["html"], 1, 1, 0), ("met", [], 0, 0, 0)],
}


@pytest.mark.parametrize("mode", sorted(JOB_COMMITS))
def test_job_commit_plans(spark, fixture_dir, tmp_path, monkeypatch, mode):
    """Each frame extract_job commits reads its source directly through
    one Python stage, or, for the lineage, nothing at all: no
    broadcast join, bounded exchanges, and on
    --input --geom no scan of the geometry table (the job's config
    never reads header/footer strings). One --stream-payloads epoch
    commits like --payloads, and --html like both: its zero-block
    sentinel and its lineage come out of the page kernel's one pass."""
    import pdfspark.sinks.snapshot as S
    from jobs.extract_job import main
    from tools.explain_audit import plan_summary

    seen = []
    real = S._stage_snapshot

    def capture(df, output, *a, **kw):
        plan = df._jdf.queryExecution().executedPlan().toString()
        seen.append((os.path.basename(output),
                     plan_summary(plan), plan))
        return real(df, output, *a, **kw)

    monkeypatch.setattr(S, "_stage_snapshot", capture)
    html = tmp_path / "html"
    if mode == "--html":
        html.mkdir()
        for r in spark.read.parquet(
                os.path.join(fixture_dir, "html_pages.parquet")).collect():
            (html / f"{r.doc_id}.html").write_text(r.html or "")
    payloads = os.path.join(fixture_dir, "payloads")
    src = {"--input": ["--input",
                       os.path.join(fixture_dir, "documents_in.parquet"),
                       "--geom",
                       os.path.join(fixture_dir, "spans_geom.parquet")],
           "--payloads": ["--payloads", payloads],
           "--stream-payloads": ["--stream-payloads", payloads,
                                 "--checkpoint", str(tmp_path / "ck")],
           "--html": ["--html", str(html)]}[mode]
    assert main([*src, "--output", str(tmp_path / "out"),
                 "--metrics", str(tmp_path / "met")]) == 0
    assert [t for t, _, _ in seen] == [c[0] for c in JOB_COMMITS[mode]]
    for (table, s, plan), (_, scans, py, max_exch, bhj) in zip(
            seen, JOB_COMMITS[mode]):
        assert s["pyarrow"] == py and s["bhj"] == bhj, (table, plan)
        assert s["exch"] <= max_exch, (table, plan)
        assert s["scans"] == scans, (table, plan)
