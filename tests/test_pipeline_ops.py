"""Training-data pipeline operators: planted-duplicate recovery,
determinism under repartitioning, and reference-semantics checks."""

import os

import pytest
from pyspark.sql import functions as F

from pdfspark.operators.dedup import (
    exact_duplicates,
    minhash_candidates,
    minhash_verified,
    neardup_components,
    simhash_candidates,
    simhash_signatures,
)
from pdfspark.operators.media import media_features, media_table
from pdfspark.operators.retrieval import (
    fill_down_events,
    sessionize_events,
    tabular_pairs,
    upsert_embeddings,
)
from pdfspark.operators.similarity import (
    cosine_topk,
    euclidean_topk,
    ivf_topk_cosine,
    ivf_topk_euclidean,
    neardup_lsh,
)
from pdfspark.operators.textstats import (
    fingerprints,
    language_id,
    quality_scores,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_all(spark, fixture_dir):
    td = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    aug = spark.read.parquet(os.path.join(fixture_dir, "documents_aug.parquet"))
    return (
        td.select("doc_id", "text")
        .unionByName(aug.select("doc_id", "text"))
        .cache()
    )


@pytest.fixture(scope="module")
def emb_all(spark, fixture_dir):
    td = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    aug = spark.read.parquet(os.path.join(fixture_dir, "embeddings_aug.parquet"))
    return (
        td.select("vec_id", "embedding")
        .unionByName(aug.select("vec_id", "embedding"))
        .cache()
    )


def test_exact_dedup_finds_planted_copies(docs_all):
    groups = exact_duplicates(docs_all).filter(F.col("n_copies") > 1).collect()
    assert groups, "planted exact copies not found"
    for g in groups:
        ids = [int(x) for x in g.doc_ids.split(",")]
        assert g.keeper_doc_id == min(ids)
        assert any(i >= 2_000_000 for i in ids)  # the planted copy
        assert any(i < 1_000_000 for i in ids)  # its original


def test_minhash_recovers_neardups(docs_all):
    """Every planted near-dup (2 words edited) must surface as an LSH
    candidate and verify with high Jaccard; exact copies too."""
    pairs = {(r.doc_a, r.doc_b) for r in minhash_candidates(docs_all).collect()}
    originals = [
        r.doc_id for r in docs_all.filter(F.col("doc_id") >= 1_000_000)
        .filter(F.col("doc_id") < 2_000_000).collect()
    ]
    found = sum((o - 1_000_000, o) in pairs for o in originals)
    # banding is probabilistic; at J~0.85 expect near-total recall
    assert found >= int(0.8 * len(originals)), (found, len(originals))
    verified = minhash_verified(docs_all).collect()
    jacc = {(r.doc_a, r.doc_b): r.jaccard for r in verified}
    for o in originals:
        key = (o - 1_000_000, o)
        if key in jacc:
            assert jacc[key] >= 0.5


def test_simhash_close_for_neardups(docs_all):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs_all).collect()}
    near = [
        (d - 1_000_000, d) for d in sigs if 1_000_000 <= d < 2_000_000
    ]
    for a, b in near:
        ham = sum(x != y for x, y in zip(sigs[a], sigs[b]))
        assert ham <= 8, (a, b, ham)
    cands = simhash_candidates(docs_all)
    assert cands.filter(F.col("hamming") == 0).count() > 0


def test_star_candidates_linear_in_cluster_size(spark):
    """A planted 1,000-member identical cluster must emit O(m)
    candidate rows (each member paired with the cluster min), not the
    ~C(m,2)=499,500 of an all-pairs bucket join — the 100 TB
    boilerplate-cluster pathology the star-shaped generation exists
    to kill. Same invariant for simhash."""
    text = "the quick brown fox jumps over the lazy dog every day"
    docs = spark.createDataFrame(
        [(i, text) for i in range(1000)], "doc_id long, text string"
    )
    mh = minhash_candidates(docs).collect()
    assert len(mh) == 999
    assert all(r.doc_a == 0 and r.n_shared_bands == 4 for r in mh)
    sh = simhash_candidates(docs).collect()
    assert len(sh) == 999
    assert all(r.doc_a == 0 and r.hamming == 0 for r in sh)


def test_embedding_lsh_star_linear_in_cluster_size(spark):
    """1,000 identical embeddings: the banded hyperplane LSH must emit
    O(m) verified pairs (member vs bucket-min representative), not
    C(m,2)."""
    vec = [0.25, -0.5, 0.125, 1.0] * 16  # dim 64, like the corpus
    emb = spark.createDataFrame(
        [(i, vec) for i in range(1000)],
        "vec_id long, embedding array<float>",
    )
    rows = neardup_lsh(emb).collect()
    assert len(rows) == 999
    assert all(r.vec_a == 0 and r.cosine == 1.0 for r in rows)


def test_embedding_lsh_survives_bucket_min_collision(spark):
    """A genuine near-dup pair must be found even when a DISSIMILAR
    vector owns the minimum vec_id of EVERY band bucket the pair
    shares. A per-bucket star emits only (X, v1), (X, v2) there; both
    fail the cosine-0.99 verify and the true pair is silently lost.
    The two-tier generation band-joins all-pairs across distinct
    signatures, so (v1, v2) is scored regardless of X.

    Deterministic construction (seed pinned): v2 = v1 plus a
    perturbation orthogonal to band 0's plane normals (cos ~0.992,
    several shared bands); X = v1 plus a LARGE perturbation
    orthogonal to the normals of every shared band, so X lands in
    exactly the pair's buckets at cos ~0.55 with the smallest id."""
    import numpy as np

    from pdfspark.operators.similarity import NUM_PLANES, PLANE_BANDS, PLANES

    P = np.asarray(PLANES, dtype=np.float64)
    dim = P.shape[1]
    w = NUM_PLANES // PLANE_BANDS

    def sig(v):
        return (P @ v > 0).astype(int)

    def bands_of(s):
        return ["".join(map(str, s[b * w:(b + 1) * w]))
                for b in range(PLANE_BANDS)]

    r = np.random.default_rng(7)
    v1 = r.normal(size=dim)
    v1 /= np.linalg.norm(v1)
    q0, _ = np.linalg.qr(P[:w].T)
    w2 = r.normal(size=dim)
    w2 -= q0 @ (q0.T @ w2)
    w2 /= np.linalg.norm(w2)
    v2 = v1 + 0.13 * w2
    v2 /= np.linalg.norm(v2)
    # the engine stores float32 and widens back — run every
    # construction check on the quantized values it will see
    v1 = v1.astype(np.float32).astype(np.float64)
    v2 = v2.astype(np.float32).astype(np.float64)
    c12 = float(v1 @ v2 / (np.linalg.norm(v1) * np.linalg.norm(v2)))
    assert 0.990 <= c12 <= 0.996
    b1, b2 = bands_of(sig(v1)), bands_of(sig(v2))
    shared = [i for i in range(PLANE_BANDS) if b1[i] == b2[i]]
    assert 0 in shared and 0 < len(shared) < PLANE_BANDS
    idx = np.concatenate([np.arange(i * w, (i + 1) * w) for i in shared])
    qs, _ = np.linalg.qr(P[idx].T)
    w3 = r.normal(size=dim)
    w3 -= qs @ (qs.T @ w3)
    w3 /= np.linalg.norm(w3)
    x = v1 + 1.5 * w3
    x /= np.linalg.norm(x)
    x = x.astype(np.float32).astype(np.float64)
    bx = bands_of(sig(x))
    assert all(bx[i] == b1[i] for i in shared)   # X owns the buckets
    nrm = np.linalg.norm
    assert float(x @ v1) / (nrm(x) * nrm(v1)) < 0.95
    assert float(x @ v2) / (nrm(x) * nrm(v2)) < 0.95
    assert bx != b1 and bx != b2                 # three distinct sigs

    emb = spark.createDataFrame(
        [(0, [float(c) for c in x]),
         (1, [float(c) for c in v1]),
         (2, [float(c) for c in v2])],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r_.vec_a, r_.vec_b): r_.cosine
             for r_ in neardup_lsh(emb).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.99
    assert (0, 1) not in pairs and (0, 2) not in pairs


def test_star_candidates_component_equivalence(spark):
    """On a mixed corpus the two-tier graph's connected components
    equal the all-pairs graph's: signature-identical docs connect
    through their group representative, distinct signatures pair
    directly."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, base), (1, base), (2, base),
            (3, base.replace("delta", "DELTA-EDIT")),
            (4, "totally different words nothing shared here at all ok")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    edges = {(r.doc_a, r.doc_b)
             for r in minhash_candidates(docs).collect()}
    # identical docs 1,2 pair with rep 0; member-member edge (1,2)
    # is intentionally absent but the component {0,1,2} holds
    assert (0, 1) in edges and (0, 2) in edges
    assert (1, 2) not in edges
    assert not any(4 in e for e in edges)


def test_neardup_components_match_union_find(docs_all):
    """The distributed min-label/pointer-jump loop must converge to
    exactly the connected components of the verified-pair graph: same
    membership, same component-min representative, same sizes as a
    driver-side union-find over the collected edges. Also pins the
    case 'drop every doc_b' under-handles: a member that only ever
    appears on the doc_a side still gets clustered."""
    edges = [(r.doc_a, r.doc_b)
             for r in minhash_verified(docs_all).collect()]
    assert edges, "fixture should plant verified near-dups"
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}
    sizes = {}
    for v, r in expected.items():
        sizes[r] = sizes.get(r, 0) + 1

    got = {r.doc_id: (r.rep_id, r.comp_size)
           for r in neardup_components(docs_all).collect()}
    assert set(got) == set(expected)
    for v, (rep, size) in got.items():
        assert rep == expected[v], (v, rep, expected[v])
        assert size == sizes[expected[v]], (v, size)
    assert max(sizes.values()) >= 3, "fixture should have a 3+ cluster"


def test_components_string_ids_long_path(spark):
    """Regression for the round-4 convergence check: with STRING
    doc_ids the old sum-of-labels invariant evaluated to NULL, the
    loop exited after one round, and any component of diameter > ~5
    came back fragmented — silently. The changed-label count must
    converge a 10-node path graph of string ids to one component
    with the lexicographic-min representative."""
    ids = [f"doc-{c}" for c in "abcdefghij"]
    edge_rows = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    edges = spark.createDataFrame(edge_rows, "doc_a string, doc_b string")
    dummy = spark.createDataFrame([("doc-a", "x")],
                                  "doc_id string, text string")
    got = {r.doc_id: (r.rep_id, r.comp_size)
           for r in neardup_components(
               dummy, precomputed_edges=edges).collect()}
    assert set(got) == set(ids)
    for v in ids:
        assert got[v] == ("doc-a", 10), (v, got[v])


def test_components_edge_injection_matches_inline(docs_all):
    """precomputed_edges must yield byte-identical components to the
    inline minhash_verified path (the single-LSH-execution composition
    curation uses)."""
    edges = minhash_verified(docs_all).select("doc_a", "doc_b")
    inline = sorted((r.doc_id, r.rep_id, r.comp_size)
                    for r in neardup_components(docs_all).collect())
    injected = sorted(
        (r.doc_id, r.rep_id, r.comp_size)
        for r in neardup_components(
            docs_all, precomputed_edges=edges).collect())
    assert inline == injected
    assert inline, "fixture should plant near-dup components"


def test_curation_exact_components_matches_linear(docs_all):
    """curate_documents(exact_components=True) — one LSH execution
    feeding keep-min-per-component — must agree with the linear
    doc_b-drop default on the fixture corpus (their drop sets are
    test-pinned equal there)."""
    from pdfspark.operators.textstats import curate_documents

    linear = sorted(tuple(r) for r in curate_documents(docs_all).collect())
    exact = sorted(
        tuple(r)
        for r in curate_documents(docs_all, exact_components=True).collect())
    assert linear == exact
    assert linear


def test_curation_linear_drop_equals_component_drop(docs_all):
    """curate_documents' linear doc_b-drop must equal the exact
    keep-min-per-component drop set on the fixture corpus (the two
    can diverge only on path patterns where a non-min member's every
    edge points at larger ids — if this ever fails, the corpus now
    contains such a pattern and curation should switch to composing
    neardup_components)."""
    from pdfspark.operators.dedup import exact_duplicates

    keep = exact_duplicates(docs_all).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    uniq = docs_all.select("doc_id", "text").join(keep, "doc_id",
                                                  "left_semi")
    linear = {r.doc_id for r in minhash_verified(uniq)
              .select(F.col("doc_b").alias("doc_id")).distinct().collect()}
    exact = {r.doc_id for r in neardup_components(uniq)
             .filter(F.col("doc_id") != F.col("rep_id")).collect()}
    assert linear == exact
    assert linear, "fixture should plant near-dups"


def test_curation_near_dedup_is_keep_first_subset(docs_all):
    """near_dedup=True must drop exactly the docs that are the
    non-representative side of a Jaccard-verified star pair over the
    exact-dedup survivors — nothing more, nothing less."""
    from pdfspark.operators.dedup import exact_duplicates
    from pdfspark.operators.textstats import curate_documents

    with_nd = {r.doc_id for r in curate_documents(docs_all).collect()}
    without = {
        r.doc_id
        for r in curate_documents(docs_all, near_dedup=False).collect()
    }
    assert with_nd <= without
    keep = exact_duplicates(docs_all).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    uniq = docs_all.select("doc_id", "text").join(keep, "doc_id",
                                                  "left_semi")
    nd_b = {r.doc_b for r in minhash_verified(uniq).collect()}
    assert without - with_nd == nd_b & without
    assert nd_b, "fixture should plant at least one verified near-dup"


def test_dedup_deterministic_under_repartition(docs_all):
    base = sorted(
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in minhash_candidates(docs_all).collect()
    )
    shuffled = sorted(
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in minhash_candidates(docs_all.repartition(13)).collect()
    )
    assert base == shuffled


def test_textstats_shapes(docs_all):
    n = docs_all.count()
    for fn in (language_id, quality_scores, fingerprints):
        out = fn(docs_all)
        assert out.count() == n, fn.__name__
    q = quality_scores(docs_all).collect()
    for r in q:
        assert 0.0 <= r.quality_score <= 1.0
        assert r.n_words > 0


def test_text_profile_equals_standalone_ops(docs_all, spark):
    """The merged single-pass text_profile row must stay bit-identical
    to quality_token_stats LEFT-JOIN fingerprints (the three families
    it fused in round 5) — including NULL fingerprint columns for docs
    below the one-window winnowing threshold, where the standalone
    fingerprints op emits no row at all."""
    from pdfspark.operators.textstats import (
        fingerprints,
        quality_token_stats,
        text_profile,
    )

    short = spark.createDataFrame(
        [(9_000_001, "tiny doc"), (9_000_002, "abcdefghijk words here")],
        "doc_id bigint, text string",
    )
    docs = docs_all.unionByName(short)
    got = {r.doc_id: r for r in text_profile(docs).collect()}
    exp_df = quality_token_stats(docs).join(fingerprints(docs), "doc_id",
                                            "left")
    cols = list(next(iter(got.values())).asDict())
    exp = {r.doc_id: r for r in exp_df.select(*cols).collect()}
    assert set(got) == set(exp)
    assert all(got[k] == exp[k] for k in got)
    assert got[9_000_001].n_fingerprints is None
    assert got[9_000_001].fp_digest is None
    assert got[9_000_002].n_fingerprints is not None


def test_fingerprints_short_doc_boundary(spark):
    """Winnowing needs >= FP_W k-gram positions (norm length >=
    FP_K + FP_W - 1 = 11): shorter docs emit NO row (matching the
    original explode+window plan and the DuckDB oracle), the boundary
    doc emits exactly one fingerprint, and a repeated-window doc
    dedups its selected hashes."""
    from pdfspark.operators.textstats import FP_K, FP_W, fingerprints

    docs = spark.createDataFrame(
        [
            (1, "abcdefgh"),        # 8 letters -> 1 gram < FP_W: no row
            (2, "abcdefghij"),      # 10 -> 3 grams < FP_W: no row
            (3, "abcdefghijk"),     # 11 -> 4 grams = FP_W: 1 window
            (4, "aaaaaaaaaaaaaaa"), # identical grams -> 1 distinct fp
        ],
        "doc_id bigint, text string",
    )
    assert FP_K + FP_W - 1 == 11
    rows = {r.doc_id: r for r in fingerprints(docs).collect()}
    assert set(rows) == {3, 4}
    assert rows[3].n_fingerprints == 1
    assert rows[4].n_fingerprints == 1


def test_fingerprints_rolling_min_equals_naive(spark):
    """The monotonic-deque sliding min must equal the naive
    min-per-window winnowing on adversarial inputs (repeats, strictly
    descending hash runs, ties), and string doc_ids must pass through
    (the kernel's output schema derives from the input, not a
    hardcoded bigint)."""
    import hashlib
    import random

    from pdfspark.operators.textstats import FP_K, FP_W, fingerprints

    rng = random.Random(7)
    texts = [
        "the quick brown fox jumps over the lazy dog " * 3,
        "aabbccddeeff" * 5,
        "".join(rng.choice("abcdef ") for _ in range(400)),
        "abcabcabcabcabcabcabcabc",
    ]
    docs = spark.createDataFrame(
        [(f"doc-{i}", t) for i, t in enumerate(texts)],
        "doc_id string, text string",
    )
    rows = {r.doc_id: r for r in fingerprints(docs).collect()}

    import re as _re
    for i, t in enumerate(texts):
        # mirror dedup.normalized_text: lower -> non-alnum runs to one
        # space -> trim
        norm = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        hs = [hashlib.md5(norm[j:j + FP_K].encode()).hexdigest()
              for j in range(len(norm) - FP_K + 1)]
        sel = {min(hs[j:j + FP_W]) for j in range(len(hs) - (FP_W - 1))}
        dig = hashlib.md5("".join(sorted(sel)).encode()).hexdigest()
        r = rows[f"doc-{i}"]
        assert r.n_fingerprints == len(sel)
        assert r.fp_digest == dig


def test_ann_planted_neighbor_is_top1(emb_all):
    """The noised copy of each query vector must be its top cosine hit."""
    queries = emb_all.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1_000_000)
    )
    top = cosine_topk(emb_all, queries, k=1).collect()
    have_aug = {
        r.vec_id - 1_000_000
        for r in emb_all.filter(F.col("vec_id") >= 1_000_000).collect()
    }
    for r in top:
        if r.query_id in have_aug:
            assert r.vec_id == r.query_id + 1_000_000, r
            assert r.sim > 0.99


def test_euclidean_topk_is_sorted(emb_all):
    queries = emb_all.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1_000_000)
    )
    rows = euclidean_topk(emb_all, queries, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.dist))
    for q, rs in by_q.items():
        rs.sort()
        assert [r for r, _ in rs] == list(range(1, len(rs) + 1))
        dists = [d for _, d in rs]
        assert dists == sorted(dists)


def test_lsh_neardup_recovers_planted(emb_all):
    pairs = {(r.vec_a, r.vec_b) for r in neardup_lsh(emb_all).collect()}
    planted = {
        (v - 1_000_000, v)
        for v in (
            r.vec_id for r in emb_all.filter(F.col("vec_id") >= 1_000_000)
            .collect()
        )
    }
    # hyperplane banding: expect >= 80% recall of the planted pairs
    assert len(pairs & planted) >= int(0.8 * len(planted))


def test_media_features_deterministic(docs_all):
    m = media_table(docs_all.limit(20))
    a = {r.media_ref: (r.byte_len, r.content_md5, r.fake_width, r.fake_height)
         for r in media_features(m).collect()}
    b = {r.media_ref: (r.byte_len, r.content_md5, r.fake_width, r.fake_height)
         for r in media_features(m.repartition(7)).collect()}
    assert a == b
    assert all(v[0] > 0 for v in a.values())


def test_fill_down_never_null_after_first_valid(spark):
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    out = fill_down_events(ev)
    # any row whose user had a prior non-error event must be filled
    errs = out.filter(
        (F.col("event_type") == "error") & F.col("filled_value").isNull()
    ).count()
    total_err = out.filter(F.col("event_type") == "error").count()
    assert errs < total_err  # some errors are filled from history


def test_upsert_last_write_wins_within_batch(spark):
    """An update batch repeating a vec_id must merge to ONE row per
    key (last by the batch ordinal), like the reference Pinecone
    upsert / an Iceberg MERGE — not duplicate keys."""
    cur = spark.createDataFrame(
        [(1, [0.1]), (2, [0.2])], "vec_id long, embedding array<double>")
    upd = spark.createDataFrame(
        [(2, [9.0], 0), (2, [9.9], 1), (3, [0.3], 2)],
        "vec_id long, embedding array<double>, batch_ord int")
    out = {r.vec_id: list(r.embedding)
           for r in upsert_embeddings(cur, upd, ord_col="batch_ord").collect()}
    assert out == {1: [0.1], 2: [9.9], 3: [0.3]}


def test_sessionize_covers_all_events(spark):
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    sess = sessionize_events(ev)
    assert sess.agg(F.sum("n_events")).first()[0] == ev.count()
    assert sess.filter(F.col("start_ts") > F.col("end_ts")).count() == 0


def test_tabular_pairs_fire_on_sparse_fixture(spark, spans_geom):
    rows = tabular_pairs(
        spans_geom.filter(F.col("doc_id") == "tabular-sparse-00000")
    ).collect()
    rels = {r.relation for r in rows}
    assert "row" in rels and "col" in rels


def test_tabular_pairs_banded_equals_allpairs(spark, spans_geom):
    """The banded candidate join must reproduce the quadratic all-pairs
    reference exactly over the whole geometry fixture."""
    got = {(r.doc_id, r.page_id, r.o_a, r.o_b): r.relation
           for r in tabular_pairs(spans_geom).collect()}
    boxes = spans_geom.filter(F.col("kind") == "TextBox").collect()
    bypage: dict = {}
    for r in boxes:
        bypage.setdefault((r.doc_id, r.page_id), []).append(r)
    want = {}
    for (d, p), rows in bypage.items():
        rows.sort(key=lambda r: r.offset)
        for i, a in enumerate(rows):
            for b in rows[i + 1:]:
                ayc, byc = (a.y0 + a.y1) / 2, (b.y0 + b.y1) / 2
                axc, bxc = (a.x0 + a.x1) / 2, (b.x0 + b.x1) / 2
                same_row = abs(ayc - byc) <= 10.0
                same_col = abs(axc - bxc) <= 20.0
                x_ov = not (a.x1 < b.x0 or b.x1 < a.x0)
                y_ov = not (a.y1 < b.y0 or b.y1 < a.y0)
                if same_row and not same_col and not y_ov:
                    want[(d, p, a.offset, b.offset)] = "row"
                elif same_col and not same_row and not x_ov:
                    want[(d, p, a.offset, b.offset)] = "col"
    assert got == want


def test_tabular_candidates_linear_on_dense_page(spark):
    """A planted 5000-element page with spread centers must produce
    O(n) banded candidates, not the n^2/2 (~12.5M) all-pairs compare
    the round-2 form ran inside one task."""
    from pdfspark.operators.retrieval import (
        _tabular_boxes,
        tabular_candidates,
    )

    n = 5000
    rows = [("dense", 1, "TextBox", i, float(i) * 50.0,
             float(i) * 30.0, float(i) * 50.0 + 40.0,
             float(i) * 30.0 + 8.0) for i in range(n)]
    df = spark.createDataFrame(
        rows, "doc_id string, page_id int, kind string, offset int,"
              " x0 double, y0 double, x1 double, y1 double")
    n_cand = tabular_candidates(_tabular_boxes(df)).count()
    assert n_cand < 10 * n, n_cand


# --- J2 title<->table parent-id join ---------------------------------------

def _ref_match_table_titles(elements):
    """Statement-level transliteration of the reference's title dict +
    consume-once probe loop (src/utilities/parse_util.py:188-205):
    build table_titles keyed by parent_id (fallback element_id), then
    per Table in order probe parent_id then element_id, del on match."""
    table_titles = {}
    for el in elements:
        if el["etype"] == "NarrativeText":
            if el["parent_id"] is not None:
                table_titles[el["parent_id"]] = el["text"]
            else:
                table_titles[el["element_id"]] = el["text"]
    out = []
    for el in elements:
        if el["etype"] == "Table":
            table_id = el["element_id"]
            parent_id = el["parent_id"]
            title = ""
            if parent_id and parent_id in table_titles:
                title = table_titles[parent_id]
                del table_titles[parent_id]
            elif table_id in table_titles:
                title = table_titles[table_id]
                del table_titles[table_id]
            out.append((el["doc_id"], table_id, el["ord"], title))
    return out


def test_j2_matches_reference_transliteration(spark, fixture_dir):
    from pdfspark.operators.table_titles import match_table_titles

    el = spark.read.parquet(os.path.join(fixture_dir, "elements.parquet"))
    got = {
        (r.doc_id, r.element_id): (r.tord, r.title)
        for r in match_table_titles(el).collect()
    }

    raw = sorted(
        (r.asDict() for r in el.collect()),
        key=lambda r: (r["doc_id"], r["ord"]),
    )
    by_doc = {}
    for r in raw:
        by_doc.setdefault(r["doc_id"], []).append(r)
    want = {}
    for doc_id, els in by_doc.items():
        for d, eid, tord, title in _ref_match_table_titles(els):
            want[(d, eid)] = (tord, title)

    assert got == want
    # trap coverage: fixture must exercise consume-once ('' titles),
    # element-id fallback, and dict overwrite
    titles = [t for _, t in got.values()]
    assert "" in titles
    assert any(t.startswith("Table 2:") for t in titles)  # element match
    assert any(t.startswith("Table 4:") for t in titles)  # overwrite winner
    assert not any("stale first write" in t for t in titles)


def test_j2_no_cross_document_title_match(spark):
    """Both join sides of match_table_titles descend from the same
    elements scan, so the doc_id equi-join relies on self-join
    disambiguation (Spark logs a trivially-true-predicate warning on
    the unaliased form). Pin the semantics: docA's table parent-probes
    key 'k1', which only docB's title dict contains — a cross-document
    match would steal docB's title; the correct result is docA '' and
    docB unmatched-table ''."""
    from pdfspark.operators.table_titles import match_table_titles

    el = spark.createDataFrame(
        [
            ("docA", "tA", "Table", "k1", None, 0),
            ("docB", "nB", "NarrativeText", "k1", "Title B", 0),
            ("docB", "tB", "Table", None, None, 1),
        ],
        "doc_id string, element_id string, etype string,"
        " parent_id string, text string, ord int",
    )
    got = {(r.doc_id, r.element_id): r.title
           for r in match_table_titles(el).collect()}
    assert got == {("docA", "tA"): "", ("docB", "tB"): ""}


# --- J1 relational heading lookup ------------------------------------------

def test_j1_relational_equals_find_section_by_heading(spark):
    """headings_to_toc (broadcast theta join, safe mode) must agree
    with the reference's find_section_by_heading (incl. first-match-
    wins and swallowed-re.error => no match) on ASCII headings."""
    import re

    from pdfspark.functions import patterns as P
    from pdfspark.operators.classify import headings_to_toc

    toc_headings = ["Risk management", "Data - handling", "Summary",
                    "Risk management review"]
    toc = spark.createDataFrame(
        [("d1", h, i + 1) for i, h in enumerate(toc_headings)],
        "doc_id string, heading string, line_no int",
    )
    lookups = ["Risk management", "risk MANAGEMENT", "Data", "handling",
               "agement", "C++ (v2)", "Summary", "Risk management,"]
    classified = spark.createDataFrame(
        [("d1", i, True, None, s) for i, s in enumerate(lookups)],
        "doc_id string, offset int, is_heading boolean, "
        "section_title string, first_line string",
    )
    got = {
        r.offset: r.line_no
        for r in headings_to_toc(classified, toc).collect()
    }
    want = {}
    for i, s in enumerate(lookups):
        try:
            idx = P.find_section_by_heading(s, toc_headings)
        except re.error:
            idx = None  # reference swallows per-element
        want[i] = None if idx is None else idx + 1
    assert got == want
    assert want[0] == 1 and want[4] is None and want[5] is None


# --- S1 binary-decode scaffold ---------------------------------------------

def test_s1_binary_decode_roundtrip(spark, fixture_dir, documents_in):
    """binaryFile -> Arrow decode must reproduce the exact span arrays
    of the serialized documents and quarantine both corrupt payloads
    (truncated JSON and non-UTF8 bytes) as rows, not task failures."""
    from pdfspark.sources.binary_decode import decode_payloads, read_payloads

    out = decode_payloads(
        read_payloads(spark, os.path.join(fixture_dir, "payloads"))
    ).collect()
    bad = sorted(r.doc_id for r in out if r.status == "decode_error")
    assert bad == ["corrupt_binary", "corrupt_trunc"]
    assert all(r.bytes_len > 0 for r in out)

    want = {
        r.doc_id: [t.asDict() for t in r.spans]
        for r in documents_in.collect()
    }
    n_ok = 0
    for r in out:
        if r.status == "ok":
            assert [t.asDict() for t in r.spans] == want[r.doc_id], r.doc_id
            n_ok += 1
    assert n_ok > 0


@pytest.mark.parametrize("ivf,brute", [
    (ivf_topk_cosine, cosine_topk),
    (ivf_topk_euclidean, euclidean_topk),
], ids=["cosine", "euclidean"])
def test_ivf_topk_recall_against_brute_force(emb_all, ivf, brute):
    """Each IVF route returns ranks 1..5 per query, never the query
    itself, and recovers at least 60% of its brute-force twin's top-5
    (NPROBE=2 of 8 cells on near-uniform fixture vectors)."""
    q = emb_all.filter((F.col("vec_id") % 50 == 0)
                       & (F.col("vec_id") < 1000000))
    qids = {r.vec_id for r in q.select("vec_id").collect()}
    assert len(qids) == 10
    got, truth = {}, {}
    for r in ivf(emb_all, q).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    for r in brute(emb_all, q).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    assert set(got) == qids
    hits = 0
    for qid, ranked in got.items():
        assert sorted(rk for rk, _ in ranked) == [1, 2, 3, 4, 5], qid
        assert all(v != qid for _, v in ranked), qid
        hits += len({v for _, v in ranked} & truth[qid])
    assert hits / sum(len(t) for t in truth.values()) >= 0.6


def test_topk_fold_kernels_equal_hof_twins(spark, emb_all):
    """The production fold-order kernels must equal the interpreted
    HOF twins (the DuckDB-oracled forms) row-for-row, sims/dists
    included — the bit-exact left-fold accumulation claim."""
    from pdfspark.operators.similarity import (
        cosine_topk_hof,
        euclidean_topk_hof,
    )

    q = emb_all.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1000000))
    a = sorted((r.query_id, r.rank, r.vec_id, r.sim)
               for r in cosine_topk(emb_all, q).collect())
    b = sorted((r.query_id, r.rank, r.vec_id, r.sim)
               for r in cosine_topk_hof(emb_all, q).collect())
    assert a == b
    c = sorted((r.query_id, r.rank, r.vec_id, r.dist)
               for r in euclidean_topk(emb_all, q).collect())
    d = sorted((r.query_id, r.rank, r.vec_id, r.dist)
               for r in euclidean_topk_hof(emb_all, q).collect())
    assert c == d


def test_topk_fold_empty_queries(spark, emb_all):
    from pdfspark.operators.similarity import euclidean_topk

    q = emb_all.filter(F.col("vec_id") < 0)
    assert cosine_topk(emb_all, q).count() == 0
    assert euclidean_topk(emb_all, q).count() == 0


HOLDOUT_SENTENCES = [
    # authored holdout prose, disjoint from the langprof seed texts
    ("en", "We should measure the speed of the system before and "
           "after the change, and then decide which of the two "
           "designs is the better one for the workload."),
    ("en", "There is a small library at the end of the street where "
           "the children read stories in the afternoon."),
    ("es", "Los ninos leen cuentos por la tarde en la biblioteca "
           "pequena que esta al final de la calle."),
    ("es", "Antes de cambiar el sistema debemos medir la velocidad y "
           "despues decidir cual de los dos disenos es mejor."),
    ("de", "Die Kinder lesen am Nachmittag Geschichten in der "
           "kleinen Bibliothek am Ende der Strasse."),
    ("de", "Bevor wir das System aendern, sollten wir die "
           "Geschwindigkeit messen und danach entscheiden, welcher "
           "Entwurf besser ist."),
    ("fr", "Les enfants lisent des histoires dans la petite "
           "bibliotheque qui se trouve au bout de la rue."),
    ("fr", "Avant de changer le systeme, nous devons mesurer la "
           "vitesse et ensuite decider lequel des deux est le "
           "meilleur pour cette charge."),
]


def test_langid_holdout_accuracy():
    """The trigram classifier must label every held-out sentence
    (disjoint from the seed corpus) with the right language."""
    from pdfspark.functions.langprof import classify

    for lang, sent in HOLDOUT_SENTENCES:
        pred, dists = classify(sent)
        assert pred == lang, (sent, pred, dists)


def test_langid_spark_equals_python_reference(spark):
    """The production mapInPandas kernel must equal the pure-Python
    classifier row-for-row (pred + all four integer distances),
    including the empty-text edge; it pins schema and NULL handling.
    The relational cross-check is selfcheck's DuckDB ts_langid
    oracle."""
    from pdfspark.functions.langprof import LANGS, classify

    rows = [(f"h-{i:02d}", s) for i, (_lg, s) in
            enumerate(HOLDOUT_SENTENCES)]
    rows += [("h-empty", ""), ("h-punct", "!!! 42 ???")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: (r.pred_lang, tuple(r[f"dist_{lg}"] for lg in LANGS))
           for r in language_id(df).collect()}
    for doc_id, text in rows:
        pred, dists = classify(text)
        assert got[doc_id] == (pred, tuple(dists[lg] for lg in LANGS)), doc_id


def test_np_signature_bit_equals_hof(spark, emb_all):
    """The production NumPy signature kernel must be BIT-identical to
    the interpreted HOF twin (fold-order accumulation guarantee)."""
    from pdfspark.operators.similarity import (
        hyperplane_signature,
        hyperplane_signature_hof,
    )

    a = {r.vec_id: r.sig for r in hyperplane_signature(emb_all).collect()}
    b = {r.vec_id: r.sig for r in hyperplane_signature_hof(emb_all).collect()}
    assert a == b


def test_np_cell_assignment_bit_equals_hof(spark, emb_all):
    """with_cells (NumPy argmin over fold-order distances) must assign
    every vector to the same cell as the HOF expression."""
    from pdfspark.operators.similarity import (
        _as_double,
        _nearest_cells,
        with_cells,
    )

    e = emb_all.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    got = {r.vec_id: r.cell for r in with_cells(e).select(
        "vec_id", "cell").collect()}
    want = {r.vec_id: r.cell for r in e.select(
        "vec_id",
        F.element_at(_nearest_cells(F.col("v"), 1), 1).alias("cell"),
    ).collect()}
    assert got == want


def test_word_shingles_match_python_reference(spark, docs_all):
    """The lookaround-regex shingle construction must equal a plain
    Python n-gram reference on the whole fixture corpus (guards the
    codegen optimization against regex edge cases)."""
    import re as _re

    from pdfspark.operators.dedup import SHINGLE_WORDS, word_shingles

    got = {}
    for r in word_shingles(docs_all).collect():
        got.setdefault(r.doc_id, set()).add(r.shingle)

    want = {}
    for r in docs_all.collect():
        norm = _re.sub(r"[^a-z0-9]+", " ", r.text.lower()).strip()
        toks = norm.split(" ") if norm else []
        n = SHINGLE_WORDS
        sh = {
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        } if len(toks) >= n else set()
        if sh:
            want[r.doc_id] = sh
    assert got == want


def test_classify_fold_parity_edges(spark):
    """Three latent fold-vs-SQL divergences found by review, pinned:
    (1) branch PRIORITY — a first line matching both the section and
    the (unanchored) figure pattern is a heading, as in the reference's
    if/elif ladder; (2) Python-strip semantics — a leading newline/tab
    must not blank first_line; (3) NULL text — coerced to '' and kept,
    exactly like fold_document, not silently dropped. The geometry
    frame is empty: no doc has a header or footer string."""
    from pdfspark.operators.classify import classify_spans, strip_boilerplate
    from pdfspark.schema import SPANS_GEOM

    rows = [
        ("d1", "TextBox", "2.3 Results, see Fig. 7\nbody", None, 0),
        ("d1", "TextBox", "\n2. Methods\nbody text", None, 1),
        ("d1", "TextBox", None, None, 2),
    ]
    spans = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, "
              "media_ref string, offset int")

    kept = strip_boilerplate(spans, spark.createDataFrame([], SPANS_GEOM))
    assert kept.count() == 3  # NULL-text row not dropped

    c = {r.offset: r for r in classify_spans(kept).collect()}
    # (1) priority: section + figure overlap is a HEADING
    assert c[0].is_section and c[0].is_figure and c[0].is_heading
    # (2) leading whitespace stripped like str.strip(): real first_line
    assert c[1].first_line == "2. Methods"
    assert c[1].is_section and c[1].is_heading
    # (3) NULL text behaves as '' (fold_document coercion)
    assert c[2].content == "" and c[2].line_count == 0
    assert not c[2].is_heading


def test_simhash_tight_candidates_pigeonhole_exact_and_linear(spark):
    """The production 64-bit / 4x16-band / h<=3 config: every planted
    pair within the hamming budget MUST surface (pigeonhole over 4
    bands — exact recall, not probabilistic), and raw candidate
    volume stays O(N) (random 16-bit band collisions ~2^-16), unlike
    the ~N^2/256 of 8-bit bands. Signatures injected via
    precomputed_sigs so distances are exact by construction."""
    import hashlib

    from pdfspark.operators.dedup import (
        simhash_candidates,
        simhash_candidates_tight,
    )

    def sig64(seed: str) -> str:
        return "".join(
            f"{b:08b}" for b in hashlib.md5(seed.encode()).digest()[:8])

    rows, planted = [], []
    n_docs = 400
    for i in range(n_docs // 2):
        base = sig64(f"base-{i}")
        rows.append((2 * i, base))
        flips = {(i * 7 + k * 13) % 64 for k in range(3)}  # always 3
        mut = list(base)
        for p in flips:
            mut[p] = "1" if mut[p] == "0" else "0"
        rows.append((2 * i + 1, "".join(mut)))
        planted.append((2 * i, 2 * i + 1))
    sigs = spark.createDataFrame(rows, "doc_id long, simhash string")

    tight = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_candidates_tight(
                 None, precomputed_sigs=sigs).collect()}
    for a, b in planted:
        assert tight.get((a, b)) == 3, (a, b, tight.get((a, b)))
    # raw (pre-budget) candidate stream is linear in N
    raw = simhash_candidates(None, bits=64, bands=4,
                             precomputed_sigs=sigs).count()
    assert raw < n_docs, raw  # planted N/2 + tiny collision noise


def test_simhash32_is_prefix_of_simhash64(spark):
    """Bits 0..31 of the 64-bit signature use the identical digit
    source as the 32-bit signature — the prefix property the dual-
    config driver query's shared signature pass relies on."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon word{i} zeta eta")
         for i in range(20)],
        "doc_id long, text string")
    s32 = {r.doc_id: r.simhash
           for r in simhash_signatures(docs).collect()}
    s64 = {r.doc_id: r.simhash
           for r in simhash_signatures(docs, bits=64).collect()}
    assert set(s32) == set(s64)
    for d, s in s32.items():
        assert len(s) == 32 and len(s64[d]) == 64
        assert s64[d][:32] == s


def test_lsh_band_key_separator_prevents_aliasing(spark):
    """band_key joins its ROWS_PER_BAND mins with '|': bare
    concatenation would alias distinct tuples whose digit streams
    align — (1, 234, ...) vs (12, 34, ...) — into one bucket,
    emitting spurious candidates the verifier then pays for."""
    from pdfspark.operators.dedup import NUM_PERM, lsh_bands

    a = [1, 234] + [9] * (NUM_PERM - 2)
    b = [12, 34] + [9] * (NUM_PERM - 2)
    assert "".join(map(str, a[:2])) == "".join(map(str, b[:2]))
    sigs = spark.createDataFrame(
        [tuple([1] + a), tuple([2] + b)],
        ["doc_id"] + [f"sig{i}" for i in range(NUM_PERM)])
    rows = lsh_bands(sigs).collect()
    k = {(r.doc_id, r.band): r.band_key for r in rows}
    assert k[(1, 0)] != k[(2, 0)], \
        "digit-aligned tuples must hash to different band keys"
    # identical tuples still share every band key
    sigs2 = spark.createDataFrame(
        [tuple([1] + a), tuple([2] + a)],
        ["doc_id"] + [f"sig{i}" for i in range(NUM_PERM)])
    k2 = {(r.doc_id, r.band): r.band_key
          for r in lsh_bands(sigs2).collect()}
    assert all(k2[(1, bd)] == k2[(2, bd)]
               for bd in {b_ for _, b_ in k2})


def test_simhash_width_mismatch_fails_fast(spark, docs_all):
    """Injecting default 32-bit signatures into the 64-bit tight
    variant used to NULL every hamming (conv('') is NULL) and
    silently drop all pairs; now it raises with a clear message."""
    from pdfspark.operators.dedup import (
        simhash_candidates, simhash_signatures)

    docs = docs_all.limit(40)
    sigs32 = simhash_signatures(docs)  # default 32-bit
    bad = simhash_candidates(docs, bits=64, bands=4,
                             max_hamming=3, precomputed_sigs=sigs32)
    with pytest.raises(Exception, match="signature width"):
        bad.collect()


def test_topk_zero_norm_embeddings_are_excluded_everywhere(spark):
    """A zero-norm embedding (failed embedder) has UNDEFINED cosine:
    0/0 raises under Spark ANSI, is NaN-ranked-FIRST in DuckDB DESC,
    and NaN-sorted-LAST by bare np.lexsort — three different answers.
    The contract: zero-norm vectors are excluded as candidates AND as
    queries in every variant (HOF twin, fold kernel), and both agree
    row-for-row on a corpus containing one."""
    from pdfspark.operators.similarity import cosine_topk, cosine_topk_hof

    rows = [(i, [float(i + 1), float(2 * i + 1), 1.0]) for i in range(8)]
    rows.append((99, [0.0, 0.0, 0.0]))  # zero-norm
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 99))

    def key(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, []).append(
                (r.rank, r.vec_id, str(r.sim)))
        return {q: sorted(v) for q, v in out.items()}

    exp = key(cosine_topk_hof(emb, queries, k=3))
    assert set(exp) == {0, 1}, "zero-norm query must be excluded"
    assert all(all(v != 99 for _, v, _s in ranks)
               for ranks in exp.values()), "zero-norm candidate excluded"
    assert key(cosine_topk(emb, queries, k=3)) == exp


def test_text_profile_null_text_and_edge_whitespace(spark):
    """Two latent ts_text_profile seams: a NULL-text doc must emit
    the NULL-fingerprint row the LEFT-JOIN oracle pins (len(None)
    used to kill the stage), and n_ws_tokens must count non-empty
    tokens only — '\\tfoo bar' is 2 tokens, not the 3 that
    size(split(trim(...))) produced while the DuckDB twin filtered
    the leading empty."""
    from pdfspark.operators.textstats import text_profile

    docs = spark.createDataFrame(
        [(1, None), (2, "\tfoo bar\n"), (3, "\n"),
         (4, "plain words here and more of them to fill a window")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in text_profile(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].n_fingerprints is None
    assert rows[1].fp_digest is None
    assert rows[2].n_ws_tokens == 2
    assert rows[3].n_ws_tokens == 0
    assert rows[4].n_fingerprints is not None


def test_single_line_appendix_appends_content(spark):
    """Reference appendix branch (element_processors.py:142-161)
    appends the box content with NO line_count gate — unlike the
    heading branch's `if line_count > 1`. A single-line appendix box
    must therefore land in its own section's paragraphs, not collapse
    to heading_only."""
    from pdfspark.operators.classify import (
        classify_spans, sections_assembled, with_current_section)

    rows = [
        ("d1", "TextBox", "Appendix A. Data tables", None, 0),
        ("d1", "TextBox", "Appendix B. Methods\nwith body", None, 1),
    ]
    spans = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, "
              "media_ref string, offset int")
    secs = {r.heading: r for r in sections_assembled(
        with_current_section(classify_spans(spans))).collect()}
    # single-line appendix: content IS the paragraph
    assert secs["Appendix A. Data tables"].paragraphs == [
        "Appendix A. Data tables"]
    # multi-line appendix: full content appended (unchanged behavior)
    assert secs["Appendix B. Methods"].paragraphs == [
        "Appendix B. Methods\nwith body"]


def test_toc_skeleton_python_strip_semantics(spark):
    """toc_skeleton must strip ALL edge whitespace like the fold's
    clean_toc_line (str.strip()), not F.trim's spaces-only — a TOC
    line with a real trailing newline or tab must match the
    SectionState skeleton heading byte-for-byte."""
    from pdfspark.fold import clean_toc_line
    from pdfspark.operators.classify import toc_skeleton

    texts = ["Overview\n", "\tScope", "Results \n", "Plain"]
    rows = [("d1", "TOC", t, None, i) for i, t in enumerate(texts)]
    spans = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, "
              "media_ref string, offset int")
    got = [r.heading for r in
           toc_skeleton(spans).orderBy("line_no").collect()]
    want = [clean_toc_line(t) for t in texts]
    assert got == want == ["Overview", "Scope", "Results", "Plain"]


def test_current_section_rewrite_is_toc_conditional(spark):
    """Reference parity (element_processors.py:116-131): a numbered
    heading canonicalizes to 'num title' ONLY when its title
    whole-word-matches a TOC section; an unmatched one carries its RAW
    first line forward, so '3.2 Title (draft)' and '3.2  Title' stay
    distinct sections. Mirrors the fold's conditional rewrite
    (SectionState.apply heading branch)."""
    from pdfspark.operators.classify import (
        classify_spans, with_current_section)

    rows = [
        # TOC names only 'Methods'
        ("d1", "TOC", "Methods", None, 0),
        ("d1", "TextBox", "3.2 Methods\nbody a", None, 1),
        ("d1", "TextBox", "after matched", None, 2),
        ("d1", "TextBox", "4.1 Unlisted topic\nbody b", None, 3),
        ("d1", "TextBox", "after unmatched", None, 4),
    ]
    spans = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, "
              "media_ref string, offset int")
    c = {r.offset: r for r in
         with_current_section(classify_spans(spans)).collect()}
    # matched numbered heading -> canonical 'num title'
    assert c[2].current_section == "3.2 Methods"
    # unmatched numbered heading -> RAW first line (no rewrite)
    assert c[4].current_section == "4.1 Unlisted topic"
    # legacy unconditional mode still rewrites both
    u = {r.offset: r for r in
         with_current_section(classify_spans(spans),
                              toc_conditional=False).collect()}
    assert u[4].current_section == "4.1 Unlisted topic"

    # fold agreement on the same document: SectionState keeps the raw
    # first line for the unmatched heading too
    from pdfspark.fold import SectionState
    state = SectionState(["Methods"])
    h1 = state.apply("heading", "3.2 Methods\nbody a", "3.2 Methods", 2, "")
    h2 = state.apply("heading", "4.1 Unlisted topic\nbody b",
                     "4.1 Unlisted topic", 2, h1)
    assert h1 == "3.2 Methods" == c[2].current_section
    assert h2 == "4.1 Unlisted topic" == c[4].current_section


def test_media_planner_param_validation(spark, docs_all):
    """Caller-parameter bugs must raise eagerly, not quarantine every
    row as decode_error (a job that 'succeeds' with an empty frame
    table hides the misconfiguration)."""
    import pytest as _pt

    from pdfspark.operators.media import (
        audio_chunk_plan,
        media_table_video,
        resize_plan,
        sample_frames,
    )

    vids = media_table_video(docs_all.limit(2))
    with _pt.raises(ValueError):
        sample_frames(vids, every_n=0)
    with _pt.raises(ValueError):
        sample_frames(vids, fps=0)
    with _pt.raises(ValueError):
        resize_plan(vids, target=0)
    with _pt.raises(ValueError):
        audio_chunk_plan(vids, sample_rate=0)
    # valid params still produce rows with ok status
    assert sample_frames(vids).filter(F.col("status") == "ok").count() > 0
