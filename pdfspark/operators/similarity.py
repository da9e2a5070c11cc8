"""Similarity search over embedding columns.

Brute-force cosine/euclidean top-k as the correctness baseline and a
random-hyperplane-LSH bucketed variant as the scale path, over an
`embeddings(vec_id bigint, embedding array<float>, label int)` table
(the driver testdata shape; dim=64).

Engine parity: the LSH hyperplanes are deterministic constants
derived from md5 at import time and inlined as literals into both the
Spark plan and the DuckDB oracle SQL, so bucket signatures agree
bit-for-bit. Similarities are computed on doubles and rounded to 4
decimals before ranking, making ranks engine-stable.

Scale shapes: the brute-force path broadcasts the (small) query side
— a BroadcastNestedLoopJoin whose cost is |queries| x |corpus|, the
right baseline but quadratic; the LSH path turns candidate generation
into an equi-join on (band, band_bits), which shuffles by bucket and
never compares across buckets. At 100 TB only the LSH path runs;
brute force stays as the verification oracle on samples.

Reference basis: Pinecone serverless top_k=5 euclidean queries
(src/data/pinecone_vector_db.py:74,123-148,250-267) re-expressed as
DataFrame joins; the index is the table itself.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMB_DIM = 64
NUM_PLANES = 128
PLANE_BANDS = 8  # 8 bands x 16 bits
# rows per query of every top-k search (the reference's Pinecone top_k)
TOPK = 5
# neardup_lsh keeps verified pairs with rounded cosine >= this
NEARDUP_COSINE = 0.99
# Band width is the scale lever for neardup_lsh: expected FALSE
# candidates for a random corpus are ~ bands * C(N,2) / 2^width, so
# 4-bit bands (the original config) made the band self-join
# near-quadratic — measured 513,741 candidate pairs from the 2,080
# fixture vectors (25% of ALL pairs) vs 662 at 16-bit bands, with
# planted-pair recall 1.0 in both (planted cosines ~0.999; theoretical
# recall at the 0.99 contract threshold: 1-(1-p^16)^8 = 0.994 with
# p = 1 - arccos(0.99)/pi). Width should grow ~log2(N) at production
# scale; bands buy recall back linearly in cost.


def _plane(p: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1)^EMB_DIM from md5."""
    out = []
    for d in range(EMB_DIM):
        h = hashlib.md5(f"plane|{p}|{d}".encode()).hexdigest()[:8]
        out.append(int(h, 16) / 2**32 * 2.0 - 1.0)
    return out


PLANES: list[list[float]] = [_plane(p) for p in range(NUM_PLANES)]


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk_hof(
    emb: DataFrame, queries: DataFrame, k: int = TOPK
) -> DataFrame:
    """Interpreted HOF twin of cosine_topk — the 1:1 transliteration
    of the DuckDB oracle SQL; kept for parity tests only (the
    production kernel below is pinned bit-equal to it).

    Zero-norm embeddings (a failed embedder's all-zero vector) are
    EXCLUDED on both sides — cosine against them is 0/0, which Spark
    ANSI raises on, DuckDB turns into NaN (ranked first under DESC!)
    and NumPy sorts last: three different answers. Undefined
    similarity is a quarantine, not a ranking (the F4 idiom); the
    production kernel applies the same mask."""
    e = emb.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("v"),
        _norm(_as_double(F.col("embedding"))).alias("nv"),
    ).filter(F.col("nv") > 0)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
        _norm(_as_double(F.col("embedding"))).alias("nq"),
    ).filter(F.col("nq") > 0)
    sim = F.round(_dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv")), 4)
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", "sim")
    )


def _topk_fold(emb: DataFrame, queries: DataFrame, k: int,
               metric: str) -> DataFrame:
    """Shared Arrow/NumPy kernel behind the production cosine_topk /
    euclidean_topk: per Arrow batch, score every corpus vector against
    the (model-sized, driver-collected) query block with one
    vectorized add per dimension in the HOF's left-fold order (see the
    parity note at `_fold_rows`) — bit-identical pre-rounding values,
    so ranks and the round-to-4 output match the interpreted HOF twins
    (`cosine_topk_hof` / `euclidean_topk_hof`, which the DuckDB
    oracles transliterate) except at the half-even/.00005 seam the
    fixtures exclude by design. Partial top-k per batch bounds the
    shuffle at |batches| x |queries| x k rows; a global window
    finishes."""
    import numpy as np
    import pandas as pd

    score_col = "sim" if metric == "cosine" else "dist"
    asc = metric != "cosine"
    q_rows = queries.select("vec_id", "embedding").collect()  # model-sized
    if not q_rows:
        return emb.sparkSession.createDataFrame(
            [], f"query_id long, rank int, vec_id long, {score_col} double"
        )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    qm = np.array([r.embedding for r in q_rows], dtype=np.float64)
    qn = np.sqrt(_fold_rows(qm * qm))
    if metric == "cosine":
        # zero-norm queries have undefined cosine — excluded, the
        # same mask as the HOF twin (see cosine_topk_hof docstring)
        qmask = qn > 0
        q_ids, qm, qn = q_ids[qmask], qm[qmask], qn[qmask]

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField(score_col, T.DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = _mat(pdf["embedding"])
            if metric == "cosine":
                nv = np.sqrt(_fold_rows(m * m))
                vmask = nv > 0  # zero-norm candidates excluded
                if not vmask.all():
                    ids, m, nv = ids[vmask], m[vmask], nv[vmask]
                if not len(ids):
                    continue
            rows = []
            for j, qid in enumerate(q_ids):
                if metric == "cosine":
                    col = np.round(
                        _fold_rows(m * qm[j]) / (qn[j] * nv), 4
                    )
                else:
                    d = m - qm[j]
                    col = np.round(np.sqrt(_fold_rows(d * d)), 4)
                mask = ids != qid
                cids, cs = ids[mask], col[mask]
                if not len(cids):
                    continue
                # partial top-k per batch (order by score, vec_id).
                # NaN scores (zero-norm embeddings) must rank where
                # the FINAL Spark window ranks them — Spark treats
                # NaN as the LARGEST double (first under desc, last
                # under asc) while np.lexsort always sorts NaN last,
                # which would silently drop rows the window ranks #1
                key = cs if asc else -cs
                if np.isnan(cs).any():
                    key = np.where(np.isnan(cs),
                                   np.inf if asc else -np.inf, key)
                order = np.lexsort((cids, key))[:k]
                rows.extend(
                    (int(qid), int(cids[i]), float(cs[i])) for i in order
                )
            yield pd.DataFrame(
                rows, columns=["query_id", "vec_id", score_col]
            )

    partial = emb.select("vec_id", "embedding").mapInPandas(run, out_schema)
    order_by = (F.asc(score_col) if asc else F.desc(score_col),
                F.asc("vec_id"))
    w = Window.partitionBy("query_id").orderBy(*order_by)
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", score_col)
    )


def cosine_topk(
    emb: DataFrame, queries: DataFrame, k: int = TOPK
) -> DataFrame:
    """Brute-force cosine top-k (production form): fold-order
    Arrow/NumPy scan, rank by rounded similarity (desc) with vec_id
    tie-break, keep k. Output equals cosine_topk_hof row-for-row
    (pytest-pinned); the HOF twin remains the DuckDB oracle's shape."""
    return _topk_fold(emb, queries, k, "cosine")


def euclidean_topk(
    emb: DataFrame, queries: DataFrame, k: int = TOPK
) -> DataFrame:
    """Reference Pinecone semantics (J5), production form: top_k by
    euclidean distance via the fold-order Arrow/NumPy kernel; equals
    euclidean_topk_hof row-for-row (pytest-pinned).

    Reference basis: src/data/vector_store_retreiver.py queries
    Pinecone's euclidean index top_k."""
    return _topk_fold(emb, queries, k, "euclidean")


def euclidean_topk_hof(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Interpreted HOF twin of euclidean_topk (J5 Pinecone semantics)
    — the DuckDB oracle's transliteration; kept for parity tests."""
    e = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("v"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, v: s + v,
            )
        ),
        4,
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dist.alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", "dist")
    )


# --- Arrow/NumPy production kernels ---------------------------------------
#
# Spark higher-order-function lambdas (aggregate/zip_with) evaluate
# INTERPRETED per element — measured 14x slower than one vectorized
# NumPy pass per Arrow batch on a 104k-vector corpus. The kernels
# below are the production form of every linear corpus scan
# (signatures, IVF cell assignment, candidate verification); the HOF
# forms are kept as *_hof twins because they transliterate 1:1 into
# the DuckDB oracle SQL.
#
# BIT-EXACT parity trick: each kernel accumulates its reduction in the
# SAME left-fold order as F.aggregate(..., (s, x) -> s + x) — one
# vectorized add per dimension (64 adds per batch, still one NumPy op
# each) instead of a BLAS matmul whose pairwise summation reorders
# floating-point adds. IEEE doubles are deterministic given order, so
# every PRE-ROUNDING value (and hence every sign bit / argmin cell id,
# which compare unrounded doubles) equals the HOF twin bit-for-bit —
# near-tie divergence is impossible by construction. The only residual
# seam is the final round-to-4 (np half-even vs JVM HALF_UP), which
# differs solely at exact .00005-representable doubles — the same
# boundary the Spark-vs-DuckDB twins already exclude by fixture design
# (see verify skill gotchas); pinned by the kernel-vs-HOF equality
# tests.


def _fold_rows(P):
    """Row sums of a (n, d) product matrix in left-fold order:
    ((0 + p0) + p1) + ... — bit-identical to the HOF fold."""
    import numpy as np

    acc = np.zeros(P.shape[0])
    for j in range(P.shape[1]):
        acc = acc + P[:, j]
    return acc


def _mat(col):
    import numpy as np

    return np.array(list(col), dtype=np.float64)


def hyperplane_signature(emb: DataFrame) -> DataFrame:
    """(vec_id, sig) — NUM_PLANES sign bits of v . plane_p as a
    bit-string (random-hyperplane LSH for angular distance).
    Arrow/NumPy kernel; bit-equal to hyperplane_signature_hof
    (pytest-pinned)."""
    import numpy as np
    import pandas as pd

    planes = [list(p) for p in PLANES]
    schema = T.StructType(
        [T.StructField("vec_id", T.LongType()),
         T.StructField("sig", T.StringType())]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _mat(pdf["embedding"])
            bits = np.empty((len(pdf), len(planes)), dtype="U1")
            for p, plane in enumerate(planes):
                d = _fold_rows(m * np.asarray(plane))
                bits[:, p] = np.where(d > 0, "1", "0")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                 "sig": ["".join(row) for row in bits]}
            )

    return emb.select("vec_id", "embedding").mapInPandas(run, schema)


def hyperplane_signature_hof(emb: DataFrame) -> DataFrame:
    """Interpreted HOF twin of hyperplane_signature — the form the
    DuckDB oracle transliterates; kept for parity tests only."""
    v = _as_double(F.col("embedding"))
    bits = F.concat(
        *[
            F.when(
                _dot(v, F.array(*[F.lit(x) for x in PLANES[p]])) > 0, "1"
            ).otherwise("0")
            for p in range(NUM_PLANES)
        ]
    )
    return emb.select("vec_id", bits.alias("sig"))


def neardup_lsh(emb: DataFrame) -> DataFrame:
    """Embedding near-dup pairs via banded hyperplane LSH + exact
    cosine verification of candidates only (cosine >= NEARDUP_COSINE).

    Candidates are two-tier (same rationale as
    dedup.minhash_candidates): vectors sharing the ENTIRE 128-bit
    signature collapse to a group and emit (group min vec_id, member)
    star edges — an identical-embedding cluster of m vectors emits
    O(m) candidates instead of C(m,2), the boilerplate-cluster
    pathology a 100 TB embedding table would otherwise hit at the
    band join — while DISTINCT signatures band-join all-pairs, the
    classic banded-LSH recall surface. A per-bucket star loses a
    genuine pair whenever an unrelated vector owns the bucket
    minimum in every shared band (its star edges fail the cosine
    verify and the true pair is never scored); the per-GROUP star
    requires the severing vector to collide on the FULL 128-bit
    signature — ~(1-theta/pi)^128 vs ^16 per band, an exponential
    (though not absolute) hazard reduction, with the pinned
    regression test covering the bucket-collision scenario
    (tests/test_pipeline_ops.py)."""
    w = NUM_PLANES // PLANE_BANDS
    # checkpoint SIGS itself across the group-aggregate/join diamond:
    # the NUM_PLANES (128) hyperplane dot products per vector must not
    # be recomputed once per consumer — checkpointing only the groups
    # aggregate (the pre-review shape) still re-ran the signature scan
    # for the intra join below
    sigs = hyperplane_signature(emb).localCheckpoint(eager=False)
    groups = sigs.groupBy("sig").agg(
        F.min("vec_id").alias("rep_id")
    ).localCheckpoint(eager=False)
    intra = (
        sigs.join(groups, "sig")
        .filter(F.col("vec_id") != F.col("rep_id"))
        .select(F.col("rep_id").alias("vec_a"),
                F.col("vec_id").alias("vec_b"))
    )
    dbands = groups.select(
        F.col("rep_id").alias("vec_id"),
        F.posexplode(
            F.array(*[F.substring("sig", b * w + 1, w)
                      for b in range(PLANE_BANDS)])
        ).alias("band", "band_bits"),
    )
    a, b = dbands.alias("a"), dbands.alias("b")
    cross = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    cands = intra.unionByName(cross)
    # raw float32 arrays into the Arrow verify stage: _mat's float64
    # widening is exact, so values equal the _as_double form without
    # the corpus-wide interpreted cast (and at half the Arrow bytes)
    e = emb.select("vec_id", F.col("embedding").alias("v"))
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    pairs = cands.join(ea, "vec_a").join(eb, "vec_b")

    import pandas as pd

    schema = T.StructType(
        [T.StructField("vec_a", T.LongType()),
         T.StructField("vec_b", T.LongType()),
         T.StructField("cosine", T.DoubleType())]
    )

    def verify(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            a, b = _mat(pdf["va"]), _mat(pdf["vb"])
            na = np.sqrt(_fold_rows(a * a))
            nb = np.sqrt(_fold_rows(b * b))
            # zero-norm exclusion (cosine undefined — quarantine
            # semantics, cosine_topk_hof docstring); NaN would pass
            # the >= threshold filter in BOTH Spark and DuckDB
            ok = (na > 0) & (nb > 0)
            if not ok.all():
                a, b, na, nb = a[ok], b[ok], na[ok], nb[ok]
                pdf = pdf[ok].reset_index(drop=True)
            if not len(pdf):
                continue
            cos = np.round(_fold_rows(a * b) / (na * nb), 4)
            yield pd.DataFrame(
                {"vec_a": pdf["vec_a"].to_numpy(dtype=np.int64),
                 "vec_b": pdf["vec_b"].to_numpy(dtype=np.int64),
                 "cosine": cos}
            )

    return pairs.mapInPandas(verify, schema).filter(
        F.col("cosine") >= NEARDUP_COSINE
    )


def plane_sql_literal(p: int) -> str:
    """The plane as a DuckDB list literal (for the oracle twin)."""
    return "[" + ", ".join(repr(x) for x in PLANES[p]) + "]"


# --- IVF (inverted-file) variant ------------------------------------------
#
# Coarse quantizer: NUM_CELLS deterministic centroids (same md5-derived
# constants in Spark and the oracle). Each corpus vector is assigned
# to its nearest centroid ("cell"); a query probes its NPROBE nearest
# cells and ranks only vectors in those cells. Candidate generation is
# an equi-join on cell id — the IVF analogue of the LSH band join.

NUM_CELLS = 8
NPROBE = 2

# Measured recall@5 vs the brute-force row (sf0.1, 40 queries,
# round 5) by NPROBE 1/2/3/4: .445/.625/.740/.825. The fixture
# embeddings are synthetic near-uniform vectors — the known WORST case
# for a coarse quantizer (no cluster structure to capture, so recall
# tracks roughly the probed cell fraction). On real embedding corpora
# (which cluster heavily) IVF recall at small NPROBE is far higher;
# the knob to turn is NPROBE (linear candidate-volume cost), and the
# driver row keeps NPROBE=2 deterministic centroids because its job is
# plan shape + bit-exact oracle parity, not recall on unstructured
# noise.

CENTROIDS: list[list[float]] = [
    _plane(1000 + c) for c in range(NUM_CELLS)
]


def centroid_sql_literal(c: int) -> str:
    return "[" + ", ".join(repr(x) for x in CENTROIDS[c]) + "]"


def _cell_dists(v):
    """Array of squared distances v -> each centroid (fold order fixed)."""
    return [
        F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(x) for x in CENTROIDS[c]]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        for c in range(NUM_CELLS)
    ]


def _nearest_cells(v, k: int):
    """Indices of the k nearest centroids, ties broken by cell id."""
    d = _cell_dists(v)
    pairs = F.array_sort(
        F.array(*[F.struct(d[c].alias("d"), F.lit(c).alias("c"))
                  for c in range(NUM_CELLS)])
    )
    return F.transform(F.slice(pairs, 1, k), lambda p: p["c"])


def with_cells(df: DataFrame) -> DataFrame:
    """Arrow/NumPy IVF cell assignment: appends `cell` (nearest
    centroid by squared L2 of the vector column `v`, ties to the
    lowest cell id — np.argmin's first-occurrence rule equals the HOF
    array_sort-on-(d, c) rule because distances are bit-identical) to
    ``df``. One vectorized pass per Arrow batch; replaces per-element
    interpreted aggregate(zip_with(...)) over |centroids| x dim
    products."""
    import numpy as np
    import pandas as pd

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("cell", T.IntegerType())])
    in_cols = [f.name for f in df.schema.fields]

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _mat(pdf["v"])
            D = np.empty((len(pdf), NUM_CELLS))
            for ci, cent in enumerate(CENTROIDS):
                diff = m - np.asarray(cent)
                D[:, ci] = _fold_rows(diff * diff)
            out = pdf[in_cols].copy()
            out["cell"] = D.argmin(axis=1).astype("int32")
            yield out

    return df.mapInPandas(run, schema)


def ivf_topk_euclidean(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF ANN for the reference's ACTUAL Pinecone metric (euclidean,
    pinecone_vector_db.py:74): the scale path for J5 semantics.
    Same coarse quantizer as the cosine variant — euclidean cell
    assignment is metric-consistent here (nearest centroid by L2) —
    ranking by rounded distance asc inside probed cells only; the
    candidate join is an equi-join on cell id, never |q| x |corpus|.
    Corpus cell assignment and candidate distances run on the NumPy
    kernels (bit-equal to the HOF twin the oracle encodes); the
    query-side NPROBE expansion stays a tiny HOF expression."""
    import pandas as pd

    # corpus side stays raw float32 into the NumPy kernels (exact
    # float64 widening in _mat, same values as _as_double, no
    # corpus-wide interpreted cast); the tiny broadcast query side
    # keeps the double cast for the _nearest_cells HOF expression
    e = with_cells(emb.select("vec_id", F.col("embedding").alias("v")))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    ).select(
        "query_id", "qv",
        F.explode(_nearest_cells(F.col("qv"), NPROBE)).alias("cell"),
    )
    pairs = (
        e.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qv", "v")
    )
    schema = T.StructType(
        [T.StructField("query_id", T.LongType()),
         T.StructField("vec_id", T.LongType()),
         T.StructField("dist", T.DoubleType())]
    )

    def score(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            diff = _mat(pdf["qv"]) - _mat(pdf["v"])
            d = np.round(np.sqrt(_fold_rows(diff * diff)), 4)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                 "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                 "dist": d}
            )

    scored = pairs.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", "dist")
    )


def ivf_topk_cosine(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF ANN: corpus vectors live in 1 cell; queries probe NPROBE
    cells; ranking (rounded cosine desc, vec_id) happens only inside
    probed cells. Join key = cell id (equi-join, shuffle by cell).
    Cells come from the md5 constants CENTROIDS (oracle-matched).
    Corpus cell assignment and candidate cosines run on the NumPy kernels
    (bit-equal to the HOF twin the oracle encodes)."""
    import pandas as pd

    # corpus raw float32 into the kernels (see ivf_topk_euclidean note)
    e = with_cells(emb.select("vec_id", F.col("embedding").alias("v")))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    ).select(
        "query_id", "qv",
        F.explode(_nearest_cells(F.col("qv"), NPROBE)).alias("cell"),
    )
    pairs = (
        e.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qv", "v")
    )
    schema = T.StructType(
        [T.StructField("query_id", T.LongType()),
         T.StructField("vec_id", T.LongType()),
         T.StructField("sim", T.DoubleType())]
    )

    def score(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            qm, m = _mat(pdf["qv"]), _mat(pdf["v"])
            nq = np.sqrt(_fold_rows(qm * qm))
            nv = np.sqrt(_fold_rows(m * m))
            # zero-norm exclusion — cosine_topk_hof's quarantine
            # semantics; without the mask NaN sims rank FIRST in the
            # final desc window
            ok = (nq > 0) & (nv > 0)
            if not ok.all():
                qm, m, nq, nv = qm[ok], m[ok], nq[ok], nv[ok]
                pdf = pdf[ok].reset_index(drop=True)
            if not len(pdf):
                continue
            s = np.round(_fold_rows(qm * m) / (nq * nv), 4)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                 "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                 "sim": s}
            )

    scored = pairs.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", "sim")
    )
