"""Deduplication operators for the training-data pipeline.

Exact dedup, MinHash+LSH near-dup, SimHash near-dup, and n-gram
Jaccard verification over a `documents(doc_id bigint, text string)`
table. Everything is pure DataFrame/SQL — no Python UDFs — so the
plans stay inside whole-stage codegen and every step has a DuckDB
oracle twin (__spark_entry__.oracle_sql).

Engine-parity design note: MinHash permutations are a universal-hash
family ``min((a_i * h + b_i) mod P)`` over ONE md5-derived 64-bit
value per shingle (one cryptographic hash instead of NUM_PERM — md5
dominated the signature stage otherwise), which is a valid minwise
family and — unlike murmur/xxhash — produces bit-identical values in
Spark and DuckDB. SimHash bit weights are the magnitude-offset md5
hex digits of each token ((digit - 7.5) summed per bit position, sign
of the sum), again engine-portable; see the inline comments at the
kernels for the exact parity-pinned formulations.

At 100 TB the shapes hold: shingling is a narrow explode; signatures
are one hash-partitioned groupBy(doc_id); LSH banding turns the
quadratic near-dup search into an equi-join on (band, band_key);
Jaccard verification only touches LSH candidate pairs (semi-joined
shingle sets), never all pairs.

Reference basis: the reference deduplicates only boilerplate lines by
substring containment (src/utilities/parse_util.py:436-440); corpus-
level dedup is the standard extension a training-data pipeline needs
(MinHash/LSH per Broder '97, SimHash per Charikar '02).

Materialization lifecycle: multi-consumer diamonds inside ONE query
(the band/shingle frames here and the embedding-band frame in
similarity) use ``localCheckpoint(eager=False)`` rather than
``persist()``: a SQL cache entry is pinned by the session's
CacheManager and never reclaimed until clearCache/unpersist — which a
function returning a lazy frame has no hook to call — whereas a
local-checkpoint block is dropped by the ContextCleaner as soon as
the wrapping RDD becomes unreachable, so repeated calls in a
long-lived session cannot accumulate executor storage. The flagship
extract/tables paths keep plan-visible ``persist()`` (they run inside
short-lived spark-submit jobs, and truncating their lineage would
blind the plan audit's pushdown checks).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NUM_PERM = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_PERM // NUM_BANDS
SHINGLE_WORDS = 3
SIMHASH_HEX = 32  # md5 hex digits -> 32-bit signature
SIMHASH_BANDS = 4
# near-dup contract: a verified pair has rounded shingle Jaccard >= this
JACCARD_THRESHOLD = 0.5
# round cap of neardup_components' label propagation (observed
# convergence is 2-3 rounds on near-dup components)
CC_MAX_ITER = 12


def normalized_text(col):
    """lower -> non-alnum runs to single space -> trim (engine-portable)."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def word_shingles(docs: DataFrame, n: int = SHINGLE_WORDS) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams of the normalized text.

    Overlapping n-grams come from a zero-width lookbehind+lookahead
    regex ``(?<![^ ])(?=(\\S+ ... \\S+))`` in regexp_extract_all:
    measured 6x faster than the transform/element_at formulation whose
    higher-order-function lambdas evaluate interpreted (same finding as
    the winnowing plan note in textstats.py) — the regex scan stays in
    whole-stage codegen. The DuckDB oracle keeps its list_transform
    construction (RE2 has no lookaround); equality is by values and
    held bit-for-bit on the corpus (pinned by selfcheck + the planted
    dup tests)."""
    pat = r"(?<![^ ])(?=(" + " ".join([r"\S+"] * n) + r"))"
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(
                    normalized_text(F.col("text")), F.lit(pat), 1
                )
            )
        ).alias("shingle"),
    )


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup on normalized text.

    Returns one row per content group: the keeper (min doc_id), the
    group size, and the sorted member list. One shuffle on the content
    hash; at scale this is the cheapest pass and runs first.
    """
    h = F.md5(normalized_text(F.col("text")))
    return (
        docs.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").cast("int").alias("n_copies"),
            F.concat_ws(
                ",", F.transform(F.array_sort(F.collect_list("doc_id")),
                                 lambda d: d.cast("string"))
            ).alias("doc_ids"),
        )
    )


# Universal-hash permutation family: h(x) = 28-bit integer from the
# md5 hex prefix, perm_i(x) = (a_i*h + b_i) mod P. ONE md5 per shingle
# instead of NUM_PERM of them — at 100 TB the md5 calls were ~94% of
# the signature stage. Coefficients are md5-derived constants (< 2^20,
# a_i odd) so Spark and the DuckDB oracle agree bit-for-bit, and
# a*h + b < 2^48 never overflows 64-bit integers in either engine.
MH_PRIME = 2_147_483_647  # 2^31 - 1


def _mh_coeff(tag: str, i: int) -> int:
    v = int(hashlib.md5(f"mh-{tag}|{i}".encode()).hexdigest()[:5], 16)
    return (v | 1) if tag == "a" else v


MH_A = [_mh_coeff("a", i) for i in range(NUM_PERM)]
MH_B = [_mh_coeff("b", i) for i in range(NUM_PERM)]
# 16^(6-p) weights for folding the first 7 md5 hex digits into an int
# (used by the DuckDB oracle's positional-digit formulation; the Spark
# side parses the same integer with one conv(), see _shingle_int)
MH_POW16 = [16 ** (6 - p) for p in range(7)]


def _shingle_int(shingle_col):
    """First 7 md5 hex digits as a 28-bit integer. Spark side parses
    them in one conv() call — the same value as the positional
    16^(6-p) digit fold the DuckDB oracle keeps (base-16 parse IS that
    fold), at 1/7th the string ops per shingle row."""
    return F.conv(F.substring(F.md5(shingle_col), 1, 7), 16, 10).cast(
        "bigint"
    )


def minhash_signatures(docs: DataFrame, shingles: DataFrame | None = None,
                       with_size: bool = False) -> DataFrame:
    """doc_id + NUM_PERM minhash columns sig0..sigN (bigint).

    One explode + one groupBy(doc_id); the 16 mins are computed as 16
    aggregate expressions over the same shingle rows (single shuffle,
    map-side partial aggregation applies). Pass a precomputed (possibly
    persisted) `shingles` frame when the caller reuses it elsewhere.
    ``with_size=True`` adds the shingle count ``n_sh`` as a 17th
    aggregate over the same rows — callers needing Jaccard set sizes
    (minhash_verified) get them without a second shuffle of the
    shingle frame.
    """
    sh = shingles if shingles is not None else word_shingles(docs)
    sh = sh.withColumn("h", _shingle_int(F.col("shingle")))
    aggs = [
        F.min((F.col("h") * F.lit(MH_A[i]) + F.lit(MH_B[i])) % F.lit(MH_PRIME))
        .alias(f"sig{i}")
        for i in range(NUM_PERM)
    ]
    if with_size:
        aggs.append(F.count("*").alias("n_sh"))
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Long-form (doc_id, band, band_key): band_key = md5 of its
    ROWS_PER_BAND '|'-joined signature mins. The separator matters:
    bare concatenation would alias distinct tuples whose decimal
    digit streams align ((1,234) vs (12,34)) into one bucket —
    spurious candidates the verifier then pays for (same '|' idiom
    as sig_key below; the DuckDB oracle twin mirrors it)."""
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"sig{b * ROWS_PER_BAND + r}").cast("string")
                      for r in range(ROWS_PER_BAND)]
                )
            )
            for b in range(NUM_BANDS)
        ]
    )
    return sigs.select(
        "doc_id", F.posexplode(bands).alias("band", "band_key")
    )


def minhash_candidates(
    docs: DataFrame, shingles: DataFrame | None = None,
    precomputed_sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: signature-group star + distinct-
    signature banded all-pairs.

    Two tiers, each solving a different failure mode:

    1. Docs sharing the ENTIRE NUM_PERM-minhash signature collapse to
       one group (key = md5 of the concatenated mins) and emit only
       (group min doc_id, member) star edges. This is where the
       C(m,2) blowup lives — m identical boilerplate docs share every
       band, so an all-pairs bucket join emits ~m^2/2 rows (a 1M-doc
       cluster in a 100 TB crawl: ~5*10^11 pairs) — and the star
       caps it at m-1. Unlike a per-BUCKET star, the per-GROUP
       representative is signature-identical to its members, so
       severing a genuine cluster at verification requires a
       sub-threshold doc that collides on the FULL signature
       (probability ~ s^NUM_PERM, e.g. 1.5e-5 at s=0.5 with 16
       perms), not merely on one band (~ s^ROWS_PER_BAND ~ 6%) —
       an exponential, though not absolute, improvement.
    2. DISTINCT signatures then band-join all-pairs (a < b on the
       group representatives). This is classic banded-LSH recall —
       any two docs whose signatures agree on >= 1 band become a
       candidate, with no dependence on who else shares the bucket.
       Bucket sizes count distinct signatures only, so the identical-
       cluster pathology cannot re-enter through this tier.

    `n_shared_bands` is NUM_BANDS for tier-1 edges (identical
    signatures share every band by definition) and the shared-bucket
    count for tier-2 edges; doc_a < doc_b holds in both (group rep is
    the group min; tier 2 filters a < b). The DuckDB oracle twin
    mirrors both tiers (oracle_pipeline._minhash_cte).

    Measured N->2N candidate scaling (round 5, same independent
    half-doc protocol as the simhash experiment): 492 -> 1,019
    candidates at 5,300 -> 10,600 docs — 2.07x, linear.
    """
    sigs = (precomputed_sigs if precomputed_sigs is not None
            else minhash_signatures(docs, shingles)).withColumn(
        "sig_key",
        F.md5(F.concat_ws(
            "|", *[F.col(f"sig{i}").cast("string") for i in range(NUM_PERM)]
        )),
    )
    # one representative row per distinct signature; min() over the
    # sig columns is exact (identical within a group) and keeps the
    # aggregate deterministic
    groups = sigs.groupBy("sig_key").agg(
        F.min("doc_id").alias("rep_id"),
        *[F.min(f"sig{i}").alias(f"sig{i}") for i in range(NUM_PERM)],
    ).localCheckpoint(eager=False)
    intra = (
        sigs.select("sig_key", "doc_id")
        .join(groups.select("sig_key", "rep_id"), "sig_key")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit(NUM_BANDS).cast("int").alias("n_shared_bands"),
        )
    )
    dbands = lsh_bands(groups.select(F.col("rep_id").alias("doc_id"),
                                     *[f"sig{i}" for i in range(NUM_PERM)]))
    a, b = dbands.alias("a"), dbands.alias("b")
    cross = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("int").alias("n_shared_bands"))
    )
    return intra.unionByName(cross)


def minhash_verified(docs: DataFrame) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard >=
    JACCARD_THRESHOLD.

    Shingle sets are joined only for candidate pairs (the scale path:
    |candidates| << |docs|^2). Candidates are two-tier (see
    minhash_candidates): signature-group star edges — whose
    representative is signature-identical to its members, so a
    genuine cluster cannot be severed by verification — plus classic
    banded all-pairs across distinct signatures.
    The shingle frame feeds four consumers (signatures, sizes, both
    sides of the intersection join), so it is persisted once instead
    of re-exploding the corpus per consumer.
    """
    sh = word_shingles(docs).localCheckpoint(eager=False)
    # ONE groupBy over the shingle frame yields both the 16 signature
    # mins and the Jaccard set sizes (17 aggregates, same shuffle);
    # the sig frame is checkpointed and shared with candidate
    # generation, so the shingle frame is aggregated once, not twice
    # (interleaved min-of-4 at sf0.1: 2.10 -> 1.89 s; at corpus scale
    # it removes one full shuffle of the shingle frame)
    sigs = minhash_signatures(docs, shingles=sh, with_size=True
                              ).localCheckpoint(eager=False)
    sizes = sigs.select("doc_id", "n_sh")
    cands = minhash_candidates(docs, shingles=sh, precomputed_sigs=sigs)
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    # candidate pairs first (|candidates| << corpus in the typical
    # case): the shingle frame is filtered down to participating docs
    # before the heavy shingle-level join. NO forced broadcast: even
    # with star-shaped candidates (O(m) per bucket) a dup-heavy corpus
    # still yields candidates proportional to the corpus, so a
    # broadcast hint could OOM the driver — AQE broadcasts when the
    # frame is actually small and falls back otherwise
    inter = (
        cands.select("doc_a", "doc_b")
        .join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def neardup_components(docs: DataFrame,
                       precomputed_edges: DataFrame | None = None
                       ) -> DataFrame:
    """(doc_id, rep_id, comp_size) for every doc in a Jaccard-verified
    near-dup component of size >= 2; rep_id is the component-minimum
    doc_id — the exact keep-first keeper.

    Completes the dedup story at scale: the pair list
    (minhash_verified) is an edge set, but keep-first dedup needs the
    CONNECTED COMPONENTS of that graph — "drop every doc_b of a pair"
    under-drops whenever a component member appears only on the doc_a
    side of its edges (e.g. edges (1,3),(2,3): keep-min keeps only 1,
    but 2 is never a doc_b). Reference-scale context: the reference
    dedups per-document substrings only (src/utilities/
    parse_util.py:436-440); corpus-level clustering is the standard
    100 TB extension (Broder '97; map-reduce CC per Kiveris et al.
    "Connected Components in MapReduce", whose large-star/small-star
    alternation this min-label + pointer-jumping loop approximates).

    Distributed shape: iterative min-label propagation — each round a
    doc's label becomes the min over {its label} ∪ {neighbors'
    labels}, then one pointer-jump (label <- label(label)) halves
    label-chain depth, giving O(log diameter) rounds; near-dup
    components are dense (star edges from signature groups, direct
    cross edges), so observed convergence is 2-3 rounds. Each round is
    two equi-joins + a groupBy (all on doc_id — AQE handles skew);
    eager localCheckpoint truncates lineage per round (the standard
    Spark iterative-loop requirement) and bounds the convergence-check
    action's recompute. Convergence is detected by a changed-label
    COUNT carried through the round (prev_rep rides along, one
    filter+count on the fresh checkpoint) — NOT a sum-of-labels
    invariant, which silently degrades to NULL == NULL (loop exits
    after one round, wrong components past diameter ~5) whenever
    doc_id is a non-numeric type; min-label propagation itself is
    type-agnostic for any orderable id. The fixpoint (every label =
    component min) is unique, so the DuckDB oracle may unroll plain
    neighbor-min rounds and still agree exactly
    (oracle_pipeline.components_sql).

    ``precomputed_edges`` injects a verified-edge frame (mirroring
    minhash_verified's doc_a/doc_b output) so sessions that already
    ran the LSH pipeline — curation, pair reporting — compute it
    ONCE and feed both consumers, instead of re-running the full
    shingle/signature/band/Jaccard stack per consumer (5.8 s
    standalone vs 2.1 s upstream-only at sf0.1 per BASELINE.md; at
    100 TB it halves the dominant shuffle work of a dedup session).
    """
    edges = (precomputed_edges if precomputed_edges is not None
             else minhash_verified(docs)
             ).select("doc_a", "doc_b")
    sym = edges.unionByName(
        edges.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("nb"))
        .select("doc_id", F.least("doc_id", "nb").alias("rep"))
        .localCheckpoint(eager=True)
    )
    for _ in range(CC_MAX_ITER):
        nb = (
            sym.join(
                labels.select(F.col("doc_id").alias("doc_b"),
                              F.col("rep").alias("rep_b")),
                "doc_b",
            )
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("rep_b").alias("nb_min"))
        )
        # prev_rep rides through the round so convergence is a plain
        # changed-label count on the fresh checkpoint — correct for
        # ANY orderable doc_id type (strings included), unlike a
        # label-sum invariant that nulls out on non-numeric ids
        stepped = (
            labels.join(nb, "doc_id")
            .select("doc_id", F.col("rep").alias("prev_rep"),
                    F.least("rep", "nb_min").alias("rep"))
        )
        jumped = (
            stepped.alias("x")
            .join(
                stepped.select(F.col("doc_id").alias("rep"),
                               F.col("rep").alias("rep_rep")).alias("y"),
                "rep",
                "left",
            )
            .select(
                F.col("doc_id"),
                F.col("prev_rep"),
                F.least(F.col("rep"),
                        F.coalesce("rep_rep", "rep")).alias("rep"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = (
            jumped.filter(F.col("rep") != F.col("prev_rep")).count()
        )
        labels = jumped.drop("prev_rep")
        if n_changed == 0:
            break
    # every vertex of sym has a label row (the symmetrized edge list
    # puts each endpoint on the doc_a side), including the
    # representative itself with rep = doc_id — so component size is
    # a plain count per rep
    sizes = labels.groupBy("rep").agg(
        F.count("*").cast("int").alias("comp_size")
    )
    return (
        labels.join(sizes, "rep")
        .select("doc_id", F.col("rep").alias("rep_id"), "comp_size")
    )


def simhash_signatures(docs: DataFrame,
                       bits: int = SIMHASH_HEX) -> DataFrame:
    """SimHash as a bit-string column (32- or 64-bit).

    Features are distinct word bigrams (richer than unigrams, which
    collapse under a small vocabulary). For each feature f and hex
    position p, digit_p(md5(f)) contributes (digit - 7.5) to bit p;
    the bit is 1 iff the sum is positive. The 64-bit variant extends
    the digit source with a SECOND engine-portable hash,
    md5(f || '|2'), for bits 32..63 — same magnitude-offset
    formulation, so the DuckDB twin stays positional-digit exact.
    """
    if bits not in (32, 64):
        raise ValueError("simhash bits must be 32 or 64")
    toks = word_shingles(docs, n=2).withColumnRenamed("shingle", "tok")
    # hex digits via integer shift/mask over conv()-folded 32-bit
    # chunks instead of per-bit substring+instr string ops: the
    # digit values are identical (digit p = (chunk[p/8] >> 4*(7-p%8))
    # & 15), so the per-row addends — and therefore the sums the
    # DuckDB oracle checks — are bit-for-bit unchanged; only the
    # Spark-side expression tree gets cheaper. The oracle keeps its
    # positional-digit form. Catalyst CSEs the two md5 calls.
    h1 = F.md5(F.col("tok"))
    h2 = F.md5(F.concat(F.col("tok"), F.lit("|2")))
    toks = toks.select(
        "doc_id",
        *[
            F.conv(F.substring(h1 if c < 4 else h2,
                               8 * (c % 4) + 1, 8), 16, 10)
            .cast("bigint")
            .alias(f"ck{c}")
            for c in range(bits // 8)
        ],
    )
    aggs = [
        F.sum(
            F.shiftright(F.col(f"ck{p // 8}"), 4 * (7 - p % 8))
            .bitwiseAND(F.lit(15))
            - F.lit(7.5)
        ).alias(f"s{p}")
        for p in range(bits)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    bitstr = F.concat(
        *[F.when(F.col(f"s{p}") > 0, "1").otherwise("0")
          for p in range(bits)]
    )
    return sums.select("doc_id", bitstr.alias("simhash"))


def simhash_candidates(docs: DataFrame, bits: int = SIMHASH_HEX,
                       bands: int = SIMHASH_BANDS,
                       max_hamming: int | None = None,
                       precomputed_sigs: DataFrame | None = None
                       ) -> DataFrame:
    """Near-dup candidate pairs: equal in >= 1 of ``bands``
    (bits/bands)-bit bands (standard Hamming-blocking), with the
    exact Hamming distance computed only for candidates and an
    optional ``max_hamming`` contract filter.

    Band-width tradeoff, measured on the sf0.1 corpus (5,300 docs,
    200 planted near-dup pairs): the planted edits sit at ~9% bit
    distance (median hamming 3/32; 6/64 on a 64-bit variant), far
    beyond the hamming<=3 regime the canonical Manku 4x16-bit config
    targets — so 2x16-bit bands collapse recall to 0.31 (1,246
    cands), a 64-bit signature at 4x16 manages only 0.595 (2,030
    cands), and 64-bit at 8x8 matches recall 0.99 but at 558k cands.
    The shipped 4x8-bit config (recall 0.865; 304k all-pairs cands,
    285k after the two-tier distinct-signature collapse) is the
    Pareto point for this distance regime; unlike the embedding LSH
    (see similarity.NUM_PLANES), wider bands are NOT a free win here
    because the target pairs are genuinely distant. At production
    scale the lever is the hamming budget, not the banding: tighter
    edit-distance contracts (h<=3 on 64 bits) make 16-bit bands exact
    by pigeonhole and collision-bounded by 2^-16."""
    w = bits // bands
    sigs = (precomputed_sigs if precomputed_sigs is not None
            else simhash_signatures(docs, bits=bits))
    # two-tier candidates (same rationale as minhash_candidates):
    # (1) docs with the IDENTICAL full signature collapse to a group
    # and emit (group min, member) star edges — the identical-cluster
    # C(m,2) killer, with a representative that is signature-equal to
    # its members by construction; (2) DISTINCT signatures band-join
    # all-pairs — classic Hamming-blocking recall, immune to an
    # unrelated doc owning the bucket minimum. The signature
    # aggregation (a full bigram explode + 32-column groupBy) is
    # checkpointed once and feeds both tiers.
    groups = sigs.groupBy("simhash").agg(
        F.min("doc_id").alias("rep_id")
    ).localCheckpoint(eager=False)
    intra = (
        sigs.join(groups, "simhash")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.col("simhash").alias("sh_a"),
            F.col("simhash").alias("sh_b"),
        )
    )
    dbands = groups.select(
        F.col("rep_id").alias("doc_id"),
        "simhash",
        F.posexplode(
            F.array(*[F.substring("simhash", b * w + 1, w)
                      for b in range(bands)])
        ).alias("band", "band_bits"),
    )
    a, b = dbands.alias("a"), dbands.alias("b")
    cross = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    pairs = intra.unionByName(cross)
    # popcount of the XOR of the bit-strings as integers — equal by
    # definition to the positional compare the DuckDB oracle keeps.
    # Summed over 32-bit halves: a 64-bit string conv'd to decimal can
    # exceed bigint range (>= 2^63), a half never does.
    ham = sum(
        F.bit_count(
            F.conv(F.substring(F.col("sh_a"), h * 32 + 1, 32), 2, 10)
            .cast("bigint")
            .bitwiseXOR(
                F.conv(F.substring(F.col("sh_b"), h * 32 + 1, 32), 2, 10)
                .cast("bigint"))
        )
        for h in range(bits // 32)
    )
    # width guard: a signature narrower than ``bits`` (e.g. default
    # 32-bit precomputed_sigs injected into the 64-bit tight variant)
    # would make the out-of-range substring '' and conv('') NULL —
    # every hamming NULL, every pair silently dropped by max_hamming.
    # assert_true raises with a clear message instead; it returns
    # NULL on pass, so coalesce folds it into the hamming sum as 0.
    guard = F.coalesce(
        F.assert_true(
            (F.length("sh_a") == bits) & (F.length("sh_b") == bits),
            F.lit(f"simhash signature width != bits={bits}: inject "
                  "precomputed_sigs from simhash_signatures(docs, "
                  "bits=<the same bits>)"),
        ).cast("int"),
        F.lit(0),
    )
    # both full signatures ride along: the candidate pairs then verify
    # the signature op end-to-end (not just the banded prefix)
    # guard FIRST: binary-op codegen short-circuits when the left
    # side is NULL, and NULL hamming is precisely the failure the
    # guard exists to catch
    out = pairs.select(
        "doc_a", "doc_b", "sh_a", "sh_b",
        (guard + ham.cast("int")).alias("hamming")
    )
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out


def simhash_candidates_tight(docs: DataFrame,
                             precomputed_sigs: DataFrame | None = None
                             ) -> DataFrame:
    """The PRODUCTION Hamming-blocking config for corpus-scale dedup:
    64-bit signatures, 4 x 16-bit bands, hamming <= 3 contract — the
    Manku/Jain/Das Sarma WWW'07 shape. By pigeonhole any pair within
    the h<=3 budget agrees on >= 1 full band (recall EXACT, not
    probabilistic), and a random 16-bit band collision is ~2^-16, so
    tier-2 candidate volume is ~C(N,2)/65536 per band instead of the
    /256 of the fixture-regime 4x8 config — the difference between a
    quadratic and an O(N) candidate stream on a 100 TB corpus (the
    round-4 measured blowup: 285k candidates from 5.3k docs at 8-bit
    bands). The fixture-regime config (32-bit, 4x8, no budget)
    remains for the planted ~9%-bit-distance corpus whose target
    pairs are genuinely beyond h<=3 — the same dual-path pattern as
    brute-force vs IVF ANN. ``precomputed_sigs`` mirrors the minhash
    injection seam (one signature pass feeding many consumers).

    Measured N->2N candidate scaling (round 5, sf0.1 split into
    independent half-texts, 5,300 -> 10,600 docs): fixture 4x8 config
    248,421 -> 984,480 candidates (3.96x — the documented quadratic),
    this tight contract 168 -> 345 (2.05x — linear, as the 2^-16
    collision bound predicts). Caveat from the same experiment:
    replicating docs with a one-token salt is NOT an independence
    test — each replica lands within the hamming budget of its
    original, so candidates legitimately explode with the (planted)
    near-dup count, which is recall working, not blowup."""
    return simhash_candidates(docs, bits=64, bands=4, max_hamming=3,
                              precomputed_sigs=precomputed_sigs)
