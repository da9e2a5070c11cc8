"""DuckDB oracle twins for the training-data-pipeline operators.

Every SQL string mirrors its Spark operator expression-for-expression
(same normalization, same hash keys, same fold order, same rounding),
with constants imported from the operator modules so the two sides
cannot drift. `documents`, `embeddings`, `events` are the driver's
pre-registered testdata views; augmented fixture tables are read by
absolute path.
"""

from __future__ import annotations

from pdfspark.operators.dedup import (
    JACCARD_THRESHOLD,
    NUM_BANDS,
    NUM_PERM,
    ROWS_PER_BAND,
    SHINGLE_WORDS,
    SIMHASH_BANDS,
    SIMHASH_HEX,
)
from pdfspark.operators.media import (
    AUDIO_SAMPLE_RATE,
    FRAME_EVERY_N,
    RESIZE_TARGET,
)
from pdfspark.operators.retrieval import SESSION_GAP_MINUTES
from pdfspark.operators.similarity import (
    NEARDUP_COSINE,
    NUM_PLANES,
    PLANE_BANDS,
    TOPK,
    plane_sql_literal,
)
from pdfspark.operators.textstats import (
    BPE_TOKEN_RE,
    CURATE_LANG,
    FP_K,
    FP_W,
    EN_STOPWORDS,
    MIN_QUALITY,
)
from pdfspark.streaming.windowed import WINDOW_HOURS

NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
# unrolled neighbor-min rounds of components_sql (see its docstring)
COMPONENT_ROUNDS = 8


def _docs_all(fix: str) -> str:
    return f"""
docs_all AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM read_parquet('{fix}/documents_aug.parquet')),
normed AS (SELECT doc_id, text, {NORM} AS norm FROM docs_all),
tokend AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks
           FROM normed)
"""


def _shingles(n: int, name: str = "shingles", src: str = "tokend") -> str:
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return f"""
{name} AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(toks)-{n - 1}, 0)),
                          i -> {parts})) AS shingle
  FROM {src})
"""


def _minhash_cte() -> str:
    from pdfspark.operators.dedup import MH_A, MH_B, MH_POW16, MH_PRIME

    h_expr = " + ".join(
        f"CAST(strpos('0123456789abcdef', substr(md5(shingle), {p + 1}, 1))"
        f" - 1 AS BIGINT) * {w}"
        for p, w in enumerate(MH_POW16)
    )
    sig_cols = ", ".join(
        f"min((h * {MH_A[i]} + {MH_B[i]}) % {MH_PRIME}) AS sig{i}"
        for i in range(NUM_PERM)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, md5({k}) AS band_key FROM sigs".format(
            b=b,
            # '|'-separated like the engine's lsh_bands: bare ||
            # would alias (1,234) and (12,34) into one band bucket
            k=" || '|' || ".join(
                f"CAST(sig{b * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(NUM_BANDS)
    )
    sig_key = " || '|' || ".join(
        f"CAST(sig{i} AS VARCHAR)" for i in range(NUM_PERM)
    )
    grp_sigs = ", ".join(f"min(sig{i}) AS sig{i}" for i in range(NUM_PERM))
    # two-tier twin of dedup.minhash_candidates: signature-group star
    # edges (n_shared_bands = NUM_BANDS by definition) + banded
    # all-pairs across distinct signatures
    return f"""
hashed AS (SELECT doc_id, ({h_expr}) AS h FROM shingles),
sigs0 AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id),
sigs AS (SELECT *, md5({sig_key}) AS sig_key FROM sigs0),
sgroups AS (
  SELECT sig_key, min(doc_id) AS rep_id, {grp_sigs}
  FROM sigs GROUP BY sig_key),
intra AS (
  SELECT g.rep_id AS doc_a, s.doc_id AS doc_b,
         CAST({NUM_BANDS} AS INT) AS n_shared_bands
  FROM sigs s JOIN sgroups g USING (sig_key)
  WHERE s.doc_id <> g.rep_id),
dsigs AS (SELECT rep_id AS doc_id, * EXCLUDE (sig_key, rep_id)
          FROM sgroups),
bands AS (
  {band_rows.replace('FROM sigs', 'FROM dsigs')}),
crossp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS INT) AS n_shared_bands
  FROM bands a JOIN bands b
       ON a.band = b.band AND a.band_key = b.band_key
          AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT * FROM intra UNION ALL SELECT * FROM crossp)
"""


def exact_dups_sql(fix: str) -> str:
    return f"""
WITH {_docs_all(fix)}
SELECT md5(norm) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       CAST(count(*) AS INT) AS n_copies,
       array_to_string(list_transform(list_sort(list(doc_id)),
                                      d -> CAST(d AS VARCHAR)), ',') AS doc_ids
FROM normed GROUP BY 1
"""


def minhash_pairs_sql(fix: str) -> str:
    return f"""
WITH {_docs_all(fix)}, {_shingles(SHINGLE_WORDS)}, {_minhash_cte()}
SELECT doc_a, doc_b, n_shared_bands FROM pairs
"""


def minhash_verified_sql(fix: str) -> str:
    return f"""
WITH {_docs_all(fix)}, {_shingles(SHINGLE_WORDS)}, {_minhash_cte()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM pairs c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / (na.n_sh + nb.n_sh - i.n_inter), 4) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE round(i.n_inter / (na.n_sh + nb.n_sh - i.n_inter), 4) >= {JACCARD_THRESHOLD}
"""


def components_sql(fix: str) -> str:
    """Twin of dedup.neardup_components. The component-min fixpoint is
    unique, so this needn't mirror the engine's pointer-jumping
    rounds: COMPONENT_ROUNDS unrolled neighbor-min steps reach the
    fixpoint for any component of diameter <= COMPONENT_ROUNDS
    (fixture components are dense star+cross clusters of diameter
    2-3)."""
    # MATERIALIZED throughout: every l{{i}} is referenced twice by
    # l{{i+1}}, so DuckDB's default CTE inlining would expand the
    # verified-pairs subtree 2^COMPONENT_ROUNDS times (and run out of
    # file handles re-opening the parquet inputs)
    steps = []
    for i in range(COMPONENT_ROUNDS):
        steps.append(f"""
l{i + 1} AS MATERIALIZED (
  SELECT s.src AS doc_id, least(min(own.rep), min(nb.rep)) AS rep
  FROM sym s
  JOIN l{i} own ON own.doc_id = s.src
  JOIN l{i} nb ON nb.doc_id = s.dst
  GROUP BY s.src)""")
    return f"""
WITH verified AS MATERIALIZED ({minhash_verified_sql(fix)}),
sym AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM verified),
l0 AS MATERIALIZED (
  SELECT src AS doc_id, least(src, min(dst)) AS rep
  FROM sym GROUP BY src),{",".join(steps)}
SELECT l.doc_id, l.rep AS rep_id, CAST(c.n AS INT) AS comp_size
FROM l{COMPONENT_ROUNDS} l
JOIN (SELECT rep, count(*) AS n FROM l{COMPONENT_ROUNDS} GROUP BY rep) c
     ON c.rep = l.rep
"""


def curation_sql(fix: str) -> str:
    """Twin of textstats.curate_documents with near_dedup=True: exact
    keep-first, then MinHash star-pair verification over the exact
    survivors (same staging as the engine — the pair set depends on
    the corpus it runs over), then the per-doc language/quality
    predicates."""
    return f"""
WITH {_docs_all(fix)},
keepers AS (SELECT min(doc_id) AS doc_id FROM normed GROUP BY md5(norm)),
uniqd AS (SELECT n.doc_id, n.norm FROM normed n JOIN keepers k
          ON n.doc_id = k.doc_id),
tokend_u AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM uniqd),
{_shingles(SHINGLE_WORDS, src="tokend_u")}, {_minhash_cte()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM pairs c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
nd_drop AS (
  SELECT DISTINCT i.doc_b AS doc_id
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE round(i.n_inter / (na.n_sh + nb.n_sh - i.n_inter), 4)
        >= {JACCARD_THRESHOLD}),
cq AS (SELECT * FROM ({quality_sql(fix)})),
cl AS (SELECT doc_id, pred_lang FROM ({langid_sql(fix)}))
SELECT cq.doc_id, cl.pred_lang, cq.quality_score, cq.n_words, cq.n_chars
FROM uniqd u
JOIN cq ON cq.doc_id = u.doc_id
JOIN cl ON cl.doc_id = u.doc_id
WHERE cl.pred_lang = '{CURATE_LANG}' AND cq.quality_score >= {MIN_QUALITY}
  AND u.doc_id NOT IN (SELECT doc_id FROM nd_drop)
"""


def _simhash_cte(bits: int, suffix: str) -> str:
    """Positional-digit SimHash CTEs; bits > 32 extend the digit
    source with md5(shingle || '|2') — the engine's second
    engine-portable hash (dedup.simhash_signatures)."""
    def hexdig(p: int) -> str:
        if p < 32:
            src, pos = "md5(shingle)", p + 1
        else:
            src, pos = "md5(shingle || '|2')", p - 31
        return (f"(strpos('0123456789abcdef', substr({src}, {pos}, 1))"
                f" - 1 - 7.5)")

    sums = ", ".join(
        f"sum({hexdig(p)}) AS s{p}" for p in range(bits)
    )
    bitstr = " || ".join(
        f"CASE WHEN s{p} > 0 THEN '1' ELSE '0' END" for p in range(bits)
    )
    return f"""
ssum{suffix} AS (SELECT doc_id, {sums} FROM shingles2 GROUP BY doc_id),
ssig{suffix} AS (SELECT doc_id, {bitstr} AS simhash FROM ssum{suffix})
"""


def _simhash_pairs_ctes(bits: int, bands: int, suffix: str) -> str:
    """Two-tier candidate CTE chain (signature-group star + banded
    all-pairs across distinct signatures) for one banding config,
    twin of dedup.simhash_candidates."""
    w = bits // bands
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash, {b} AS band,"
        f" substr(simhash, {b * w + 1}, {w}) AS band_bits"
        f" FROM dsig{suffix}"
        for b in range(bands)
    )
    return f"""
sgroups{suffix} AS (
  SELECT simhash, min(doc_id) AS rep_id FROM ssig{suffix}
  GROUP BY simhash),
intra{suffix} AS (
  SELECT g.rep_id AS doc_a, s.doc_id AS doc_b,
         g.simhash AS sh_a, s.simhash AS sh_b
  FROM ssig{suffix} s JOIN sgroups{suffix} g USING (simhash)
  WHERE s.doc_id <> g.rep_id),
dsig{suffix} AS (SELECT rep_id AS doc_id, simhash FROM sgroups{suffix}),
sbands{suffix} AS (
  {band_rows}),
crossp{suffix} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM sbands{suffix} a JOIN sbands{suffix} b
       ON a.band = b.band AND a.band_bits = b.band_bits
          AND a.doc_id < b.doc_id),
spairs{suffix} AS (
  SELECT * FROM intra{suffix} UNION ALL SELECT * FROM crossp{suffix})
"""


def _ham_expr(bits: int) -> str:
    return " + ".join(
        f"CASE WHEN substr(sh_a, {p + 1}, 1) <> substr(sh_b, {p + 1}, 1)"
        f" THEN 1 ELSE 0 END"
        for p in range(bits)
    )


def simhash_pairs_sql(fix: str) -> str:
    """Twin of the dual-config dd_simhash_pairs driver row: the
    fixture-regime 32-bit 4x8 banding (variant 'b32x8') UNION the
    production tight contract — 64-bit, 4x16-bit bands, hamming <= 3
    (variant 'b64x16h3', dedup.simhash_candidates_tight)."""
    return f"""
WITH {_docs_all(fix)}, {_shingles(2, "shingles2")},
{_simhash_cte(SIMHASH_HEX, "")}, {_simhash_cte(64, "t")},
{_simhash_pairs_ctes(SIMHASH_HEX, SIMHASH_BANDS, "")},
{_simhash_pairs_ctes(64, 4, "t")}
SELECT 'b32x8' AS variant, doc_a, doc_b, sh_a, sh_b,
       CAST({_ham_expr(SIMHASH_HEX)} AS INT) AS hamming
FROM spairs
UNION ALL
SELECT 'b64x16h3' AS variant, doc_a, doc_b, sh_a, sh_b, hamming
FROM (SELECT doc_a, doc_b, sh_a, sh_b,
             CAST({_ham_expr(64)} AS INT) AS hamming
      FROM spairst)
WHERE hamming <= 3
"""


def langid_sql(fix: str) -> str:
    """DuckDB twin of the Cavnar-Trenkle trigram classifier: identical
    relational steps (padded letter normalization, trigram explode,
    rank window over (count desc, trigram asc), out-of-place distance
    against the inlined profile dimension) — all-integer, so the match
    is exact."""
    from pdfspark.functions.langprof import (
        DOC_TOP,
        LANGS,
        PENALTY,
        PROFILES,
    )

    prof_vals = ", ".join(
        f"('{lg}', '{g}', {r})"
        for lg in LANGS
        for g, r in PROFILES[lg].items()
    )
    lang_vals = ", ".join(f"('{lg}')" for lg in LANGS)
    dcols = ", ".join(
        f"coalesce(max(CASE WHEN lang = '{lg}' THEN dist END), 0)"
        f" AS dist_{lg}"
        for lg in LANGS
    )
    best = "least(" + ", ".join(f"dist_{lg}" for lg in LANGS) + ")"
    pred = (
        "CASE "
        + " ".join(f"WHEN dist_{lg} = {best} THEN '{lg}'" for lg in LANGS)
        + " END"
    )
    casts = ", ".join(f"CAST(dist_{lg} AS BIGINT) AS dist_{lg}"
                      for lg in LANGS)
    return f"""
WITH {_docs_all(fix)},
lp AS (
  SELECT doc_id,
         ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'))
             || ' ' AS p
  FROM docs_all),
tg3 AS (
  SELECT doc_id, substr(p, CAST(i AS INT), 3) AS tg
  FROM lp, unnest(range(1, greatest(length(p) - 1, 1))) AS t(i)
  WHERE length(p) >= 3),
tgc AS (SELECT doc_id, tg, count(*) AS c FROM tg3 GROUP BY doc_id, tg),
dprof AS (
  SELECT * FROM (
    SELECT doc_id, tg, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, tg ASC) AS dr
    FROM tgc) WHERE dr <= {DOC_TOP}),
prof(lang, tg, pr) AS (VALUES {prof_vals}),
langs(lang) AS (VALUES {lang_vals}),
per AS (
  SELECT d.doc_id, l.lang,
         sum(coalesce(abs(d.dr - p.pr), {PENALTY})) AS dist
  FROM dprof d CROSS JOIN langs l
  LEFT JOIN prof p ON p.lang = l.lang AND p.tg = d.tg
  GROUP BY d.doc_id, l.lang),
piv AS (SELECT doc_id, {dcols} FROM per GROUP BY doc_id),
full0 AS (
  SELECT b.doc_id, {", ".join(f"coalesce(piv.dist_{lg}, 0) AS dist_{lg}"
                              for lg in LANGS)}
  FROM (SELECT doc_id FROM docs_all) b LEFT JOIN piv USING (doc_id))
SELECT doc_id, {pred} AS pred_lang, {casts} FROM full0
"""


def quality_sql(fix: str) -> str:
    en = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
WITH {_docs_all(fix)},
feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(toks, t -> t <> '')) AS n_words,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit,
         len(list_filter(toks, x -> list_contains([{en}], x))) AS n_stop,
         length(replace(norm, ' ', '')) AS alpha_chars
  FROM tokend),
ratios AS (
  SELECT doc_id,
         CAST(n_chars AS INT) AS n_chars,
         CAST(n_words AS INT) AS n_words,
         round(alpha_chars / greatest(n_words, 1), 4) AS mean_word_len,
         round(n_stop / greatest(n_words, 1), 4) AS stopword_ratio,
         round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
         round(n_digit / greatest(n_chars, 1), 4) AS digit_ratio
  FROM feat)
SELECT doc_id, n_chars, n_words, mean_word_len, stopword_ratio,
       punct_ratio, digit_ratio,
       round(least(1.0, greatest(0.0,
             0.25 + n_chars / 2000.0 + stopword_ratio * 0.6
             - punct_ratio * 2.0 - digit_ratio * 1.0)), 4) AS quality_score
FROM ratios
"""


def tokens_sql(fix: str) -> str:
    return f"""
WITH {_docs_all(fix)},
c AS (
  SELECT doc_id, length(text) AS n_chars,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> t <> '')) AS ws,
         len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS bpe
  FROM normed)
SELECT doc_id, CAST(ws AS INT) AS n_ws_tokens, CAST(bpe AS INT) AS n_bpe_tokens,
       round(n_chars / greatest(bpe, 1), 4) AS chars_per_token
FROM c
"""


def fingerprints_sql(fix: str) -> str:
    return f"""
WITH {_docs_all(fix)},
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(norm) - {FP_K - 1}),
                i -> struct_pack(pos := i, gh := md5(substr(norm, i, {FP_K})))))
           AS s
  FROM normed WHERE length(norm) >= {FP_K}),
posed AS (SELECT doc_id, s.pos AS pos, s.gh AS gh FROM grams),
winned AS (
  SELECT doc_id, pos,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {FP_W - 1} FOLLOWING)
           AS win_min,
         max(pos) OVER (PARTITION BY doc_id) AS max_pos
  FROM posed),
sel AS (SELECT DISTINCT doc_id, win_min AS fp
        FROM winned WHERE pos <= max_pos - {FP_W - 1})
SELECT doc_id, CAST(count(*) AS INT) AS n_fingerprints,
       md5(string_agg(fp, '' ORDER BY fp)) AS fp_digest
FROM sel GROUP BY doc_id
"""


# --- embeddings ------------------------------------------------------------

def _emb_all(fix: str) -> str:
    return f"""
emb_all AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id, embedding FROM read_parquet('{fix}/embeddings_aug.parquet')),
ed AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM emb_all),
en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv
       FROM ed)
"""


_Q_PRED = "vec_id % 50 = 0 AND vec_id < 1000000"


def _dot(a: str, b: str) -> str:
    # Native list_dot_product is a sequential accumulate from 0.0 —
    # bit-identical to the interpreted left-fold form
    # list_reduce(list_prepend(0.0, list_transform(...)), +) it
    # replaced (verified exhaustively at sf0.01: 0 mismatching
    # doubles across norms, dots, and the 128-plane sign bits), and
    # ~300x faster: the neardup oracle's vsig CTE alone dropped from
    # 57 s to 0.2 s. The engine twin (_fold_rows in
    # operators/similarity.py) uses the same left-fold order.
    return f"list_dot_product({a}, {b})"


def ann_cosine_sql(fix: str) -> str:
    # nv/nq > 0: zero-norm embeddings are EXCLUDED on both sides,
    # the engine's quarantine semantics (similarity.cosine_topk_hof)
    # — without the filter DuckDB computes 0/0 = NaN and ranks it
    # FIRST under DESC, a false mismatch against a correct engine
    return f"""
WITH {_emb_all(fix)},
q AS (SELECT vec_id AS query_id, v AS qv, nv AS nq FROM en
      WHERE {_Q_PRED} AND nv > 0),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({_dot("q.qv", "e.v")} / (q.nq * e.nv), 4) AS sim
  FROM en e, q WHERE e.vec_id <> q.query_id AND e.nv > 0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, sim
FROM ranked WHERE rank <= {TOPK}
"""


def euclidean_topk_sql(fix: str) -> str:
    # list_distance = sqrt of the sequential squared-diff fold; exact
    # match (not merely round-identical) against the interpreted
    # list_reduce form it replaced, verified at sf0.01
    return f"""
WITH {_emb_all(fix)},
q AS (SELECT vec_id AS query_id, v AS qv FROM ed WHERE {_Q_PRED}),
scored AS (
  SELECT q.query_id, e.vec_id, round(list_distance(q.qv, e.v), 4) AS dist
  FROM ed e, q WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist ASC, vec_id) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dist
FROM ranked WHERE rank <= {TOPK}
"""


def neardup_lsh_sql(fix: str) -> str:
    w = NUM_PLANES // PLANE_BANDS
    # variadic concat, not a || chain: DuckDB binds a || b || c ... as
    # nested binary calls and hits its 128-deep binder recursion limit
    # at NUM_PLANES=128
    bits = "concat(" + ", ".join(
        f"CASE WHEN {_dot('v', f'({plane_sql_literal(p)}::DOUBLE[])')} > 0"
        f" THEN '1' ELSE '0' END"
        for p in range(NUM_PLANES)
    ) + ")"
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {b} AS band, substr(sig, {b * w + 1}, {w})"
        f" AS band_bits FROM vsig"
        for b in range(PLANE_BANDS)
    )
    return f"""
WITH {_emb_all(fix)},
vsig AS (SELECT vec_id, {bits} AS sig FROM ed),
vgroups AS (
  SELECT sig, min(vec_id) AS rep_id FROM vsig GROUP BY sig),
intra AS (
  SELECT g.rep_id AS vec_a, s.vec_id AS vec_b
  FROM vsig s JOIN vgroups g USING (sig)
  WHERE s.vec_id <> g.rep_id),
dsig AS (SELECT rep_id AS vec_id, sig FROM vgroups),
vbands AS (
  {band_rows.replace('FROM vsig', 'FROM dsig')}),
crossp AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM vbands a JOIN vbands b
       ON a.band = b.band AND a.band_bits = b.band_bits
          AND a.vec_id < b.vec_id),
cands AS (
  SELECT * FROM intra UNION ALL SELECT * FROM crossp),
cos AS (
  -- nv > 0 on both sides: zero-norm exclusion, the engine's
  -- quarantine semantics (NaN would PASS >= threshold here)
  SELECT c.vec_a, c.vec_b,
         round({_dot("ea.v", "eb.v")} / (ea.nv * eb.nv), 4) AS cosine
  FROM cands c
  JOIN en ea ON ea.vec_id = c.vec_a AND ea.nv > 0
  JOIN en eb ON eb.vec_id = c.vec_b AND eb.nv > 0)
SELECT vec_a, vec_b, cosine FROM cos WHERE cosine >= {NEARDUP_COSINE}
"""


def _ivf_cell_pairs() -> str:
    """The list_sort argmin literal both IVF oracles assign cells
    with — ONE definition, because the cosine and euclidean oracles
    must agree with the shared engine `with_cells` path or probe
    different cells. 'd' is only ever an ordering key inside
    list_sort (the cell argmin / NPROBE prefix); list_distance is the
    monotone sqrt of the squared-diff fold it replaced, so the
    selected cells are unchanged (cell-assignment parity re-verified
    at sf0.01 for all vectors) and the interpreted NUM_CELLS-lambda
    scan goes native."""
    from pdfspark.operators.similarity import (
        NUM_CELLS,
        centroid_sql_literal,
    )

    return ", ".join(
        "{{'d': list_distance(v, ({lit}::DOUBLE[])), 'c': {c}}}"
        .format(lit=centroid_sql_literal(c), c=c)
        for c in range(NUM_CELLS)
    )


def ivf_topk_sql(fix: str) -> str:
    from pdfspark.operators.similarity import NPROBE

    pairs = _ivf_cell_pairs()
    return f"""
WITH {_emb_all(fix)},
cellified AS (
  SELECT vec_id, v, nv,
         (list_sort([{pairs}])[1])['c'] AS cell
  FROM en),
qc AS (
  SELECT vec_id AS query_id, v AS qv, nv AS nq,
         unnest(list_transform(list_sort([{pairs}])[1:{NPROBE}],
                s -> s['c'])) AS cell
  FROM en WHERE {_Q_PRED}),
scored AS (
  -- nv/nq > 0: zero-norm exclusion (engine's score kernel masks the
  -- same pairs; NaN would rank first under DESC otherwise)
  SELECT q.query_id, e.vec_id,
         round({_dot("q.qv", "e.v")} / (q.nq * e.nv), 4) AS sim
  FROM cellified e JOIN qc q USING (cell)
  WHERE e.vec_id <> q.query_id AND e.nv > 0 AND q.nq > 0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, sim
FROM ranked WHERE rank <= {TOPK}
"""


def ivf_euclidean_sql(fix: str) -> str:
    from pdfspark.operators.similarity import NPROBE

    pairs = _ivf_cell_pairs()
    dq = "list_distance(q.qv, e.v)"
    return f"""
WITH {_emb_all(fix)},
cellified AS (
  SELECT vec_id, v,
         (list_sort([{pairs}])[1])['c'] AS cell
  FROM ed),
qc AS (
  SELECT vec_id AS query_id, v AS qv,
         unnest(list_transform(list_sort([{pairs}])[1:{NPROBE}],
                s -> s['c'])) AS cell
  FROM ed WHERE {_Q_PRED}),
scored AS (
  SELECT q.query_id, e.vec_id, round({dq}, 4) AS dist
  FROM cellified e JOIN qc q USING (cell)
  WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist ASC, vec_id) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dist
FROM ranked WHERE rank <= {TOPK}
"""


def max_score_sql(fix: str) -> str:
    return f"""
WITH topk AS ({ann_cosine_sql(fix)}),
guarded AS (SELECT * FROM topk WHERE sim * 100 <= 100),
rn AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rank) AS r
       FROM guarded)
SELECT query_id, vec_id AS best_vec_id, sim AS best_sim FROM rn WHERE r = 1
"""


# --- misc relational -------------------------------------------------------

def keyword_hits_sql(fix: str) -> str:
    return f"""
WITH {_docs_all(fix)},
kw AS (SELECT * FROM read_parquet('{fix}/keywords.parquet'))
SELECT k.keyword, k.llm_prompt, CAST(count(*) AS INT) AS n_docs,
       min(d.doc_id) AS first_doc_id
FROM docs_all d JOIN kw k ON contains(d.text, k.keyword)
GROUP BY 1, 2
"""


def fill_down_sql() -> str:
    return """
SELECT event_id, user_id, event_type,
       round(last_value(CASE WHEN event_type <> 'error' THEN value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING), 2) AS filled_value
FROM events
"""


def tabular_pairs_sql(geom: str) -> str:
    same_row = "abs((a.y0+a.y1)/2 - (b.y0+b.y1)/2) <= 10.0"
    same_col = "abs((a.x0+a.x1)/2 - (b.x0+b.x1)/2) <= 20.0"
    x_overlap = "NOT (a.x1 < b.x0 OR b.x1 < a.x0)"
    y_overlap = "NOT (a.y1 < b.y0 OR b.y1 < a.y0)"
    return f"""
WITH tb AS (
  SELECT doc_id, page_id, "offset" AS o, x0, y0, x1, y1
  FROM {geom} WHERE kind = 'TextBox')
SELECT a.doc_id, a.page_id,
       CAST(a.o AS INT) AS o_a, CAST(b.o AS INT) AS o_b,
       CASE WHEN {same_row} AND NOT ({same_col}) AND NOT ({y_overlap})
              THEN 'row'
            WHEN {same_col} AND NOT ({same_row}) AND NOT ({x_overlap})
              THEN 'col' END AS relation
FROM tb a JOIN tb b
     ON a.doc_id = b.doc_id AND a.page_id = b.page_id AND a.o < b.o
WHERE (({same_row} AND NOT ({same_col}) AND NOT ({y_overlap}))
       OR ({same_col} AND NOT ({same_row}) AND NOT ({x_overlap})))
"""


def sessionize_sql() -> str:
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    return f"""
WITH m AS (
  SELECT *, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
                 THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM m)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       CAST(count(*) AS INT) AS n_events,
       min(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS start_ts,
       max(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS end_ts,
       round(sum(value), 2) AS total_value
FROM s GROUP BY 1, 2
"""


def stream_windowed_sql() -> str:
    return f"""
SELECT strftime(time_bucket(INTERVAL {WINDOW_HOURS} hour, ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type, CAST(count(*) AS INT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def html_tables_sql(fix: str) -> str:
    """Regex-based oracle for the well-formed single-line fixture
    snippets (the Spark side uses a real HTML parser; on this corpus
    the two agree by construction)."""
    return f"""
WITH h AS (SELECT doc_id, html
           FROM read_parquet('{fix}/html_snippets.parquet')
           WHERE contains(html, '<table')),
t AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(html, '<h1>')
              THEN trim(regexp_extract(html, '<h1>(.*?)</h1>', 1))
              ELSE 'No Title' END AS title,
         list_transform(regexp_extract_all(html, '<th>(.*?)</th>', 1),
                        x -> trim(x)) AS ths,
         regexp_extract_all(html, '<tr>(.*?)</tr>', 1) AS trs
  FROM h),
r AS (
  SELECT doc_id, title, ths,
         unnest(list_transform(generate_series(2, len(trs)),
                i -> struct_pack(ri := i - 2, tr := trs[i]))) AS s
  FROM t),
rows_ AS (
  SELECT doc_id, title, CAST(s.ri AS INT) AS row_idx,
         regexp_extract_all(s.tr, '<td>(.*?)</td>', 1) AS tds, ths
  FROM r)
SELECT doc_id, title, row_idx,
       array_to_string(
         list_transform(generate_series(1, len(tds)), i ->
           (CASE WHEN len(tds) = len(ths) THEN ths[i]
                 ELSE 'Column ' || i END) || '=' || trim(tds[i])),
         '|') AS cells
FROM rows_
"""


def media_features_sql(fix: str) -> str:
    """M1 features + M3 resize targets in one twin (same 1:1 grain)."""
    def hexdig(p: int) -> str:
        return f"(strpos('0123456789abcdef', substr(md5(text), {p}, 1)) - 1)"

    b0 = f"({hexdig(1)} * 16 + {hexdig(2)})"
    b1 = f"({hexdig(3)} * 16 + {hexdig(4)})"
    return f"""
WITH {_docs_all(fix)},
d AS (
  SELECT doc_id, text,
         16 + {b0} % 640 AS w, 16 + {b1} % 480 AS h
  FROM docs_all)
SELECT 'img://' || CAST(doc_id AS VARCHAR) AS media_ref,
       'image' AS media_kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       CAST(w AS INT) AS fake_width,
       CAST(h AS INT) AS fake_height,
       'ok' AS status,
       CAST(greatest(1, (w * {RESIZE_TARGET}) // greatest(w, h)) AS INT) AS out_w,
       CAST(greatest(1, (h * {RESIZE_TARGET}) // greatest(w, h)) AS INT) AS out_h
FROM d
"""


def _media_hexdig(p: int) -> str:
    return f"(strpos('0123456789abcdef', substr(md5(text), {p}, 1)) - 1)"


def frame_sample_sql(fix: str) -> str:
    b2 = f"({_media_hexdig(5)} * 16 + {_media_hexdig(6)})"
    return f"""
WITH {_docs_all(fix)},
v AS (SELECT 'vid://' || CAST(doc_id AS VARCHAR) AS media_ref,
             md5(text) AS cmd5, 1 + ({b2} % 120) AS n_frames
      FROM docs_all),
fr AS (SELECT media_ref, cmd5,
              unnest(range(0, n_frames, {FRAME_EVERY_N})) AS frame_idx
       FROM v)
SELECT media_ref, CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * 40 AS INT) AS ts_ms,
       md5(cmd5 || ':' || frame_idx) AS frame_md5, 'ok' AS status
FROM fr
"""


def audio_chunks_sql(fix: str) -> str:
    return f"""
WITH {_docs_all(fix)},
a AS (SELECT 'aud://' || CAST(doc_id AS VARCHAR) AS media_ref,
             octet_length(encode(text)) * 4 AS n
      FROM docs_all),
c AS (SELECT *, greatest(1, CAST(ceil(n / {AUDIO_SAMPLE_RATE}.0) AS INT))
             AS n_chunks FROM a)
SELECT media_ref, CAST({AUDIO_SAMPLE_RATE} AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples, n_chunks,
       CAST(n - (n_chunks - 1) * {AUDIO_SAMPLE_RATE} AS INT)
         AS last_chunk_samples,
       'ok' AS status
FROM c
"""
