"""Retrieval tail + misc relational operators (SURVEY §2 phase 5).

J6 keyword->prompt broadcast join, A6 max-score argmax, S11 CSV
fill-down, J7 spatial tabular band-join, and events sessionization
(the gaps-and-islands analogue of A4/A9 on a timestamped table).
Pure DataFrame/SQL throughout.

Reference basis cited per function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# sessionization: a gap longer than this between a user's consecutive
# events starts a new session
SESSION_GAP_MINUTES = 30


def keyword_hits(docs: DataFrame, keywords: DataFrame) -> DataFrame:
    """J6: keyword dimension joined against document text.

    Reference: Neo4j `MATCH (k:Keyword) RETURN k.name, k.llm_prompt`
    (src/data/graph_db.py:52-77) then per-keyword retrieval
    (src/pdf_extractor.py:450-478). The dimension is tiny ->
    broadcast; the contains() predicate runs map-side, no shuffle on
    the fact table until the final small groupBy.
    """
    j = docs.join(
        F.broadcast(keywords),
        F.col("text").contains(F.col("keyword")),
    )
    return j.groupBy("keyword", "llm_prompt").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.min("doc_id").alias("first_doc_id"),
    )


def max_score_per_query(topk: DataFrame) -> DataFrame:
    """A6: per query keep the best hit, guarded by score*100 <= 100
    (reference argmax loop,
    src/generators/vector_db_query-results_to_csv_generator.py:33-44).
    Input is cosine_topk output (query_id, rank, vec_id, sim)."""
    guarded = topk.filter(F.col("sim") * 100 <= 100)
    w = Window.partitionBy("query_id").orderBy("rank")
    return (
        guarded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("vec_id").alias("best_vec_id"),
                F.col("sim").alias("best_sim"))
    )


def fill_down_events(events: DataFrame) -> DataFrame:
    """S11 fill-down semantics (carry forward last valid value) on the
    events table: 'error' events have no trustworthy value; inherit
    the user's previous non-error value.

    Reference: category fill-down in the CSV generator
    (src/generators/table_to_csv_generator.py:34-42) == last(...,
    ignorenulls) over an ordered per-key window.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.when(F.col("event_type") != "error", F.col("value"))
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.last(v, ignorenulls=True).over(w), 2).alias("filled_value"),
    )


def _tabular_boxes(geom: DataFrame) -> DataFrame:
    return geom.filter(F.col("kind") == "TextBox").select(
        "doc_id", "page_id", F.col("offset").alias("o"),
        "x0", "y0", "x1", "y1",
        ((F.col("y0") + F.col("y1")) / 2).alias("yc"),
        ((F.col("x0") + F.col("x1")) / 2).alias("xc"),
    )


_AB_COLS = ["o", "x0", "y0", "x1", "y1", "yc", "xc"]


def _tabular_relation():
    """The reference's are_textboxes_tabular classification
    (src/utilities/parse_util.py:364-405) over an _a/_b pair row,
    quirky guards included: 'row' iff same-row AND NOT same-col AND
    NOT y-overlap; 'col' iff same-col AND NOT same-row AND NOT
    x-overlap. Tolerances Y_TOLERANCE/X_TOLERANCE on box centers —
    the SAME constants that size the candidate bands (the superset
    guarantee requires band width == predicate tolerance)."""
    from pdfspark.config import X_TOLERANCE, Y_TOLERANCE

    same_row = F.abs(F.col("yc_a") - F.col("yc_b")) <= Y_TOLERANCE
    same_col = F.abs(F.col("xc_a") - F.col("xc_b")) <= X_TOLERANCE
    x_overlap = ~((F.col("x1_a") < F.col("x0_b"))
                  | (F.col("x1_b") < F.col("x0_a")))
    y_overlap = ~((F.col("y1_a") < F.col("y0_b"))
                  | (F.col("y1_b") < F.col("y0_a")))
    return (
        F.when(same_row & ~same_col & ~y_overlap, "row")
        .when(same_col & ~same_row & ~x_overlap, "col")
    )


def tabular_candidates(tb: DataFrame) -> DataFrame:
    """Banded candidate generation for J7 (SURVEY §2.3's prescription:
    bucket by floor(center / tol) to make the spatial test an
    EQUI-join). Output-relevant pairs need same-row (|Δyc| <=
    Y_TOLERANCE) or same-col (|Δxc| <= X_TOLERANCE); a pair within
    tolerance differs by at most one bucket of width tol, so joining
    side a's bucket against side b's bucket expanded to {b-1, b, b+1}
    yields a guaranteed superset. Two banded equi-joins (y-band,
    x-band) unioned and deduped — shuffle by (doc, page, bucket),
    never an all-pairs compare within a page. A pathological
    10k-element page fans out across its buckets instead of one
    10^8-comparison task; only elements genuinely stacked at one
    center (whose OUTPUT is itself quadratic) share a bucket.

    The exact relation predicate is applied PER BAND, before the
    union: it is a deterministic function of the pair geometry, so
    filtering early is equivalent and the dedup exchange carries only
    output-relevant pairs instead of the full band superset. Output
    rows therefore arrive with a non-null `relation` column."""
    from pdfspark.config import X_TOLERANCE, Y_TOLERANCE

    cands = None
    for col, width in (("yc", Y_TOLERANCE), ("xc", X_TOLERANCE)):
        bkt = F.floor(F.col(col) / width).cast("long")
        a = tb.withColumn("bkt", bkt).alias("a")
        b = tb.withColumn(
            "bkt", F.explode(F.array(bkt - 1, bkt, bkt + 1))
        ).alias("b")
        j = (
            a.join(
                b,
                (F.col("a.doc_id") == F.col("b.doc_id"))
                & (F.col("a.page_id") == F.col("b.page_id"))
                & (F.col("a.bkt") == F.col("b.bkt"))
                & (F.col("a.o") < F.col("b.o")),
            )
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.col("a.page_id").alias("page_id"),
                *[F.col(f"a.{c}").alias(f"{c}_a") for c in _AB_COLS],
                *[F.col(f"b.{c}").alias(f"{c}_b") for c in _AB_COLS],
            )
            .withColumn("relation", _tabular_relation())
            .filter(F.col("relation").isNotNull())
        )
        cands = j if cands is None else cands.unionByName(j)
    # a pair can surface via both bands (and via a neighbor AND its own
    # bucket only when widths straddle — not possible within one band,
    # but across the y/x union duplicates are routine): dedupe on the
    # pair key (geometry, hence relation, is functionally determined
    # by it)
    return cands.dropDuplicates(["doc_id", "page_id", "o_a", "o_b"])


def tabular_pairs(geom: DataFrame) -> DataFrame:
    """J7: the reference's are_textboxes_tabular test
    (src/utilities/parse_util.py:364-405) as a banded spatial join.

    Semantics reproduced exactly (see _tabular_relation); candidate
    pairs come from tabular_candidates's banded equi-joins with the
    exact predicate already applied per band. No quadratic per-page
    compare exists — the round-2 form's one-task 10^8-comparison
    pathology on a dense page is gone (pinned by the
    planted-dense-page test).
    """
    cand = tabular_candidates(_tabular_boxes(geom))
    return cand.select("doc_id", "page_id", "o_a", "o_b", "relation")


def sessionize_events(events: DataFrame) -> DataFrame:
    """Per-user sessionization: a new session starts when the gap to
    the previous event exceeds SESSION_GAP_MINUTES (gaps-and-islands — the
    same shape as the reference's row clustering A4,
    src/table_extractor.py:80-101, and collation A9,
    src/pdf_test_parse.py:238-303, applied to timestamps).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet gives TIMESTAMP_NTZ; session TZ is UTC so the cast is exact
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    marked = events.withColumn(
        "new_sess",
        F.when(
            gap.isNull() | (gap > SESSION_GAP_MINUTES * 60 * 1_000_000), 1
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"  # fixed-width: oracle strftime %f
    tts = F.col("ts").cast("timestamp")
    sess = sess.withColumn("session_id", F.col("session_id").cast("int"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("int").alias("n_events"),
        F.min(F.date_format(tts, fmt)).alias("start_ts"),
        F.max(F.date_format(tts, fmt)).alias("end_ts"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def upsert_embeddings(
    current: DataFrame, updates: DataFrame, ord_col: str | None = None
) -> DataFrame:
    """S13 — upsert-by-key semantics of the reference's vector-index
    sink (_upsert_to_pinecone_index, ref src/data/pinecone_vector_db.py
    :74-120,269-296): a row in `updates` replaces the `current` row
    with the same vec_id, new ids append. Relationally: left-anti the
    touched keys out of current, union the updates — exactly what an
    Iceberg `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    INSERT` compiles to for whole-row updates.

    The reference (and an Iceberg MERGE) is last-write-wins per id
    WITHIN a batch too. A plain DataFrame carries no row order, so
    "last" needs an explicit ordinal: pass ``ord_col`` (a monotone
    batch-position column, dropped from the output) and the update
    batch is deduped to its max-ordinal row per vec_id first. Without
    ``ord_col`` the caller guarantees vec_id-unique updates (the
    precondition this engine's own callers satisfy).

    Scale shape: one hash-shuffle on vec_id for the anti-join (the
    dedupe reuses the same key); broadcast when the update batch is
    small (AQE decides)."""
    if ord_col is not None:
        w = Window.partitionBy("vec_id").orderBy(F.desc(ord_col))
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", ord_col)
        )
    return current.join(
        updates.select("vec_id"), "vec_id", "left_anti"
    ).unionByName(updates)
