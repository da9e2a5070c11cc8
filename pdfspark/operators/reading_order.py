"""W1 — reading-order sort (SURVEY.md §2.5).

The reference sorts a page's textboxes by ``(-y1, x1)`` — top-to-
bottom, then left-to-right (ref src/utilities/parse_util.py:454).
Here that is a per-(doc,page) window; no global shuffle of anything
but the (doc_id, page_id) hash.
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def reading_order_window() -> Window:
    # offset tie-break = the stable-sort semantics of Python list.sort
    # (equal keys keep storage order).
    return Window.partitionBy("doc_id", "page_id").orderBy(
        F.desc("y1"), F.asc("x1"), F.asc("offset"))


def with_reading_order(spans_geom: DataFrame) -> DataFrame:
    """Adds the 1-based reading-order rank ``rord`` among TextBox spans
    of a page."""
    tb = spans_geom.filter(F.col("kind") == "TextBox")
    return tb.withColumn("rord", F.row_number().over(reading_order_window()))


# ---------------------------------------------------------------------------
# XY-cut reading order (recursive widest-gap page segmentation)
# ---------------------------------------------------------------------------

def _largest_gap(intervals: list) -> tuple:
    """Largest strictly-empty gap in a union of 1-D intervals.

    ``intervals`` is any iterable of (lo, hi). Returns
    ``(gap_width, cut_position)`` with the cut at the gap midpoint, or
    ``(0.0, 0.0)`` when the union is gap-free (overlapping/touching
    boxes). O(n log n) in the interval count."""
    iv = sorted(intervals)
    best, cut = 0.0, 0.0
    hi = iv[0][1]
    for lo2, hi2 in iv[1:]:
        gap = lo2 - hi
        if gap > best:
            best, cut = gap, (hi + lo2) / 2.0
        if hi2 > hi:
            hi = hi2
    return best, cut


def xy_cut_order(x0, y0, x1, y1, offset) -> list:
    """Reading order of one page's boxes by recursive XY-cut
    (Nagy-Seth top-down page segmentation): split the box set at the
    WIDEST empty gap across both axes — a column gutter beats the
    line gaps it spans — recursing top-band-first / left-first, with
    gap-free leaves falling back to the reference's ``(-y1, x1)``
    sort (parse_util.py:454, offset tie-break = Python stable sort).

    Pure Python over one page (pages are tens-to-hundreds of boxes;
    the distributed form batches pages per Arrow group via
    ``with_xy_cut_order``). Inputs are parallel sequences; returns
    input INDICES in reading order.

    The reference itself has no multi-column handling — its flat
    ``(-y1, x1)`` sort interleaves aligned two-column lines — so this
    is the value-add variant the north-star names ('reading-order
    sort via XY-cut'), shipped alongside the parity sort, never
    replacing it."""
    def leaf(idxs):
        return sorted(idxs, key=lambda i: (-y1[i], x1[i], offset[i]))

    def rec(idxs, depth):
        if len(idxs) <= 1 or depth > 64:
            return list(idxs) if len(idxs) <= 1 else leaf(idxs)
        gy, cy = _largest_gap([(y0[i], y1[i]) for i in idxs])
        gx, cx = _largest_gap([(x0[i], x1[i]) for i in idxs])
        if gy <= 0.0 and gx <= 0.0:
            return leaf(idxs)
        if gy >= gx:  # ties prefer the horizontal cut: top band first
            a = [i for i in idxs if y0[i] >= cy]
            b = [i for i in idxs if y0[i] < cy]
        else:
            a = [i for i in idxs if x1[i] <= cx]
            b = [i for i in idxs if x1[i] > cx]
        if not a or not b:  # degenerate cut: never recurse unsplit
            return leaf(idxs)
        return rec(a, depth + 1) + rec(b, depth + 1)

    return rec(list(range(len(offset))), 0)


def with_xy_cut_order(spans_geom: DataFrame) -> DataFrame:
    """Distributed XY-cut: 1-based reading-order rank ``rord`` among the
    TextBox spans of every page.

    One shuffle on (doc_id, page_id) — the same exchange the W1
    window pays — as an explicit repartition + partition-local sort,
    then ONE mapInPandas whose batches carry MANY pages: page-group
    boundaries are numpy change-points over the sorted keys, sliced
    in-process. The first cut of this op (groupBy.applyInPandas) made
    every page its own Arrow group — ~60k single-page groups at
    sf0.1, each paying per-group Arrow + invocation overhead, 37 s vs
    0.35 s for the flat sort (measured, round 5). Batching pages per
    Arrow batch removes that overhead class entirely (37 s -> ~1 s)
    and is the shape that scales: cost tracks page COUNT, not group
    count. A page group can straddle two Arrow batches of one
    partition, so the trailing group of every batch is buffered and
    prepended to the next (flushed at iterator end) — never split,
    because the partition-local sort made groups contiguous."""
    import numpy as np
    import pandas as pd

    tb = spans_geom.filter(F.col("kind") == "TextBox").select(
        "doc_id", "page_id", "offset", "x0", "y0", "x1", "y1")
    part = tb.repartition("doc_id", "page_id").sortWithinPartitions(
        "doc_id", "page_id")

    def _rank_pages(pdf: pd.DataFrame) -> pd.DataFrame:
        d = pdf["doc_id"].to_numpy()
        p = pdf["page_id"].to_numpy()
        change = np.flatnonzero((d[1:] != d[:-1]) | (p[1:] != p[:-1])) + 1
        bounds = np.concatenate(([0], change, [len(pdf)]))
        x0 = pdf["x0"].to_numpy()
        y0 = pdf["y0"].to_numpy()
        x1 = pdf["x1"].to_numpy()
        y1 = pdf["y1"].to_numpy()
        off = pdf["offset"].to_numpy()
        take: list[int] = []
        rord = np.empty(len(pdf), dtype=np.int32)
        pos = 0
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            # .tolist() once per page: the kernel indexes elements in
            # Python loops, and plain-list indexing avoids the ~100 ns
            # numpy scalar boxing per access (measurable at sf0.1)
            order = xy_cut_order(x0[lo:hi].tolist(), y0[lo:hi].tolist(),
                                 x1[lo:hi].tolist(), y1[lo:hi].tolist(),
                                 off[lo:hi].tolist())
            take.extend(lo + j for j in order)
            rord[pos:pos + (hi - lo)] = np.arange(1, hi - lo + 1)
            pos += hi - lo
        out = pd.DataFrame(
            {"doc_id": d[take], "page_id": p[take], "offset": off[take],
             "rord": rord}
        )
        return out

    def run(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if len(pdf) == 0:
                continue
            last_d = pdf["doc_id"].iloc[-1]
            last_p = pdf["page_id"].iloc[-1]
            tail = (pdf["doc_id"].to_numpy() == last_d) & (
                pdf["page_id"].to_numpy() == last_p)
            n_tail = int(tail[::-1].argmin()) if not tail.all() else len(pdf)
            pending = pdf.iloc[len(pdf) - n_tail:].reset_index(drop=True)
            head = pdf.iloc[: len(pdf) - n_tail]
            if len(head):
                yield _rank_pages(head)
        if pending is not None and len(pending):
            yield _rank_pages(pending)

    # key-column types come from the INPUT frame (bigint doc_ids,
    # long offsets, ...) — a hardcoded string/int schema would fail
    # Arrow conversion on any frame the window variant handles fine
    out_schema = T.StructType(
        [T.StructField(n, spans_geom.schema[n].dataType)
         for n in ("doc_id", "page_id", "offset")]
        + [T.StructField("rord", T.IntegerType())])
    return part.mapInPandas(run, out_schema)
