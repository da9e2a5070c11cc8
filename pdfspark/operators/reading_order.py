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
    ``with_xy_cut_order`` runs it on many pages per Arrow batch).
    Inputs are parallel sequences; returns input INDICES in reading
    order.

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


def map_sorted_groups(df: DataFrame, keys, order, kernel,
                      schema: T.StructType) -> DataFrame:
    """Runs ``kernel(pdf, bounds)`` over the ``keys`` groups of ``df``,
    many groups per Python call: ``pdf`` holds whole groups sorted by
    ``keys`` then ``order``, ``bounds`` their start rows then
    ``len(pdf)``; the kernel returns a pandas frame of ``schema``.

    One shuffle on ``keys`` and a partition-local sort, then ONE
    mapInPandas that cuts each Arrow batch at numpy change-points over
    the keys. A grouped-map pandas UDF makes every group its own Arrow
    group and Python call: W1's first cut had that shape, ~60k
    single-page groups at sf0.1 took 37 s against 0.35 s for the flat
    window sort, and about 1 s in this shape (measured, round 5). A
    group can straddle two Arrow batches of one partition, so each
    batch's trailing group is held back and prepended to the next
    (flushed at iterator end) — the sort made groups contiguous."""
    import numpy as np
    import pandas as pd

    part = df.repartition(*keys).sortWithinPartitions(*keys, *order)

    def bounds_of(pdf: pd.DataFrame):
        change = np.zeros(len(pdf) - 1, dtype=bool)
        for k in keys:
            a = pdf[k].to_numpy()
            change |= a[1:] != a[:-1]
        return np.concatenate(([0], np.flatnonzero(change) + 1, [len(pdf)]))

    def run(batches):
        pending = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            elif len(pdf) == 0:
                continue
            bounds = bounds_of(pdf)
            tail = int(bounds[-2])
            pending = pdf.iloc[tail:]
            if tail:
                yield kernel(pdf.iloc[:tail], bounds[:-1])
        if pending is not None:
            yield kernel(pending, np.array([0, len(pending)]))

    return part.mapInPandas(run, schema)


def with_xy_cut_order(spans_geom: DataFrame) -> DataFrame:
    """Distributed XY-cut: 1-based reading-order rank ``rord`` among the
    TextBox spans of every page, through ``map_sorted_groups`` keyed on
    (doc_id, page_id) — the same one exchange the W1 window pays."""
    import numpy as np
    import pandas as pd

    tb = spans_geom.filter(F.col("kind") == "TextBox").select(
        "doc_id", "page_id", "offset", "x0", "y0", "x1", "y1")

    def rank_pages(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        d, p, off, x0, y0, x1, y1 = (pdf[c].to_numpy() for c in pdf.columns)
        take: list[int] = []
        rord = np.empty(len(pdf), dtype=np.int32)
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            # .tolist() once per page: the kernel indexes elements in
            # Python loops, and plain-list indexing avoids the ~100 ns
            # numpy scalar boxing per access (measurable at sf0.1)
            order = xy_cut_order(x0[lo:hi].tolist(), y0[lo:hi].tolist(),
                                 x1[lo:hi].tolist(), y1[lo:hi].tolist(),
                                 off[lo:hi].tolist())
            take.extend(lo + j for j in order)
            rord[lo:hi] = np.arange(1, hi - lo + 1)
        return pd.DataFrame({"doc_id": d[take], "page_id": p[take],
                             "offset": off[take], "rord": rord})

    # key-column types come from the INPUT frame (bigint doc_ids,
    # long offsets, ...) — a hardcoded string/int schema would fail
    # Arrow conversion on any frame the window variant handles fine
    out_schema = T.StructType(
        [T.StructField(n, spans_geom.schema[n].dataType)
         for n in ("doc_id", "page_id", "offset")]
        + [T.StructField("rord", T.IntegerType())])
    return map_sorted_groups(tb, ("doc_id", "page_id"), ("offset",),
                             rank_pages, out_schema)
