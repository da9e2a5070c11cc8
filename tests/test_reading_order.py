"""W1 reading order: the reference's flat (-y1, x1) parity sort vs
the XY-cut variant (recursive widest-gap segmentation).

The reference has no multi-column handling — parse_util.py:454 sorts
a page's textboxes by (-y1, x1), which interleaves aligned column
lines — so the XY-cut order is the value-add path the north-star
names, shipped ALONGSIDE the parity sort, never replacing it."""

import os
from collections import Counter

from pyspark.sql import functions as F

from pdfspark.operators.reading_order import (
    _largest_gap,
    with_reading_order,
    with_xy_cut_order,
    xy_cut_order,
)


def _two_columns(lines=3, aligned=True):
    """Aligned two-column page: left col x 72-272, right col 320-520,
    shared line grid (the adversarial case for the flat sort).
    Offsets interleave columns line-by-line."""
    x0, y0, x1, y1, off = [], [], [], [], []
    k = 0
    for line in range(lines):
        for a, b in ((72.0, 272.0), (320.0, 520.0)):
            dy = 0.0 if aligned or a == 72.0 else 6.0
            x0.append(a)
            x1.append(b)
            y1.append(700.0 - 24.0 * line - dy)
            y0.append(688.0 - 24.0 * line - dy)
            off.append(k)
            k += 1
    return x0, y0, x1, y1, off


def test_largest_gap_merges_overlaps():
    # overlapping intervals form one blob: no internal gap
    assert _largest_gap([(0, 10), (5, 20)])[0] == 0.0
    # containment must not reopen a closed gap
    assert _largest_gap([(0, 20), (2, 4), (30, 40)]) == (10.0, 25.0)
    g, c = _largest_gap([(0, 10), (12, 20), (50, 60)])
    assert (g, c) == (30.0, 35.0)


def test_xycut_reads_columns_not_lines():
    x0, y0, x1, y1, off = _two_columns()
    order = xy_cut_order(x0, y0, x1, y1, off)
    assert [off[i] for i in order] == [0, 2, 4, 1, 3, 5]
    # the reference sort interleaves the same page line-by-line
    ref = sorted(range(6), key=lambda i: (-y1[i], x1[i], off[i]))
    assert [off[i] for i in ref] == [0, 1, 2, 3, 4, 5]


def test_xycut_single_column_equals_reference_sort():
    # one column, no vertical gap wider than the line gaps: every cut
    # is horizontal and the result is exactly the (-y1, x1) order
    x0 = [72.0] * 4
    x1 = [520.0] * 4
    y1 = [700.0 - 20.0 * i for i in range(4)]
    y0 = [688.0 - 20.0 * i for i in range(4)]
    off = list(range(4))
    ref = sorted(range(4), key=lambda i: (-y1[i], x1[i], off[i]))
    assert xy_cut_order(x0, y0, x1, y1, off) == ref


def test_xycut_nested_title_band_then_columns():
    # full-width title above two columns: the title's band splits
    # first (horizontal gap 40 > gutter 48? no — gutter is blocked by
    # the title row, so the widest FULL-PROJECTION gap is horizontal)
    x0 = [72.0, 72.0, 320.0]
    x1 = [520.0, 272.0, 520.0]
    y1 = [760.0, 700.0, 700.0]
    y0 = [740.0, 600.0, 600.0]
    off = [0, 1, 2]
    assert xy_cut_order(x0, y0, x1, y1, off) == [0, 1, 2]


def test_xycut_gapfree_page_falls_back_to_reference_sort():
    # overlapping boxes on both axes: no empty gap anywhere
    x0 = [72.0, 100.0, 150.0]
    x1 = [300.0, 400.0, 350.0]
    y1 = [700.0, 695.0, 690.0]
    y0 = [650.0, 640.0, 630.0]
    off = [2, 0, 1]
    ref = sorted(range(3), key=lambda i: (-y1[i], x1[i], off[i]))
    assert xy_cut_order(x0, y0, x1, y1, off) == ref


def test_distributed_xycut_matches_kernel_and_sidecar(
        spark, spans_geom, fixture_dir):
    """The batched mapInPandas form must reproduce the pure-Python kernel
    page-for-page (the sidecar the DuckDB oracle reads), and must
    genuinely disagree with the ref sort on the multi-column family."""
    got = with_xy_cut_order(spans_geom).toPandas()
    exp = spark.read.parquet(
        os.path.join(fixture_dir, "xycut_expected.parquet")).toPandas()
    key = ["doc_id", "page_id", "offset"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert got[key + ["rord"]].astype(str).equals(
        exp[key + ["rord"]].astype(str))
    # disagreement with the parity sort exists and is column-shaped
    ref = with_reading_order(spans_geom).select(
        "doc_id", "page_id", "offset",
        F.col("rord").alias("ref_rord")).toPandas()
    j = got.merge(ref, on=key)
    mc = j[j["doc_id"].str.contains("multi")] if (
        j["doc_id"].str.contains("multi").any()) else j
    assert (mc["rord"] != mc["ref_rord"]).any(), (
        "xycut must reorder at least the multi-column family")


def test_xycut_output_schema_follows_input_types(spark):
    # the window variant is type-agnostic; the xycut twin must be
    # too — bigint doc_ids / long offsets must not die at Arrow
    # conversion against a hardcoded string/int schema
    from pdfspark.operators.reading_order import (
        with_reading_order, with_xy_cut_order)

    geom = spark.createDataFrame(
        [(7, 1, i, "TextBox", 72.0 + 200.0 * (i % 2), 700.0 - 14 * i,
          172.0 + 200.0 * (i % 2), 712.0 - 14 * i)
         for i in range(6)],
        "doc_id bigint, page_id bigint, offset bigint, kind string,"
        " x0 double, y0 double, x1 double, y1 double")
    got = with_xy_cut_order(geom)
    assert dict((f.name, f.dataType.simpleString())
                for f in got.schema.fields) == {
        "doc_id": "bigint", "page_id": "bigint",
        "offset": "bigint", "rord": "int"}
    ref = with_reading_order(geom)
    assert got.count() == ref.count() == 6


def test_sorted_groups_straddling_arrow_batches(spark, spans_geom,
                                                fixture_dir):
    """With 3-row Arrow batches nearly every page spans several batches
    of its partition, so map_sorted_groups must carry each page's rows
    across batches into one kernel call: both of its users still equal
    their Spark-free sidecars over the whole fixture."""
    from pdfspark.operators.tables import extract_tables_exact

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        xy = rows(with_xy_cut_order(spans_geom))
        tables = rows(extract_tables_exact(spans_geom).select(
            "doc_id", "page_id", "table_id", "title", "row_id",
            F.array_join("cells", "|").alias("cells")))
    finally:
        spark.conf.set(key, old)
    for got, name in ((xy, "xycut_expected.parquet"),
                      (tables, "oracle_tables_exact.parquet")):
        assert got == rows(spark.read.parquet(
            os.path.join(fixture_dir, name))), name
