"""The one join planner: ``plan_join``'s broadcast/transport decision
(pure Python), the closed-form cell counts and the columnar layer
analysis it is fed, and the probe spread on shared coordinates."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.functions.interior_cells import CellClasses
from workstealing_spatial_join_spark.operators import spatial_join as SJ
from workstealing_spatial_join_spark.operators.spatial_join import (
    LayerAnalysis,
    point_in_polygon_join,
    tessellate_bbox,
    tessellate_points,
)
from workstealing_spatial_join_spark.plans.planner import (
    BOUNDS_ROW_BYTES,
    BROADCAST_BUDGET_BYTES,
    plan_join,
)

ROW_CAP = BROADCAST_BUDGET_BYTES // BOUNDS_ROW_BYTES


def side(rows, wkb=0, unique=True, rects=False, cells=None):
    return LayerAnalysis(
        unique_ids=unique, all_rects=rects, exploded_rows=rows,
        exploded_wkb_bytes=wkb, cells=cells,
    )


def classes(interior, boundary, exterior=0, band_bytes=0):
    # one band row per kept cell
    return CellClasses(
        bands=None, k=3, rows=interior + boundary, interior=interior,
        boundary=boundary, exterior=exterior, band_bytes=band_bytes,
    )


UNCOLLECTED = LayerAnalysis()


def decided(plan):
    return plan.broadcast_side, plan.transport


# ------------------------------------------------ plan_join (pure)


def test_budget_keeps_the_bounds_only_row_gate():
    assert ROW_CAP == 2_000_000
    # dict transport: the WKB column is not carried, so only the rows count
    dict_side = side(ROW_CAP, wkb=10**12)
    assert decided(plan_join(None, dict_side, "intersects")) == ("right", "dict")
    assert decided(plan_join(None, side(ROW_CAP + 1), "intersects")) == (None, "dict")


def test_wkb_carrying_side_counts_its_bytes():
    # repeated ids: WKB transport, the collected bytes ride along
    small = side(1_000, wkb=100_000, unique=False)
    assert decided(plan_join(None, small, "intersects")) == ("right", "wkb")
    heavy = side(1_000, wkb=BROADCAST_BUDGET_BYTES, unique=False)
    assert decided(plan_join(None, heavy, "intersects")) == (None, "wkb")


def test_bands_transport_counts_band_rows_and_band_bytes():
    # the closed form counts exterior cells too; the bands build side
    # holds only the band rows, the WKB column never rides
    wide = side(3 * ROW_CAP, wkb=10**12, cells=classes(ROW_CAP - 10, 10, 2 * ROW_CAP))
    assert decided(plan_join(None, wide, "contains")) == ("right", "bands")
    over = side(ROW_CAP, cells=classes(ROW_CAP - 10, 10, band_bytes=1))
    assert decided(plan_join(None, over, "contains")) == (None, "bands")
    # the band rows' payload bytes count against the budget
    half = classes(ROW_CAP // 2 - 10, 10, band_bytes=BROADCAST_BUDGET_BYTES // 2)
    assert plan_join(None, side(ROW_CAP, cells=half), "contains").broadcast_side == "right"
    heavy = classes(ROW_CAP // 2 - 10, 10, band_bytes=BROADCAST_BUDGET_BYTES // 2 + 1)
    assert plan_join(None, side(ROW_CAP, cells=heavy), "contains").broadcast_side is None


def test_over_budget_sides_are_left_to_aqe():
    big = side(ROW_CAP + 1)
    assert decided(plan_join(big, big, "intersects")) == (None, "dict")


def test_uncollected_side_is_never_forced():
    assert decided(plan_join(None, UNCOLLECTED, "contains")) == (None, "wkb")
    # the collected side may still replicate; transport falls to WKB
    assert decided(plan_join(side(10), UNCOLLECTED, "intersects")) == ("left", "wkb")
    assert decided(plan_join(UNCOLLECTED, side(10), "intersects")) == ("right", "wkb")


def test_cell_partitioned_layer_keeps_the_points_moving():
    """A point probe against a cell-partitioned (prepared) layer joins
    where the layer lies, whatever its size or transport; polygon joins
    keep the broadcast rule."""
    from dataclasses import replace

    cells = classes(interior=5, boundary=5)
    for layer, transport in (
        (side(10, cells=cells), "bands"),
        (side(10, rects=True), "catalyst-rect"),
        (side(ROW_CAP + 1, cells=cells), "bands"),
        (UNCOLLECTED, "wkb"),
    ):
        plan = plan_join(None, replace(layer, cell_partitioned=True), "contains")
        assert (plan.broadcast_side, plan.transport, plan.partitioned_side) == (
            None, transport, "right",
        )
        assert plan_join(None, layer, "contains").partitioned_side is None
    prepared = replace(side(10, cells=cells), cell_partitioned=True)
    pair = plan_join(prepared, prepared, "intersects")
    assert (pair.broadcast_side, pair.partitioned_side) == ("right", None)


def test_smaller_fitting_side_replicates():
    assert plan_join(side(10), side(20), "intersects").broadcast_side == "left"
    assert plan_join(side(20), side(10), "intersects").broadcast_side == "right"
    assert plan_join(side(10), side(10), "intersects").broadcast_side == "right"


def test_transport_rules():
    rect = side(10, rects=True)
    rect_multi = side(10, rects=True, unique=False)
    assert plan_join(None, rect, "contains").transport == "catalyst-rect"
    assert (
        plan_join(rect, rect_multi, "intersection_numpoints").transport
        == "catalyst-rect"
    )
    # union's degenerate residual needs the id-keyed dictionary
    assert plan_join(rect, rect, "union_numpoints").transport == "catalyst-rect"
    assert plan_join(rect, rect_multi, "union_numpoints").transport == "wkb"
    assert plan_join(rect, side(10), "intersects").transport == "dict"
    # PIP: a classified layer refines in Catalyst, repeated ids or not;
    # a collected layer without classes falls back to the WKB column
    cells = classes(5, 5)
    assert plan_join(None, side(10, cells=cells), "contains").transport == "bands"
    multi = side(10, unique=False, cells=cells)
    assert plan_join(None, multi, "contains").transport == "bands"
    assert plan_join(None, side(10), "contains").transport == "wkb"
    assert plan_join(None, side(10, rects=True, cells=cells), "contains").transport == (
        "catalyst-rect"
    )
    # an MBR-only join never refines
    assert plan_join(None, UNCOLLECTED, None).transport == "catalyst-rect"


# --------------------------------------- closed form == tessellation

NAN, INF = math.nan, math.inf


@pytest.mark.parametrize(
    "bounds",
    [
        (0.5, 0.5, 2.5, 1.5),
        (None, 0.0, 1.0, 1.0),
        (NAN, 0.0, 1.0, 1.0),
        (0.0, 0.0, NAN, 1.0),
        (0.0, None, 1.0, NAN),
        (-INF, 0.0, 1.0, 1.0),
        (0.0, 0.0, INF, 1.0),
        (-INF, -INF, INF, INF),
        (5.0, 5.0, 2.0, 2.0),
    ],
    ids=["finite", "null_minx", "nan_minx", "nan_maxx", "null_miny_nan_maxy",
         "neg_inf_minx", "inf_maxx", "whole_world", "inverted"],
)
def test_closed_form_cells_match_spark(spark, bounds):
    df = spark.createDataFrame(
        [(1, None, *bounds), (2, None, 10.0, 10.0, 11.5, 12.0)],
        "id long, geom_wkb binary, "
        "minx double, miny double, maxx double, maxy double",
    )
    bounds = SJ._bounds_array(df.toArrow())
    cx0, cy0, w, h = SJ._cell_spans(bounds, 1.0)
    ncell = w * h
    exploded = tessellate_bbox(df, 1.0)
    assert int(ncell.sum()) == exploded.count()
    per_row = {
        r["id"]: (r["n"], r["first"])
        for r in exploded.groupBy("id").agg(
            F.count(F.lit(1)).alias("n"), F.min("cell_id").alias("first")
        ).collect()
    }
    # each row's cell count, and its first covering cell (the least id)
    first = (cx0 * 4294967296 + cy0).tolist()
    assert list(zip(ncell.tolist(), first)) == [per_row[1], per_row[2]]
    if bounds[0] is None or (isinstance(bounds[0], float) and math.isnan(bounds[0])):
        assert ncell[0] == 364  # column 0 .. 181, rows 90 .. 91


# ------------------------------- columnar layer analysis == Spark


def _ring_wkb(*xy):
    from workstealing_spatial_join_spark.functions import wkt as W

    return W.to_wkb(W.POLYGON, [np.array(xy, dtype=np.float64)])


def _rect_wkb(x0, y0, x1, y1):
    return _ring_wkb((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))


# (id type, rows (id, wkb, minx..maxy), all_rects as the Row-based
# analysis decided it)
ANALYSIS_LAYERS = {
    "one_null_id": ("bigint", [
        (None, _rect_wkb(0, 0, 2, 2), 0.0, 0.0, 2.0, 2.0),
        (7, _rect_wkb(3, 3, 5, 5), 3.0, 3.0, 5.0, 5.0),
    ], True),
    "two_null_ids": ("bigint", [
        (None, _rect_wkb(0, 0, 2, 2), 0.0, 0.0, 2.0, 2.0),
        (None, _rect_wkb(3, 3, 5, 5), 3.0, 3.0, 5.0, 5.0),
    ], True),
    "null_wkb": ("bigint", [
        (1, None, 0.0, 0.0, 4.0, 4.0),
        (2, _rect_wkb(3, 3, 5, 5), 3.0, 3.0, 5.0, 5.0),
    ], False),
    # 93 bytes with the rectangle header, but a diamond
    "diamond_93_bytes": ("bigint", [
        (1, _ring_wkb((1, 0), (2, 1), (1, 2), (0, 1), (1, 0)), 0.0, 0.0, 2.0, 2.0),
        (2, _rect_wkb(3, 3, 5, 5), 3.0, 3.0, 5.0, 5.0),
    ], False),
    # a rectangle with a sixth, collinear vertex
    "six_vertex_rect": ("bigint", [
        (1, _ring_wkb((0, 0), (1, 0), (2, 0), (2, 2), (0, 2), (0, 0)), 0.0, 0.0, 2.0, 2.0),
    ], False),
    "string_ids_null_bounds": ("string", [
        ("a", _rect_wkb(0, 0, 2, 2), None, 0.0, 2.0, 2.0),
        ("b", _rect_wkb(3, 3, 5, 5), 3.0, 3.0, 5.0, None),
        ("c", _rect_wkb(1, 1, 4, 4), 1.0, 1.0, 4.0, 4.0),
    ], False),
    "empty": ("bigint", [], True),
}


@pytest.mark.parametrize("case", sorted(ANALYSIS_LAYERS))
def test_columnar_analysis_matches_spark(spark, case, monkeypatch):
    id_type, rows, all_rects = ANALYSIS_LAYERS[case]
    df = spark.createDataFrame(
        rows,
        f"id {id_type}, geom_wkb binary, "
        "minx double, miny double, maxx double, maxy double",
    )
    a = SJ._analyze_layer(df, "id", 1.0)
    exploded = tessellate_bbox(df, 1.0)
    assert a.exploded_rows == exploded.count()
    assert a.exploded_wkb_bytes == exploded.select(
        F.coalesce(F.sum(F.length("geom_wkb")), F.lit(0))
    ).first()[0]
    # DISTINCT keeps one NULL, as the id uniqueness must
    assert a.unique_ids == (df.select("id").distinct().count() == df.count())
    assert a.all_rects is all_rects
    # the replay keeps the id's Spark type and the NULL bounds
    assert a.src.schema == df.schema
    assert sorted(a.src.collect(), key=repr) == sorted(df.collect(), key=repr)

    # the collected layer joins as the uncollected (WKB-refined) one
    # does: a NULL geometry contains nothing
    xs = np.arange(-0.875, 6.0, 0.25)
    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(
            (x, y) for x in xs for y in xs
        )],
        "image_id long, lon double, lat double",
    )

    def pairs(layer):
        got = point_in_polygon_join(points, layer, poly_id="id").collect()
        return sorted(((r.point_id, r.poly_id) for r in got), key=repr)

    collected = pairs(df)
    monkeypatch.setattr(SJ, "DICT_MAX_ROWS", 0)
    assert collected == pairs(df)
    if case == "null_wkb":
        assert all(pid != 1 for _, pid in collected)


# ------------------------------------------------- probe spread


def test_probe_spread_hashes_point_id_on_shared_coordinates(spark):
    pts = tessellate_points(
        spark.range(1000).coalesce(1).select(
            F.col("id").alias("point_id"),
            F.lit(12.5).alias("px"),
            F.lit(7.5).alias("py"),
        ),
        lon="px", lat="py",
    )
    spread = SJ._spread_probe(pts, "pairs")
    n_parts = spread.rdd.getNumPartitions()
    assert n_parts > 1
    sizes = [
        r["n"]
        for r in spread.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert sum(sizes) == 1000
    assert max(sizes) <= 2 * 1000 / n_parts
