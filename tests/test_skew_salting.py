"""Skew handling (LB1 rebirth): the cogroup join's salting must not
change results, the cost table must target exactly the hot cells, and
the Catalyst PIP join's accepted-but-ignored ``salt`` must not either."""

from pyspark.sql import functions as F

from workstealing_spatial_join_spark.operators.ingest import ingest_geometry
from workstealing_spatial_join_spark.operators.skew import cell_cost_table
from workstealing_spatial_join_spark.operators.spatial_join import (
    point_in_polygon_join,
    tessellate_bbox,
    tessellate_points,
)
from workstealing_spatial_join_spark.sources import fixtures as FX


def test_salted_join_invariance(spark):
    images = spark.createDataFrame(
        FX.images_pdf(2000, with_bytes=False)[["image_id", "lon", "lat"]]
    )
    polys = ingest_geometry(
        spark.createDataFrame(FX.polygons_pdf(150)), "wkt", keep_cols=["polygon_id"]
    )
    plain = point_in_polygon_join(images, polys, mode="pairs", salt=False)
    salted = point_in_polygon_join(images, polys, mode="pairs", salt=True)
    a = {(r.point_id, r.poly_id) for r in plain.collect()}
    b = {(r.point_id, r.poly_id) for r in salted.collect()}
    assert a == b and len(a) > 0


def test_salted_cogroup_invariance(spark):
    """The cogroup strategy's (cell_id, salt) pre-split — the skew
    handling AQE cannot give a cogroup — must not change results on
    the hot-box fixture."""
    from workstealing_spatial_join_spark.operators.cogroup_join import (
        point_in_polygon_join_cogrouped,
    )

    images = spark.createDataFrame(
        FX.images_pdf(2500, with_bytes=False)[["image_id", "lon", "lat"]]
    )
    polys = ingest_geometry(
        spark.createDataFrame(FX.polygons_pdf(150)), "wkt", keep_cols=["polygon_id"]
    )
    plain = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join_cogrouped(images, polys).collect()
    }
    salted = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join_cogrouped(
            images, polys, salt=True, target_pairs_per_task=50
        ).collect()
    }
    assert plain == salted and len(plain) > 0


def test_cost_table_targets_hot_cells(spark):
    """The fixture's hot box (10% of points in 1°×1°) must be the top
    cost cell, and only heavy cells get n_salt > 1."""
    images = spark.createDataFrame(
        FX.images_pdf(3000, with_bytes=False)[["image_id", "lon", "lat"]]
    )
    ppdf = FX.polygons_pdf(200)
    # guarantee a polygon over the hot box so the hot cell is in the
    # cost table (the join requires both sides present)
    ppdf.loc[len(ppdf)] = {
        "polygon_id": "hotpoly",
        "wkt": "POLYGON ((9.5 44.5, 11.5 44.5, 11.5 46.5, 9.5 46.5, 9.5 44.5))",
        "minx": 9.5, "miny": 44.5, "maxx": 11.5, "maxy": 46.5,
    }
    polys = ingest_geometry(
        spark.createDataFrame(ppdf), "wkt", keep_cols=["polygon_id"]
    )
    pts = tessellate_points(images)
    pl = tessellate_bbox(polys)
    cost = cell_cost_table(pts, pl, target_pairs=100)
    rows = cost.collect()
    by_cell = {r.cell_id: r for r in rows}
    # hot box is lon [10,11] lat [45,46] → cell x=190, y=135: the
    # densest point cell; it appears in the cost table whenever any
    # polygon covers it, and n_left there dominates all other cells
    hot = 190 * 2**32 + 135
    max_n_left = max(r.n_left for r in rows)
    if hot in by_cell:
        assert by_cell[hot].n_left == max_n_left
        assert by_cell[hot].n_left >= 250  # ~10% of 3000
    # salt factors follow est_pairs, nothing salts below target
    assert all(r.n_salt == 1 for r in rows if r.est_pairs <= 100)
    assert all(r.n_salt > 1 for r in rows if r.est_pairs > 100)
    assert any(r.n_salt > 1 for r in rows)  # skew actually detected
