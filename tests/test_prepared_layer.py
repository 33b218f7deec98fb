"""PreparedPolygonLayer: repeated polygon_join calls against the
same layer must not re-collect / re-decode the broadcast dictionary
(round-2 verdict next-step #7)."""

import pytest

from workstealing_spatial_join_spark.operators import spatial_join as SJ
from workstealing_spatial_join_spark.operators.ingest import ingest_geometry
from workstealing_spatial_join_spark.operators.spatial_join import (
    PreparedPolygonLayer,
    polygon_join,
)
from workstealing_spatial_join_spark.sources import fixtures as FX


@pytest.fixture(scope="module")
def layers(spark):
    ppdf = FX.polygons_pdf(100)
    la = ppdf.iloc[:50].rename(columns={"polygon_id": "a_id"})
    lb = ppdf.iloc[50:].rename(columns={"polygon_id": "b_id"})
    da = ingest_geometry(spark.createDataFrame(la), "wkt", keep_cols=["a_id"]).cache()
    db = ingest_geometry(spark.createDataFrame(lb), "wkt", keep_cols=["b_id"]).cache()
    da.count(), db.count()
    return da, db


def test_prepared_layer_matches_plain_join(layers):
    da, db = layers
    want = {
        (r.lid, r.rid, r.num_points)
        for r in polygon_join(
            da, db, "a_id", "b_id", predicate="intersection_numpoints"
        ).collect()
    }
    pa = PreparedPolygonLayer(da, "a_id")
    pb = PreparedPolygonLayer(db, "b_id")
    got = {
        (r.lid, r.rid, r.num_points)
        for r in polygon_join(
            pa, pb, "a_id", "b_id", predicate="intersection_numpoints"
        ).collect()
    }
    assert got == want and len(want) > 0


def test_prepared_layer_skips_recollect(layers, monkeypatch):
    da, db = layers
    calls = {"n": 0}
    real = SJ._collect_layer

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(SJ, "_collect_layer", counting)
    pa = PreparedPolygonLayer(da, "a_id")
    pb = PreparedPolygonLayer(db, "b_id")
    assert calls["n"] == 2  # one collect per preparation

    # two different predicates against the same prepared pair: zero
    # new collects (the dict, rect-verify, and tessellation are all
    # answered from the layer cache)
    for predicate in ("intersects", "union_numpoints"):
        n = polygon_join(
            pa, pb, "a_id", "b_id", predicate=predicate, mode="count"
        ).collect()[0][0]
        assert n > 0
    assert calls["n"] == 2

    # plain-DataFrame joins DO re-collect — one per side per call
    polygon_join(da, db, "a_id", "b_id", predicate="intersects", mode="count").collect()
    assert calls["n"] == 4


def test_prepared_layer_mixed_sides(layers):
    """One prepared side + one plain DataFrame side is allowed."""
    da, db = layers
    pa = PreparedPolygonLayer(da, "a_id")
    want = {
        (r.lid, r.rid)
        for r in polygon_join(da, db, "a_id", "b_id", predicate="intersects").collect()
    }
    got = {
        (r.lid, r.rid)
        for r in polygon_join(pa, db, "a_id", "b_id", predicate="intersects").collect()
    }
    assert got == want and len(want) > 0


def test_prepared_layer_cell_deg_mismatch(layers):
    da, db = layers
    pa = PreparedPolygonLayer(da, "a_id", cell_deg=1.0)
    with pytest.raises(ValueError, match="cell_deg"):
        polygon_join(pa, db, "a_id", "b_id", cell_deg=0.5)


def test_prepared_layer_pip_takes_rect_and_wkb_paths(spark):
    """In a PIP join a prepared layer takes the transports a DataFrame
    layer takes: WKB for repeated (multipart) ids, where it used to
    raise, and the zero-Python rect path."""
    import pyspark.sql.functions as F

    from workstealing_spatial_join_spark.operators.spatial_join import (
        PreparedPolygonLayer,
        point_in_polygon_join,
    )
    from workstealing_spatial_join_spark.plans.planner import audit_plan
    from workstealing_spatial_join_spark.sources.tables import rects_with_geom

    rows = [
        (1, "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
            "((10 10, 12 10, 11 12, 10 10)))"),
        (2, "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"),
    ]
    multi = ingest_geometry(
        spark.createDataFrame(rows, "gid int, wkt string"), "wkt",
        keep_cols=["gid"],
    )
    pts = spark.createDataFrame(
        [(0, 1.5, 1.5), (1, 11.0, 10.5), (2, 5.0, 5.0)],
        "image_id long, lon double, lat double",
    )

    def pairs(layer, **kw):
        return sorted(
            (r.point_id, r.poly_id)
            for r in point_in_polygon_join(pts, layer, **kw).collect()
        )

    want = pairs(multi, poly_id="gid")
    assert pairs(PreparedPolygonLayer(multi, "gid")) == want == [
        (0, 1), (0, 2), (1, 1)
    ]

    rects = rects_with_geom(
        spark.range(1, 40).select(
            F.col("id").alias("rect_id"),
            (F.col("id") % 7 - 5.0).alias("minx"),
            (F.col("id") % 5 - 3.0).alias("miny"),
            (F.col("id") % 7 - 3.5).alias("maxx"),
            (F.col("id") % 5 - 1.0).alias("maxy"),
        )
    )
    grid = spark.range(400).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 20 * 0.5 - 5.0).alias("lon"),
        (F.floor(F.col("id") / 20) * 0.25 - 3.0).alias("lat"),
    )
    layer = PreparedPolygonLayer(rects, "rect_id")
    df = point_in_polygon_join(grid, layer, mode="count")
    assert sum(audit_plan(df)["python_nodes"].values()) == 0
    plain = point_in_polygon_join(grid, rects, poly_id="rect_id", mode="count")
    assert df.collect()[0][0] == plain.collect()[0][0] > 0


def test_rect_union_split_plan_matches_udf_path(spark, monkeypatch):
    """union_numpoints on rect layers splits generic pairs onto the
    Catalyst closed form and degenerate pairs onto the pair UDF; the
    combined result must equal the full-UDF (WKB transport) path on a
    layer mix that hits BOTH branches."""
    import pandas as pd

    from workstealing_spatial_join_spark.operators.ingest import ingest_geometry

    def layer(rows, pref):
        pdf = pd.DataFrame(
            [
                {"rid": f"{pref}{i}",
                 "wkt": f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                        f"{x0} {y1}, {x0} {y0}))"}
                for i, (x0, y0, x1, y1) in enumerate(rows)
            ]
        )
        return ingest_geometry(spark.createDataFrame(pdf), "wkt", keep_cols=["rid"])

    la = layer([(0, 0, 2, 2), (10, 10, 13, 12), (5, 5, 7, 7),
                (20, 0, 22, 2)], "a")
    lb = layer([(1, 1, 3, 3),          # generic overlap with a0
                (12, 11, 14, 13.5),    # shared x=12? no: generic
                (7, 5, 9, 7),          # shared edge with a2 (degenerate)
                (22, 2, 24, 4),        # corner touch with a3 (degenerate)
                (0.5, 0.5, 1.5, 1.5)], "b")
    kw = dict(predicate="union_numpoints", mode="pairs", cell_deg=4.0)
    split = {
        (r.lid, r.rid, r.num_points)
        for r in polygon_join(la, lb, "rid", "rid", **kw).collect()
    }
    monkeypatch.setattr(SJ, "DICT_MAX_ROWS", 0)  # uncollected: WKB transport
    full = {
        (r.lid, r.rid, r.num_points)
        for r in polygon_join(la, lb, "rid", "rid", **kw).collect()
    }
    assert split == full and len(split) >= 4
    # sanity: at least one degenerate pair (touch) actually present
    assert any(p[0] == "a2" and p[1] == "b2" for p in split)
    assert any(p[0] == "a3" and p[1] == "b3" for p in split)
