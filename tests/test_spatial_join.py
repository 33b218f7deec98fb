"""End-to-end engine vs brute-force oracle (SURVEY.md §5 strategy 1-3)."""

import pytest
from pyspark.sql import functions as F

from tests.oracle import join_oracle, pip_pairs_oracle
from workstealing_spatial_join_spark.operators.ingest import ingest_geometry
from workstealing_spatial_join_spark.operators.spatial_join import (
    point_in_polygon_join,
    polygon_join,
)
from workstealing_spatial_join_spark.sources import fixtures as FX

N_IMAGES = 1000
N_POLYS = 100


@pytest.fixture(scope="module")
def images_pdf():
    return FX.images_pdf(N_IMAGES, with_bytes=False)


@pytest.fixture(scope="module")
def polygons_pdf():
    return FX.polygons_pdf(N_POLYS)


@pytest.fixture(scope="module")
def images(spark, images_pdf):
    return spark.createDataFrame(images_pdf[["image_id", "lon", "lat"]]).cache()


@pytest.fixture(scope="module")
def polygons(spark, polygons_pdf):
    return ingest_geometry(
        spark.createDataFrame(polygons_pdf), geom_col="wkt", keep_cols=["polygon_id"]
    ).cache()


def test_pip_join_matches_oracle(images, polygons, images_pdf, polygons_pdf):
    got = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join(images, polygons).collect()
    }
    want = pip_pairs_oracle(images_pdf, polygons_pdf)
    assert got == want
    assert len(want) > 0  # fixture sanity: the join does real work


def test_pip_count_mode(images, polygons, images_pdf, polygons_pdf):
    want = len(pip_pairs_oracle(images_pdf, polygons_pdf))
    got = point_in_polygon_join(images, polygons, mode="count").collect()[0][0]
    assert got == want


def test_pip_semi_mode(images, polygons, images_pdf, polygons_pdf):
    want = {i for i, _ in pip_pairs_oracle(images_pdf, polygons_pdf)}
    got = {r.point_id for r in point_in_polygon_join(images, polygons, mode="semi").collect()}
    assert got == want


def test_pip_broadcast_invariance(spark, images, polygons, monkeypatch):
    """The forced broadcast join and a real shuffle join (budget 0,
    Spark's own broadcast threshold off) count the same pairs."""
    from workstealing_spatial_join_spark.plans import planner

    a = point_in_polygon_join(images, polygons, mode="count")
    assert planner.audit_plan(a)["broadcast_joins"] == 1
    monkeypatch.setattr(planner, "BROADCAST_BUDGET_BYTES", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        b = point_in_polygon_join(images, polygons, mode="count")
        audit = planner.audit_plan(b)
        assert audit["broadcast_joins"] == 0
        assert audit["sortmerge_joins"] + audit["shuffledhash_joins"] == 1
        assert a.collect()[0][0] == b.collect()[0][0] > 0
    finally:
        spark.conf.set(key, prev)


def test_pip_cell_resolution_invariance(images, polygons):
    """Tessellation granularity must not change the answer (the
    property the reference implies across its 512/2048/8192-cell
    datasets but never asserts)."""
    counts = {
        point_in_polygon_join(images, polygons, cell_deg=cd, mode="count").collect()[
            0
        ][0]
        for cd in (0.5, 1.0, 4.0)
    }
    assert len(counts) == 1


@pytest.mark.parametrize(
    "predicate", ["intersects", "intersection_numpoints", "union_numpoints"]
)
def test_polygon_join_matches_oracle(spark, polygons_pdf, predicate):
    la = polygons_pdf.iloc[:50].rename(columns={"polygon_id": "a_id"})
    lb = polygons_pdf.iloc[50:].rename(columns={"polygon_id": "b_id"})
    da = ingest_geometry(spark.createDataFrame(la), "wkt", keep_cols=["a_id"])
    db = ingest_geometry(spark.createDataFrame(lb), "wkt", keep_cols=["b_id"])
    want_pairs, want_scalar = join_oracle(la, lb, "a_id", "b_id", predicate)
    got_scalar = polygon_join(
        da, db, "a_id", "b_id", predicate=predicate, mode="count"
    ).collect()[0][0]
    assert got_scalar == want_scalar
    got_pairs = {
        (r.lid, r.rid)
        for r in polygon_join(da, db, "a_id", "b_id", predicate=predicate).collect()
    }
    assert got_pairs == want_pairs


def test_parity_multiplicity_mode(spark, polygons_pdf):
    """§3.2 semantics: dedup='parity' counts a pair once per co-occupied
    cell; refpoint mode counts each pair exactly once."""
    la = polygons_pdf.iloc[:50].rename(columns={"polygon_id": "a_id"})
    lb = polygons_pdf.iloc[50:].rename(columns={"polygon_id": "b_id"})
    da = ingest_geometry(spark.createDataFrame(la), "wkt", keep_cols=["a_id"])
    db = ingest_geometry(spark.createDataFrame(lb), "wkt", keep_cols=["b_id"])
    parity = polygon_join(
        da, db, "a_id", "b_id", mode="pairs", dedup="parity"
    ).collect()
    dedup = polygon_join(da, db, "a_id", "b_id", mode="pairs").collect()
    # parity rows ⊇ dedup pairs, with multiplicity ≥ 1
    assert len(parity) >= len(dedup)
    assert {(r.lid, r.rid) for r in parity} == {(r.lid, r.rid) for r in dedup}
    # every parity row carries a distinct (pair, cell)
    assert len({(r.lid, r.rid, r.cell_id) for r in parity}) == len(parity)


def test_hexwkb_ingest_equals_wkt(spark, polygons_pdf):
    """S3 parity: hex-WKB text ingest must produce the same layer as
    WKT ingest (src/reader.cpp:61-100)."""
    from workstealing_spatial_join_spark.functions import wkt as W

    hex_rows = []
    for _, r in polygons_pdf.iloc[:40].iterrows():
        gtype, rings = W.parse_wkt(r["wkt"])[0]
        hex_rows.append((r["polygon_id"], W.to_wkb(gtype, rings).hex()))
    dh = ingest_geometry(
        spark.createDataFrame(hex_rows, "polygon_id string, hexwkb string"),
        "hexwkb", fmt="wkb", keep_cols=["polygon_id"],
    )
    dw = ingest_geometry(
        spark.createDataFrame(polygons_pdf.iloc[:40]), "wkt",
        keep_cols=["polygon_id"],
    )
    a = {(r.polygon_id, r.minx, r.maxy) for r in dh.collect()}
    b = {(r.polygon_id, r.minx, r.maxy) for r in dw.collect()}
    assert a == b and len(a) == 40


def test_prepared_layer_equivalence(images, polygons, images_pdf, polygons_pdf):
    """PreparedPolygonLayer (build-once) must produce identical results
    to the one-shot DataFrame path."""
    from workstealing_spatial_join_spark.operators.spatial_join import (
        PreparedPolygonLayer,
    )

    layer = PreparedPolygonLayer(polygons, poly_id="polygon_id")
    got = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join(images, layer).collect()
    }
    assert got == pip_pairs_oracle(images_pdf, polygons_pdf)


def test_ingest_multipart_and_invalid(spark):
    rows = [
        ("a", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))"),
        ("b", "garbage not wkt"),
        ("c", "POINT (3 4)"),
        ("d", ""),
    ]
    df = spark.createDataFrame(rows, "gid string, wkt string")
    out = ingest_geometry(df, "wkt", keep_cols=["gid"]).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r.gid, []).append(r)
    assert len(by_gid["a"]) == 2  # multipart exploded
    assert "b" not in by_gid and "d" not in by_gid  # dropped silently
    assert by_gid["c"][0].minx == 3.0 and by_gid["c"][0].maxy == 4.0


def test_polygon_join_concave_random_layers(spark):
    """Spark-level differential test on RANDOM CONCAVE layers: the
    full polygon_join pipeline (tessellation, refpoint dedup,
    broadcast pair-dict transport, GH refine) vs a nested-loop Python
    oracle — guards the general-overlay path independently of the
    committed concave fixture."""
    import numpy as np

    from workstealing_spatial_join_spark.functions import overlay as OV
    from workstealing_spatial_join_spark.functions import wkt as W
    from workstealing_spatial_join_spark.operators.spatial_join import (
        polygon_join,
    )

    rng = np.random.default_rng(31)

    def star(cx, cy, nv):
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.4, 1.5, nv)
        pts = np.round(
            np.column_stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
            ),
            3,
        )
        return np.vstack([pts, pts[:1]])

    def layer(n, seed_ids):
        rows = []
        for i in range(n):
            ring = star(rng.uniform(-6, 6), rng.uniform(-6, 6),
                        int(rng.integers(6, 14)))
            rows.append(
                (
                    seed_ids + i,
                    bytearray(W.to_wkb(W.POLYGON, [ring])),
                    float(ring[:, 0].min()), float(ring[:, 1].min()),
                    float(ring[:, 0].max()), float(ring[:, 1].max()),
                    ring,
                )
            )
        return rows

    la, lb = layer(45, 0), layer(55, 1000)
    schema = (
        "pid long, geom_wkb binary, minx double, miny double, "
        "maxx double, maxy double"
    )
    da = spark.createDataFrame([r[:6] for r in la], schema)
    db = spark.createDataFrame([r[:6] for r in lb], schema)

    # python oracle with the predicate registry's exception parity
    def oracle(pred):
        out = {}
        for ida, _, ax0, ay0, ax1, ay1, ra in la:
            for idb, _, bx0, by0, bx1, by1, rb in lb:
                if ax0 > bx1 or bx0 > ax1 or ay0 > by1 or by0 > ay1:
                    continue
                try:
                    n = OV.polygon_intersection_num_points([ra], [rb])
                except OV.DegenerateGeometry:
                    n = 0
                if pred == "intersects":
                    from workstealing_spatial_join_spark.functions import (
                        geom as G,
                    )

                    if G.intersects((W.POLYGON, [ra]), (W.POLYGON, [rb])):
                        out[(ida, idb)] = True
                elif n > 0:
                    out[(ida, idb)] = n
        return out

    got_i = {
        (r.lid, r.rid)
        for r in polygon_join(
            da, db, "pid", "pid", predicate="intersects", cell_deg=1.0
        ).collect()
    }
    assert got_i == set(oracle("intersects"))
    got_n = {
        (r.lid, r.rid): r.num_points
        for r in polygon_join(
            da, db, "pid", "pid", predicate="intersection_numpoints",
            cell_deg=1.0,
        ).collect()
    }
    assert got_n == oracle("intersection_numpoints")
    assert len(got_n) > 30  # layers actually overlap


def test_polygon_join_layer_collects_carry_the_job_group(spark):
    """Both layers are collected on pool threads while the join is
    built; they must report under the caller's job group."""
    polys = FX.polygons_pdf(80)
    la = polys.iloc[:40].rename(columns={"polygon_id": "a_id"})
    lb = polys.iloc[40:].rename(columns={"polygon_id": "b_id"})
    da = ingest_geometry(spark.createDataFrame(la), "wkt", keep_cols=["a_id"])
    db = ingest_geometry(spark.createDataFrame(lb), "wkt", keep_cols=["b_id"])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("polygon-join-build", "polygon-join-build")
    try:
        polygon_join(da, db, "a_id", "b_id", predicate="intersects")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = tracker.getJobIdsForGroup("polygon-join-build")
    # building the join runs only the two layer collects (and their
    # AQE stages): all in the group, none outside it
    assert len(jobs) >= 2
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
