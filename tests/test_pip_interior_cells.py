"""Interior-cell and band-row PIP refine against a serial oracle.

A collected polygon layer drops exterior cells and turns every kept
cell into band rows that ray-cast at most K local edges in Catalyst
(functions/interior_cells.py). Every case here compares the join with
brute force: the declared MBR AND ``geom.polygon_contains_xy`` over the
row's polygon parts, NULL geometry containing nothing. The fixtures aim
at the classification's edges: points on vertices, edges and cell
lines; NULL, NaN, ±inf and clamped coordinates; a notch through a cell
whose corners are all inside; a hole inside one cell; a multipolygon
row; repeated ids; NULL WKB; a concavity a rounding error away from a
cell line; a comb whose band crosses more than K edges and splits in x;
a vertex where more than K edges meet, which the WKB transport refines.
"""

import math
import struct

import numpy as np
import pytest

from workstealing_spatial_join_spark.functions import geom as G
from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.functions import interior_cells as IC
from workstealing_spatial_join_spark.functions import wkt as W
from workstealing_spatial_join_spark.operators import spatial_join as SJ
from workstealing_spatial_join_spark.operators.spatial_join import (
    PreparedPolygonLayer,
    point_in_polygon_join,
)
from workstealing_spatial_join_spark.plans.planner import audit_plan

NAN, INF = math.nan, math.inf


def ring(*xy):
    return np.array(xy, dtype=np.float64)


def poly(*rings):
    return W.to_wkb(W.POLYGON, list(rings))


def multi(*polys):
    return struct.pack("<BII", 1, 6, len(polys)) + b"".join(polys)


# a spike notch from the top edge down into cell [11, 12] x [11, 12],
# whose four corners all stay inside
NOTCH = ring(
    (10, 10), (14, 10), (14, 14), (11.55, 14), (11.5, 11.5), (11.45, 14),
    (10, 14), (10, 10),
)
# integer vertices: horizontal and vertical edges on cell lines
LATTICE = ring((30, 30), (33, 30), (33, 32), (31.5, 33), (30, 32), (30, 30))
# a left-open notch whose edge x = -5e-16 sits a rounding error left of
# the cell line x = 0: Catalyst puts (-1e-15, y) into the cell right of it
SLIVER = ring(
    (-3, 2), (3, 2), (3, 11), (-3, 11), (-3, 8), (-5e-16, 8), (-5e-16, 5),
    (-3, 5), (-3, 2),
)
# crosses the antimeridian line: its hole lies beyond 180, where points
# clamp into the grid's last column
BEYOND = [
    ring((175, 20), (200, 20), (200, 25), (175, 25), (175, 20)),
    ring((185, 21), (195, 21), (195, 24), (185, 24), (185, 21)),
]
# and beyond the pole
POLAR = ring((50, 85), (55, 85), (55, 100), (50, 100), (50, 85))
POLAR_HOLE = ring((51, 92), (54, 92), (54, 98), (51, 98), (51, 92))
# eight teeth cross one y-band of the cell [70, 71] x [10, 11]: more
# than K_CAP local edges, so its band rows split in x
COMB = ring(
    (70.05, 10.05), (70.95, 10.05), (70.95, 10.9), (70.85, 10.9), (70.8, 10.3),
    (70.75, 10.9), (70.65, 10.9), (70.6, 10.3), (70.55, 10.9), (70.45, 10.9),
    (70.4, 10.3), (70.35, 10.9), (70.25, 10.9), (70.2, 10.3), (70.15, 10.9),
    (70.05, 10.9), (70.05, 10.05),
)

LAYER = [
    # (id, wkb)
    (1, poly(NOTCH)),
    (2, poly(
        ring((20, 20), (24, 20), (24, 24), (20, 24), (20, 20)),
        ring((21.3, 21.3), (21.7, 21.3), (21.7, 21.7), (21.3, 21.7), (21.3, 21.3)),
    )),
    (3, multi(
        poly(ring((40, 40), (42, 40), (41, 42.5), (40, 40))),
        poly(ring((40.5, 41), (43, 41), (43, 43), (40.5, 43), (40.5, 41))),
    )),
    (4, poly(LATTICE)),
    (4, poly(ring((31, 29), (34, 29), (34, 31), (31, 31), (31, 29)))),
    (5, None),
    (6, poly(SLIVER)),
    (7, poly(*BEYOND)),
    (8, poly(POLAR, POLAR_HOLE)),
    (9, poly(ring((-60, -30), (-57.3, -31.7), (-55.1, -27.2), (-58.8, -25.9),
                  (-60, -30)))),
    (10, poly(COMB)),
]
NULL_BOUNDS = {5: (20.0, 20.0, 24.0, 24.0)}


def layer_rows():
    out = []
    for pid, wkb in LAYER:
        if wkb is None:
            bounds = NULL_BOUNDS[pid]
        else:
            v = np.vstack([r for _, rs in W.from_wkb(wkb) for r in rs])
            bounds = (v[:, 0].min(), v[:, 1].min(), v[:, 0].max(), v[:, 1].max())
        out.append((pid, None if wkb is None else bytearray(wkb), *map(float, bounds)))
    return out


def special_points():
    pts = [
        (None, 12.0), (12.0, None), (NAN, 12.0), (12.0, NAN), (NAN, NAN),
        (INF, 22.0), (-INF, 22.0), (22.0, INF), (22.0, -INF),
        (190.0, 22.5), (180.0, 22.5), (186.0, 20.0), (197.0, 22.0), (200.0, 25.0),
        (52.0, 95.0), (52.0, 90.0), (52.5, 89.5), (56.0, 95.0),
        (-1e-15, 6.5), (-1e-15, 5.0), (0.0, 6.5), (-5e-16, 6.0), (1e-15, 9.0),
        (11.5, 11.8), (11.5, 11.5), (11.47, 12.5), (11.0, 11.0), (12.0, 12.0),
        (21.5, 21.5), (21.3, 21.5), (21.7, 21.7), (21.0, 21.0), (22.0, 21.5),
        (31.0, 30.0), (30.0, 31.0), (33.0, 32.0), (31.5, 33.0), (32.25, 32.5),
        (32.0, 30.0), (31.0, 31.0), (32.0, 31.0), (33.0, 31.0), (31.0, 29.0),
        (40.0, 40.0), (41.0, 42.5), (40.5, 41.0), (42.0, 42.0), (41.2, 41.9),
        (70.3, 10.6), (70.4, 10.6), (70.8, 10.3), (70.5, 10.3), (70.2, 10.95),
    ]
    for pid, wkb in LAYER:
        if wkb is None:
            continue
        for _, rs in W.from_wkb(wkb):
            for r in rs:
                pts.extend(map(tuple, r))
                pts.extend(map(tuple, (r[:-1] + r[1:]) / 2))
    return pts


def random_points(rng, cell_deg):
    pts = []
    for row in layer_rows():
        x0, y0, x1, y1 = row[2:]
        pts.extend(zip(rng.uniform(x0 - 0.5, x1 + 0.5, 150),
                       rng.uniform(y0 - 0.5, y1 + 0.5, 150)))
        # on the cell lines through the box
        gx = np.arange(math.floor(x0), math.ceil(x1) + 1, 1.0)
        gy = rng.uniform(y0, y1, len(gx))
        pts.extend(zip(gx, gy))
        pts.extend(zip(rng.uniform(x0, x1, len(gx)), np.round(gy / cell_deg) * cell_deg))
    return pts


@pytest.fixture(scope="module")
def points_pdf():
    import pandas as pd

    rng = np.random.default_rng(20261017)
    pts = special_points() + random_points(rng, 1.0) + random_points(rng, 0.1)
    return pd.DataFrame({
        "image_id": np.arange(len(pts), dtype=np.int64),
        "lon": [p[0] for p in pts],
        "lat": [p[1] for p in pts],
    })


def oracle_pairs(points_pdf, rows=None):
    """[(point_id, poly_id)] with multiplicity, by brute force over
    ``rows`` (default: the LAYER fixture's ``layer_rows()``)."""
    xs = points_pdf["lon"].to_numpy(dtype=np.float64)
    ys = points_pdf["lat"].to_numpy(dtype=np.float64)
    ids = points_pdf["image_id"].to_numpy()
    out = []
    with np.errstate(invalid="ignore"):
        for pid, wkb, x0, y0, x1, y1 in rows or layer_rows():
            hit = np.zeros(len(xs), dtype=bool)
            if wkb is not None:
                for gtype, rs in W.from_wkb(bytes(wkb)):
                    if gtype == W.POLYGON:
                        hit |= G.polygon_contains_xy(rs, xs, ys)
            hit &= (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
            out.extend((int(i), pid) for i in ids[hit])
    return sorted(out)


@pytest.fixture(scope="module")
def frames(spark, points_pdf):
    points = spark.createDataFrame(points_pdf).cache()
    layer = spark.createDataFrame(
        layer_rows(),
        "pid long, geom_wkb binary, minx double, miny double, maxx double, maxy double",
    ).cache()
    return points, layer


def run(points, layer, mode, salt, cell_deg):
    return point_in_polygon_join(
        points, layer, poly_id="pid", mode=mode, salt=salt, cell_deg=cell_deg,
    )


@pytest.mark.parametrize("cell_deg", [1.0, 0.1])
@pytest.mark.parametrize("salt", [False, True], ids=["unsalted", "salted"])
@pytest.mark.parametrize("mode", ["pairs", "count", "semi", "anti", "percell"])
def test_matches_serial_oracle(spark, frames, points_pdf, mode, salt, cell_deg):
    points, layer = frames
    want = oracle_pairs(points_pdf)
    matched = {p for p, _ in want}
    assert len(want) > 300 and len(matched) < len(points_pdf)  # both outcomes
    df = run(points, layer, mode, salt, cell_deg)
    assert sum(audit_plan(df)["python_nodes"].values()) == 0
    rows = df.collect()
    if mode == "pairs":
        assert sorted((r.point_id, r.poly_id) for r in rows) == want
    elif mode == "count":
        assert rows[0][0] == len(want)
    elif mode == "semi":
        assert sorted(r.point_id for r in rows) == sorted(matched)
    elif mode == "anti":
        every = set(points_pdf["image_id"].tolist())
        assert sorted(r.point_id for r in rows) == sorted(every - matched)
    else:
        assert sorted((r.point_id, r.poly_id) for r in rows) == want
        xy = points_pdf.set_index("image_id")
        for r in rows:
            lon, lat = xy.loc[r.point_id, ["lon", "lat"]]
            assert r.cell_id == int(GRID.cell_id(np.array([lon]), np.array([lat]), cell_deg)[0])


def test_prepared_layer_and_wkb_path_agree(spark, frames, points_pdf, monkeypatch):
    points, layer = frames
    want = oracle_pairs(points_pdf)

    def pairs(df):
        return sorted((r.point_id, r.poly_id) for r in df.collect())

    prepared = PreparedPolygonLayer(layer, "pid")
    assert pairs(point_in_polygon_join(points, prepared, poly_id="pid")) == want
    monkeypatch.setattr(SJ, "DICT_MAX_ROWS", 0)  # uncollected: WKB refine
    assert pairs(point_in_polygon_join(points, layer, poly_id="pid")) == want


def _classes(wkb, cell_deg=1.0):
    cx0, cy0, w, h = SJ._cell_spans(np.array([layer_rows_bounds(wkb)]), cell_deg)
    return IC.classify_cells([wkb], cx0, cy0, w, h, cell_deg)


def layer_rows_bounds(wkb):
    v = np.vstack([r for _, rs in W.from_wkb(wkb) for r in rs])
    return v[:, 0].min(), v[:, 1].min(), v[:, 0].max(), v[:, 1].max()


def cell_class(classes, lon, lat, cell_deg=1.0):
    cid = int(GRID.cell_id(np.array([lon]), np.array([lat]), cell_deg)[0])
    rows = [b for b in classes.bands[0].as_py() if b["cell_id"] == cid]
    if not rows:
        return "exterior"
    (b, *more) = rows
    whole = not more and b["blo"] == b["xlo"] == -INF and b["bhi"] == b["xhi"] == INF
    edges = any(b[f"rb{j}"] for j in range(classes.k))
    return "interior" if whole and not edges and b["tt"] & 1 else "boundary"


def test_cell_classes_at_the_edges():
    notch = _classes(poly(NOTCH))
    assert cell_class(notch, 10.5, 10.5) == "boundary"  # corner of the shell
    assert cell_class(notch, 12.5, 12.5) == "interior"
    assert cell_class(notch, 11.5, 11.2) == "boundary"  # notch, corners inside
    hole = _classes(LAYER[1][1])
    assert cell_class(hole, 21.5, 21.5) == "boundary"
    assert cell_class(hole, 22.5, 22.5) == "interior"
    sliver = _classes(poly(SLIVER))
    assert cell_class(sliver, 0.5, 6.5) == "boundary"  # edge 5e-16 away
    assert cell_class(sliver, 1.5, 6.5) == "interior"
    beyond = _classes(poly(*BEYOND))
    assert cell_class(beyond, 179.5, 22.5) == "boundary"  # grid edge column
    assert cell_class(beyond, 177.5, 22.5) == "interior"
    tri = _classes(poly(ring((0, 0), (6, 0), (0, 6), (0, 0))))
    assert cell_class(tri, 1.5, 1.5) == "interior"
    assert cell_class(tri, 2.5, 2.5) == "boundary"  # the hypotenuse's corner
    assert cell_class(tri, 4.5, 4.5) == "exterior"
    assert tri.interior + tri.boundary + tri.exterior == 49  # 7 x 7 cells
    comb = _classes(poly(COMB))
    assert any(b["xlo"] > -INF for b in comb.bands[0].as_py())  # split in x
    assert comb.k <= IC.K_CAP


def test_null_undecodable_and_non_finite_rows_contain_nothing(spark):
    bad = [
        (1, None),
        (2, bytearray(b"\x01\x03\x00\x00\x00\x05")),  # truncated
        (3, bytearray(poly(ring((0, 0), (4, 0), (NAN, 4), (0, 0))))),
        (4, bytearray(poly(ring((0, 0), (4, 0), (4, 4), (0, 4), (0, 0))))),
    ]
    layer = spark.createDataFrame(
        [(pid, wkb, 0.0, 0.0, 4.0, 4.0) for pid, wkb in bad],
        "pid long, geom_wkb binary, minx double, miny double, maxx double, maxy double",
    )
    points = spark.createDataFrame(
        [(0, 1.5, 1.5), (1, 3.5, 0.5)], "image_id long, lon double, lat double"
    )
    got = sorted(
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join(points, layer, poly_id="pid").collect()
    )
    assert got == [(0, 4), (1, 4)]
    classes = IC.classify_cells(
        [wkb for _, wkb in bad],
        *SJ._cell_spans(np.array([(0.0, 0.0, 4.0, 4.0)] * len(bad)), 1.0), 1.0,
    )
    # every cell of the three bad rows is boundary, and none has a row
    assert classes.boundary >= 3 * 25 and classes.interior > 0
    assert classes.bands.to_pylist()[:3] == [[], [], []]


def test_open_ring_makes_its_row_boundary():
    # an unclosed ring: its missing closing edge is not an edge, so the
    # ray parity changes along y = 0 and y = 3 left of the open ends
    open_ring = _classes(poly(ring((0, 0), (6, 0), (6, 3), (0, 3))))
    assert open_ring.interior == 0
    assert open_ring.exterior == 0


# ------------------------- prepared (cell-partitioned) layer, adversarial
#
# A prepared layer's tessellation is cached partitioned by cell and the
# join merges on it, shuffling only the points. Each case below runs
# all five modes against the prepared layer and a fresh (broadcast)
# layer and requires identical results, with the pairs equal to the
# serial oracle.

MODES = ("pairs", "count", "semi", "anti", "percell")
LAYER_SCHEMA = (
    "pid long, geom_wkb binary, minx double, miny double, maxx double, maxy double"
)


def every_mode(points, layer):
    out = {}
    for mode in MODES:
        rows = point_in_polygon_join(points, layer, poly_id="pid", mode=mode).collect()
        out[mode] = rows[0][0] if mode == "count" else sorted(map(tuple, rows))
    return out


def assert_prepared_equals_fresh(points, layer, points_pdf, rows, prepared=None):
    prepared = prepared or PreparedPolygonLayer(layer, "pid")
    got = every_mode(points, prepared)
    assert got == every_mode(points, layer)
    assert got["pairs"] == oracle_pairs(points_pdf, rows)
    assert got["count"] == len(got["pairs"]) > 0 and got["anti"]
    prepared.release()


def stacked_rows():
    """Many rows over the cell [5, 6] x [5, 6]: squares around (5.5, 5.5)
    from well inside the cell (boundary rows) to far past it (interior
    rows), triangles with (5.5, 5.5) on an edge or a vertex, and one
    that misses it."""
    rows = []
    for i, half in enumerate(np.linspace(0.05, 3.0, 40)):
        c = 5.5 + (i % 3 - 1) * 0.01
        rows.append(poly(ring((c - half, c - half), (c + half, c - half),
                              (c + half, c + half), (c - half, c + half),
                              (c - half, c - half))))
    rows.append(poly(ring((5, 5), (6, 5), (6, 6), (5, 5))))  # on its edge
    rows.append(poly(ring((5.5, 5.5), (7, 5), (7, 7), (5.5, 5.5))))  # a vertex
    rows.append(poly(ring((5.6, 5), (6, 5), (6, 6), (5.6, 5))))  # misses
    out = []
    for pid, wkb in enumerate(rows, start=100):
        x0, y0, x1, y1 = map(float, layer_rows_bounds(wkb))
        out.append((pid, bytearray(wkb), x0, y0, x1, y1))
    return out


def test_prepared_layer_many_points_at_one_coordinate(spark):
    import pandas as pd

    rng = np.random.default_rng(7)
    xs = np.concatenate([np.full(3000, 5.5), np.full(500, 5.0), rng.uniform(2, 9, 500)])
    ys = np.concatenate([np.full(3000, 5.5), np.full(500, 5.0), rng.uniform(2, 9, 500)])
    pdf = pd.DataFrame({"image_id": np.arange(len(xs), dtype=np.int64),
                        "lon": xs, "lat": ys})
    rows = stacked_rows()
    points = spark.createDataFrame(pdf)
    layer = spark.createDataFrame(rows, LAYER_SCHEMA)
    assert_prepared_equals_fresh(points, layer, pdf, rows)


@pytest.mark.parametrize("cached_at", [3, 13])
def test_prepared_layer_after_shuffle_partitions_change(
    spark, frames, points_pdf, cached_at
):
    """The layer's partition count is the session's at caching time; a
    later change may make Spark shuffle both sides, never lose a pair."""
    points, layer = frames
    prepared = PreparedPolygonLayer(layer, "pid")
    joined = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(cached_at))
    try:
        for transport in ("bands", "catalyst-rect"):
            prepared.exploded(transport)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", joined)
    assert prepared.exploded("bands").rdd.getNumPartitions() == cached_at
    assert_prepared_equals_fresh(points, layer, points_pdf, layer_rows(), prepared)


def test_prepared_layer_on_the_wkb_transport(frames, points_pdf, monkeypatch):
    points, layer = frames
    monkeypatch.setattr(SJ, "DICT_MAX_ROWS", 0)  # uncollected: WKB refine
    prepared = PreparedPolygonLayer(layer, "pid")
    audit = audit_plan(point_in_polygon_join(points, prepared, poly_id="pid"))
    assert audit["sortmerge_joins"] == 1 and audit["broadcast_joins"] == 0
    assert audit["python_nodes"]["ArrowEvalPython"] == 1
    assert_prepared_equals_fresh(points, layer, points_pdf, layer_rows(), prepared)


# vertices where more than K_CAP edges meet (of three parts, of four
# parts, of three holes touching at one point): no band split keeps
# their rows under the caps, so the layer is left unclassified and
# refines through the WKB transport — exact, with one Python node
FAN = multi(
    poly(ring((80.5, 10.5), (80.9, 10.6), (80.8, 10.9), (80.5, 10.5))),
    poly(ring((80.5, 10.5), (80.4, 10.9), (80.1, 10.7), (80.5, 10.5))),
    poly(ring((80.5, 10.5), (80.2, 10.2), (80.7, 10.1), (80.5, 10.5))),
)
FAN4 = multi(
    poly(ring((80.5, 10.5), (80.9, 10.6), (80.8, 10.9), (80.5, 10.5))),
    poly(ring((80.5, 10.5), (80.4, 10.9), (80.1, 10.7), (80.5, 10.5))),
    poly(ring((80.5, 10.5), (80.2, 10.2), (80.3, 10.1), (80.5, 10.5))),
    poly(ring((80.5, 10.5), (80.7, 10.1), (80.9, 10.3), (80.5, 10.5))),
)
HOLES3 = poly(
    ring((80.05, 10.05), (80.95, 10.05), (80.95, 10.95), (80.05, 10.95), (80.05, 10.05)),
    ring((80.5, 10.5), (80.8, 10.6), (80.7, 10.8), (80.5, 10.5)),
    ring((80.5, 10.5), (80.3, 10.8), (80.2, 10.6), (80.5, 10.5)),
    ring((80.5, 10.5), (80.4, 10.2), (80.6, 10.2), (80.5, 10.5)),
)


@pytest.mark.parametrize("fan", [FAN, FAN4, HOLES3], ids=["fan3", "fan4", "holes3"])
def test_overflowing_vertex_refines_on_the_wkb_transport(spark, fan):
    import pandas as pd

    rows = [(pid, bytearray(wkb), *map(float, layer_rows_bounds(wkb)))
            for pid, wkb in ((1, fan), (2, poly(COMB)))]
    assert _classes(fan) is None
    rng = np.random.default_rng(11)
    xs = np.concatenate([rng.uniform(80, 81, 2000), rng.uniform(70, 71, 2000),
                         [80.5, 80.5, 80.7, 80.45, 80.65], COMB[:, 0]])
    ys = np.concatenate([rng.uniform(10, 11, 2000), rng.uniform(10, 11, 2000),
                         [10.5, 10.55, 10.55, 10.52, 10.7], COMB[:, 1]])
    pdf = pd.DataFrame({"image_id": np.arange(len(xs), dtype=np.int64),
                        "lon": xs, "lat": ys})
    points = spark.createDataFrame(pdf)
    layer = spark.createDataFrame(rows, LAYER_SCHEMA)
    assert audit_plan(point_in_polygon_join(points, layer, poly_id="pid"))[
        "python_nodes"]["ArrowEvalPython"] == 1
    assert_prepared_equals_fresh(points, layer, pdf, rows)
