"""Band rows against the serial oracle, at NumPy level.

``interior_cells.classify_cells`` turns every kept covering cell into
band rows, and the join's refine is ``band_contains_sql``. Here the
refine is mirrored in NumPy (``band_hits``, the same arithmetic in the
same order) and compared, point by point, with the MBR AND
``geom.polygon_contains_xy`` over the row's parts. Random polygons
carry holes, several parts, horizontal edges, vertices on cell lines
and rings that touch; the test points sit on vertices, on edges, on
band bounds, on cell lines and a margin either side of the cell's right
edge (the far/local split). No point may meet two band rows of one
polygon.
"""

import struct

import numpy as np
import pytest

from workstealing_spatial_join_spark.functions import geom as G
from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.functions import interior_cells as IC
from workstealing_spatial_join_spark.functions import wkt as W
from workstealing_spatial_join_spark.operators import spatial_join as SJ


def band_hits(classes, i, xs, ys, cell_deg):
    """How many band rows of row ``i`` hold each point (0 or 1): the
    NumPy mirror of ``band_contains_sql``."""
    cid = GRID.cell_id(xs, ys, cell_deg)
    hits = np.zeros(len(xs), dtype=np.int64)
    with np.errstate(all="ignore"):
        for b in classes.bands[i].as_py():
            x = np.full(len(xs), b["fp"], dtype=np.int64)
            o = np.zeros(len(xs), dtype=np.int64)
            for j in range(classes.k):
                ax, ay, bx, by, rb = (b[f"{f}{j}"] for f in ("ax", "ay", "bx", "by", "rb"))
                crosses = ((ay > ys) != (by > ys)) & (xs < (bx - ax) * (ys - ay) / (by - ay) + ax)
                on = (
                    (ys >= min(ay, by)) & (ys <= max(ay, by))
                    & (xs >= min(ax, bx)) & (xs <= max(ax, bx))
                    & ((bx - ax) * (ys - ay) - (by - ay) * (xs - ax) == 0)
                )
                x ^= np.where(crosses, rb, 0)
                o |= np.where(on, rb, 0)
            held = (
                (cid == b["cell_id"]) & (ys >= b["blo"]) & (ys < b["bhi"])
                & (xs >= b["xlo"]) & (xs < b["xhi"])
            )
            hits += held & ((b["tt"] >> (x | o << IC.RING_BITS)) & 1 == 1)
    return hits


def bounds_of(wkb):
    v = np.vstack([r for _, rs in W.from_wkb(wkb) for r in rs])
    return v[:, 0].min(), v[:, 1].min(), v[:, 0].max(), v[:, 1].max()


def classify(wkbs, cell_deg):
    bounds = np.array([bounds_of(w) for w in wkbs], dtype=np.float64)
    return IC.classify_cells(wkbs, *SJ._cell_spans(bounds, cell_deg), cell_deg), bounds


def oracle(wkb, xs, ys):
    want = np.zeros(len(xs), dtype=bool)
    for gtype, rs in W.from_wkb(wkb):
        if gtype == W.POLYGON:
            want |= G.polygon_contains_xy(rs, xs, ys)
    return want


def assert_matches_oracle(wkbs, xs, ys, cell_deg):
    classes, bounds = classify(wkbs, cell_deg)
    assert classes is not None
    assert classes.k <= IC.K_CAP
    for i, wkb in enumerate(wkbs):
        x0, y0, x1, y1 = bounds[i]
        mbr = (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
        got = band_hits(classes, i, xs, ys, cell_deg)
        assert got.max(initial=0) <= 1, f"row {i}: a point met two band rows"
        bad = np.nonzero(((got == 1) & mbr) != (oracle(wkb, xs, ys) & mbr))[0]
        assert not len(bad), (i, list(zip(xs[bad][:5], ys[bad][:5])))
    return classes


def ring(*xy):
    return np.array(xy, dtype=np.float64)


def poly(*rings):
    return W.to_wkb(W.POLYGON, list(rings))


def multi(*polys):
    return struct.pack("<BII", 1, 6, len(polys)) + b"".join(polys)


def star(rng, cx, cy, r, nv, snap=None):
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = r * rng.uniform(0.35, 1.0, nv)
    pts = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    if snap:
        pts = np.round(pts / snap) * snap
        pts = pts[np.r_[True, (np.diff(pts, axis=0) != 0).any(axis=1)]]
    return np.vstack([pts, pts[:1]])


def max_edges_through_a_vertex(wkb):
    """The most edges whose closed segments hold one vertex."""
    rs = [r for _, rings in W.from_wkb(wkb) for r in rings]
    a = np.vstack([r[:-1] for r in rs])
    b = np.vstack([r[1:] for r in rs])
    most = 0
    for px, py in a:
        on = (
            ((b[:, 0] - a[:, 0]) * (py - a[:, 1]) == (b[:, 1] - a[:, 1]) * (px - a[:, 0]))
            & (px >= np.minimum(a[:, 0], b[:, 0])) & (px <= np.maximum(a[:, 0], b[:, 0]))
            & (py >= np.minimum(a[:, 1], b[:, 1])) & (py <= np.maximum(a[:, 1], b[:, 1]))
        )
        most = max(most, int(on.sum()))
    return most


def random_geometry(rng):
    cx, cy = rng.uniform(-20, 20, 2)
    r = rng.uniform(0.3, 3.0)
    snap = rng.choice([None, 0.5, 0.25])
    shell = star(rng, cx, cy, r, int(rng.integers(5, 30)), snap)
    kind = rng.integers(0, 4)
    if kind == 0:
        return poly(shell)
    if kind == 1:  # a hole, sometimes touching the shell at a vertex
        hole = star(rng, cx, cy, 0.3 * r, int(rng.integers(3, 9)))
        if rng.random() < 0.5:
            hole[0] = hole[-1] = shell[int(rng.integers(len(shell) - 1))]
        return poly(shell, hole)
    if kind == 2:  # two parts, sometimes sharing a vertex
        other = star(rng, cx + 1.5 * r, cy, r, int(rng.integers(4, 12)), snap)
        if rng.random() < 0.5:
            other[0] = other[-1] = shell[0]
        return multi(poly(shell), poly(other))
    return poly(shell[::-1])  # clockwise


def probe_points(rng, wkbs, cell_deg, m):
    xs, ys = [], []
    for wkb in wkbs:
        x0, y0, x1, y1 = bounds_of(wkb)
        v = np.vstack([r for _, rs in W.from_wkb(wkb) for r in rs])
        mid = (v[:-1] + v[1:]) / 2
        n = 400
        xs += [rng.uniform(x0, x1, n), v[:, 0], mid[:, 0]]
        ys += [rng.uniform(y0, y1, n), v[:, 1], mid[:, 1]]
        # on band bounds (every vertex y) at random x
        xs.append(rng.uniform(x0, x1, len(v)))
        ys.append(v[:, 1])
        # on cell lines, and a margin either side of them
        gx = np.arange(np.floor(x0 / cell_deg), np.ceil(x1 / cell_deg) + 1) * cell_deg
        for dx in (0.0, -m, m, -3 * m, 3 * m, -1e-12, 1e-12):
            xs.append(gx + dx)
            ys.append(rng.uniform(y0, y1, len(gx)))
        gy = np.arange(np.floor(y0 / cell_deg), np.ceil(y1 / cell_deg) + 1) * cell_deg
        xs.append(rng.uniform(x0, x1, len(gy)))
        ys.append(gy)
    return np.concatenate(xs), np.concatenate(ys)


@pytest.mark.parametrize("cell_deg", [1.0, 0.5, 0.25])
@pytest.mark.parametrize("seed", range(6))
def test_random_polygons_match_the_oracle(seed, cell_deg):
    rng = np.random.default_rng([20261019, seed])
    wkbs = [random_geometry(rng) for _ in range(12)]
    classes, _ = classify(wkbs, cell_deg)
    # a geometry with a column over the caps after the x-split leaves
    # any layer that holds it unclassified (the join then refines it on
    # the WKB transport); the others must classify exactly
    over = [w for w in wkbs if classify([w], cell_deg)[0] is None]
    assert (classes is None) == bool(over)
    assert len(over) < len(wkbs) // 2
    wkbs = [w for w in wkbs if w not in over]
    m = IC.MARGIN_REL * 180.0
    xs, ys = probe_points(rng, wkbs, cell_deg, m)
    assert_matches_oracle(wkbs, xs, ys, cell_deg)


# a comb: eight teeth cross one y-band of one cell, so its band rows
# must split in x to stay under K_CAP local edges
COMB = ring(
    (0.05, 0.05), (0.95, 0.05), (0.95, 0.9), (0.85, 0.9), (0.8, 0.3), (0.75, 0.9),
    (0.65, 0.9), (0.6, 0.3), (0.55, 0.9), (0.45, 0.9), (0.4, 0.3), (0.35, 0.9),
    (0.25, 0.9), (0.2, 0.3), (0.15, 0.9), (0.05, 0.9), (0.05, 0.05),
)


def comb_points(rng):
    xs = np.concatenate([rng.uniform(0, 1, 3000), COMB[:, 0], np.linspace(0, 1, 201)])
    ys = np.concatenate([rng.uniform(0, 1, 3000), COMB[:, 1], np.full(201, 0.6)])
    return xs, ys


def test_a_comb_splits_its_bands_in_x():
    classes = assert_matches_oracle([poly(COMB)], *comb_points(np.random.default_rng(3)), 1.0)
    bands = classes.bands[0].as_py()
    assert any(b["xlo"] > -np.inf for b in bands)
    assert classes.k <= IC.K_CAP


def test_a_comb_with_a_far_part_folds_it():
    # a second part wholly right of the comb's cell: its edges fold into
    # the parity of the comb cell's rows (a point there is in neither)
    far = ring((3.2, 0.1), (3.8, 0.1), (3.5, 0.95), (3.2, 0.1))
    wide = ring((0.02, 0.02), (4.0, 0.02), (4.0, 0.98), (0.02, 0.98), (0.02, 0.02))
    rng = np.random.default_rng(4)
    xs, ys = comb_points(rng)
    xs = np.concatenate([xs, rng.uniform(0, 4, 2000)])
    ys = np.concatenate([ys, rng.uniform(0, 1, 2000)])
    assert_matches_oracle([multi(poly(COMB), poly(far)), poly(wide, COMB[::-1])], xs, ys, 1.0)


# more than K_CAP edges (of up to four rings) meet at (0.5, 0.5): no
# split keeps a row under the caps
FAN3 = multi(
    poly(ring((0.5, 0.5), (0.9, 0.6), (0.8, 0.9), (0.5, 0.5))),
    poly(ring((0.5, 0.5), (0.4, 0.9), (0.1, 0.7), (0.5, 0.5))),
    poly(ring((0.5, 0.5), (0.2, 0.2), (0.7, 0.1), (0.5, 0.5))),
)
FAN4 = multi(
    poly(ring((0.5, 0.5), (0.9, 0.6), (0.8, 0.9), (0.5, 0.5))),
    poly(ring((0.5, 0.5), (0.4, 0.9), (0.1, 0.7), (0.5, 0.5))),
    poly(ring((0.5, 0.5), (0.2, 0.2), (0.3, 0.1), (0.5, 0.5))),
    poly(ring((0.5, 0.5), (0.7, 0.1), (0.9, 0.3), (0.5, 0.5))),
)
HOLES3 = poly(
    ring((0.05, 0.05), (0.95, 0.05), (0.95, 0.95), (0.05, 0.95), (0.05, 0.05)),
    ring((0.5, 0.5), (0.8, 0.6), (0.7, 0.8), (0.5, 0.5)),
    ring((0.5, 0.5), (0.3, 0.8), (0.2, 0.6), (0.5, 0.5)),
    ring((0.5, 0.5), (0.4, 0.2), (0.6, 0.2), (0.5, 0.5)),
)


@pytest.mark.parametrize("wkb", [FAN3, FAN4, HOLES3], ids=["fan3", "fan4", "holes3"])
def test_more_than_k_edges_at_one_vertex_overflows(wkb):
    """The layer is left unclassified, alone or beside a geometry that
    classifies (the join then refines it with the WKB transport, exact:
    tests/test_pip_interior_cells.py)."""
    assert max_edges_through_a_vertex(wkb) > IC.K_CAP
    assert classify([wkb], 1.0)[0] is None
    assert classify([poly(COMB), wkb], 1.0)[0] is None
    assert classify([poly(COMB)], 1.0)[0] is not None


def lattice_rings(rng, n, size):
    """``n`` small squares and diamonds at jittered points of a lattice
    in the cell [0, 1]², apart from each other."""
    side = int(np.ceil(np.sqrt(n)))
    at = rng.permutation(side * side)[:n]
    out = []
    for a in at:
        cx = (a % side + 0.5 + rng.uniform(-0.2, 0.2)) / side
        cy = (a // side + 0.5 + rng.uniform(-0.2, 0.2)) / side
        r = size / side
        if rng.random() < 0.5:
            out.append(ring((cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r),
                            (cx - r, cy + r), (cx - r, cy - r)))
        else:
            out.append(ring((cx, cy - r), (cx + r, cy), (cx, cy + r), (cx - r, cy),
                            (cx, cy - r)))
    return out


@pytest.mark.parametrize("seed", range(4))
def test_more_rings_than_ring_bits_in_one_cell_split_in_x(seed):
    """A shell with many holes, and a multipolygon of many parts, inside
    one cell: its bands hold more than RING_BITS rings and split in x
    until each column tells its rings apart."""
    rng = np.random.default_rng([20261020, seed])
    n = int(rng.integers(5, 10))
    shell = ring((0.02, 0.02), (0.98, 0.02), (0.98, 0.98), (0.02, 0.98), (0.02, 0.02))
    holes = lattice_rings(rng, n, 0.3)
    parts = lattice_rings(rng, n, 0.3)
    wkbs = [poly(shell, *holes), multi(*(poly(p) for p in parts))]
    v = np.vstack([shell, *holes, *parts])
    xs = np.concatenate([rng.uniform(0, 1, 4000), v[:, 0], rng.uniform(0, 1, len(v))])
    ys = np.concatenate([rng.uniform(0, 1, 4000), v[:, 1], v[:, 1]])
    classes = assert_matches_oracle(wkbs, xs, ys, 1.0)
    assert all(any(b["xlo"] > -np.inf for b in classes.bands[i].as_py()) for i in (0, 1))


def test_an_x_split_past_its_entry_budget_is_left_unclassified(monkeypatch):
    """The x-split of the comb's band expands its (row, edge) entries;
    past ``_SPLIT_ENTRIES_MAX`` the layer is left to the WKB transport."""
    assert classify([poly(COMB)], 1.0)[0] is not None
    monkeypatch.setattr(IC, "_SPLIT_ENTRIES_MAX", 10)
    assert classify([poly(COMB)], 1.0)[0] is None


def test_interior_cells_are_one_whole_plane_row():
    square = poly(ring((0.5, 0.5), (3.5, 0.5), (3.5, 3.5), (0.5, 3.5), (0.5, 0.5)))
    classes, _ = classify([square], 1.0)
    centre = int(GRID.cell_id(np.array([2.0]), np.array([2.0]), 1.0)[0])
    rows = [b for b in classes.bands[0].as_py() if b["cell_id"] == centre]
    assert len(rows) == 1 and rows[0]["blo"] == -np.inf and rows[0]["tt"] & 1
    assert all(rows[0][f"rb{j}"] == 0 for j in range(classes.k))
    assert classes.interior == 4 and classes.boundary == 12


def test_bands_of_few_edges_merge_into_one_row():
    """The apex cell of a triangle carries two edges cut into bands at
    the apex; they fit the layer's K, so the cell's bands merge into one
    row over the whole cell, with both edges local."""
    tri = poly(ring((0.2, 0.2), (3.8, 0.4), (2.5, 2.5), (0.2, 0.2)))
    rng = np.random.default_rng(5)
    xs = np.concatenate([rng.uniform(0, 4, 4000), [2.5, 2.5, 2.4, 2.6]])
    ys = np.concatenate([rng.uniform(0, 3, 4000), [2.5, 2.4, 2.4, 2.6]])
    classes = assert_matches_oracle([tri], xs, ys, 1.0)
    apex = int(GRID.cell_id(np.array([2.5]), np.array([2.5]), 1.0)[0])
    rows = [b for b in classes.bands[0].as_py() if b["cell_id"] == apex]
    assert len(rows) == 1 and rows[0]["blo"] == -np.inf and rows[0]["bhi"] == np.inf
    assert sum(rows[0][f"rb{j}"] != 0 for j in range(classes.k)) == 2
