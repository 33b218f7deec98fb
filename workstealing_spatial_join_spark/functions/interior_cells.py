"""Interior cells: the exact point-in-polygon refine, decided per
covering cell once on the driver and finished in Catalyst.

Each covering cell of a collected polygon row is classified once:

* exterior — no point of the cell lies in the polygon: the tessellation
  drops the row;
* interior — every point of the cell lies in the polygon: a candidate
  matches on the MBR residual alone;
* boundary — anything else: the row carries the polygon's edges that
  can reach the cell, and the refine is ``RING_CONTAINS_SQL``, a
  Catalyst mirror of
  ``geom.polygon_contains_xy`` (same crossing formula, closed on-edge
  test, holes, parts OR'd).

Exactness. A point's cell is the Catalyst floor of its coordinates, so
rounding may put a point a hair outside its cell: every test runs on
the cell grown by ``MARGIN_REL`` × max(1, cell_deg, 180, largest |vertex
coordinate|). A cell is boundary when any ring edge hits the grown cell
(Liang–Barsky clip). Otherwise no edge comes near it, the even–odd class
is constant over it, and the class of its centre is the class of the
cell. Cells in the grid's edge columns and rows are always boundary:
clamped, NaN and ±inf points land there. A ring that is not closed
makes every cell of its row boundary (an open chain's ray parity also
changes off its edges). Rows whose WKB is NULL, undecodable or has a
non-finite vertex are all boundary and carry NULL rings: they contain
no point.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.functions import wkt as W

MARGIN_REL = 1e-9
# one carried edge, from (ax, ay) to (bx, by)
EDGE_FIELDS = ("ax", "ay", "bx", "by")
# cells per centre-test chunk: bounds the (cells, vertices) temporaries
CENTRE_CHUNK = 65_536
# bytes of one array header in an UnsafeRow (the planner's ring estimate)
_ARRAY_BYTES = 16


@dataclass(frozen=True, eq=False)
class CellClasses:
    """Per collected row: its non-exterior covering cells, which of them
    are interior, and the edges each boundary cell carries. ``cells``,
    ``inner`` and ``rings`` are Arrow arrays with one entry per row,
    each a list parallel to the row's kept cells; a cell's rings are
    parts → rings → edges (``EDGE_FIELDS`` structs), NULL on an
    interior cell. The counts are over exploded (row, cell) pairs."""

    cells: object  # pa.ListArray<int64>
    inner: object  # pa.ListArray<bool>
    rings: object  # pa.ListArray<list<list<list<struct<EDGE_FIELDS>>>>>
    interior: int
    boundary: int
    exterior: int
    ring_bytes: int  # Σ carried edge bytes over the boundary cell rows

    @property
    def rows(self) -> int:
        return self.interior + self.boundary


def _polygon_parts(wkb) -> list[list[np.ndarray]] | None:
    """Polygon parts ``[[shell, hole, ...], ...]`` of a WKB geometry.
    Rings of fewer than two vertices have no edge and are dropped with
    no change to containment (a shell without an edge contains nothing,
    a hole without one removes nothing); other part types contain no
    point. None when the WKB is NULL, undecodable, or has a non-finite
    vertex."""
    if wkb is None:
        return None
    try:
        decoded = W.from_wkb(bytes(wkb))
    except (struct.error, ValueError, IndexError):
        return None
    parts = [
        [rings[0]] + [h for h in rings[1:] if len(h) >= 2]
        for gtype, rings in decoded
        if gtype == W.POLYGON and rings and len(rings[0]) >= 2
    ]
    if any(not np.isfinite(r).all() for p in parts for r in p):
        return None
    return parts


def _segments_hit_boxes(ax, ay, bx, by, x0, y0, x1, y1) -> np.ndarray:
    """Closed segment × axis-aligned box test (Liang–Barsky), paired and
    vectorized: True where segment k touches box k."""
    dx, dy = bx - ax, by - ay
    t0 = np.zeros(len(ax))
    t1 = np.ones(len(ax))
    hit = np.ones(len(ax), dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
            hit &= (p != 0) | (q >= 0)
            t = q / p
            t0 = np.where(p < 0, np.maximum(t0, t), t0)
            t1 = np.where(p > 0, np.minimum(t1, t), t1)
    return hit & (t0 <= t1)


def _offsets(counts: np.ndarray) -> np.ndarray:
    out = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=out[1:])
    return out


def _edge_cells(x_lo, x_hi, y_lo, y_hi):
    """Every (edge, cx, cy) with cx in [x_lo, x_hi] and cy in [y_lo,
    y_hi] of its edge (float cell bounds; empty ranges give nothing)."""
    nxs = np.maximum(x_hi - x_lo + 1, 0).astype(np.int64)
    nys = np.maximum(y_hi - y_lo + 1, 0).astype(np.int64)
    cnt = nxs * nys
    e = np.repeat(np.arange(len(cnt)), cnt)
    off = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return (
        e,
        x_lo[e].astype(np.int64) + off // nys[e],
        y_lo[e].astype(np.int64) + off % nys[e],
    )


def classify_cells(wkbs, cx0, cy0, w, h, cell_deg: float) -> CellClasses:
    """Classify the covering cells of every row. ``cx0, cy0, w, h`` are
    the rows' covering spans (``operators.spatial_join._cell_spans``,
    the tessellation's own arithmetic), so the cells are exactly those
    the Catalyst tessellation would explode.

    A boundary cell carries only the edges that can touch a ray cast to
    +x from a point in it: edges whose grown y-range meets the cell's
    row band and whose grown max x reaches the cell. Every other edge
    adds no crossing and no on-edge hit for such a point, so the ring
    parity is unchanged. Cells in the grid's edge columns and rows hold
    clamped points from anywhere and carry every edge."""
    import pyarrow as pa

    from workstealing_spatial_join_spark.functions.predicates import (
        _contains_xy_core,
        _GeomInfo,
    )

    n = len(wkbs)
    nx, ny = GRID.grid_dims(cell_deg)
    d = cell_deg
    parts = [_polygon_parts(b) for b in wkbs]
    valid = np.array([p is not None for p in parts], dtype=bool)

    # every ring of every valid row, flattened; shells first in a part
    rings = [r for p in parts if p for part in p for r in part]
    ring_row = np.array(
        [i for i, p in enumerate(parts) if p for part in p for _ in part],
        dtype=np.int64,
    )
    part_len = np.array([len(part) for p in parts if p for part in p], dtype=np.int64)
    ring_part = np.repeat(np.arange(len(part_len)), part_len)
    ring_shell = np.zeros(len(rings), dtype=bool)
    ring_shell[np.cumsum(part_len) - part_len] = True
    ring_len = np.array([len(r) for r in rings], dtype=np.int64)
    verts = np.concatenate(rings) if rings else np.empty((0, 2))
    ring_start = np.cumsum(ring_len) - ring_len
    ring_of = np.repeat(np.arange(len(rings)), ring_len)
    open_row = np.zeros(n, dtype=bool)
    last = ring_start + ring_len - 1
    open_row[ring_row[(verts[ring_start] != verts[last]).any(axis=1)]] = True
    m = MARGIN_REL * max(1.0, d, 180.0, float(np.abs(verts).max(initial=0.0)))

    # edges: consecutive vertices of one ring, in ring order
    k = np.nonzero(ring_of[:-1] == ring_of[1:])[0]
    edge = np.column_stack([verts[k], verts[k + 1]])  # ax, ay, bx, by
    ax, ay, bx, by = edge.T
    eg = ring_of[k]
    er = ring_row[eg]

    # every covering cell, in the tessellation's x-major order
    ncell = (w * h).astype(np.int64)
    start = np.cumsum(ncell) - ncell
    row = np.repeat(np.arange(n), ncell)
    offc = np.arange(int(ncell.sum()), dtype=np.int64) - start[row]
    cx = cx0[row] + offc // h[row]
    cy = cy0[row] + offc % h[row]
    grid_edge = (cx == 0) | (cx == nx - 1) | (cy == 0) | (cy == ny - 1)

    def cell_index(e, ix, iy):
        r = er[e]
        return start[r] + (ix - cx0[r]) * h[r] + iy - cy0[r]

    # per-edge cell ranges of its grown bbox, inside its row's span
    span_x1 = (cx0 + w - 1)[er]
    x_lo = np.maximum(np.floor((np.minimum(ax, bx) - 2 * m + 180.0) / d), cx0[er])
    x_hi = np.minimum(np.floor((np.maximum(ax, bx) + 2 * m + 180.0) / d), span_x1)
    y_lo = np.maximum(np.floor((np.minimum(ay, by) - 2 * m + 90.0) / d), cy0[er])
    y_hi = np.minimum(np.floor((np.maximum(ay, by) + 2 * m + 90.0) / d), (cy0 + h - 1)[er])

    # boundary: an edge hits the grown cell, a grid-edge cell, an open
    # ring, or a row without valid geometry
    e, ix, iy = _edge_cells(x_lo, x_hi, y_lo, y_hi)
    hit = _segments_hit_boxes(
        ax[e], ay[e], bx[e], by[e],
        ix * d - 180.0 - m, iy * d - 90.0 - m,
        (ix + 1) * d - 180.0 + m, (iy + 1) * d - 90.0 + m,
    )
    boundary = grid_edge | open_row[row] | ~valid[row]
    boundary[cell_index(e[hit], ix[hit], iy[hit])] = True

    # no edge near the cell: its centre decides
    infos = [_GeomInfo([(W.POLYGON, part) for part in p or ()]) for p in parts]
    todo = np.nonzero(~boundary)[0]
    inside = np.zeros(len(row), dtype=bool)
    for s in range(0, len(todo), CENTRE_CHUNK):
        t = todo[s:s + CENTRE_CHUNK]
        rows_t, codes = np.unique(row[t], return_inverse=True)
        inside[t] = _contains_xy_core(
            codes, [infos[r] for r in rows_t],
            (cx[t] + 0.5) * d - 180.0, (cy[t] + 0.5) * d - 90.0,
        )
    keep = boundary | inside

    # (cell, edge) pairs a boundary cell carries: its band to the right
    # of the span start; every edge of the row in a grid-edge cell
    e, ix, iy = _edge_cells(cx0[er].astype(np.float64), x_hi, y_lo, y_hi)
    gi = cell_index(e, ix, iy)
    sel = boundary[gi] & ~grid_edge[gi]
    gi, e = gi[sel], e[sel]
    full = np.nonzero(grid_edge & valid[row])[0]
    row_edges = np.bincount(er, minlength=n)
    edge_start = np.cumsum(row_edges) - row_edges
    rep = row_edges[row[full]]
    gi = np.concatenate([gi, np.repeat(full, rep)])
    e = np.concatenate([
        e,
        np.repeat(edge_start[row[full]], rep)
        + np.arange(int(rep.sum())) - np.repeat(np.cumsum(rep) - rep, rep),
    ])
    order = np.lexsort((e, gi))
    gi, e = gi[order], e[order]

    # group edges by (cell, ring); drop a part whose shell carries no
    # edge (it holds no point of the cell), holes with no edge vanish
    new_ring = np.r_[True, (gi[1:] != gi[:-1]) | (eg[e][1:] != eg[e][:-1])]
    g_first = np.nonzero(new_ring)[0]
    g_cell, g_ring = gi[g_first], eg[e[g_first]]
    g_part = ring_part[g_ring]
    new_part = np.r_[True, (g_cell[1:] != g_cell[:-1]) | (g_part[1:] != g_part[:-1])]
    run_first = np.nonzero(new_part)[0]
    run = np.cumsum(new_part) - 1
    g_keep = ring_shell[g_ring[run_first[run]]]
    e_keep = np.repeat(g_keep, np.diff(np.r_[g_first, len(gi)]))
    g_edges = np.diff(np.r_[g_first, len(gi)])[g_keep]
    g_cell, g_part = g_cell[g_keep], g_part[g_keep]
    new_part = np.r_[True, (g_cell[1:] != g_cell[:-1]) | (g_part[1:] != g_part[:-1])]
    p_first = np.nonzero(new_part)[0]
    p_rings = np.diff(np.r_[p_first, len(g_cell)])
    cell_parts = np.bincount(g_cell[p_first], minlength=len(row))

    # Arrow columns, one list entry per kept cell of each row
    row_offsets = _offsets(np.bincount(row[keep], minlength=n))
    cells = pa.ListArray.from_arrays(
        row_offsets, pa.array(cx[keep] * np.int64(4294967296) + cy[keep])
    )
    inner = pa.ListArray.from_arrays(row_offsets, pa.array(inside[keep]))
    kept = edge[e[e_keep]]
    edges = pa.StructArray.from_arrays(
        [pa.array(kept[:, j]) for j in range(4)],
        fields=[pa.field(c, pa.float64(), nullable=False) for c in EDGE_FIELDS],
    )
    ring_arr = pa.ListArray.from_arrays(_offsets(g_edges), edges)
    part_arr = pa.ListArray.from_arrays(_offsets(p_rings), ring_arr)
    no_rings = (inside | ~valid[row])[keep]
    cell_arr = pa.ListArray.from_arrays(
        _offsets(cell_parts[keep]), part_arr, mask=pa.array(no_rings)
    )
    rings_arr = pa.ListArray.from_arrays(row_offsets, cell_arr)
    return CellClasses(
        cells=cells,
        inner=inner,
        rings=rings_arr,
        interior=int(inside.sum()),
        boundary=int(boundary.sum()),
        exterior=int((~keep).sum()),
        ring_bytes=int(
            32 * len(kept)
            + _ARRAY_BYTES * (len(g_edges) + len(p_rings) + int(boundary.sum()))
        ),
    )


# ------------------------------------------------- Catalyst refine
#
# A ring is the array of its carried edges, each (_e.ax, _e.ay) →
# (_e.bx, _e.by). Terms are ordered as in geom.ring_contains_xy; the
# crossing's division runs only when its condition holds (the ends
# straddle py, so it is never by zero), and the on-edge test checks the
# cheap bounds before the cross product. Both reorderings are ANDs and
# ORs of the same terms: the same value, as nothing here is NULL.

_CROSSES = (
    "CASE WHEN (_e.ay > py) != (_e.by > py)"
    " AND px < (_e.bx - _e.ax) * (py - _e.ay) / (_e.by - _e.ay) + _e.ax"
    " THEN 1 ELSE 0 END"
)
_ON_EDGE = (
    "py >= least(_e.ay, _e.by) AND py <= greatest(_e.ay, _e.by)"
    " AND px >= least(_e.ax, _e.bx) AND px <= greatest(_e.ax, _e.bx)"
    " AND (_e.bx - _e.ax) * (py - _e.ay) - (_e.by - _e.ay) * (px - _e.ax) = 0"
)


def _odd(r: str) -> str:
    """Odd crossing count of ring ``r`` (strictly inside, even-odd)."""
    return f"aggregate({r}, 0, (_n, _e) -> _n + {_CROSSES}) % 2 = 1"


def _on(r: str) -> str:
    """(px, py) on an edge of ring ``r``."""
    return f"exists({r}, _e -> {_ON_EDGE})"


# closed point-in-polygon over the ``rings`` column (NULL rings: NULL,
# which a filter drops): some part whose shell holds the point, inside
# or on an edge, with the point strictly inside none of its holes
RING_CONTAINS_SQL = (
    f"exists(rings, _p -> ({_odd('_p[0]')} OR {_on('_p[0]')})"
    f" AND NOT exists(slice(_p, 2, size(_p)), _h -> {_odd('_h')}"
    f" AND NOT {_on('_h')}))"
)
