"""Interior cells and band rows: the exact point-in-polygon refine,
decided per covering cell once on the driver and finished in Catalyst
without a higher-order function.

Each covering cell of a collected polygon row is classified once:

* exterior — no point of the cell lies in the polygon: the tessellation
  drops the row;
* interior — every point of the cell lies in the polygon: one band row
  over the whole plane that holds every point of the cell;
* boundary — anything else: the cell becomes band rows, each carrying
  at most ``K_CAP`` of the polygon's edges in flat slot columns.

Band rows. A boundary cell is cut into half-open y-bands [blo, bhi) at
the y of every carried edge's endpoint inside the cell's window (its
cell grown by the margin; −∞/+∞ close the ends). In a band every
carried edge either spans the band (its crossing condition holds for
every py in it) or only touches its lower bound. An edge that lies
wholly right of the cell (its x over the band beyond the cell's right
edge by the margin; grid-edge cells have none, their points may lie
anywhere) is a far edge: for every point of the cell in the band its
crossing term in ``geom.polygon_contains_xy`` is exactly its span bit,
and its on-edge test is false. The far edges of one ring therefore fold
into one parity bit per band, and only the other, local, edges keep the
ray cast — with the same arithmetic, bit for bit. A band with more than
``K_CAP`` local edges, or local edges of more than ``RING_BITS`` rings,
is split in x into half-open columns [xlo, xhi) at its local edges'
right ends; an edge right of a column folds into that column's parity,
one left of it drops out. Band and column membership are half-open, so
a point meets at most one row per (polygon, cell): no pair repeats.

Consecutive bands of one cell merge into one row while their kept edges
together fit the widest band that needs no split (and ``RING_BITS``):
the merged row carries every kept edge as local, and a local edge's
arithmetic is exact at any py, so merging trades folded parity for
slots without growing the layer's K. On the 10,000-polygon perfbench
layer it cuts the rows from 275,841 to 214,593 (92,943 interior).

Holes and parts. A row's local rings (at most ``RING_BITS``) get bits.
The refine computes x, the far parity XOR the slots' crossing bits, and
o, the OR of the slots' on-edge bits, and reads the row's truth table
``tt`` at index ``x | o << RING_BITS``. The table is built on the
driver: a part holds the point when its shell does (inside, or on an
edge) and none of its holes strictly does; a ring with no local edge in
the row is its constant parity. A row whose table is all zero holds no
point and is dropped; a row without local edges that holds every point
(every interior cell's) has the table -1, which the refine tests before
the ray cast.

Why K is capped. The refine is one expression of K unrolled slots. At
K = 6 its generated method grew past what the JIT compiles, and the
join ran 3.3× slower than at K = 4; so K is the most local edges any
row of the layer carries, at most ``K_CAP``, and the split in x keeps
rows under it.

Overflow. A column still over the caps after the x-split — more than
K edges meeting at one vertex, a ring doubling back along itself, or
long slanted edges whose x-ranges overlap across a band — makes
``classify_cells`` return None: the layer is not classified, and the
join refines it with the exact per-candidate WKB transport instead.
So does an x-split that would expand past ``_SPLIT_ENTRIES_MAX``
(row, edge) entries.

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
non-finite vertex have no band row: they contain no point.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.functions import wkt as W

MARGIN_REL = 1e-9
# local edges one band row carries at most (the JIT limit, module doc)
K_CAP = 4
# rings with local edges one band row tells apart: the truth table
# index x | o << RING_BITS stays below 64
RING_BITS = 3
# cells per centre-test chunk: bounds the (cells, vertices) temporaries
CENTRE_CHUNK = 65_536
# covering cells per classification chunk (``classify_cells``)
CHUNK_CELLS = 8_192
# (row, edge) entries the x-split may expand to: past it the layer is
# left to the WKB transport rather than the driver's memory. A band
# crossing n local edges splits into about n columns, each carrying the
# edges right of it for its parity: a comb of n teeth in one cell
# expands to about 6·n² entries (8.7M at 1,200 teeth, 1.4 s to build)
_SPLIT_ENTRIES_MAX = 1 << 24
# bytes of a band row past the bounds row (blo, bhi, xlo, xhi, fp, tt)
# and of one slot (four coordinates and the ring bit)
_BAND_BYTES = 44
_SLOT_BYTES = 36
# per truth-table index bit b: the 64-bit set of indices with bit b set
_IDX_BIT = np.array(
    [sum(1 << i for i in range(64) if i >> b & 1) for b in range(2 * RING_BITS)],
    dtype=np.uint64,
)
_ALL = np.uint64(0xFFFF_FFFF_FFFF_FFFF)


def _col_dtype(field: str):
    """NumPy dtype of a band row column."""
    return np.int32 if field == "fp" or field.startswith("rb") else (
        np.int64 if field == "tt" else np.float64
    )


def _slot_fields(k: int) -> list[str]:
    return [f"{f}{j}" for j in range(k) for f in ("ax", "ay", "bx", "by", "rb")]


def band_fields(k: int) -> list[str]:
    """A band row's columns after its cell_id."""
    return ["blo", "bhi", "xlo", "xhi", "fp", "tt", *_slot_fields(k)]


@dataclass(frozen=True, eq=False)
class CellClasses:
    """Per collected row: the band rows of its non-exterior covering
    cells. ``bands`` is an Arrow list array with one entry per row, a
    list of (cell_id, ``band_fields(k)``) structs; ``k`` is the most
    local edges any band row carries. ``rows`` counts the band rows and
    ``band_bytes`` is their payload past the bounds row; the other
    counts are over the covering (row, cell) pairs."""

    bands: object  # pa.ListArray<struct<cell_id, band_fields(k)>>
    k: int
    rows: int
    interior: int
    boundary: int
    exterior: int
    band_bytes: int


def _polygon_parts(wkb) -> list[list[np.ndarray]] | None:
    """Polygon parts ``[[shell, hole, ...], ...]`` of a WKB geometry.
    Rings of fewer than two vertices have no edge and are dropped with
    no change to containment (a shell without an edge contains nothing,
    a hole without one removes nothing); other part types contain no
    point. None when the WKB is NULL or undecodable."""
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
    return parts


def _finite_parts(parts: list) -> list:
    """``parts`` with None for each row that has a non-finite vertex:
    one check over all vertices, per row only when it fails."""
    rings = [r for p in parts if p for part in p for r in part]
    if not rings or np.isfinite(np.concatenate(rings)).all():
        return parts
    return [
        p if p is None or all(np.isfinite(r).all() for part in p for r in part) else None
        for p in parts
    ]


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


def classify_cells(wkbs, cx0, cy0, w, h, cell_deg: float) -> CellClasses | None:
    """Classify the covering cells of every row (``_classify_chunk``),
    about ``CHUNK_CELLS`` covering cells at a time: a row's band rows
    depend only on its own geometry and span, and the chunks bound the
    driver's temporaries whatever the layer's size. None when a band
    row of any chunk overflows the caps."""
    import pyarrow as pa

    ncell = (np.asarray(w) * np.asarray(h)).astype(np.int64)
    chunk = (np.cumsum(ncell) - ncell) // CHUNK_CELLS
    cuts = [0, *np.nonzero(chunk[1:] != chunk[:-1])[0] + 1, len(wkbs)]
    parts = []
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        part = _classify_chunk(
            wkbs[lo:hi], cx0[lo:hi], cy0[lo:hi], w[lo:hi], h[lo:hi], cell_deg
        )
        if part is None:
            return None
        parts.append(part)
    if len(parts) == 1:
        return parts[0]
    k = max(c.k for c in parts)
    rows = sum(c.rows for c in parts)
    return CellClasses(
        bands=pa.chunked_array([_pad_slots(c.bands, c.k, k) for c in parts]),
        k=k,
        rows=rows,
        interior=sum(c.interior for c in parts),
        boundary=sum(c.boundary for c in parts),
        exterior=sum(c.exterior for c in parts),
        band_bytes=rows * (_BAND_BYTES + k * _SLOT_BYTES),
    )


def _pad_slots(lists, k0: int, k: int):
    """A chunk's band lists with empty slots k0..k-1 added."""
    import pyarrow as pa

    if k0 == k:
        return lists
    structs = lists.values
    extra = _slot_fields(k)[5 * k0:]
    structs = pa.StructArray.from_arrays(
        structs.flatten() + [pa.array(np.zeros(len(structs), _col_dtype(f))) for f in extra],
        fields=[structs.type.field(i) for i in range(structs.type.num_fields)]
        + [pa.field(f, pa.from_numpy_dtype(_col_dtype(f)), nullable=False) for f in extra],
    )
    return pa.ListArray.from_arrays(
        lists.offsets, structs, type=pa.list_(pa.field("band", structs.type, nullable=False))
    )


def _classify_chunk(wkbs, cx0, cy0, w, h, cell_deg: float) -> CellClasses | None:
    """Classify the covering cells of every row. ``cx0, cy0, w, h`` are
    the rows' covering spans (``operators.spatial_join._cell_spans``,
    the tessellation's own arithmetic), so the cells are exactly those
    the Catalyst tessellation would explode.

    A boundary cell carries only the edges that can touch a ray cast to
    +x from a point in it: edges whose grown y-range meets the cell's
    row band and whose grown max x reaches the cell. Every other edge
    adds no crossing and no on-edge hit for such a point, so the ring
    parity is unchanged. Cells in the grid's edge columns and rows hold
    clamped points from anywhere and carry every edge. Boundary cells
    become band rows, interior cells one whole-plane row (module doc);
    None when a band row would overflow the caps."""
    import pyarrow as pa

    from workstealing_spatial_join_spark.functions.predicates import (
        _contains_xy_core,
        _GeomInfo,
    )

    n = len(wkbs)
    nx, ny = GRID.grid_dims(cell_deg)
    d = cell_deg
    parts = _finite_parts([_polygon_parts(b) for b in wkbs])
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

    # the window of a cell's points: the cell grown by the margin, or
    # anywhere in a grid-edge cell (clamped points)
    inf = np.inf
    win = (
        np.where(grid_edge, -inf, cx * d - 180.0 - m),
        np.where(grid_edge, -inf, cy * d - 90.0 - m),
        np.where(grid_edge, inf, (cx + 1) * d - 180.0 + m),
        np.where(grid_edge, inf, (cy + 1) * d - 90.0 + m),
    )
    # band rows of the boundary cells, then one whole-plane row per
    # interior cell
    out = _band_rows(
        gi, e, edge, eg, ring_part, ring_shell, win,
        np.nonzero(boundary & valid[row])[0], m,
    )
    if out is None:
        return None
    interior = np.nonzero(inside)[0]
    whole = np.full(len(interior), inf)
    built = [out, (interior, {
        "blo": -whole, "bhi": whole, "xlo": -whole, "xhi": whole,
        "fp": np.zeros(len(interior), np.int32), "tt": np.full(len(interior), -1),
    }, 0)]
    k = max(kb for _, _, kb in built)
    b_cell = np.concatenate([cb for cb, _, _ in built])
    cols = {
        f: np.concatenate([
            cb_cols[f] if f in cb_cols else np.zeros(len(cb), _col_dtype(f))
            for cb, cb_cols, _ in built
        ])
        for f in band_fields(k)
    }
    order = np.argsort(b_cell, kind="stable")
    b_cell = b_cell[order]
    fields = [pa.field("cell_id", pa.int64(), nullable=False)] + [
        pa.field(c, pa.from_numpy_dtype(cols[c].dtype), nullable=False)
        for c in band_fields(k)
    ]
    structs = pa.StructArray.from_arrays(
        [pa.array(cx[b_cell] * np.int64(4294967296) + cy[b_cell])]
        + [pa.array(cols[c][order]) for c in band_fields(k)],
        fields=fields,
    )
    list_type = pa.list_(pa.field("band", structs.type, nullable=False))
    band_lists = pa.ListArray.from_arrays(
        _offsets(np.bincount(row[b_cell], minlength=n)), structs, type=list_type
    )
    n_rows = len(b_cell)
    return CellClasses(
        bands=band_lists,
        k=k,
        rows=n_rows,
        interior=int(inside.sum()),
        boundary=int(boundary.sum()),
        exterior=int((~keep).sum()),
        band_bytes=n_rows * (_BAND_BYTES + k * _SLOT_BYTES),
    )


def _run_rank(g: np.ndarray) -> np.ndarray:
    """0, 1, 2, ... along each run of equal values of ``g``."""
    if not len(g):
        return np.zeros(0, dtype=np.int64)
    idx = np.arange(len(g))
    first = np.r_[True, g[1:] != g[:-1]]
    return idx - np.maximum.accumulate(np.where(first, idx, 0))


def _expand(counts: np.ndarray):
    """(owner, rank) of every slot when owner i has counts[i] slots."""
    owner = np.repeat(np.arange(len(counts)), counts)
    return owner, _run_rank(owner)


def _count_le(sc, sv, qc, qv) -> np.ndarray:
    """Per query (qc, qv): how many of the pairs (sc, sv), sorted by
    (sc, sv), have sc == qc and sv <= qv."""
    uv, inv = np.unique(np.concatenate([sv, qv]), return_inverse=True)
    w = np.int64(len(uv) + 1)
    skey = sc * w + inv[:len(sv)]
    qkey = qc * w + inv[len(sv):]
    return np.searchsorted(skey, qkey, side="right") - np.searchsorted(
        skey, qc * w, side="left"
    )


def _cuts(owner, values, lo, hi):
    """Sorted distinct ``values`` strictly inside (lo, hi) of their
    owner, grouped by owner: (owner, value)."""
    inside = (values > lo) & (values < hi)
    owner, values = owner[inside], values[inside]
    o = np.lexsort((values, owner))
    owner, values = owner[o], values[o]
    u = np.r_[True, (owner[1:] != owner[:-1]) | (values[1:] != values[:-1])]
    return owner[u[:len(owner)]], values[u[:len(owner)]]


def _intervals(n_owner, cut_owner, cut_value):
    """The half-open intervals the cuts make: per owner, one more than
    its cuts, from -inf to +inf. (owner, lo, hi, first interval id of
    each owner)."""
    ncut = np.bincount(cut_owner, minlength=n_owner)
    owner, rank = _expand(ncut + 1)
    first = np.cumsum(ncut + 1) - (ncut + 1)
    cut_first = np.cumsum(ncut) - ncut
    padded = np.r_[cut_value, 0.0]
    at = cut_first[owner] + rank
    lo = np.where(rank > 0, padded[np.where(rank > 0, at - 1, len(cut_value))], -np.inf)
    hi = np.where(rank < ncut[owner], padded[np.minimum(at, len(cut_value))], np.inf)
    return owner, lo, hi, first


def _band_rows(gi, e, edge, eg, ring_part, ring_shell, win, band_cells, m):
    """Band rows of the cells ``band_cells``: (cell of each row, its
    columns, k). None when a row is still over ``K_CAP`` local edges or
    ``RING_BITS`` rings after the x-split, or when the split would
    expand past ``_SPLIT_ENTRIES_MAX`` entries.

    ``gi, e`` are the (cell, edge) pairs the cells carry, ``win`` the
    cells' point windows (x0, y0, x1, y1)."""
    wx0, wy0, wx1, wy1 = win
    ax, ay, bx, by = edge.T
    ey0, ey1 = np.minimum(ay, by), np.maximum(ay, by)
    ok = (ey0[e] < wy1[gi]) & (ey1[e] > wy0[gi])
    gi, e = gi[ok], e[ok]

    # y-bands: cut at every carried endpoint inside the window. Cells
    # are renumbered to the band cells first.
    compact = np.full(len(wx0), -1, dtype=np.int64)
    compact[band_cells] = np.arange(len(band_cells))
    ci = compact[gi]
    at = np.concatenate([gi, gi])
    sc, sv = _cuts(
        np.concatenate([ci, ci]), np.concatenate([ey0[e], ey1[e]]), wy0[at], wy1[at]
    )
    band_owner, blo, bhi, band_first = _intervals(len(band_cells), sc, sv)
    band_cell = band_cells[band_owner]

    # (band, edge) entries: an edge meets the bands from the one holding
    # its low end to the one holding its high end; it spans those below
    # its high end (or all, when the high end is past the window)
    bmin, bmax = _count_le(
        sc, sv, np.concatenate([ci, ci]), np.concatenate([ey0[e], ey1[e]])
    ).reshape(2, -1)
    p, rank = _expand(bmax - bmin + 1)
    c, ee = gi[p], e[p]
    j = bmin[p] + rank
    band = band_first[ci[p]] + j
    span = (j < bmax[p]) | (ey1[ee] >= wy1[c])
    # the edge's x-range over the band's part of the window
    ya = np.clip(np.maximum(blo[band], wy0[c]), ey0[ee], ey1[ee])
    yb = np.clip(np.minimum(bhi[band], wy1[c]), ey0[ee], ey1[ee])
    eax, eay, ebx, eby = ax[ee], ay[ee], bx[ee], by[ee]
    flat = eay == eby
    with np.errstate(divide="ignore", invalid="ignore"):
        xa = np.where(flat, np.minimum(eax, ebx), eax + (ebx - eax) * (ya - eay) / (eby - eay))
        xb = np.where(flat, np.maximum(eax, ebx), eax + (ebx - eax) * (yb - eay) / (eby - eay))
    xr0, xr1 = np.minimum(xa, xb), np.maximum(xa, xb)

    local, fold = _classify(xr0, xr1, span, wx0[c], wx1[c], m)
    kept = local | fold
    p, c, ee, band, span, xr0, xr1, local, fold = (
        a[kept] for a in (p, c, ee, band, span, xr0, xr1, local, fold)
    )

    # runs of consecutive bands of one cell whose kept edges fit the
    # widest band that needs no split merge into one row, every kept
    # edge local over the run: fewer rows, and the layer's K does not
    # grow (capped at RING_BITS, so a run's rings always get bits)
    n_loc, n_ring = _per_row_counts(band, ee, eg, local, len(band_cell))
    split = (n_loc > K_CAP) | (n_ring > RING_BITS)
    target = min(int(n_loc[~split].max(initial=0)), RING_BITS)
    run, starts, ends = _band_runs(p, band, band_owner, band_first, target)
    merged = (ends > starts)[run[band]]
    if merged.any():
        n_edges = np.int64(len(edge))
        u = np.unique(run[band[merged]] * n_edges + ee[merged])
        mr, me = u // n_edges, u % n_edges
        nm, rest = len(mr), ~merged
        c, ee, band = np.r_[c[rest], band_cell[starts[mr]]], np.r_[ee[rest], me], np.r_[run[band[rest]], mr]
        # local wherever the x-split classifies them again
        xr0, xr1 = np.r_[xr0[rest], np.full(nm, -np.inf)], np.r_[xr1[rest], np.full(nm, np.inf)]
        span, fold = np.r_[span[rest], np.zeros(nm, bool)], np.r_[fold[rest], np.zeros(nm, bool)]
        local = np.r_[local[rest], np.ones(nm, bool)]
        blo, bhi, band_cell = blo[starts], bhi[ends], band_cell[starts]
        n_loc, n_ring = _per_row_counts(band, ee, eg, local, len(band_cell))

    # x-columns: a band over its caps splits at its local edges' right
    # ends; an edge right of a column folds into its parity, one left
    # of it drops out
    split = (n_loc > K_CAP) | (n_ring > RING_BITS)
    row_id = band
    row_band = np.arange(len(band_cell))
    xlo, xhi = np.full(len(band_cell), -np.inf), np.full(len(band_cell), np.inf)
    if split.any():
        cut = split[band] & local
        cc, cv = _cuts(band[cut], xr1[cut] + 2 * m, wx0[c[cut]], wx1[c[cut]])
        row_band, xlo, xhi, row_first = _intervals(len(band_cell), cc, cv)
        ncol = np.bincount(row_band, minlength=len(band_cell))
        if int(ncol[band].sum()) > _SPLIT_ENTRIES_MAX:
            return None
        q, col = _expand(ncol[band])
        c, ee, span, xr0, xr1 = (a[q] for a in (c, ee, span, xr0, xr1))
        row_id = row_first[band[q]] + col
        local, fold = _classify(
            xr0, xr1, span, np.maximum(xlo[row_id], wx0[c]),
            np.minimum(xhi[row_id], wx1[c]), m,
        )
        kept = local | fold
        row_id, ee, local, fold = row_id[kept], ee[kept], local[kept], fold[kept]
        n_loc, n_ring = _per_row_counts(row_id, ee, eg, local, len(row_band))
    if ((n_loc > K_CAP) | (n_ring > RING_BITS)).any():
        return None
    n_rows = len(row_band)
    k = int(n_loc.max(initial=0))

    # per (row, ring): its bit when it has local edges, its far parity
    n_rings = len(ring_part)
    key = row_id * n_rings + eg[ee]
    o = np.lexsort((ee, key))
    key, ee, local, fold = key[o], ee[o], local[o], fold[o]
    first = np.r_[True, key[1:] != key[:-1]][:len(key)]
    gid = np.cumsum(first) - 1
    g_key = key[first]
    g_row, g_ring = g_key // n_rings, g_key % n_rings
    g_present = np.bincount(gid, weights=local, minlength=len(g_key)) > 0
    g_parity = np.bincount(gid, weights=fold, minlength=len(g_key)).astype(np.int64) % 2
    g_bit = np.zeros(len(g_key), dtype=np.int64)
    g_bit[g_present] = _run_rank(g_row[g_present])

    fp = _or_by_row(g_row, (g_parity << g_bit) * g_present, n_rows).astype(np.int32)

    # truth table over idx = x-bits | on-bits << RING_BITS: a part holds
    # the point when its shell does (inside or on it) and none of its
    # holes strictly does; a ring with no local edge is its parity
    xm = _IDX_BIT[g_bit]
    om = _IDX_BIT[g_bit + RING_BITS]
    shell = ring_shell[g_ring]
    mask = np.where(
        g_present,
        np.where(shell, xm | om, xm & ~om),
        np.where(g_parity == 1, _ALL, np.uint64(0)),
    ).astype(np.uint64)
    part_key = g_row * len(ring_part) + ring_part[g_ring]
    p_first = np.nonzero(np.r_[True, part_key[1:] != part_key[:-1]][:len(part_key)])[0]
    zero = np.uint64(0)
    shells = _or_runs(np.where(shell, mask, zero), p_first)
    holes = _or_runs(np.where(shell, zero, mask), p_first)
    tt = _or_by_row(g_row[p_first], shells & ~holes, n_rows)

    # a row without local edges is read at index 0 only: all ones (the
    # refine's short cut) or zero. A row whose truth table is zero holds
    # no point and is dropped. Local edges go into slots, in ring and
    # edge order.
    tt = np.where(n_loc > 0, tt, np.where(tt & np.uint64(1), _ALL, np.uint64(0)))
    held = tt != 0
    renum = np.cumsum(held) - 1
    n_held = int(held.sum())
    cols = {
        "blo": blo[row_band][held], "bhi": bhi[row_band][held],
        "xlo": xlo[held], "xhi": xhi[held], "fp": fp[held],
        "tt": tt.view(np.int64)[held],
    }
    l_row = key[local] // n_rings
    on = held[l_row]
    l_row = renum[l_row[on]]
    l_edge = edge[ee[local][on]]
    l_rb = (1 << g_bit[gid[local]][on]).astype(np.int32)
    slot = _run_rank(l_row)
    for j in range(k):
        at = slot == j
        for f, v in zip(("ax", "ay", "bx", "by", "rb"), (*l_edge[at].T, l_rb[at])):
            cols[f"{f}{j}"] = np.zeros(n_held, dtype=v.dtype)
            cols[f"{f}{j}"][l_row[at]] = v
    return band_cell[row_band][held], cols, k


def _band_runs(pair, band, band_owner, band_first, target):
    """Greedy runs of consecutive bands of one cell holding at most
    ``target`` distinct kept edges, each run as long as it can be:
    (run of each band, first band of each run, last band of each run).
    ``pair, band`` are the kept (cell, edge) entries, grouped by pair in
    band order. An edge counts in every band from the first to the last
    it is kept in; a band alone over ``target`` is a run of its own.

    A run [i, j] holds A(j) − B(i) edges, A(j) those of the cell kept
    first at or below band j and B(i) those kept last below band i, so
    the farthest end from i is one search of the cell's nondecreasing
    A; the runs then follow from each cell's first band."""
    nb = len(band_owner)
    ids = np.arange(nb)
    new = np.r_[True, pair[1:] != pair[:-1]][:len(pair)]
    lo, hi = band[new], band[np.r_[new[1:], True][:len(pair)]]
    # per band, counts over the bands of its cell: cumulative counts
    # less those of earlier cells' bands
    first = band_first[band_owner]
    a = np.r_[0, np.cumsum(np.bincount(lo, minlength=nb))]
    below = np.r_[0, np.cumsum(np.bincount(hi, minlength=nb))]
    a, below = a[ids + 1] - a[first], below[ids] - below[first]
    w = np.int64(len(lo) + target + 2)
    reach = np.searchsorted(band_owner * w + a, band_owner * w + target + below, side="right") - 1
    reach = np.maximum(reach, ids)
    cell_end = (band_first + np.bincount(band_owner, minlength=len(band_first)) - 1)[band_owner]
    start = np.zeros(nb, dtype=bool)
    cur = band_first[np.bincount(band_owner, minlength=len(band_first)) > 0]
    while len(cur):
        start[cur] = True
        nxt = reach[cur] + 1
        cur = nxt[nxt <= cell_end[cur]]
    starts = np.nonzero(start)[0]
    return np.cumsum(start) - 1, starts, np.r_[starts[1:], nb] - 1


def _or_runs(values: np.ndarray, first: np.ndarray) -> np.ndarray:
    """Bitwise OR of ``values`` over the runs starting at ``first``."""
    if not len(first):
        return values[:0]
    return np.bitwise_or.reduceat(values, first)


def _or_by_row(rows: np.ndarray, values: np.ndarray, n_rows: int) -> np.ndarray:
    """Bitwise OR of ``values`` per row of the sorted ``rows``; zero for
    a row with none."""
    out = np.zeros(n_rows, dtype=values.dtype)
    first = np.nonzero(np.r_[True, rows[1:] != rows[:-1]][:len(rows)])[0]
    out[rows[first]] = _or_runs(values, first)
    return out


def _classify(xr0, xr1, span, col_x0, col_x1, m):
    """(local, fold) of (row, edge) entries whose edge spans x-range
    [xr0, xr1] over the row's band, for points in column [col_x0,
    col_x1]: an edge wholly right of the column (by the margin) folds
    its span bit into the far parity, one wholly left drops out, the
    rest are local."""
    far = xr0 - m > col_x1
    local = ~far & ~(xr1 + m < col_x0)
    return local, far & span


def _per_row_counts(row_id, ee, eg, local, n_rows):
    """Local edges and distinct rings with a local edge, per row."""
    n_loc = np.bincount(row_id[local], minlength=n_rows)
    n_rings = np.int64(eg.max(initial=0) + 1)
    pairs = np.unique(row_id[local] * n_rings + eg[ee[local]])
    return n_loc, np.bincount(pairs // n_rings, minlength=n_rows)


# ------------------------------------------------- Catalyst refine
#
# A band row's slot j is the edge (ax_j, ay_j) → (bx_j, by_j) and rb_j
# the bit of its ring (0 on an empty slot). Terms are ordered as in
# geom.ring_contains_xy; the crossing's division runs only when its
# condition holds (the ends straddle py, so it is never by zero), and
# the on-edge test checks the cheap bounds before the cross product.
# Both reorderings are ANDs and ORs of the same terms: the same value,
# as nothing here is NULL.

_CROSSES = (
    "CASE WHEN (ay{j} > py) != (by{j} > py)"
    " AND px < (bx{j} - ax{j}) * (py - ay{j}) / (by{j} - ay{j}) + ax{j}"
    " THEN rb{j} ELSE 0 END"
)
_ON_EDGE = (
    "CASE WHEN py >= least(ay{j}, by{j}) AND py <= greatest(ay{j}, by{j})"
    " AND px >= least(ax{j}, bx{j}) AND px <= greatest(ax{j}, bx{j})"
    " AND (bx{j} - ax{j}) * (py - ay{j}) - (by{j} - ay{j}) * (px - ax{j}) = 0"
    " THEN rb{j} ELSE 0 END"
)


def band_contains_sql(k: int) -> str:
    """The refine over band rows of ``k`` slots: (px, py) lies in the
    row's band and column, and the row's truth table holds at its ring
    bits — x, the far parity XOR each slot's crossing, and o, the OR of
    each slot's on-edge hit. Each of x and o is written once, so the
    generated code grows linearly in ``k``. A table of all ones (every
    interior row) holds the point without the ray cast."""
    x = " ^ ".join(["fp", *(f"({_CROSSES.format(j=j)})" for j in range(k))])
    o = " | ".join(f"({_ON_EDGE.format(j=j)})" for j in range(k)) or "0"
    return (
        "py >= blo AND py < bhi AND px >= xlo AND px < xhi"
        f" AND (tt = -1L OR (shiftright(tt, ({x}) | shiftleft({o}, {RING_BITS})) & 1L) = 1L)"
    )
