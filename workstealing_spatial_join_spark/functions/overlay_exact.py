"""Exact-arithmetic overlay numPoints — the degenerate-position and
mixed-type kernel behind the numPoints predicates.

The float Greiner–Hormann tracer (functions/overlay.py) requires
general position and polygon-only input. The reference has neither
restriction: GEOS computes ``intersection()/union().getNumPoints()``
on ANY geometry pair, including polygons that share edges or vertices
and line/point parts riding the wire with type codes
(src/mpi_util.cpp:1080-1099 coerces types 1/2/3;
src/thread_util.cpp:424-441 refines them). This module closes both
gaps with EXACT INTEGER arithmetic:

Every IEEE-754 double is a dyadic rational m/2^e, so scaling all
coordinates of a pair by their common power of two maps the inputs
LOSSLESSLY onto the integers (no snapping, no quantization error —
``_common_scale``/``_scale_val`` use ``float.as_integer_ratio``).
Orientation, on-segment, crossing, and ray-parity predicates are then
integer cross-products (Python ints are arbitrary precision — a
coordinate needing f fractional bits yields products of ~2(f+9) bits,
still single-digit-count machine words for real-world data). The ONLY
non-integer values are proper-crossing node coordinates, which are
rationals constructed as ``Fraction`` with one gcd normalization at
creation; all further arithmetic on them (midpoints, sorting,
cross-products) goes through Python's exact mixed int/Fraction
numerics. Round 3 ran the ENTIRE kernel in Fraction arithmetic — a
gcd per elementary operation — which made quantized adjacent-polygon
workloads (shared edges are the COMMON case on real cadastral data,
e.g. the reference's cemeteries/parks datasets,
job_script_for_HPC:29-32) ~50-100× slower than this integer form.

Algorithm (arrangement overlay — standard computational-geometry
construction, cf. de Berg et al., "Computational Geometry", ch. 2):

1. NODE every edge of A against every edge of B (and against edges of
   sibling rings of the same polygon, so hole-touches-shell contacts
   are honored). Proper crossings, endpoint touches, and collinear
   overlap intervals all become exact nodes; edges are split at them.
   Collinear-overlap endpoints are always endpoints of one of the two
   segments, so they stay INTEGER points; only interior proper
   crossings create Fractions.
2. Merge sub-segments into canonical undirected segments carrying
   per-side boundary labels: for a segment on ∂A, which side is A's
   interior (shells normalized CCW / holes CW ⇒ interior is LEFT of
   the directed edge); for a segment not on ∂A, both sides share one
   exact point-in-polygon answer at the midpoint (post-noding the
   midpoint can never lie on the other boundary).
3. Select: a segment bounds the result area iff exactly one side is
   inside it (intersection: in A AND in B; union: in A OR in B).
   Collapsed shared segments with neither side inside are the
   LINESTRING part of a polygon intersection; A×B nodes incident to
   nothing selected are its POINT part (JTS OverlayOp emits exactly
   this mixed-dimension collection; union of two areas is pure area).
4. Trace result rings with the clockwise-most-turn rule at each node
   (interior stays on the left), so touching components split into
   separate rings exactly as GEOS emits MULTIPOLYGON parts.

numPoints conventions match JTS/GEOS 3.8 OverlayOp (the reference's
library, README.md:52): noded vertices are retained in result rings;
line output is split at every node (one LineString per noded span,
interior original vertices kept); each closed ring counts its
repeated closing vertex.

Performance: midpoint point-in-polygon classification is float-first
(trusted only when provably unambiguous — see ``_FastPIP``) with
edge candidates drawn from a single-axis bin index (ray direction
chosen per polygon so that edges have SMALL extent along the binning
axis), so both the float and the exact fallback ray casts touch
O(candidates), not O(edges). The exact kernel is the refine path for
degenerate-position pairs; general-position polygon pairs take the
vectorized float GH path, and rectangles never reach either
(closed-form bounds math).
"""

from __future__ import annotations

from fractions import Fraction as Fr

import numpy as np

from workstealing_spatial_join_spark.functions.overlay import (
    edge_bbox_candidates,
)


class InvalidOverlay(Exception):
    """Input the arrangement cannot classify (self-overlapping
    boundary, collapsed ring): parity with a GEOS TopologyException —
    callers map it to 0 like the reference's catch-all
    (src/thread_util.cpp:427-429)."""


# ------------------------------------------------- dyadic integerization


def _frac_bits(x: float) -> int:
    """Fractional bits of a double: x = n / 2^k exactly."""
    return float(x).as_integer_ratio()[1].bit_length() - 1


def _common_scale(arrays) -> int:
    """Smallest k such that every coordinate times 2^k is an integer
    (exists for every finite double — doubles are dyadic rationals).
    Integral arrays short-circuit vectorized (k = 0)."""
    k = 0
    for arr in arrays:
        a = np.asarray(arr, dtype=np.float64)
        if np.array_equal(np.floor(a), a):
            continue
        for v in a.ravel().tolist():
            fb = _frac_bits(v)
            if fb > k:
                k = fb
    return k


def _scale_val(x: float, k: int) -> int:
    n, d = float(x).as_integer_ratio()
    return n << (k - (d.bit_length() - 1))


def _scaled_points(arr: np.ndarray, k: int) -> list[tuple]:
    """Float (n,2) array → exact scaled integer point tuples.
    Multiplying a double by 2^k only shifts the exponent — EXACT for
    any k (no mantissa rounding) — so whenever the scaled values fit
    int64 the whole conversion is one vectorized cast; the
    per-element as_integer_ratio path remains for huge magnitudes."""
    if k < 1000:
        scaled = arr if k == 0 else arr * float(1 << k)
        if float(np.abs(scaled).max(initial=0.0)) < 2 ** 62:
            ints = scaled.astype(np.int64)
            if np.array_equal(ints.astype(np.float64), scaled):
                return list(zip(ints[:, 0].tolist(), ints[:, 1].tolist()))
    return [(_scale_val(x, k), _scale_val(y, k)) for x, y in arr]


def _to_int_ring(ring: np.ndarray, k: int) -> list[tuple]:
    """Closed float ring → open exact integer ring (scaled by 2^k),
    consecutive dups dropped."""
    pts: list[tuple] = []
    arr = np.asarray(ring, dtype=np.float64)
    for p in _scaled_points(arr, k):
        if not pts or pts[-1] != p:
            pts.append(p)
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts.pop()
    if len(pts) < 3:
        raise InvalidOverlay("collapsed ring")
    return pts


def _to_int_path(path: np.ndarray, k: int) -> list[tuple]:
    pts: list[tuple] = []
    for x, y in np.asarray(path, dtype=np.float64):
        p = (_scale_val(x, k), _scale_val(y, k))
        if not pts or pts[-1] != p:
            pts.append(p)
    if len(pts) < 2:
        raise InvalidOverlay("collapsed line")
    return pts


# ---------------------------------------------------------- primitives


def _area2(ring: list[tuple]) -> int:
    n = len(ring)
    try:
        a = np.array(ring, dtype=np.int64)
    except (OverflowError, TypeError, ValueError):
        a = None
    if a is not None:
        bound = int(np.abs(a).max(initial=0))
        # every term |x0·y1 − x1·y0| ≤ 2·bound², n terms — exact in
        # int64 iff the worst-case running sum stays under 2^63
        if 2 * n * bound * bound < 1 << 63:
            b = np.roll(a, -1, axis=0)
            return int((a[:, 0] * b[:, 1] - b[:, 0] * a[:, 1]).sum())
    s = 0
    for i in range(n):
        x0, y0 = ring[i]
        x1, y1 = ring[(i + 1) % n]
        s += x0 * y1 - x1 * y0
    return s


def _norm_polygon(rings: list[np.ndarray], k: int) -> list[list[tuple]]:
    """Shell CCW, holes CW — polygon interior is on the LEFT of every
    directed edge. Coordinates exact ints at scale 2^k."""
    out = []
    for idx, r in enumerate(rings):
        ir = _to_int_ring(r, k)
        a2 = _area2(ir)
        if a2 == 0:
            raise InvalidOverlay("zero-area ring")
        want_ccw = idx == 0
        if (a2 > 0) != want_ccw:
            ir = ir[::-1]
        out.append(ir)
    return out


def _ray(ring: list[tuple], m: tuple) -> bool:
    """Exact crossing-parity via sign tests (no division); caller
    guarantees m is not on the ring. Coordinates may mix int and
    Fraction — Python numerics keep it exact."""
    x, y = m
    inside = False
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        if (ay > y) != (by > y):
            # x < x_cross ⇔ num/den > 0 with
            # num = (ax-x)(by-ay) + (y-ay)(bx-ax), den = by-ay ≠ 0
            num = (ax - x) * (by - ay) + (y - ay) * (bx - ax)
            if num != 0 and (num > 0) == (by > ay):
                inside = not inside
    return inside


def _pip(rings: list[list[tuple]], m: tuple) -> bool:
    """Strict interior of polygon-with-holes (winding-insensitive)."""
    if not _ray(rings[0], m):
        return False
    for h in rings[1:]:
        if _ray(h, m):
            return False
    return True


def _seg_points(p, p2, q, q2) -> list[tuple]:
    """Exact intersection point set of two closed INTEGER segments:
    one point for a crossing/touch, the two overlap-interval endpoints
    for a collinear overlap (possibly equal), [] when disjoint.
    Endpoint touches and collinear-overlap endpoints return the
    original integer points; only interior proper crossings construct
    Fractions (one gcd each at creation)."""
    rx, ry = p2[0] - p[0], p2[1] - p[1]
    sx, sy = q2[0] - q[0], q2[1] - q[1]
    denom = rx * sy - ry * sx
    qpx, qpy = q[0] - p[0], q[1] - p[1]
    cqs = qpx * sy - qpy * sx
    if denom != 0:
        tn = cqs
        un = qpx * ry - qpy * rx
        if denom < 0:
            tn, un, dpos = -tn, -un, -denom
        else:
            dpos = denom
        if 0 <= tn <= dpos and 0 <= un <= dpos:
            if tn == 0:
                return [p]
            if tn == dpos:
                return [p2]
            if un == 0:
                return [q]
            if un == dpos:
                return [q2]
            return [
                (Fr(p[0] * dpos + tn * rx, dpos),
                 Fr(p[1] * dpos + tn * ry, dpos))
            ]
        return []
    if cqs != 0:
        return []
    # collinear: overlap interval in p-edge param numerators over rr
    rr = rx * rx + ry * ry
    if rr == 0:
        raise InvalidOverlay("zero-length edge")
    t0n = qpx * rx + qpy * ry
    t1n = (q2[0] - p[0]) * rx + (q2[1] - p[1]) * ry
    if t0n <= t1n:
        lo_n, lo_pt, hi_n, hi_pt = t0n, q, t1n, q2
    else:
        lo_n, lo_pt, hi_n, hi_pt = t1n, q2, t0n, q
    if lo_n < 0:
        lo_n, lo_pt = 0, p
    if hi_n > rr:
        hi_n, hi_pt = rr, p2
    if lo_n > hi_n:
        return []
    if lo_n == hi_n:
        return [lo_pt]
    return [lo_pt, hi_pt]


def _float_edge_arrays(edges):
    try:
        # direct C-level conversion of int-tuple lists; raises on
        # Fractions or ints ≥ 2^63 → per-element fallback below
        s = np.array([p for p, _q in edges], dtype=np.float64)
        e = np.array([q for _p, q in edges], dtype=np.float64)
        return s, e
    except (OverflowError, TypeError):
        pass
    s = np.array([[float(p[0]), float(p[1])] for p, _q in edges])
    e = np.array([[float(q[0]), float(q[1])] for _p, q in edges])
    return s, e


_VEC_COORD_LIMIT = 1 << 25  # cross products stay < 2^53 in int64


def _edge_int_matrix(edges):
    """(n, 4) int64 matrix [(px, py, qx, qy)] or None when any
    coordinate is a Fraction / too large for the int64 fast path."""
    try:
        m = np.array(
            [(p[0], p[1], q[0], q[1]) for p, q in edges], dtype=np.int64
        )
    except (OverflowError, TypeError):
        return None
    if len(m) and int(np.abs(m).max()) >= _VEC_COORD_LIMIT:
        return None
    return m


def _node_vectorized(A, B, ii, jj, splits_a, splits_b, nodes):
    """Vectorized int64 twin of the `_seg_points` candidate loop: one
    numpy sweep classifies every candidate pair (identical / endpoint
    touch / collinear overlap / proper crossing / disjoint); only the
    RARE proper interior crossings fall back to per-pair Fraction
    node construction. Selector order matches `_seg_points` exactly
    (tn==0 → P, tn==dpos → P2, un==0 → Q, un==dpos → Q2)."""
    pa = A[ii]
    pb = B[jj]
    px, py, p2x, p2y = pa[:, 0], pa[:, 1], pa[:, 2], pa[:, 3]
    qx, qy, q2x, q2y = pb[:, 0], pb[:, 1], pb[:, 2], pb[:, 3]
    rx, ry = p2x - px, p2y - py
    sx, sy = q2x - qx, q2y - qy
    denom = rx * sy - ry * sx
    qpx, qpy = qx - px, qy - py
    cqs = qpx * sy - qpy * sx
    un0 = qpx * ry - qpy * rx
    ident = (
        ((px == qx) & (py == qy) & (p2x == q2x) & (p2y == q2y))
        | ((px == q2x) & (py == q2y) & (p2x == qx) & (p2y == qy))
    )
    sgn = np.sign(denom)
    dpos = np.abs(denom)
    tn = cqs * sgn
    un = un0 * sgn
    ncol = denom != 0
    hit = (
        ncol & ~ident
        & (tn >= 0) & (tn <= dpos) & (un >= 0) & (un <= dpos)
    )
    sel = np.where(
        tn == 0, 0,
        np.where(tn == dpos, 1, np.where(un == 0, 2,
                 np.where(un == dpos, 3, 4))),
    )
    # collinear overlaps (interval endpoints are original vertices)
    col = (~ncol) & (cqs == 0) & ~ident
    rr = rx * rx + ry * ry
    if bool((col & (rr == 0)).any()):
        raise InvalidOverlay("zero-length edge")
    rr_safe = np.where(rr == 0, 1, rr)
    t0n = qpx * rx + qpy * ry
    t1n = (q2x - px) * rx + (q2y - py) * ry
    swap = t0n > t1n
    lo_n = np.where(swap, t1n, t0n)
    hi_n = np.where(swap, t0n, t1n)
    lo_sel = np.where(swap, 3, 2)
    hi_sel = np.where(swap, 2, 3)
    lo_sel = np.where(lo_n < 0, 0, lo_sel)
    lo_n = np.maximum(lo_n, 0)
    hi_sel = np.where(hi_n > rr_safe, 1, hi_sel)
    hi_n = np.minimum(hi_n, rr_safe)
    valid = col & (lo_n <= hi_n)
    cx = np.stack([px, p2x, qx, q2x], axis=1)
    cy = np.stack([py, p2y, qy, q2y], axis=1)

    # gather every event (pair index, point) across the three masks,
    # then fill the split dicts with ONE set.update per touched edge
    # (grouped via lexsort) — per-event setdefault/add dominated the
    # noding pass
    idx_parts, xs_parts, ys_parts = [], [], []
    for mask, codes in (
        (hit & (sel < 4), sel),
        (valid, lo_sel),
        (valid & (lo_n < hi_n), hi_sel),
    ):
        idx = np.nonzero(mask)[0]
        if len(idx):
            idx_parts.append(idx)
            xs_parts.append(cx[idx, codes[idx]])
            ys_parts.append(cy[idx, codes[idx]])
    if idx_parts:
        idx_all = np.concatenate(idx_parts)
        xs = np.concatenate(xs_parts)
        ys = np.concatenate(ys_parts)
        for side_idx, M, splits in (
            (ii[idx_all], A, splits_a), (jj[idx_all], B, splits_b)
        ):
            # an edge's OWN endpoints never split it (`_split_edges`
            # drops them) — filter endpoint touches vectorized before
            # the Python set fill. On shared-boundary meshes (combs,
            # cadastral parcels) nearly every event is an endpoint
            # touch, so this empties the loop below almost entirely.
            ep = M[side_idx]
            keep = ~(
                ((xs == ep[:, 0]) & (ys == ep[:, 1]))
                | ((xs == ep[:, 2]) & (ys == ep[:, 3]))
            )
            if not keep.any():
                continue
            e_k = side_idx[keep]
            x_k = xs[keep]
            y_k = ys[keep]
            order = np.lexsort((y_k, x_k, e_k))
            e_s = e_k[order]
            x_s = x_k[order].tolist()
            y_s = y_k[order].tolist()
            bounds = np.concatenate((
                [0], np.nonzero(np.diff(e_s))[0] + 1, [len(e_s)]
            ))
            for a0, b0 in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
                splits.setdefault(int(e_s[a0]), set()).update(
                    zip(x_s[a0:b0], y_s[a0:b0])
                )
        if nodes is not None:
            nodes.update(zip(xs.tolist(), ys.tolist()))
    if nodes is not None and bool(ident.any()):
        ik = np.nonzero(ident)[0]
        nodes.update(zip(px[ik].tolist(), py[ik].tolist()))
        nodes.update(zip(p2x[ik].tolist(), p2y[ik].tolist()))
    # rare proper interior crossings: exact rational nodes
    for t in np.nonzero(hit & (sel == 4))[0].tolist():
        dp = int(dpos[t])
        tv = int(tn[t])
        v = (
            Fr(int(px[t]) * dp + tv * int(rx[t]), dp),
            Fr(int(py[t]) * dp + tv * int(ry[t]), dp),
        )
        splits_a.setdefault(int(ii[t]), set()).add(v)
        splits_b.setdefault(int(jj[t]), set()).add(v)
        if nodes is not None:
            nodes.add(v)


def _node_edge_sets(
    edges_a, edges_b, splits_a, splits_b, nodes=None, mats=None
):
    """Node two directed edge lists against each other: record split
    points per edge index and (optionally) the intersection points.
    ``mats`` passes precomputed ``(_edge_int_matrix(a), ...(b))`` so a
    caller that needs the matrices anyway converts only once."""
    if not edges_a or not edges_b:
        return
    if mats is not None:
        A, B = mats
    else:
        A = _edge_int_matrix(edges_a)
        B = _edge_int_matrix(edges_b) if A is not None else None
    if A is not None and B is not None:
        # float bbox arrays derive from the int matrices (C-level
        # cast) instead of re-walking the Python tuple lists
        sa, ea = A[:, :2].astype(np.float64), A[:, 2:].astype(np.float64)
        sb, eb = B[:, :2].astype(np.float64), B[:, 2:].astype(np.float64)
        ii, jj = edge_bbox_candidates(sa, ea, sb, eb)
        if len(ii):
            _node_vectorized(A, B, ii, jj, splits_a, splits_b, nodes)
        return
    sa, ea = _float_edge_arrays(edges_a)
    sb, eb = _float_edge_arrays(edges_b)
    ii, jj = edge_bbox_candidates(sa, ea, sb, eb)
    if len(ii) == 0:
        return
    for i, j in zip(ii.tolist(), jj.tolist()):
        p, p2 = edges_a[i]
        q, q2 = edges_b[j]
        # identical (or reversed) edge pair — the COMMON case on
        # shared boundaries: contact points are exactly the shared
        # endpoints; skip the general intersection math
        if (p == q and p2 == q2) or (p == q2 and p2 == q):
            if nodes is not None:
                nodes.add(p)
                nodes.add(p2)
            continue
        for v in _seg_points(p, p2, q, q2):
            splits_a.setdefault(i, set()).add(v)
            splits_b.setdefault(j, set()).add(v)
            if nodes is not None:
                nodes.add(v)


def _split_edges(edges, splits):
    """Directed edge list → list of (sub_start, sub_end) after
    inserting the recorded split points (endpoints excluded). Cut
    points are sorted along the edge by the dominant-axis coordinate
    (exact mixed int/Fraction comparisons — a straight segment is
    strictly monotone along any axis with nonzero extent)."""
    out = []
    for idx, (p, q) in enumerate(edges):
        cuts = splits.get(idx)
        if not cuts:
            out.append((p, q))
            continue
        inner = [v for v in cuts if v != p and v != q]
        if not inner:
            # the COMMON shared-boundary case: every recorded contact
            # is an endpoint — nothing to split
            out.append((p, q))
            continue
        if len(inner) > 1:
            axis = 0 if abs(q[0] - p[0]) >= abs(q[1] - p[1]) else 1
            inner.sort(key=lambda v: v[axis], reverse=q[axis] < p[axis])
        prev = p
        for v in inner:
            if v != prev:
                out.append((prev, v))
                prev = v
        if prev != q:
            out.append((prev, q))
    return out


# ------------------------------------------------ polygon × polygon


class _Seg:
    __slots__ = ("s", "e", "a_left", "b_left")

    def __init__(self, s, e):
        self.s = s
        self.e = e
        self.a_left: bool | None = None  # A-interior on left of s→e
        self.b_left: bool | None = None


def _collect_segments(rings_a, rings_b):
    """Build the noded arrangement. Returns (segments, ab_nodes) where
    ``segments`` is EITHER an array triple ``(K, a_left, b_left)`` —
    ``K`` the (m, 4) int64 canonical sub-edge matrix, the labels int8
    with -1 = unknown (the vectorized fast path: no per-segment Python
    objects at all) — or a ``list[_Seg]`` when any coordinate is a
    Fraction crossing node / exceeds the int64 window."""
    def ring_edges(rings):
        per_ring = []
        for ring in rings:
            n = len(ring)
            per_ring.append([(ring[i], ring[(i + 1) % n]) for i in range(n)])
        return per_ring

    per_a = ring_edges(rings_a)
    per_b = ring_edges(rings_b)
    edges_a = [e for ring in per_a for e in ring]
    edges_b = [e for ring in per_b for e in ring]
    splits_a: dict[int, set] = {}
    splits_b: dict[int, set] = {}
    ab_nodes: set = set()
    A = _edge_int_matrix(edges_a)
    B = _edge_int_matrix(edges_b) if A is not None else None
    _node_edge_sets(
        edges_a, edges_b, splits_a, splits_b, ab_nodes, mats=(A, B)
    )

    # same-owner cross-ring contacts (hole touching shell at a vertex)
    def self_node(per_ring, splits):
        offs = []
        o = 0
        for ring in per_ring:
            offs.append(o)
            o += len(ring)
        for i in range(len(per_ring)):
            for j in range(i + 1, len(per_ring)):
                si: dict[int, set] = {}
                sj: dict[int, set] = {}
                _node_edge_sets(per_ring[i], per_ring[j], si, sj)
                for k, vs in si.items():
                    splits.setdefault(offs[i] + k, set()).update(vs)
                for k, vs in sj.items():
                    splits.setdefault(offs[j] + k, set()).update(vs)

    if len(rings_a) > 1:
        self_node(per_a, splits_a)
    if len(rings_b) > 1:
        self_node(per_b, splits_b)

    # array fast path: the same int64 window the noding sweep used
    if A is not None and B is not None:
        SA = _split_edges_int(A, edges_a, splits_a)
        SB = _split_edges_int(B, edges_b, splits_b) if SA is not None else None
        if SA is not None and SB is not None:
            return _merge_subedges_arrays(SA, SB), ab_nodes

    sub_a = _split_edges(edges_a, splits_a)
    sub_b = _split_edges(edges_b, splits_b)

    seg_map: dict[tuple, _Seg] = {}
    for owner, subs in (("a", sub_a), ("b", sub_b)):
        for s, e in subs:
            fwd = s <= e
            key = (s, e) if fwd else (e, s)
            seg = seg_map.get(key)
            if seg is None:
                seg = seg_map[key] = _Seg(*key)
            prev = seg.a_left if owner == "a" else seg.b_left
            if prev is not None:
                raise InvalidOverlay("boundary overlaps itself")
            if owner == "a":
                seg.a_left = fwd
            else:
                seg.b_left = fwd
    return list(seg_map.values()), ab_nodes


def _split_edges_int(E, edges, splits):
    """Array twin of ``_split_edges``: ``E`` is the (n, 4) int64 edge
    matrix; edges WITHOUT cuts (the vast majority on shared-boundary
    meshes) pass through as matrix rows untouched, the few cut edges
    reuse the exact Python splitter. Returns (m, 4) int64, or None
    when any cut point is a Fraction (proper-crossing node) — the
    caller then takes the Python path."""
    if not splits:
        return E
    cut_idx = sorted(splits.keys())
    for i in cut_idx:
        for v in splits[i]:
            if type(v[0]) is not int or type(v[1]) is not int:
                return None
    sub = _split_edges(
        [edges[i] for i in cut_idx],
        {j: splits[i] for j, i in enumerate(cut_idx)},
    )
    keep = np.ones(len(E), dtype=bool)
    keep[cut_idx] = False
    add = np.array(
        [(s[0], s[1], e[0], e[1]) for s, e in sub], dtype=np.int64
    )
    return np.vstack([E[keep], add])


def _merge_subedges_arrays(SA, SB):
    """Vectorized canonicalize-and-merge: directions canonicalized by
    lexicographic endpoint order, duplicates merged across owners via
    one row-unique. Pure comparisons — no magnitude limit beyond the
    int64 window the caller already checked."""
    na = len(SA)
    both = np.vstack([SA, SB])
    sx, sy, ex, ey = both[:, 0], both[:, 1], both[:, 2], both[:, 3]
    fwd = (sx < ex) | ((sx == ex) & (sy <= ey))
    keys = np.where(fwd[:, None], both, both[:, [2, 3, 0, 1]])
    # row-unique via one lexsort on the 4 int64 columns — measurably
    # faster than np.unique(axis=0)'s void-view argsort
    order = np.lexsort((keys[:, 3], keys[:, 2], keys[:, 1], keys[:, 0]))
    sk = keys[order]
    new = np.empty(len(sk), dtype=bool)
    new[0] = True
    np.any(sk[1:] != sk[:-1], axis=1, out=new[1:])
    uniq = sk[new]
    inv = np.empty(len(sk), dtype=np.int64)
    inv[order] = np.cumsum(new) - 1
    inv_a, inv_b = inv[:na], inv[na:]
    # an owner contributing the same canonical segment twice means its
    # own boundary overlaps itself — same guard as the Python loop
    if len(np.unique(inv_a)) != na or len(np.unique(inv_b)) != len(inv_b):
        raise InvalidOverlay("boundary overlaps itself")
    m = len(uniq)
    a_left = np.full(m, -1, dtype=np.int8)
    b_left = np.full(m, -1, dtype=np.int8)
    a_left[inv_a] = fwd[:na].astype(np.int8)
    b_left[inv_b] = fwd[na:].astype(np.int8)
    return uniq, a_left, b_left


class _FastPIP:
    """Float-first point-in-polygon with exact integer fallback.

    Double-precision parity is trusted only when provably unambiguous:
    the query point is farther than ``tol`` from every nearby edge AND
    its ray clears every nearby vertex by ``tol`` (both checked
    vectorized); anything closer returns None and the caller reruns
    the exact integer ray cast. Scaled-int coordinates convert to
    floats with relative error ≤ 2⁻⁵³ ≪ tol/scale, and a crossing
    whose computed intercept lies within float error of the query
    implies a point-to-edge distance below tol — so a trusted verdict
    cannot differ from the exact one.

    Candidate edges come from a SINGLE-AXIS BIN INDEX per ring: the
    ray is cast along the axis where edges are (in total) longer, so
    spans along the binning axis are small and each query touches
    O(occupancy) edges instead of O(n) — the difference between a
    quadratic and a near-linear classification pass on comb-shaped
    rings. Bins are built with a ±tol margin, so any edge within tol
    of the query (the ambiguity condition) is guaranteed to be among
    the candidates — restricting the trust checks to candidates is
    sound."""

    def __init__(self, rings):
        self._exact = rings
        self._rings = []
        hi = 1.0
        floats = []
        for ring in rings:
            try:
                # direct C-level conversion (int tuples) — the listcomp
                # fallback only runs for Fraction coords / huge ints
                a = np.array(ring, dtype=np.float64)
            except (OverflowError, TypeError, ValueError):
                a = np.array([[float(x), float(y)] for x, y in ring])
            floats.append(a)
            hi = max(hi, float(np.abs(a).max()))
        self.tol = 1e-9 * hi
        for a in floats:
            b = np.roll(a, -1, axis=0)
            d = b - a
            n = len(a)
            nbins = int(min(max(n // 4, 1), 4096))
            # bin axis: whichever axis yields the SMALLER total bin
            # occupancy (edges with long spans along the bin axis land
            # in many bins — e.g. comb teeth span the full y-range, so
            # y-binning degenerates to O(n) candidates per query while
            # x-binning is O(1); the total-extent heuristic got this
            # exactly backwards on combs)
            occ = []
            for ax in (0, 1):
                lo_t = float(a[:, ax].min()) - self.tol
                hi_t = float(a[:, ax].max()) + self.tol
                w_t = max((hi_t - lo_t) / nbins, 1e-300)
                span = (
                    np.abs(d[:, ax]) + 2 * self.tol
                ) / w_t
                occ.append(float(span.sum()) + n)
            bin_ax = 0 if occ[0] <= occ[1] else 1
            ray_x = bin_ax == 1  # ray along the non-binned axis
            lo = float(a[:, bin_ax].min()) - self.tol
            hi_ax = float(a[:, bin_ax].max()) + self.tol
            width = (hi_ax - lo) / nbins
            if width <= 0 or not np.isfinite(width):
                width = 1.0
                nbins = 1
            emin = np.minimum(a[:, bin_ax], b[:, bin_ax]) - self.tol
            emax = np.maximum(a[:, bin_ax], b[:, bin_ax]) + self.tol
            b0 = np.clip(((emin - lo) / width).astype(np.int64), 0, nbins - 1)
            b1 = np.clip(((emax - lo) / width).astype(np.int64), 0, nbins - 1)
            # flat (edge, bin) expansion fully vectorized: edge e_i
            # lands in bins b0[e_i]..b1[e_i]; stable argsort by bin
            # gives the per-bin edge lists in one pass (the per-edge
            # Python fill loop dominated __init__ on comb rings)
            span = b1 - b0 + 1
            tot = int(span.sum())
            idx_edges = np.repeat(np.arange(n), span)
            offs = np.concatenate(([0], np.cumsum(span)))
            bins_flat = (
                np.arange(tot)
                - np.repeat(offs[:-1], span)
                + np.repeat(b0, span)
            )
            order = np.argsort(bins_flat, kind="stable")
            idx = idx_edges[order]
            starts = np.zeros(nbins + 1, dtype=np.int64)
            np.cumsum(
                np.bincount(bins_flat, minlength=nbins), out=starts[1:]
            )
            self._rings.append({
                "a": a, "b": b, "d": d, "ray_x": ray_x,
                "lo": lo, "width": width, "nbins": nbins,
                "starts": starts, "idx": idx,
            })

    def _cands(self, k, cx, cy):
        r = self._rings[k]
        c = cy if r["ray_x"] else cx
        bn = int((c - r["lo"]) / r["width"])
        if bn < 0 or bn >= r["nbins"]:
            return r, np.empty(0, dtype=np.int64)
        return r, r["idx"][r["starts"][bn]:r["starts"][bn + 1]]

    def _ring_parity_batch(self, k, xs, ys):
        """Vectorized float parity for MANY query points at once:
        (inside bool array, ambiguous bool array). One flat
        (query, candidate-edge) pair sweep — per-call numpy overhead
        was the dominant cost of per-midpoint classification."""
        r = self._rings[k]
        nq = len(xs)
        cs = ys if r["ray_x"] else xs
        bn = ((cs - r["lo"]) / r["width"]).astype(np.int64)
        ok = (bn >= 0) & (bn < r["nbins"])
        bn_c = np.clip(bn, 0, r["nbins"] - 1)
        starts = r["starts"][bn_c]
        cnt = np.where(ok, r["starts"][bn_c + 1] - starts, 0)
        tot = int(cnt.sum())
        inside = np.zeros(nq, dtype=bool)
        ambig = np.zeros(nq, dtype=bool)
        if tot == 0:
            return inside, ambig
        qi = np.repeat(np.arange(nq), cnt)
        off = np.arange(tot) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        ei = r["idx"][np.repeat(starts, cnt) + off]
        a = r["a"][ei]
        d = r["d"][ei]
        qx = xs[qi]
        qy = ys[qi]
        if r["ray_x"]:
            pa, pd = a[:, 1], d[:, 1]
            qa, qd = a[:, 0], d[:, 0]
            pq, qq = qy, qx
        else:
            pa, pd = a[:, 0], d[:, 0]
            qa, qd = a[:, 1], d[:, 1]
            pq, qq = qx, qy
        pb = pa + pd
        # vertex-graze ambiguity on the perpendicular coordinate
        graze = np.abs(pa - pq) < self.tol
        # distance-to-edge ambiguity
        dx0 = qx - a[:, 0]
        dy0 = qy - a[:, 1]
        l2 = np.maximum(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1], 1e-300)
        t = np.clip((dx0 * d[:, 0] + dy0 * d[:, 1]) / l2, 0.0, 1.0)
        ex = dx0 - t * d[:, 0]
        ey = dy0 - t * d[:, 1]
        close = (ex * ex + ey * ey) < self.tol * self.tol
        np.logical_or.at(ambig, qi, graze | close)
        cross = (pa > pq) != (pb > pq)
        safe_pd = np.where(cross, pd, 1.0)
        qc = qa + (pq - pa) * qd / safe_pd
        hit = cross & (qq < qc)
        counts = np.zeros(nq, dtype=np.int64)
        np.add.at(counts, qi, hit.astype(np.int64))
        inside = (counts & 1).astype(bool)
        return inside, ambig

    def batch(self, m2x, m2y):
        """Tri-state verdicts for many DOUBLED points: float array of
        +1 (inside), 0 (outside), -1 (ambiguous — caller reruns
        exact2). Holes combined per the polygon-with-holes rule."""
        xs = np.asarray(m2x, dtype=np.float64) * 0.5
        ys = np.asarray(m2y, dtype=np.float64) * 0.5
        inside, ambig = self._ring_parity_batch(0, xs, ys)
        out = np.where(inside, 1, 0)
        for k in range(1, len(self._rings)):
            h_in, h_amb = self._ring_parity_batch(k, xs, ys)
            ambig |= h_amb & inside
            out = np.where(inside & h_in, 0, out)
            inside &= ~h_in
        out[ambig] = -1
        return out

    def _ring_parity(self, k, x, y):
        """Float parity restricted to bin candidates; None = ambiguous."""
        r, cand = self._cands(k, x, y)
        if len(cand) == 0:
            return False
        a = r["a"][cand]
        b = r["b"][cand]
        d = r["d"][cand]
        if r["ray_x"]:
            pa, pb, pd = a[:, 1], b[:, 1], d[:, 1]
            qa, qd = a[:, 0], d[:, 0]
            pq, qq = y, x
        else:
            pa, pb, pd = a[:, 0], b[:, 0], d[:, 0]
            qa, qd = a[:, 1], d[:, 1]
            pq, qq = x, y
        # ray grazes a vertex on the perpendicular coordinate?
        if float(np.abs(pa - pq).min()) < self.tol:
            return None
        # distance-to-edge trust check over candidates
        dx0 = x - r["a"][cand][:, 0]
        dy0 = y - r["a"][cand][:, 1]
        l2 = np.maximum(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1], 1e-300)
        t = np.clip((dx0 * d[:, 0] + dy0 * d[:, 1]) / l2, 0.0, 1.0)
        ex = dx0 - t * d[:, 0]
        ey = dy0 - t * d[:, 1]
        if float((ex * ex + ey * ey).min()) < self.tol * self.tol:
            return None
        cross = (pa > pq) != (pb > pq)
        if not cross.any():
            return False
        safe_pd = np.where(cross, pd, 1.0)
        qc = qa + (pq - pa) * qd / safe_pd
        return bool(int((cross & (qq < qc)).sum()) & 1)

    def __call__(self, m2):
        """Float-trusted verdict for the point m2/2 (callers pass the
        DOUBLED point — segment midpoints are then exact ints whenever
        the endpoints are, so the exact fallback never touches
        Fraction arithmetic on integer inputs). None = ambiguous."""
        x, y = float(m2[0]) * 0.5, float(m2[1]) * 0.5
        shell = self._ring_parity(0, x, y)
        if shell is None:
            return None
        if not shell:
            return False
        for k in range(1, len(self._rings)):
            hole = self._ring_parity(k, x, y)
            if hole is None:
                return None
            if hole:
                return False
        return True

    def _ray_exact2(self, k, m2):
        """EXACT crossing parity for the point m2/2 over the bin
        candidates only (the bins are built with a ±tol margin over
        float coordinates whose conversion error is ≪ tol, so every
        edge that can cross the query's perpendicular line is among
        the candidates). The predicates are evaluated HOMOGENEOUSLY at
        2× scale — ring coordinates doubled against the already-
        doubled query — so integer inputs stay integer."""
        r, cand = self._cands(
            k, float(m2[0]) * 0.5, float(m2[1]) * 0.5
        )
        if len(cand) == 0:
            return False
        ring = self._exact[k]
        n = len(ring)
        x, y = m2
        inside = False
        if r["ray_x"]:
            for i in cand.tolist():
                ay = 2 * ring[i][1]
                by = 2 * ring[(i + 1) % n][1]
                if (ay > y) != (by > y):
                    ax = 2 * ring[i][0]
                    bx = 2 * ring[(i + 1) % n][0]
                    num = (ax - x) * (by - ay) + (y - ay) * (bx - ax)
                    if num != 0 and (num > 0) == (by > ay):
                        inside = not inside
        else:
            for i in cand.tolist():
                ax = 2 * ring[i][0]
                bx = 2 * ring[(i + 1) % n][0]
                if (ax > x) != (bx > x):
                    ay = 2 * ring[i][1]
                    by = 2 * ring[(i + 1) % n][1]
                    num = (ay - y) * (bx - ax) + (x - ax) * (by - ay)
                    if num != 0 and (num > 0) == (bx > ax):
                        inside = not inside
        return inside

    def exact2(self, m2):
        """Exact _pip twin (for the point m2/2) using the
        bin-candidate exact ray per ring."""
        if not self._ray_exact2(0, m2):
            return False
        for k in range(1, len(self._exact)):
            if self._ray_exact2(k, m2):
                return False
        return True

    def _on_banded2(self, m2) -> bool:
        """Exact on-any-ring check for m2/2; an edge containing the
        point lies within 0 of it, so the ±tol bin candidates are a
        safe superset. Homogeneous 2× evaluation."""
        for k, ring in enumerate(self._exact):
            _r, cand = self._cands(
                k, float(m2[0]) * 0.5, float(m2[1]) * 0.5
            )
            n = len(ring)
            for i in cand.tolist():
                p, q = ring[i], ring[(i + 1) % n]
                if _on_seg(
                    (2 * p[0], 2 * p[1]), (2 * q[0], 2 * q[1]), m2
                ):
                    return True
        return False

    def covered2(self, m2) -> bool:
        """Exact ``on-any-ring OR strictly-inside`` for the point m2/2
        (the line-kernel classification) — float verdicts far from the
        boundary (where on-boundary is impossible), bin-candidate
        exact otherwise."""
        r = self(m2)
        if r is not None:
            return r
        return self._on_banded2(m2) or self.exact2(m2)


def _classify_arrays(K, a_left, b_left, rings_a, rings_b):
    """Array twin of ``_classify``: resolve the unknown (-1) side
    labels by point-in-polygon on doubled midpoints — one vectorized
    batch per owner, exact integer fallback only for ambiguous points.
    Returns (in_a, in_b) bool arrays (meaningful where the label was
    unknown)."""
    n = len(K)
    in_a = np.zeros(n, dtype=bool)
    in_b = np.zeros(n, dtype=bool)
    for mask, rings, fill in (
        (a_left < 0, rings_a, in_a), (b_left < 0, rings_b, in_b)
    ):
        if not mask.any():
            continue
        fp = _FastPIP(rings)
        m2x = (K[mask, 0] + K[mask, 2]).astype(np.float64)
        m2y = (K[mask, 1] + K[mask, 3]).astype(np.float64)
        verdicts = fp.batch(m2x, m2y)
        amb = np.nonzero(verdicts < 0)[0]
        if len(amb):
            rows = K[mask][amb].tolist()
            for pos, (sx, sy, ex, ey) in zip(amb.tolist(), rows):
                verdicts[pos] = fp.exact2((sx + ex, sy + ey))
        fill[mask] = verdicts.astype(bool)
    return in_a, in_b


def _classify(segs, rings_a, rings_b):
    """Attach 4 side booleans per segment: (aL, aR, bL, bR) — locally
    interior to A/B on the left/right of the canonical direction.
    Midpoints are computed lazily: fully-shared segments (both
    boundary labels known — the COMMON case on quantized adjacent
    polygons) skip the point-in-polygon machinery entirely."""
    need = [
        i for i, seg in enumerate(segs)
        if seg.a_left is None or seg.b_left is None
    ]
    in_a_map: dict[int, bool] = {}
    in_b_map: dict[int, bool] = {}
    if need:
        # DOUBLED midpoints: exact ints whenever the endpoints are, so
        # the exact PIP fallback needs no Fraction arithmetic on
        # integer (i.e. non-crossing-node) segments
        m2s = [
            (segs[i].s[0] + segs[i].e[0], segs[i].s[1] + segs[i].e[1])
            for i in need
        ]
        m2x = np.array([float(m[0]) for m in m2s])
        m2y = np.array([float(m[1]) for m in m2s])
        for which, fill in (("a", in_a_map), ("b", in_b_map)):
            rows = [
                j for j, i in enumerate(need)
                if (segs[i].a_left if which == "a" else segs[i].b_left)
                is None
            ]
            if not rows:
                continue
            fp = _FastPIP(rings_a if which == "a" else rings_b)
            sel = np.array(rows)
            verdicts = fp.batch(m2x[sel], m2y[sel])
            for pos, j in enumerate(rows):
                v = verdicts[pos]
                if v < 0:
                    v = fp.exact2(m2s[j])
                fill[need[j]] = bool(v)
    out = []
    for i, seg in enumerate(segs):
        if seg.a_left is not None:
            aL, aR = seg.a_left, not seg.a_left
        else:
            aL = aR = in_a_map[i]
        if seg.b_left is not None:
            bL, bR = seg.b_left, not seg.b_left
        else:
            bL = bR = in_b_map[i]
        out.append((seg, aL, aR, bL, bR))
    return out


def _trace_ring_points(directed) -> int:
    """numPoints of the rings assembled from directed boundary edges
    (result interior on the left of each). At every node the walk
    takes the clockwise-most outgoing edge from the reversed incoming
    direction — touching result components split into separate rings
    exactly as JTS emits them."""
    if not directed:
        return 0
    out_map: dict[tuple, list[tuple]] = {}
    for s, e in directed:
        out_map.setdefault(s, []).append(e)

    def pick(v, rev, cands):
        def half(d):
            cr = rev[0] * d[1] - rev[1] * d[0]
            if cr < 0:
                return 0  # right half-plane: first in the CW sweep
            if cr > 0:
                return 2
            dot = rev[0] * d[0] + rev[1] * d[1]
            if dot < 0:
                return 1  # straight ahead (opposite of rev)
            raise InvalidOverlay("doubled-back boundary")

        best = None
        best_d = None
        best_h = None
        for w in cands:
            d = (w[0] - v[0], w[1] - v[1])
            h = half(d)
            if best is None or h < best_h or (
                h == best_h
                and (d[0] * best_d[1] - d[1] * best_d[0]) < 0
            ):
                best, best_d, best_h = w, d, h
        return best

    visited: set = set()
    total = 0
    budget = 4 * len(directed) + 8
    for start in directed:
        if start in visited:
            continue
        cur = start
        ring_len = 0
        steps = 0
        while True:
            visited.add(cur)
            ring_len += 1
            steps += 1
            if steps > budget:
                raise InvalidOverlay("tracer did not close")
            u, v = cur
            outs = out_map.get(v)
            if not outs:
                raise InvalidOverlay("open boundary chain")
            if len(outs) == 1:
                w = outs[0]
            else:
                w = pick(v, (u[0] - v[0], u[1] - v[1]), outs)
            cur = (v, w)
            if cur == start:
                break
            if cur in visited:
                raise InvalidOverlay("boundary edge reused")
        total += ring_len + 1
    return total


def _polygon_overlay_num_points(
    rings_a: list[np.ndarray], rings_b: list[np.ndarray], op: str
) -> int:
    k = _common_scale(list(rings_a) + list(rings_b))
    fa = _norm_polygon(rings_a, k)
    fb = _norm_polygon(rings_b, k)
    segs, ab_nodes = _collect_segments(fa, fb)

    directed = []
    line_pts = 0
    used_nodes: set = set()
    if isinstance(segs, tuple):
        # array fast path: side booleans, the op combine, the directed
        # selection, and the collapsed-span count all stay vectorized;
        # Python tuples materialize only for the (usually far fewer)
        # surviving boundary edges the ring tracer walks
        K, a_l, b_l = segs
        in_a, in_b = _classify_arrays(K, a_l, b_l, fa, fb)
        known_a, known_b = a_l >= 0, b_l >= 0
        aL = np.where(known_a, a_l == 1, in_a)
        aR = np.where(known_a, a_l == 0, in_a)
        bL = np.where(known_b, b_l == 1, in_b)
        bR = np.where(known_b, b_l == 0, in_b)
        if op == "intersection":
            L, R = aL & bL, aR & bR
        else:
            L, R = aL | bL, aR | bR
        sel = L != R
        rows = np.where(L[sel, None], K[sel], K[sel][:, [2, 3, 0, 1]])
        directed = [
            ((sx, sy), (ex, ey)) for sx, sy, ex, ey in rows.tolist()
        ]
        used = sel
        if op == "intersection":
            # collapsed shared boundary with no interior on either
            # side → LINESTRING span (2 points per noded span)
            line_m = known_a & known_b & ~L & ~sel
            line_pts = 2 * int(line_m.sum())
            used = sel | line_m
        u = K[used]
        used_nodes = set(zip(u[:, 0].tolist(), u[:, 1].tolist()))
        used_nodes.update(zip(u[:, 2].tolist(), u[:, 3].tolist()))
    else:
        classified = _classify(segs, fa, fb)
        for seg, aL, aR, bL, bR in classified:
            if op == "intersection":
                L, R = aL and bL, aR and bR
            else:
                L, R = aL or bL, aR or bR
            if L != R:
                directed.append((seg.s, seg.e) if L else (seg.e, seg.s))
                used_nodes.add(seg.s)
                used_nodes.add(seg.e)
            elif (
                op == "intersection"
                and seg.a_left is not None
                and seg.b_left is not None
                and not L
            ):
                line_pts += 2
                used_nodes.add(seg.s)
                used_nodes.add(seg.e)

    total = _trace_ring_points(directed) + line_pts
    if op == "intersection":
        total += sum(1 for v in ab_nodes if v not in used_nodes)
    return total


def intersection_num_points_exact(
    rings_a: list[np.ndarray], rings_b: list[np.ndarray]
) -> int:
    """GEOS ``intersection(A, B).getNumPoints()`` for two polygons
    with optional holes, ANY position (shared edges, vertex touches,
    collinear overlaps, interacting holes all supported)."""
    return _polygon_overlay_num_points(rings_a, rings_b, "intersection")


def union_num_points_exact(
    rings_a: list[np.ndarray], rings_b: list[np.ndarray]
) -> int:
    """GEOS ``union(A, B).getNumPoints()`` — holes supported, any
    position. Union of two areas is pure area (touch points become
    ring vertices; shared boundary between the interiors dissolves)."""
    return _polygon_overlay_num_points(rings_a, rings_b, "union")


# -------------------------------------------------- line kernels


def _on_path(path, m) -> bool:
    for i in range(len(path) - 1):
        if _on_seg(path[i], path[i + 1], m):
            return True
    return False


def _on_seg(a, b, m) -> bool:
    cross = (b[0] - a[0]) * (m[1] - a[1]) - (b[1] - a[1]) * (m[0] - a[0])
    if cross != 0:
        return False
    return (
        min(a[0], b[0]) <= m[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= m[1] <= max(a[1], b[1])
    )


def _line_subsegments(line, other_edges):
    """Node a polyline against another edge set. Returns (ordered
    sub-segments, node set on the line)."""
    edges_l = [(line[i], line[i + 1]) for i in range(len(line) - 1)]
    splits_l: dict[int, set] = {}
    splits_o: dict[int, set] = {}
    nodes: set = set()
    _node_edge_sets(edges_l, other_edges, splits_l, splits_o, nodes)
    return _split_edges(edges_l, splits_l), nodes, splits_o


def _span_points(subsegs, keep_flags, nodes) -> tuple[int, set]:
    """Total numPoints of the kept spans (split at every node, JTS
    convention) plus the set of points used by kept spans."""
    total = 0
    used: set = set()
    run = 0
    prev_end = None
    for (s, e), keep in zip(subsegs, keep_flags):
        if keep:
            broken = (
                run > 0 and (prev_end != s or s in nodes)
            )
            if broken:
                total += run + 1
                run = 0
            run += 1
            used.add(s)
            used.add(e)
            prev_end = e
        else:
            if run:
                total += run + 1
                run = 0
            prev_end = e
    if run:
        total += run + 1
    return total, used


def line_polygon_intersection_num_points(
    line: np.ndarray, rings: list[np.ndarray]
) -> int:
    """GEOS ``intersection(LINESTRING, POLYGON).getNumPoints()``:
    spans of the line inside-or-on the closed polygon (one LineString
    per noded span) plus isolated boundary-touch points."""
    k = _common_scale([line] + list(rings))
    lf = _to_int_path(line, k)
    pf = _norm_polygon(rings, k)
    poly_edges = [
        (ring[i], ring[(i + 1) % len(ring)])
        for ring in pf
        for i in range(len(ring))
    ]
    subs, nodes, _ = _line_subsegments(lf, poly_edges)
    fp = _FastPIP(pf)
    keeps = []
    for s, e in subs:
        m2 = (s[0] + e[0], s[1] + e[1])
        keeps.append(fp.covered2(m2))
    total, used = _span_points(subs, keeps, nodes)
    total += sum(1 for v in nodes if v not in used)
    return total


def line_polygon_union_num_points(
    line: np.ndarray, rings: list[np.ndarray]
) -> int:
    """GEOS ``union(LINESTRING, POLYGON).getNumPoints()``: the polygon
    with its rings noded where the line meets them, plus the line
    spans strictly outside the polygon."""
    k = _common_scale([line] + list(rings))
    lf = _to_int_path(line, k)
    pf = _norm_polygon(rings, k)
    ring_edge_lists = []
    poly_edges = []
    for ring in pf:
        edges = [(ring[i], ring[(i + 1) % len(ring)]) for i in range(len(ring))]
        ring_edge_lists.append((ring, edges))
        poly_edges.extend(edges)
    subs, nodes, splits_o = _line_subsegments(lf, poly_edges)
    fp = _FastPIP(pf)
    keeps = []
    for s, e in subs:
        m2 = (s[0] + e[0], s[1] + e[1])
        keeps.append(not fp.covered2(m2))
    total, _used = _span_points(subs, keeps, nodes)
    # noded polygon rings: original vertices + interior split points
    off = 0
    for ring, edges in ring_edge_lists:
        extra = set()
        for idx in range(len(edges)):
            p, q = edges[idx]
            for v in splits_o.get(off + idx, ()):  # noqa: B909
                if v != p and v != q:
                    extra.add(v)
        total += len(ring) + len(extra) + 1
        off += len(edges)
    return total


def line_line_intersection_num_points(la: np.ndarray, lb: np.ndarray) -> int:
    """GEOS ``intersection(LINESTRING, LINESTRING).getNumPoints()``:
    collinear overlap spans (2 points per noded span) plus isolated
    crossing/touch points."""
    k = _common_scale([la, lb])
    fa = _to_int_path(la, k)
    fb = _to_int_path(lb, k)
    edges_b = [(fb[i], fb[i + 1]) for i in range(len(fb) - 1)]
    subs, nodes, _ = _line_subsegments(fa, edges_b)
    fb2 = [(2 * x, 2 * y) for x, y in fb]
    keeps = []
    for s, e in subs:
        m2 = (s[0] + e[0], s[1] + e[1])
        keeps.append(_on_path(fb2, m2))
    total, used = _span_points(subs, keeps, nodes)
    total += sum(1 for v in nodes if v not in used)
    return total


def line_line_union_num_points(la: np.ndarray, lb: np.ndarray) -> int:
    """GEOS ``union(LINESTRING, LINESTRING).getNumPoints()``: both
    lines noded at their intersections, shared spans counted once."""
    k = _common_scale([la, lb])
    fa = _to_int_path(la, k)
    fb = _to_int_path(lb, k)
    edges_a = [(fa[i], fa[i + 1]) for i in range(len(fa) - 1)]
    edges_b = [(fb[i], fb[i + 1]) for i in range(len(fb) - 1)]
    subs_a, nodes_a, _ = _line_subsegments(fa, edges_b)
    subs_b, nodes_b, _ = _line_subsegments(fb, edges_a)

    def canon(s, e):
        return (s, e) if s <= e else (e, s)

    shared_a = set()
    fb2 = [(2 * x, 2 * y) for x, y in fb]
    keeps_a = []
    for s, e in subs_a:
        m2 = (s[0] + e[0], s[1] + e[1])
        sh = _on_path(fb2, m2)
        if sh:
            shared_a.add(canon(s, e))
        keeps_a.append(True)
    total_a, _ = _span_points(subs_a, keeps_a, nodes_a)
    # B spans, skipping the shared ones already counted with A
    total_b = 0
    run = 0
    prev_end = None
    for s, e in subs_b:
        if canon(s, e) in shared_a:
            if run:
                total_b += run + 1
                run = 0
            prev_end = e
            continue
        if run > 0 and (prev_end != s or s in nodes_b):
            total_b += run + 1
            run = 0
        run += 1
        prev_end = e
    if run:
        total_b += run + 1
    return total_a + total_b
