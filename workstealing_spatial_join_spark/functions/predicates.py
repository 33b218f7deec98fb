"""Arrow-batched pandas UDFs wrapping the NumPy refine kernels — the
engine's runtime predicate registry.

The reference selects its refine predicate at COMPILE time
(``#define USE_ST_INTERSECTION / USE_ST_INTERSECTS / USE_ST_UNION``,
include/global_var.h:9-12) and clones the kernel 8× through the code
(src/thread_util.cpp:412-455 et al.). Here each predicate exists once,
as a vectorized pandas UDF, selected at runtime by name.

Vectorization strategy ("prepared geometry" rebirth,
src/spatial_join.cpp:98-99): within each Arrow batch, geometries are
decoded once per UNIQUE wkb (pd.factorize), classified once
(axis-aligned rect / simple ring / complex), and the hot shapes run as
pure NumPy over all pairs at once:

* rect × rect         → closed-form bounds math, zero per-pair Python
  (intersects is the MBR test itself; intersection numPoints follows
  GEOS semantics: 5 for area overlap, 2 for edge touch, 1 for corner
  touch, 0 disjoint — src/thread_util.cpp:424-425 consumes
  intersection().getNumPoints() which returns exactly that)
* simple-ring pairs   → vertex-count-bucketed tensor kernels
* everything else     → per-pair general kernels (rare tail)

Transport: two ways to get geometry to a pair refine.

* WKB column per candidate pair (``st_*`` UDFs) — simple, but ships
  hundreds of bytes per pair through Arrow; the bottleneck at 10^7+
  candidates.
* Broadcast geometry dictionary (``make_pair_refine_broadcast``) —
  candidates carry only ids; geometry crosses the wire once per
  executor inside the broadcast. This is the reference's
  replicate-layer-to-every-thread strategy (tests/main.cpp:299-305)
  reborn.

Point-in-polygon against a collected layer has no Python refine at
all: see functions/interior_cells.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workstealing_spatial_join_spark.functions import geom as G
from workstealing_spatial_join_spark.functions import wkt as W

# Executor-lifetime decode cache — the "prepared geometry" rebirth
# (src/spatial_join.cpp:98-99): a polygon probed in many Arrow batches
# is decoded + classified from WKB exactly once per worker.
_DECODE_CACHE: dict = {}
_DECODE_CACHE_MAX = 200_000


def _decode_one(wkb: bytes):
    g = _DECODE_CACHE.get(wkb)
    if g is None:
        g = W.from_wkb(wkb)
        if len(_DECODE_CACHE) >= _DECODE_CACHE_MAX:
            _DECODE_CACHE.clear()
        _DECODE_CACHE[wkb] = g
    return g


class _GeomInfo:
    """Per-unique-geometry classification, computed once per worker."""

    __slots__ = ("parts", "ring", "rect")

    def __init__(self, parts):
        self.parts = parts
        self.ring = None
        self.rect = None
        if len(parts) == 1 and parts[0][0] == W.POLYGON and len(parts[0][1]) == 1:
            r = parts[0][1][0]
            self.ring = r
            if len(r) == 5:
                dx = r[1:, 0] - r[:-1, 0]
                dy = r[1:, 1] - r[:-1, 1]
                if bool(((dx == 0) | (dy == 0)).all()):
                    self.rect = (
                        float(r[:, 0].min()), float(r[:, 1].min()),
                        float(r[:, 0].max()), float(r[:, 1].max()),
                    )


_INFO_CACHE: dict = {}


def _geom_info(wkb_or_tuple) -> _GeomInfo:
    info = _INFO_CACHE.get(wkb_or_tuple)
    if info is None:
        wkbs = wkb_or_tuple if isinstance(wkb_or_tuple, tuple) else (wkb_or_tuple,)
        parts = [g for w in wkbs for g in _decode_one(w)]
        info = _GeomInfo(parts)
        if len(_INFO_CACHE) >= _DECODE_CACHE_MAX:
            _INFO_CACHE.clear()
        _INFO_CACHE[wkb_or_tuple] = info
    return info


# ------------------------------------------------------- point in poly


def _contains_xy_core(
    codes: np.ndarray, infos, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Closed point-in-polygon of row k's point in ``infos[codes[k]]``
    (``_GeomInfo`` objects, parts OR'd). Single-ring polygons are
    bucketed by vertex count into (m, nv, 2) tensors, and the ray-cast
    runs as pure NumPy over all (point, polygon) pairs at once. Only
    polygons with holes / multiparts take ``geom.polygon_contains_xy``,
    once per polygon over its rows.
    """
    out = np.zeros(len(xs), dtype=bool)

    # partition infos: simple (one part, one ring) vs complex
    buckets: dict[int, list[int]] = {}
    is_complex = np.zeros(len(infos), dtype=bool)
    for u, info in enumerate(infos):
        if info.ring is not None:
            buckets.setdefault(len(info.ring), []).append(u)
        else:
            is_complex[u] = True

    # vectorized path: per vertex-count bucket, gather paired tensors
    bucket_of = np.full(len(infos), -1, dtype=np.int64)
    within = np.zeros(len(infos), dtype=np.int64)
    tensors = {}
    for bid, (_nv, members) in enumerate(buckets.items()):
        tensors[bid] = np.stack([infos[u].ring for u in members])
        for j, u in enumerate(members):
            bucket_of[u] = bid
            within[u] = j
    row_bucket = bucket_of[codes]
    for bid, tensor in tensors.items():
        mask = row_bucket == bid
        if not mask.any():
            continue
        ring_idx = within[codes[mask]]
        out[mask] = G.contains_xy_pairs_bucketed(
            tensor[ring_idx], xs[mask], ys[mask]
        )

    rows = np.nonzero(is_complex[codes])[0]
    rows = rows[np.argsort(codes[rows], kind="stable")]
    cuts = np.nonzero(np.diff(codes[rows]))[0] + 1
    for grp in np.split(rows, cuts) if len(rows) else ():
        res = np.zeros(len(grp), dtype=bool)
        for gtype, rings in infos[codes[grp[0]]].parts:
            if gtype == W.POLYGON:
                res |= G.polygon_contains_xy(rings, xs[grp], ys[grp])
        out[grp] = res
    return out


@F.pandas_udf(T.BooleanType())
def st_contains_xy(poly_wkb: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """Closed point-in-polygon with the geometry shipped per row
    (WKB column through Arrow) — the refine of a PIP join whose polygon
    layer was not collected; a collected layer refines in Catalyst
    instead (functions/interior_cells.py)."""
    xs = x.to_numpy(dtype=np.float64)
    ys = y.to_numpy(dtype=np.float64)
    codes, uniques = pd.factorize(poly_wkb)
    # factorize codes nulls as -1, which would WRAP to the last unique
    # via negative indexing — null geometry contains nothing
    out = np.zeros(len(codes), dtype=bool)
    ok = codes >= 0
    if ok.any():
        infos = [_geom_info(u) for u in uniques]
        out[ok] = _contains_xy_core(codes[ok], infos, xs[ok], ys[ok])
    return pd.Series(out)


def _id_wkb_table(ids, wkbs) -> dict:
    """{id: wkb or (wkb, ...)} over an Arrow id column and WKB column."""
    id_to_wkbs: dict = {}
    for pid, wkb in zip(ids.to_pylist(), wkbs.to_pylist()):
        id_to_wkbs.setdefault(pid, []).append(bytes(wkb))
    return {
        pid: tuple(ws) if len(ws) > 1 else ws[0] for pid, ws in id_to_wkbs.items()
    }


# ------------------------------------------- pairwise refine core

# The ONLY exceptions the refine loop maps to 0/False — the parity
# for GEOS TopologyException on unclassifiable input (the reference
# swallows those, src/thread_util.cpp:427-429). Everything else
# (MemoryError, genuine kernel bugs) propagates: a silent 0 on an OOM
# is a wrong answer, not parity. IndexError/ValueError cover malformed
# decoded rings reaching the NumPy kernels.


def _refine_swallow_types():
    from workstealing_spatial_join_spark.functions.overlay import (
        DegenerateGeometry,
    )
    from workstealing_spatial_join_spark.functions.overlay_exact import (
        InvalidOverlay,
    )

    return (DegenerateGeometry, InvalidOverlay, IndexError, ValueError)


_REFINE_SWALLOW = _refine_swallow_types()


def _gather_rect_bounds(infos) -> np.ndarray:
    """(n_uniques, 4) bounds array; NaN rows for non-rect uniques."""
    arr = np.full((len(infos), 4), np.nan, dtype=np.float64)
    for i, info in enumerate(infos):
        if info.rect is not None:
            arr[i] = info.rect
    return arr


def _rect_overlap_wh(ba: np.ndarray, bb: np.ndarray):
    """Vectorized overlap extent of paired rect bounds rows: the exact
    expressions (min(maxx)-max(minx)) the SQL oracle uses — identical
    IEEE results."""
    w = np.minimum(ba[:, 2], bb[:, 2]) - np.maximum(ba[:, 0], bb[:, 0])
    h = np.minimum(ba[:, 3], bb[:, 3]) - np.maximum(ba[:, 1], bb[:, 1])
    return w, h


def _rect_intersection_np(w: np.ndarray, h: np.ndarray) -> np.ndarray:
    """GEOS intersection().getNumPoints() for two axis-aligned rects:
    positive-area overlap → 5-point closed ring; degenerate overlap →
    LINESTRING (2) on an edge touch or POINT (1) on a corner touch;
    disjoint → 0."""
    return np.select(
        [(w < 0) | (h < 0), (w > 0) & (h > 0), (w == 0) & (h == 0)],
        [0, 5, 1],
        default=2,
    ).astype(np.int64)


def _rect_union_np(ba: np.ndarray, bb: np.ndarray) -> np.ndarray:
    """GEOS union().getNumPoints() for two axis-aligned rects in
    GENERAL POSITION with positive-area overlap: every union ring
    vertex is an original corner outside the other rect or a proper
    boundary crossing; crossings = 4 - cornersA-in-B - cornersB-in-A
    (the intersection rectangle's corners are each either a crossing
    or an interior original corner), giving
    numPoints = (4-cA) + (4-cB) + (4-cA-cB) + 1 = 13 - 2*(cA+cB).
    Callers route non-generic pairs (touching, shared coordinates) to
    the per-pair kernel instead."""
    def corners_in(b_out, b_in):
        cx = np.stack([b_out[:, 0], b_out[:, 0], b_out[:, 2], b_out[:, 2]], axis=1)
        cy = np.stack([b_out[:, 1], b_out[:, 3], b_out[:, 1], b_out[:, 3]], axis=1)
        inside = (
            (cx > b_in[:, 0][:, None]) & (cx < b_in[:, 2][:, None])
            & (cy > b_in[:, 1][:, None]) & (cy < b_in[:, 3][:, None])
        )
        return inside.sum(axis=1)

    ca = corners_in(ba, bb)
    cb = corners_in(bb, ba)
    return (13 - 2 * (ca + cb)).astype(np.int64)


def _rect_generic_position(ba: np.ndarray, bb: np.ndarray) -> np.ndarray:
    """No shared coordinate values on either axis — every crossing is
    proper and every corner is strictly in or out."""
    gx = (
        (ba[:, 0] != bb[:, 0]) & (ba[:, 0] != bb[:, 2])
        & (ba[:, 2] != bb[:, 0]) & (ba[:, 2] != bb[:, 2])
    )
    gy = (
        (ba[:, 1] != bb[:, 1]) & (ba[:, 1] != bb[:, 3])
        & (ba[:, 3] != bb[:, 1]) & (ba[:, 3] != bb[:, 3])
    )
    return gx & gy


def _part_intersection_num_points(ta, ra, tb, rb) -> int:
    """GEOS ``intersection(part_a, part_b).getNumPoints()`` for ANY
    type pair — the reference refines mixed geometry too (type codes
    1/2/3 coerced at src/mpi_util.cpp:1080-1099, refined at
    src/thread_util.cpp:424-425). Polygons take the float GH fast
    path with the exact-arrangement fallback; lines ride the exact
    kernel; points are closed-containment tests."""
    from workstealing_spatial_join_spark.functions import overlay as OV
    from workstealing_spatial_join_spark.functions import overlay_exact as OX

    if ta > tb:  # normalize: point <= line <= polygon
        ta, ra, tb, rb = tb, rb, ta, ra
    if ta == W.POINT:
        x, y = float(ra[0][0, 0]), float(ra[0][0, 1])
        if tb == W.POINT:
            return int(x == rb[0][0, 0] and y == rb[0][0, 1])
        if tb == W.LINESTRING:
            return int(bool(_point_on_path_one(rb[0], x, y)))
        return int(bool(
            G.polygon_contains_xy(rb, np.array([x]), np.array([y]))[0]
        ))
    if ta == W.LINESTRING:
        if tb == W.LINESTRING:
            return OX.line_line_intersection_num_points(ra[0], rb[0])
        return OX.line_polygon_intersection_num_points(ra[0], rb)
    return OV.polygon_intersection_num_points(ra, rb)


def _part_union_num_points(ta, ra, tb, rb) -> int:
    """GEOS ``union(part_a, part_b).getNumPoints()`` for any type
    pair (src/thread_util.cpp:435-441): a covered point/line vanishes
    into the other geometry; disjoint parts form a collection; lines
    and rings are noded at their intersections (JTS retains nodes)."""
    from workstealing_spatial_join_spark.functions import overlay as OV
    from workstealing_spatial_join_spark.functions import overlay_exact as OX

    if ta > tb:
        ta, ra, tb, rb = tb, rb, ta, ra
    if ta == W.POINT:
        x, y = float(ra[0][0, 0]), float(ra[0][0, 1])
        if tb == W.POINT:
            return 1 if (x == rb[0][0, 0] and y == rb[0][0, 1]) else 2
        if tb == W.LINESTRING:
            covered = bool(_point_on_path_one(rb[0], x, y))
            return int(len(rb[0])) + (0 if covered else 1)
        covered = bool(
            G.polygon_contains_xy(rb, np.array([x]), np.array([y]))[0]
        )
        return int(sum(len(r) for r in rb)) + (0 if covered else 1)
    if ta == W.LINESTRING:
        if tb == W.LINESTRING:
            return OX.line_line_union_num_points(ra[0], rb[0])
        return OX.line_polygon_union_num_points(ra[0], rb)
    return OV.polygon_union_num_points(ra, rb)


def _point_on_path_one(path: np.ndarray, x: float, y: float) -> bool:
    from workstealing_spatial_join_spark.functions.geom import _point_on_path

    return bool(_point_on_path(path, np.array([x]), np.array([y]))[0])


def _pair_intersection_num_points(info_a: _GeomInfo, info_b: _GeomInfo) -> int:
    """Per-pair fallback: sum of part-pair intersection numPoints
    over ALL type combinations (multipart semantics: parts refined
    pairwise and summed)."""
    n = 0
    for ta, ra in info_a.parts:
        for tb, rb in info_b.parts:
            n += _part_intersection_num_points(ta, ra, tb, rb)
    return n


def _pair_union_num_points(info_a: _GeomInfo, info_b: _GeomInfo) -> int:
    n = 0
    for ta, ra in info_a.parts:
        for tb, rb in info_b.parts:
            n += _part_union_num_points(ta, ra, tb, rb)
    return n


def refine_pairs_core(
    codes_a: np.ndarray,
    uniques_a,
    codes_b: np.ndarray,
    uniques_b,
    predicate: str,
) -> np.ndarray:
    """Vectorized pairwise refine over factorized geometry columns.
    Returns bool for 'intersects', int64 numPoints otherwise.

    Routing (fastest first):
      rect×rect   → closed-form bounds math (all driver rect layers)
      ring×ring   → vertex-count-bucketed tensor kernel (intersects)
                    or per-pair general clipper (numPoints)
      complex     → per-pair general kernels
    """
    infos_a = [_geom_info(u) for u in uniques_a]
    infos_b = [_geom_info(u) for u in uniques_b]
    n = len(codes_a)

    rect_mask_a = np.array([i.rect is not None for i in infos_a], dtype=bool)
    rect_mask_b = np.array([i.rect is not None for i in infos_b], dtype=bool)
    both_rect = rect_mask_a[codes_a] & rect_mask_b[codes_b]
    bounds_a = _gather_rect_bounds(infos_a)[codes_a]
    bounds_b = _gather_rect_bounds(infos_b)[codes_b]

    if predicate == "intersects":
        out = np.zeros(n, dtype=bool)
        if both_rect.any():
            # a rect IS its MBR: closed intersects == MBR overlap
            w, h = _rect_overlap_wh(bounds_a[both_rect], bounds_b[both_rect])
            out[both_rect] = (w >= 0) & (h >= 0)
        rest = np.nonzero(~both_rect)[0]
        if len(rest):
            out[rest] = _intersects_general(
                codes_a[rest], infos_a, codes_b[rest], infos_b
            )
        return out

    out = np.zeros(n, dtype=np.int64)
    if predicate == "intersection_numpoints":
        if both_rect.any():
            w, h = _rect_overlap_wh(bounds_a[both_rect], bounds_b[both_rect])
            out[both_rect] = _rect_intersection_np(w, h)
        rest = np.nonzero(~both_rect)[0]
        for i in rest:
            try:
                out[i] = _pair_intersection_num_points(
                    infos_a[codes_a[i]], infos_b[codes_b[i]]
                )
            except _REFINE_SWALLOW:
                # GEOS-TopologyException parity ONLY (invalid input →
                # 0, thread_util.cpp:427-429); MemoryError and real
                # bugs must propagate, never silently contribute 0
                out[i] = 0
        return out

    if predicate == "union_numpoints":
        vec = both_rect.copy()
        if vec.any():
            w, h = _rect_overlap_wh(bounds_a[vec], bounds_b[vec])
            generic = (
                (w > 0) & (h > 0)
                & _rect_generic_position(bounds_a[vec], bounds_b[vec])
            )
            idx = np.nonzero(vec)[0][generic]
            vals = _rect_union_np(bounds_a[idx], bounds_b[idx])
            out[idx] = vals
            vec = np.zeros(n, dtype=bool)
            vec[idx] = True
        rest = np.nonzero(~vec)[0]
        for i in rest:
            try:
                out[i] = _pair_union_num_points(
                    infos_a[codes_a[i]], infos_b[codes_b[i]]
                )
            except _REFINE_SWALLOW:
                out[i] = 0
        return out

    raise ValueError(f"unknown predicate {predicate!r}")


def _intersects_general(codes_a, infos_a, codes_b, infos_b) -> np.ndarray:
    """Non-rect intersects: bucketed tensor kernel for simple-ring
    pairs, general per-pair fallback for multiparts/holes."""
    m = len(codes_a)
    out = np.zeros(m, dtype=bool)
    buckets: dict[tuple[int, int], list[int]] = {}
    fallback: list[int] = []
    for i in range(m):
        ra = infos_a[codes_a[i]].ring
        rb = infos_b[codes_b[i]].ring
        if ra is not None and rb is not None:
            buckets.setdefault((len(ra), len(rb)), []).append(i)
        else:
            fallback.append(i)
    for (_nva, _nvb), idxs in buckets.items():
        idx = np.asarray(idxs)
        ta = np.stack([infos_a[codes_a[i]].ring for i in idxs])
        tb = np.stack([infos_b[codes_b[i]].ring for i in idxs])
        out[idx] = G.intersects_pairs_bucketed(ta, tb)
    for i in fallback:
        try:
            out[i] = any(
                G.intersects(pa, pb)
                for pa in infos_a[codes_a[i]].parts
                for pb in infos_b[codes_b[i]].parts
            )
        except _REFINE_SWALLOW:
            out[i] = False
    return out


# --------------------------------------------- WKB-column predicates


def _factorize_refine(wkb_a: pd.Series, wkb_b: pd.Series, predicate: str):
    codes_a, uniques_a = pd.factorize(wkb_a)
    codes_b, uniques_b = pd.factorize(wkb_b)
    # factorize marks nulls with code -1, which would WRAP to the last
    # unique via negative indexing — null geometry matches nothing
    ok = (codes_a >= 0) & (codes_b >= 0)
    if ok.all():
        return refine_pairs_core(
            codes_a, uniques_a, codes_b, uniques_b, predicate
        )
    out = np.zeros(
        len(codes_a), dtype=bool if predicate == "intersects" else np.int64
    )
    if ok.any():
        out[ok] = refine_pairs_core(
            codes_a[ok], uniques_a, codes_b[ok], uniques_b, predicate
        )
    return out


@F.pandas_udf(T.BooleanType())
def st_intersects(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """Exact ST_Intersects refine (J2/J5 ST_INTERSECTS mode,
    src/spatial_join.cpp:94-118)."""
    return pd.Series(_factorize_refine(wkb_a, wkb_b, "intersects"))


@F.pandas_udf(T.LongType())
def st_intersection_num_points(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """numPoints of the pairwise intersection (J5 ST_INTERSECTION mode,
    src/thread_util.cpp:424-425), with GEOS degenerate-touch semantics
    (5 area / 2 edge / 1 corner / 0 disjoint for rects)."""
    return pd.Series(_factorize_refine(wkb_a, wkb_b, "intersection_numpoints"))


@F.pandas_udf(T.LongType())
def st_union_num_points(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """numPoints of the pairwise union (J5 ST_UNION mode,
    src/thread_util.cpp:435-441)."""
    return pd.Series(_factorize_refine(wkb_a, wkb_b, "union_numpoints"))


# ------------------------------------- broadcast pair-dict transport


def make_pair_refine_broadcast(
    spark, left_ids, left_wkbs, right_ids, right_wkbs, predicate: str
):
    """Build a refine(l_id, r_id) pandas UDF over BROADCAST geometry
    dictionaries for BOTH layers, each given as its Arrow id and WKB
    columns: candidate pairs carry only two ids
    through Arrow — no WKB bytes per pair. This is the default transport
    whenever both layers fit on the driver (plans/planner.py); at
    scale beyond that the cogroup strategy ships each geometry once
    per covering cell instead (operators/cogroup_join.py)."""
    if predicate not in ("intersects", "intersection_numpoints", "union_numpoints"):
        raise ValueError(f"unknown predicate {predicate!r}")
    bc_l = spark.sparkContext.broadcast(_id_wkb_table(left_ids, left_wkbs))
    bc_r = spark.sparkContext.broadcast(_id_wkb_table(right_ids, right_wkbs))
    ret = T.BooleanType() if predicate == "intersects" else T.LongType()

    @F.pandas_udf(ret)
    def refine_bc(l_id: pd.Series, r_id: pd.Series) -> pd.Series:
        tl, tr = bc_l.value, bc_r.value
        codes_a, uniq_a = pd.factorize(l_id)
        codes_b, uniq_b = pd.factorize(r_id)
        uniques_a = [tl[i] for i in uniq_a]
        uniques_b = [tr[i] for i in uniq_b]
        return pd.Series(
            refine_pairs_core(codes_a, uniques_a, codes_b, uniques_b, predicate)
        )

    return refine_bc


# ------------------------------------------------------------ validity


@F.pandas_udf(T.BooleanType())
def st_is_valid(wkb: pd.Series) -> pd.Series:
    """Geometry validity (F6): structural checks + ring simplicity +
    hole containment (functions/geom.is_valid_geom). Decoded once per
    unique WKB per batch; parse failures are invalid."""
    codes, uniques = pd.factorize(wkb)
    valid = np.zeros(len(uniques), dtype=bool)
    for u, w in enumerate(uniques):
        try:
            parts = _decode_one(bytes(w))
            valid[u] = all(G.is_valid_geom(t, rings) for t, rings in parts)
        except Exception:
            valid[u] = False
    out = np.zeros(len(codes), dtype=bool)  # null geometry → invalid
    ok = codes >= 0
    out[ok] = valid[codes[ok]]
    return pd.Series(out)


PREDICATES = {
    "contains_xy": st_contains_xy,
    "intersects": st_intersects,
    "intersection_numpoints": st_intersection_num_points,
    "union_numpoints": st_union_num_points,
}

# Nondeterministic COPIES for call sites that need to pin a UDF above
# a filter (pairs-mode numPoints). asNondeterministic() MUTATES the
# receiver in place, so marking the shared registry objects would
# permanently change every other plan in the session — these are
# fresh wrappers around the same kernels.
PREDICATES_ND = {
    name: F.pandas_udf(udf.func, udf.returnType).asNondeterministic()
    for name, udf in PREDICATES.items()
}


_AREA_CENTROID_TYPE = T.StructType([
    T.StructField("area2", T.LongType()),
    T.StructField("cx", T.DoubleType()),
    T.StructField("cy", T.DoubleType()),
])


@F.pandas_udf(_AREA_CENTROID_TYPE)
def st_area_centroid(geom_wkb: pd.Series) -> pd.DataFrame:
    """Scalar geometry measures (SURVEY §2.5 function family):
    integer-exact shoelace area (``area2`` = 2·area in 10^-6
    square-degree units) + centroid, per WKB geometry. The shoelace
    runs on the 1/1000° lattice in int64 (geom.area_centroid_scaled),
    so the SQL twin — the same cross-product sums over the fixture's
    scaled-integer vertex table — is bit-identical with no rounding
    bridge; cx/cy are one IEEE division of identical operands.
    Duplicate geometries decode once per batch (factorize)."""
    codes, uniques = pd.factorize(geom_wkb)
    vals = []
    for buf in uniques:
        if buf is None:
            vals.append((0, None, None))
            continue
        a2, cnx, cny = G.area_centroid_scaled(W.from_wkb(bytes(buf)))
        if a2 == 0:
            vals.append((0, None, None))
        else:
            den = (3.0 * float(a2)) * 1000.0
            vals.append((a2, float(cnx) / den, float(cny) / den))
    null = (0, None, None)
    rows = [vals[c] if c >= 0 else null for c in codes]
    return pd.DataFrame(rows, columns=["area2", "cx", "cy"])


def make_simplify(eps: float):
    """WKB→WKB Douglas-Peucker simplify UDF (functions/geom.simplify_dp
    — closed-chain aware, never invalidates a polygon ring). eps is
    bound at construction so the Arrow batch carries only geometry."""

    @F.pandas_udf(T.BinaryType())
    def st_simplify(geom_wkb: pd.Series) -> pd.Series:
        codes, uniques = pd.factorize(geom_wkb)
        outs = []
        for buf in uniques:
            if buf is None:
                outs.append(None)
                continue
            parts = W.from_wkb(bytes(buf))
            gtype, rings = parts[0]
            gtype, rings = G.simplify_geom(gtype, rings, eps)
            outs.append(W.to_wkb(gtype, rings))
        return pd.Series([outs[c] if c >= 0 else None for c in codes])

    return st_simplify


@F.pandas_udf(T.BinaryType())
def st_convex_hull(geom_wkb: pd.Series) -> pd.Series:
    """WKB→WKB convex hull (monotone chain over every vertex of every
    ring/part). Output is a closed CCW POLYGON ring (degenerate ≤2-
    point hulls return a POINT / LINESTRING)."""
    codes, uniques = pd.factorize(geom_wkb)
    outs = []
    for buf in uniques:
        if buf is None:
            outs.append(None)
            continue
        pts = np.vstack(
            [r for _, rings in W.from_wkb(bytes(buf)) for r in rings]
        )
        h = G.convex_hull(pts)
        if len(h) == 1:
            outs.append(W.to_wkb(W.POINT, [h]))
        elif len(h) == 2:
            outs.append(W.to_wkb(W.LINESTRING, [h]))
        else:
            outs.append(W.to_wkb(W.POLYGON, [np.vstack([h, h[:1]])]))
    return pd.Series([outs[c] if c >= 0 else None for c in codes])
