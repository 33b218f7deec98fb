"""kNN join via grid k-ring expansion with distance refinement (J6 —
required by the north_rule; the reference has no kNN, SURVEY.md §2.3).

Plan per round (all Catalyst — there is NO Python in this operator):

    queries → own cell → level lq (split-table lookup)
            → box around q, radius R = r·cell_deg / 2^lq
            → explode the coarse cells the box meets, then, inside each
              split cell, the fine indices the box meets
            → equi-join candidates on (cell_id, sub)
            → euclidean distance (codegen'd)
            → Window row_number per query ≤ k (the only window)

Density-adaptive cells (the planar join's answer to skew — the
reference balances a hot partition by work stealing, this engine
refines the grid where the points are). One aggregate over the
candidate layer (``_profile_rows``) yields the layer's mean density,
which sizes the first ring, and the exact counts of its densest cells.
A cell holding n points at mean density ρ gets a level
L = floor(log4(n / ρ)), capped at ``SPLIT_MAX_LEVEL`` (``_split_level``
has the full rule): its 2^L × 2^L fine cells then hold about as many
points as a coarse cell of the mean layer. The small split table of
(cell_id, L) rides in the plan as one hashed id set per level, so it
reaches every task with the stage's broadcast task binary — no lookup
join, no extra job, and the corpus is never shuffled for it (a
broadcast-hash lookup join measured one extra job per round, and its
size estimate turned the cover's static broadcast into a shuffle of
the whole candidate layer). A candidate's key is (cell_id, sub), where sub
is its fine index ``floor(u · 2^L)`` (u the grid's own
``(coord + 180) / cell_deg`` arithmetic, relative to the cell) in a
split cell and 0 elsewhere. A query in a cell of level lq searches
the radius R = r·cell_deg / 2^lq, so a query in the hot cell meets a
few dozen fine cells instead of the whole cell.

Correctness rule: the box is the query's own fine ring in u-space,
[(f − r) / 2^lq, (f + r + 1) / 2^lq) per axis (f its fine index) —
exact dyadic bounds that contain every u within r / 2^lq of the
query. The cover applies the candidate side's monotone floor and
clamp to those bounds at each cell's own level, so every candidate
within R is seen. A query is SETTLED when it has ≥k candidates and
its k-th distance is STRICTLY below R; every unseen candidate is
farther than R, so a settled top-k is exact. Unsettled queries re-run
with a doubled ring (driver loop over a shrinking distributed
DataFrame — the moral analog of the reference's iterative work
redistribution, but expressed as dataflow). The round at ``max_ring``
is final for everyone and searches the coarse ring (lq = 0), exactly
the unsplit operator's last round.

Profile memo (the reference builds its filter index once and probes
it with every batch). The profile rows above — the grand total plus the
densest cells — depend on neither k nor the ring, so a candidate layer
served whole from Spark's cache is profiled once: ``_candidate_profile``
keeps the rows and the keyed candidate frame under (the SparkContext,
which fixes the py4j gateway, the RDD id of the cached relation's
column buffers, the three column names, cell_deg). Spark builds a new buffer RDD on
every cache or re-cache, so unpersisting and re-caching a corpus (after
its files change, say) gives a new key and a fresh profile. Any other
frame is profiled on every call. ``_PROFILE_SLOTS`` bounds the memo
(least recently used out). Both kNN joins read the same profile; the
great-circle join takes only its grand-total row.

Round bookkeeping by observation (``_settle_rounds``). Each round is
ONE checkpoint job, and two ``Observation``s ride in it: the rows of
the round's query input (on the query side, below the cover broadcast)
and the settled rank-k rows — a query settles when its rank-k row has a
distance strictly below its reach, so no window beyond the top-k's own
``row_number`` is needed. Equal counts mean every query settled, and the
checkpoint is the answer as it is. Only when they differ (duplicated
query ids, or queries with fewer than k candidates this round) does the
loop run one distinct count of the remaining ids, read the settled ids
from the checkpoint's rank-k rows, and continue by subtraction. A cached
query frame is read as it is; any other is checkpointed once.

Construction cost. A steady round is built from memoized expressions
(functions/exprs.py): every SQL piece, window, filter, observation
aggregate and projection column list is parsed once per process, so a
warm ``knn_join`` on cached inputs costs a few dozen py4j round trips
(``scripts/construction_cost.py`` counts them).

Distances are planar-euclidean on lon/lat degrees (matches the DuckDB
oracle exactly); no longitude wrap (documented limitation).
"""

from __future__ import annotations

import math
import threading
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.functions.exprs import ccol, cexpr, cselect, dlit
from workstealing_spatial_join_spark.functions.grid import (
    _spark_sql_cell_x,
    _spark_sql_cell_y,
)

# finest split level: a split cell has at most 4**SPLIT_MAX_LEVEL fine
# cells, so a pile of points on one coordinate cannot blow up the
# cover explode of a query whose box spans the whole cell
SPLIT_MAX_LEVEL = 8
# the split table keeps at most this many of the densest cells; the
# rest stay coarse (slower for their queries, never inexact)
SPLIT_MAX_CELLS = 256
# profiled cached candidate layers kept (least recently used out)
_PROFILE_SLOTS = 8
_profiles: OrderedDict = OrderedDict()
_profiles_lock = threading.Lock()


def _ring_cells(df: DataFrame, r: int, cell_deg: float) -> DataFrame:
    # memoized name-based expressions (functions/exprs.py): the ring
    # explode is rebuilt once per (r, cell_deg) per process instead
    # of paying ~100 py4j round trips per query
    nx, ny = GRID.grid_dims(cell_deg)
    cx = _spark_sql_cell_x("qx", cell_deg)
    cy = _spark_sql_cell_y("qy", cell_deg)
    out = df.withColumn(
        "ring_x",
        cexpr(
            f"explode(sequence(GREATEST({cx} - {int(r)}L, 0L), "
            f"LEAST({cx} + {int(r)}L, {nx - 1}L)))"
        ),
    ).withColumn(
        "ring_y",
        cexpr(
            f"explode(sequence(GREATEST({cy} - {int(r)}L, 0L), "
            f"LEAST({cy} + {int(r)}L, {ny - 1}L)))"
        ),
    )
    return out.withColumn(
        "cell_id", cexpr("ring_x * 4294967296L + ring_y")
    ).drop("ring_x", "ring_y")


EARTH_RADIUS_KM = 6371.0088  # IUGG mean radius
_KM_PER_DEG = EARTH_RADIUS_KM * 3.141592653589793 / 180.0  # ≈ 111.195


def _haversine_km_sql(qx: str, qy: str, cx: str, cy: str) -> str:
    """Great-circle distance in km between the points in SQL columns
    ``qx, qy`` and ``cx, cy`` — pure Catalyst (sin/cos/asin are JVM
    intrinsics; no Python)."""
    rad = dlit(3.141592653589793 / 180.0)
    dlat = f"(({cy} - {qy}) * {rad})"
    dlon = f"(({cx} - {qx}) * {rad})"
    a = (
        f"SIN({dlat} / 2) * SIN({dlat} / 2) + COS({qy} * {rad}) * COS({cy} * {rad})"
        f" * SIN({dlon} / 2) * SIN({dlon} / 2)"
    )
    return f"{dlit(2.0 * EARTH_RADIUS_KM)} * ASIN(SQRT({a}))"


def _density_ring(stats, k: int, cell_deg: float,
                  max_ring: int) -> tuple[float, int]:
    """(density, first ring) from a layer's point count ``n`` and
    bounding box ``x0..y1``. Density is per cell of the candidate
    BOUNDING BOX (occupied-cell density over-estimates sparse layers —
    most ring cells are empty).

    Sizing rule: a query SETTLES at ring r only when its k-th
    neighbor lies strictly inside the guaranteed radius r·cell_deg —
    the circle INSCRIBED in the (2r+1)² ring box, not the box itself
    (round 2 targeted ~4k candidates in the box; at the bench density
    that picked r=1, whose inscribed circle holds barely k expected
    points, so half the queries paid ~4 extra doubling rounds — the
    knn_images 7.2→8.5 s regression). Target E[points within r·cd] =
    density·π·r² ≥ 3k+7: the +7 keeps the Poisson tail small at SMALL
    k too (P(Poisson(3k)<k) is only ~5% at k=1 — e⁻³ — and ~2% at
    k=2-3; with λ=3k+7, P(Poisson(λ)<k) < 1e-4 for every k ≥ 1), so
    round 1 settles all but genuinely sparse-region queries."""
    if not stats["n"]:
        return 0.0, 1
    cells = max(
        1.0,
        ((stats["x1"] - stats["x0"]) / cell_deg + 1)
        * ((stats["y1"] - stats["y0"]) / cell_deg + 1),
    )
    density = stats["n"] / cells  # points per cell == per cell_deg²
    return density, max(1, min(
        max_ring,
        math.ceil(
            math.sqrt((3.0 * k + 7.0) / (math.pi * max(density, 1e-12)))
        ),
    ))


def _split_level(n: int, density: float, k: int, r0: int) -> int:
    """Split level of a cell holding ``n`` points; 0 = not split.

    L = floor(log4(n / density)), capped at ``SPLIT_MAX_LEVEL`` and at
    floor(log4(n·π·r0² / (3k+7))) — the level at which the cell's own
    points, spread evenly, still put 3k+7 of them inside the first
    fine ring (for the auto ring this is the looser of the two; it
    binds when a caller passes a small ``initial_ring``). A cell is
    split only when its fine ring is smaller than one coarse cell
    (2^L > r0): a larger ring spans the whole cell anyway, so the
    split would only shrink the radius and add rounds."""
    room = n * min(1.0 / density, math.pi * r0 * r0 / (3.0 * k + 7.0))
    level = 0
    while level < SPLIT_MAX_LEVEL and 4 ** (level + 1) <= room:
        level += 1
    return level if (1 << level) > r0 else 0


def _split_table(
    rows: list, k: int, cell_deg: float, initial_ring, max_ring: int
) -> tuple[int, list[tuple[int, int]]]:
    """(first ring, split table) from a layer's profile rows: the
    grand total sizes the first ring (``_density_ring``) and each of
    the densest cells gets its ``_split_level``."""
    if not rows:  # empty layer: no grand-total row either
        return (1 if initial_ring == "auto" else initial_ring), []
    density, ring = _density_ring(rows[0], k, cell_deg, max_ring)
    r0 = ring if initial_ring == "auto" else initial_ring
    split = []
    for row in rows[1:]:
        level = _split_level(row["n"], density, k, r0)
        if level and row["cell_id"] is not None:
            split.append((row["cell_id"], level))
    return r0, split


def _cache_buffers_id(df: DataFrame) -> int | None:
    """RDD id of the column buffers of the cached relation that serves
    the WHOLE of ``df``, None when ``df`` is not one cached relation.
    Spark builds a new buffer RDD on every cache or re-cache, so the
    id names one materialization of the data."""
    plan = df._jdf.queryExecution().withCachedData()
    if plan.nodeName() != "InMemoryRelation":
        return None
    return plan.cacheBuilder().cachedColumnBuffers().id()


@dataclass
class _Profile:
    """A candidate layer ``c`` (neighbor_id, cx, cy, cell_id) and its
    rollup ``rows``: the grand total (count and bounding box) first,
    then the ``SPLIT_MAX_CELLS`` densest cells. ``keyed`` holds the
    (cell_id, sub)-keyed frame of the last split table asked for."""

    c: DataFrame
    rows: list
    keyed: tuple | None = None

    def keyed_frame(self, split: list[tuple[int, int]], cell_deg: float) -> DataFrame:
        if self.keyed is None or self.keyed[0] != split:
            frame = (
                self.c.withColumn("lvl", cexpr(_level_sql("cell_id", split)))
                .withColumn("sub", cexpr(_candidate_sub_sql(cell_deg)))
                .drop("lvl")
            )
            self.keyed = (split, frame)
        return self.keyed[1]


def _candidate_frame(candidates: DataFrame, cand_id: str, c_lon: str,
                     c_lat: str, cell_deg: float) -> DataFrame:
    """(neighbor_id, cx, cy, cell_id) of the candidate layer."""
    return candidates.select(
        ccol(cand_id, "neighbor_id"), ccol(c_lon, "cx"), ccol(c_lat, "cy"),
    ).withColumn("cell_id", GRID.cell_id_named("cx", "cy", cell_deg))


def _profile_rows(c: DataFrame) -> list:
    """ONE aggregate over the candidate layer: a rollup on cell_id gives
    the exact per-cell counts and, in its grand-total row, the count
    and bounding box behind the mean density. Ordering by (grand total
    first, count desc) under a limit collects the total plus the
    ``SPLIT_MAX_CELLS`` densest cells — bounded driver cost whatever
    the number of occupied cells."""
    return (
        c.rollup("cell_id")
        .agg(
            F.grouping_id().alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.min("cx").alias("x0"), F.max("cx").alias("x1"),
            F.min("cy").alias("y0"), F.max("cy").alias("y1"),
        )
        .orderBy(F.desc("total"), F.desc("n"))
        .limit(SPLIT_MAX_CELLS + 1)
        .collect()
    )


def _candidate_profile(candidates: DataFrame, cand_id: str, c_lon: str,
                       c_lat: str, cell_deg: float) -> _Profile:
    """The candidate layer and its profile, memoized when
    ``candidates`` is served whole from the cache (module doc). The key
    carries the SparkContext (and so its py4j gateway) because RDD ids
    restart with every context."""
    key = None
    buffers = _cache_buffers_id(candidates)
    if buffers is not None:
        key = (candidates.sparkSession.sparkContext, buffers,
               cand_id, c_lon, c_lat, float(cell_deg))
        with _profiles_lock:
            hit = _profiles.get(key)
            if hit is not None:
                _profiles.move_to_end(key)
                return hit
    c = _candidate_frame(candidates, cand_id, c_lon, c_lat, cell_deg)
    profile = _Profile(c, _profile_rows(c))
    if key is not None:
        with _profiles_lock:
            _profiles[key] = profile
            while len(_profiles) > _PROFILE_SLOTS:
                _profiles.popitem(last=False)
    return profile


def _haversine_ring_cover(
    q: DataFrame, radius_km: float, cell_deg: float
) -> DataFrame:
    """Explode query rows (qx, qy) into every cell that can hold a
    point within ``radius_km`` great-circle distance — the spherical
    cover shared by dwithin_haversine_join and knn_haversine_join.

    Latitude ring = radius/111.2 km-per-degree. Longitude ring uses
    the EXACT spherical bound λ_max = 2·asin(sin(ρ/2)/cos φ) at the
    band's extreme |lat| (the linear ρ/cos φ bound UNDER-covers at
    high latitude); when sin-ratio ≥ 1 the radius wraps the pole and
    every longitude qualifies. Longitude WRAPS at ±180° (pmod ring
    indices; array_distinct collapses full-circle rings). The cells of
    one ring column are consecutive ids, so they explode as one
    sequence. Both generators are memoized SQL (functions/exprs.py)."""
    nx, ny = GRID.grid_dims(cell_deg)
    lat_deg = radius_km / _KM_PER_DEG
    r_lat_cells = max(1, math.ceil(lat_deg / cell_deg))
    rad = dlit(3.141592653589793 / 180.0)
    lat = f"(ABS(qy) + {dlit(lat_deg)})"
    sin_half = dlit(math.sin(min(radius_km, 3.0 * EARTH_RADIUS_KM) /
                             (2.0 * EARTH_RADIUS_KM)))
    ratio = f"({sin_half} / COS(LEAST({lat}, 89.99D) * {rad}))"
    lon_deg = f"(ASIN(LEAST({ratio}, 1.0D)) * 2.0D / {rad} + {dlit(1e-9)})"
    # full-circle cover when the ball reaches within 0.01° of the pole
    # (the extreme-latitude clamp would otherwise under-cover tiny
    # radii right at the pole: cross-pole neighbors sit at dlon=180°)
    # or when the sin-ratio bound wraps
    rx = (
        f"(CASE WHEN {ratio} >= 1.0D OR {lat} >= 89.99D THEN {int(nx)}L "
        f"ELSE CAST(CEIL({lon_deg} / {dlit(cell_deg)}) AS BIGINT) END)"
    )
    cx = _spark_sql_cell_x("qx", cell_deg)
    cy = _spark_sql_cell_y("qy", cell_deg)
    column = "ring_x * 4294967296L"
    return q.withColumn(
        "ring_x",
        cexpr(
            f"explode(array_distinct(transform(sequence({cx} - {rx}, {cx} + {rx}), "
            f"x -> pmod(x, {int(nx)}))))"
        ),
    ).withColumn(
        "cell_id",
        cexpr(
            f"explode(sequence({column} + GREATEST({cy} - {r_lat_cells}, 0), "
            f"{column} + LEAST({cy} + {r_lat_cells}, {ny - 1})))"
        ),
    ).drop("ring_x")


def dwithin_haversine_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    left_id: str = "image_id",
    right_id: str = "image_id",
    l_lon: str = "lon",
    l_lat: str = "lat",
    r_lon: str = "lon",
    r_lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    exclude_self: bool = False,
) -> DataFrame:
    """Great-circle fixed-radius range join. The cell cover is
    POLE-SAFE: the latitude ring is radius/111.2km-per-degree, and the
    longitude ring widens by 1/cos at the band's extreme latitude
    (longitude degrees shrink toward the poles — a fixed Chebyshev
    ring would MISS true neighbors there), and the longitude ring
    WRAPS at ±180° (antimeridian pairs are genuine neighbors on the
    sphere — ring indices pass through pmod; array_distinct collapses
    full-circle rings). Everything stays Catalyst; the per-row
    longitude cover is a per-row sequence bound."""
    q = left.select(ccol(left_id, "left_id"), ccol(l_lon, "qx"), ccol(l_lat, "qy"))
    c = right.select(
        ccol(right_id, "right_id"), ccol(r_lon, "cx"), ccol(r_lat, "cy"),
    ).withColumn("cell_id", GRID.cell_id_named("cx", "cy", cell_deg))

    ringed = _haversine_ring_cover(q, radius_km, cell_deg)
    cand = ringed.join(c, on="cell_id")
    if exclude_self:
        cand = cand.where(cexpr("left_id != right_id"))
    return cselect(
        cand, "left_id", "right_id", f"{_haversine_km_sql('qx', 'qy', 'cx', 'cy')} AS dist_km"
    ).where(cexpr(f"dist_km <= {dlit(radius_km)}"))


def knn_haversine_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "image_id",
    cand_id: str = "image_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    c_lon: str = "lon",
    c_lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    initial_radius_km: float | str = "auto",
    exclude_self: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Great-circle kNN: radius-doubling rounds over the spherical
    cell cover (pole-safe, antimeridian-wrapping — the same cover as
    dwithin_haversine_join). A query SETTLES when it has ≥k candidates
    and its k-th distance is STRICTLY inside the covered radius (the
    cover is a superset of the radius ball, so every unseen candidate
    is farther). Returns (query_id, neighbor_id, rank, dist_km);
    ties break by neighbor_id. A query id on several rows is one query,
    at the least (lon, lat) of its rows (``_one_row_per_id``)."""
    global_cover_km = 180.0 * _KM_PER_DEG + 1.0  # whole globe covered
    q = queries.select(ccol(query_id, "query_id"), ccol(q_lon, "qx"), ccol(q_lat, "qy"))
    if initial_radius_km == "auto":
        # first ring from the profile's grand-total row (count and box)
        profile = _candidate_profile(candidates, cand_id, c_lon, c_lat, cell_deg)
        c = profile.c
        total = profile.rows[0] if profile.rows else {"n": 0}
        r0 = _density_ring(total, k, cell_deg, 1 << 30)[1]
        initial_radius_km = r0 * cell_deg * _KM_PER_DEG
    else:
        c = _candidate_frame(candidates, cand_id, c_lon, c_lat, cell_deg)

    if stats is not None:
        stats["initial_radius_km"] = float(initial_radius_km)
    dist_km = _haversine_km_sql("qx", "qy", "cx", "cy")

    def round_topk(remaining: DataFrame, radius: float) -> DataFrame:
        ringed = _haversine_ring_cover(remaining, radius, cell_deg)
        cand = ringed.join(c, on="cell_id")
        if exclude_self:
            cand = cand.where(cexpr("query_id != neighbor_id"))
        return _top_k(cand, k, "dist_km", dist_km, dlit(radius))

    return _settle_rounds(
        q, k, float(initial_radius_km), lambda radius: radius >= global_cover_km,
        round_topk, "dist_km", stats, _cache_buffers_id(queries) is not None,
    )


def _observed_count(obs: Observation) -> int | None:
    """The count an ``Observation`` took, None when its node left the
    executed plan: AQE drops the query side of a join it has proved
    empty, and Spark then completes the observation with an empty row."""
    row = obs._jo.getRow()
    return row.getLong(0) if row.length() else None


def _one_row_per_id(q: DataFrame) -> DataFrame:
    """One row per query id, at the least (qx, qy) of its rows: an id
    given twice is one query, and an id given at two coordinates is
    queried at the lesser (by qx, then qy). Checkpointed, so the rounds
    do not aggregate again."""
    return (
        q.groupBy("query_id")
        .agg(F.min(F.struct("qx", "qy")).alias("_q"))
        .select("query_id", "_q.qx", "_q.qy")
        .localCheckpoint(eager=True)
    )


def _top_k(cand: DataFrame, k: int, name: str, dist: str, reach: str) -> DataFrame:
    """The candidate pairs up to rank k per query, ranked by (distance,
    neighbor_id): (query_id, neighbor_id, ``name``, reach, rank), from
    the SQL of the pair's distance ``dist`` and the query's ``reach``.
    One memoized projection with the window, and one filter."""
    return cselect(
        cand, "query_id", "neighbor_id", f"{dist} AS {name}", f"{reach} AS reach",
        f"row_number() OVER (PARTITION BY query_id ORDER BY {dist}, neighbor_id) AS rank",
    ).where(cexpr(f"rank <= {int(k)}"))


def _settle_rounds(q: DataFrame, k: int, first, is_final, round_topk,
                   dist: str, stats: dict | None, q_cached: bool) -> DataFrame:
    """The driver loop shared by both kNN joins. ``round_topk(remaining,
    ring)`` plans one round's top-k (``_top_k``) with a ``reach`` column
    (the radius within which that query has seen every candidate);
    ``ring`` starts at ``first`` and doubles until ``is_final(ring)``,
    whose round is kept whole.

    A query SETTLES when its rank-k row has ``dist`` strictly below
    its reach: its rows up to rank k are ordered by ``dist``, so that
    row exists exactly when k candidates were found, and it holds the
    largest of their distances. Round bookkeeping by OBSERVATION: the
    round's top-k materializes in ONE checkpoint job, and two
    ``Observation``s ride in it — the rows of the round's query input
    (observed on the query side, below the cover broadcast) and the
    settled rank-k rows (at most one per query id). Equal counts mean
    every query settled, and the checkpoint is the round's answer as it
    is, with no further job. They differ when query ids repeat
    (duplicated rows share one window partition, so they settle as one
    id) or when a query has no candidate or fewer than k this round;
    only then does the loop run one distinct count of the remaining
    ids, read the settled ids from the checkpoint's rank-k rows and
    continue by subtraction. The remaining-queries frame stays a lazy
    anti-join chain over the per-round checkpoints (depth = rounds,
    each parent materialized — no exponential regrowth). Its root is
    the query frame as given when ``q_cached`` (the caller's frame is
    one cached relation), else one eager checkpoint of it, so an
    expensive upstream plan does not re-run per round.

    Repeated query ids show at the first mismatch: fewer distinct ids
    than observed rows. The ids' rows would share one window partition
    and rank each candidate once per row, so the query frame is cut to
    one row per id (``_one_row_per_id``) and the round runs again; with
    unique ids nothing more runs. A first round that is already final
    observes nothing, so repeated ids there still repeat neighbours."""
    # settled: k found and k-th dist STRICTLY within the reach. The
    # cover only guarantees unseen candidates lie beyond the reach in
    # exact arithmetic; after float rounding an unseen candidate's dist
    # can collapse to exactly the reach and tie-break ahead of a kept
    # one — strict '<' closes that hole at the cost of one extra round
    # for exact-boundary kth.
    settled_kth = f"rank = {int(k)} AND {dist} < reach"
    if stats is not None:
        stats["rounds"] = 0
    remaining = q if q_cached else q.localCheckpoint(eager=True)
    n_remaining = None  # distinct ids left, counted only on a mismatch
    settled_parts: list[DataFrame] = []
    ring = first
    while True:
        if stats is not None:
            stats["rounds"] += 1
        if is_final(ring):
            settled_parts.append(round_topk(remaining, ring))
            break
        seen, done = Observation(), Observation()
        topk = (
            round_topk(remaining.observe(seen, cexpr("count(1) AS n")), ring)
            .observe(done, cexpr(f"count_if({settled_kth}) AS n"))
            .localCheckpoint(eager=True)
        )
        n_done = _observed_count(done) or 0
        if n_remaining is None:
            n_seen = _observed_count(seen)
            if n_seen == n_done:
                settled_parts.append(topk)
                break
            n_remaining = remaining.select("query_id").distinct().count()
            if n_seen is not None and n_remaining < n_seen:
                # an id on several rows: one query at its least
                # coordinate; this round is run again on one row per id
                remaining = _one_row_per_id(remaining)
                n_remaining = None
                if stats is not None:
                    stats["rounds"] -= 1  # the ring rounds of the answer
                continue
        n_remaining -= n_done
        if n_remaining <= 0:  # every remaining id settled
            settled_parts.append(topk)
            break
        settled_ids = topk.where(cexpr(settled_kth)).select("query_id")
        settled_parts.append(topk.join(settled_ids, on="query_id", how="left_semi"))
        remaining = remaining.join(settled_ids, on="query_id", how="left_anti")
        ring *= 2
    out = settled_parts[0]
    for part in settled_parts[1:]:
        out = out.unionByName(part)
    return cselect(out, "query_id", "neighbor_id", "rank", dist)


def dwithin_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str = "image_id",
    right_id: str = "image_id",
    l_lon: str = "lon",
    l_lat: str = "lat",
    r_lon: str = "lon",
    r_lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    exclude_self: bool = False,
    metric: str = "planar",  # planar | haversine
) -> DataFrame:
    """Fixed-radius range join (the `dwithin` predicate of the
    registry, SURVEY.md §2.5): all (left, right) pairs with planar
    euclidean distance ≤ radius. Filter phase = ring-cell equi-join
    covering the radius (pure Catalyst); refine = the distance
    comparison itself (also Catalyst — zero Python end to end).

    ``metric='planar'`` is euclidean on raw lon/lat degrees with NO
    longitude wrap (antimeridian pairs are ~360° apart, matching the
    planar oracle).

    WARNING: for GLOBAL-EXTENT geographic data (anything that can
    straddle the antimeridian or approach the poles) pass
    ``metric='haversine'`` — the planar default will miss true
    cross-antimeridian neighbors entirely. 'haversine' routes to
    ``dwithin_haversine_join``; ``radius`` is then km and the cover
    wraps ±180° and the poles."""
    if metric == "haversine":
        return dwithin_haversine_join(
            left, right, radius, left_id=left_id, right_id=right_id,
            l_lon=l_lon, l_lat=l_lat, r_lon=r_lon, r_lat=r_lat,
            cell_deg=cell_deg, exclude_self=exclude_self,
        )
    if metric != "planar":
        raise ValueError(f"unknown metric {metric!r}")

    r_cells = max(1, math.ceil(radius / cell_deg))
    q = left.select(
        F.col(left_id).alias("left_id"),
        F.col(l_lon).alias("qx"),
        F.col(l_lat).alias("qy"),
    )
    c = right.select(
        F.col(right_id).alias("right_id"),
        F.col(r_lon).alias("cx"),
        F.col(r_lat).alias("cy"),
    ).withColumn("cell_id", GRID.cell_id_named("cx", "cy", cell_deg))
    ringed = _ring_cells(q, r_cells, cell_deg)
    cand = ringed.join(c, on="cell_id")
    if exclude_self:
        cand = cand.where(F.col("left_id") != F.col("right_id"))
    dx = F.col("qx") - F.col("cx")
    dy = F.col("qy") - F.col("cy")
    return cand.withColumn("dist", F.sqrt(dx * dx + dy * dy)).where(
        F.col("dist") <= F.lit(float(radius))
    ).select("left_id", "right_id", "dist")


def _level_sql(cell: str, split: list[tuple[int, int]]) -> str:
    """Split level of the cell id in SQL expression ``cell``, 0 outside
    the split table: one ``IN`` set per level, which Catalyst turns
    into a hashed ``InSet`` past ten ids. The table rides inside the
    plan — every task receives it with its stage's broadcast task
    binary — so looking it up costs no join, no exchange and no job."""
    by_level: dict[int, list[int]] = {}
    for cid, level in split:
        by_level.setdefault(level, []).append(cid)
    whens = " ".join(
        f"WHEN {cell} IN ({', '.join(f'{cid}L' for cid in sorted(ids))}) THEN {level}"
        for level, ids in sorted(by_level.items(), reverse=True)
    )
    return f"CASE {whens} ELSE 0 END" if whens else "0"


def _candidate_sub_sql(cell_deg: float) -> str:
    """A candidate's fine index inside its cell at the cell's level
    ``lvl``: floor(u · 2^lvl) relative to the cell, clamped to the cell
    exactly as the cell index is clamped to the grid (0 when lvl = 0).
    u is the grid's own (coord + offset) / cell_deg, so the fine cells
    nest in the coarse ones bit for bit."""
    d = dlit(cell_deg)
    p = "shiftleft(1L, lvl)"

    def fine(u: str, cell: str) -> str:
        return f"LEAST(GREATEST(FLOOR({u} * {p}) - {cell} * {p}, 0L), {p} - 1L)"

    return (
        f"{fine(f'((cx + 180.0D) / {d})', 'shiftright(cell_id, 32)')} * {p} "
        f"+ {fine(f'((cy + 90.0D) / {d})', '(cell_id & 4294967295L)')}"
    )


def _fine_cover(q: DataFrame, r: int, cell_deg: float,
                split: list[tuple[int, int]], lq: str) -> DataFrame:
    """Explode query rows (query_id, qx, qy) into every (q_cell, q_sub)
    their box meets, keeping the query's level ``lq`` (its SQL: 0 in
    the final round). The box is the query's fine ring r at level lq in
    u-space: [(f − r) / 2^lq, (f + r + 1) / 2^lq) per axis, f the
    query's clamped fine index — exact dyadic bounds (lq = 0 gives the
    coarse ring [cell − r, cell + r] exactly). The coarse cells come
    first; each split cell then explodes the fine indices the bounds
    meet at its own level, with the candidate side's floor and clamp,
    so the box's candidates all match.

    Four memoized selects: the level and the clamped fine index (once
    per axis), the coarse cells, their levels, and the fine cells. A
    coarse column's cells are consecutive ids and a fine column's cells
    consecutive subs, so each generator explodes one sequence per
    column."""
    nx, ny = GRID.grid_dims(cell_deg)
    d = dlit(cell_deg)
    pq = "shiftleft(1L, lq)"
    p = "shiftleft(1L, lvl)"

    def fine_index(u: str, cell: str) -> str:
        scale = f"shiftleft(1L, {lq})"  # 2^lq, before lq is a column
        return (f"LEAST(GREATEST(FLOOR({u} * {scale}), {cell} * {scale}), "
                f"{cell} * {scale} + {scale} - 1L)")

    def lo(axis: str) -> str:
        return f"((f{axis} - {int(r)}L) / {pq})"

    def hi(axis: str) -> str:
        return f"((f{axis} + {int(r) + 1}L) / {pq})"

    def coarse(axis: str, n: int) -> tuple[str, str]:
        return (f"GREATEST(FLOOR({lo(axis)}), 0L)",
                f"LEAST(CEIL({hi(axis)}) - 1L, {n - 1}L)")

    def fine(axis: str, cell: str) -> tuple[str, str]:
        return (f"GREATEST(FLOOR({lo(axis)} * {p}) - {cell} * {p}, 0L)",
                f"LEAST(CEIL({hi(axis)} * {p}) - 1L - {cell} * {p}, {p} - 1L)")

    def explode(xs: tuple[str, str], ys: tuple[str, str], row: str) -> str:
        """Every ``row(x) + y`` over the two closed ranges."""
        return (
            f"explode(flatten(transform(sequence({xs[0]}, {xs[1]}), "
            f"x -> sequence({row} + {ys[0]}, {row} + {ys[1]}))))"
        )

    box = cselect(
        q, "query_id", "qx", "qy", f"{lq} AS lq",
        f"{fine_index(f'((qx + 180.0D) / {d})', _spark_sql_cell_x('qx', cell_deg))} AS fx",
        f"{fine_index(f'((qy + 90.0D) / {d})', _spark_sql_cell_y('qy', cell_deg))} AS fy",
    )
    base = ("query_id", "qx", "qy", "lq", "fx", "fy")
    cells = cselect(
        box, *base,
        f"{explode(coarse('x', nx), coarse('y', ny), 'x * 4294967296L')} AS q_cell",
    )
    leveled = cselect(cells, *base, "q_cell", f"{_level_sql('q_cell', split)} AS lvl")
    fines = explode(
        fine("x", "shiftright(q_cell, 32)"), fine("y", "(q_cell & 4294967295L)"), f"x * {p}"
    )
    return cselect(leveled, "query_id", "qx", "qy", "lq", "q_cell", f"{fines} AS q_sub")


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "image_id",
    cand_id: str = "image_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    c_lon: str = "lon",
    c_lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    initial_ring: int | str = "auto",
    max_ring: int | None = None,
    exclude_self: bool = False,
    stats: dict | None = None,
    metric: str = "planar",  # planar | haversine
) -> DataFrame:
    """k nearest candidates per query point. Returns
    ``(query_id, neighbor_id, rank, dist)``; ties broken by
    neighbor_id ascending (deterministic, oracle-matching). A query id
    on several rows is one query: k distinct neighbours, at the least
    (lon, lat) of its rows when they differ (``_one_row_per_id``).

    ``initial_ring='auto'`` sizes the first ring from candidate
    density so the first round settles the bulk of queries without
    per-query tuning. The same profile of the candidate layer (taken
    whatever ``initial_ring``, and once per cached layer) picks the
    split cells: queries in a dense cell search a proportionally
    smaller first radius (module doc). ``max_ring`` bounds the coarse
    ring; its round is final.
    ``stats``, when given, receives ``initial_ring``, ``rounds``,
    ``split_cells`` and ``max_level``.

    ``metric``: 'planar' treats lon/lat as plain x/y — euclidean
    degrees, NO longitude wrap (two points across the antimeridian
    are ~360° apart, exactly as the planar oracle computes them).

    WARNING: for GLOBAL-EXTENT geographic data (anything that can
    straddle the antimeridian or approach the poles) pass
    ``metric='haversine'`` — the planar default will rank true
    cross-antimeridian neighbors as ~360° away and under-count
    high-latitude neighborhoods. 'haversine' routes to
    ``knn_haversine_join`` (wrapping, pole-safe spherical cover;
    ``dist`` is then great-circle km)."""
    if metric == "haversine":
        # ring/radius knobs are metric-specific: reject explicit
        # planar-cell arguments instead of silently dropping them
        if initial_ring != "auto" or max_ring is not None:
            raise ValueError(
                "initial_ring/max_ring are planar-grid knobs; use "
                "knn_haversine_join(initial_radius_km=...) directly"
            )
        return knn_haversine_join(
            queries, candidates, k=k, query_id=query_id, cand_id=cand_id,
            q_lon=q_lon, q_lat=q_lat, c_lon=c_lon, c_lat=c_lat,
            cell_deg=cell_deg, exclude_self=exclude_self, stats=stats,
        )
    if metric != "planar":
        raise ValueError(f"unknown metric {metric!r}")
    nx, ny = GRID.grid_dims(cell_deg)
    max_ring = max_ring or max(nx, ny)
    q = queries.select(ccol(query_id, "query_id"), ccol(q_lon, "qx"), ccol(q_lat, "qy"))
    profile = _candidate_profile(candidates, cand_id, c_lon, c_lat, cell_deg)
    r0, split = _split_table(profile.rows, k, cell_deg, initial_ring, max_ring)
    if stats is not None:
        stats["initial_ring"] = r0
        stats["split_cells"] = len(split)
        stats["max_level"] = max((lvl for _, lvl in split), default=0)
    keyed = profile.keyed_frame(split, cell_deg)
    own_level = _level_sql(
        f"({_spark_sql_cell_x('qx', cell_deg)} * 4294967296L "
        f"+ {_spark_sql_cell_y('qy', cell_deg)})",
        split,
    )

    on = "q_cell = cell_id AND q_sub = sub"
    if exclude_self:
        on += " AND query_id != neighbor_id"

    def round_topk(remaining: DataFrame, r: int) -> DataFrame:
        # the final round searches the coarse ring (lq = 0)
        covered = _fine_cover(
            remaining, r, cell_deg, split, "0" if r >= max_ring else own_level
        )
        cand = covered.join(keyed, cexpr(on))
        # plain *, not pow(): basic IEEE ops are bit-identical across
        # Spark and the DuckDB oracle. reach = r·cell_deg / 2^lq: a
        # power-of-two division, so it is exactly the coarse radius
        # scaled to the query's level
        return _top_k(
            cand, k, "dist", "SQRT((qx - cx) * (qx - cx) + (qy - cy) * (qy - cy))",
            f"{dlit(float(r) * cell_deg)} / shiftleft(1L, lq)",
        )

    return _settle_rounds(
        q, k, r0, lambda r: r >= max_ring, round_topk, "dist", stats,
        _cache_buffers_id(queries) is not None,
    )
