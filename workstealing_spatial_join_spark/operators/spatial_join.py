"""Filter-then-refine spatial joins — the heart of the engine.

Re-creates the reference's join family (SURVEY.md §2.3):

* J2 point-in-polygon / intersects join  → ``point_in_polygon_join``
* J1/J3/J5 polygon×polygon with runtime predicate → ``polygon_join``
* J4 fragment-and-replicate             → ``broadcast`` path here
* F3 MBR pre-filter / F4 same-cell scope → cell equi-join + Catalyst
  residual bounds predicate (no UDF in the filter phase)

Physical plan (all declared via DataFrame API; plans.planner.plan_join
forces a broadcast or a merge where it knows the sizes, Catalyst + AQE
decide the rest and split skewed partitions):

    scan → cell tessellation (floor/sequence/explode, codegen'd)
         → equi-join on cell_id  (+ salt when a cost table says so)
         → residual MBR predicate (Catalyst, pushed into the join)
         → exact refine
         → dedup (reference-point rule, Catalyst) / parity multiplicity
         → agg or pair materialization

Where the equi-join runs: a fresh polygon layer is broadcast to the
points (the reference's J4 fragment-and-replicate). A
``PreparedPolygonLayer`` caches its tessellation partitioned and sorted
by cell_id — the reference's layers pre-partitioned by cell
(tests/main.cpp:99-104) — so a point-in-polygon join against it is a
sort-merge join that shuffles only the points; the layer never moves.

The exact refine of a point-in-polygon join against a collected layer
is Catalyst too: the driver classified each polygon's covering cells
once (functions/interior_cells.py), so the tessellation holds no
exterior cell, and each kept cell is band rows — a half-open y-band
(and x-column) with at most K local edges in flat slot columns, a
far-edge parity and a truth table over its ring bits. The refine is

         band holds (px, py) AND tt[x | o << 3]

— the crossing and on-edge arithmetic of the ray cast over K fixed
slots, with no lambda: the join and its condition compile into one
whole-stage-codegen stage, and the plan has no Python node. An
uncollected layer (and every polygon join that is not on rectangles)
refines with an Arrow pandas UDF, the plan's only Python node.

A layer is collected once, in one job, as one Arrow table of its id,
WKB and bounds columns (``_analyze_layer``); every planner figure, the
cell classes and the local replay frame are read from its columns.

Duplicate semantics: a pair whose geometries co-occupy k cells appears
k times in the reference (no reference-point dedup anywhere in that
repo — src/thread_util.cpp:317, SURVEY.md §3.2). ``dedup='parity'``
reproduces that; the default ``dedup='refpoint'`` reports each pair
exactly once, in the cell containing the top-left corner of the MBR
intersection — a pure-Catalyst filter, no extra shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.functions.interior_cells import (
    CellClasses,
    band_contains_sql,
    classify_cells,
)
from workstealing_spatial_join_spark.functions.predicates import PREDICATES

# layers up to this many rows are collected to the driver (the
# interior-cell and id-keyed dictionary transports); larger layers stay
# distributed (WKB transport)
DICT_MAX_ROWS = 500_000

# collected layers up to this many rows are REPLAYED as a local frame
# instead of re-scanning (and re-deriving) the source per action: the
# dictionary collect already paid for these bytes once, and the replay
# removes a scan + any ingest Python stage from every downstream job.
# Larger collected layers (up to the dict cap) keep the distributed
# scan for their WKB — parallelizing hundreds of MB from the driver is
# slower than re-reading parquet; their point-in-polygon cell classes
# are replayed all the same (they exist only on the driver).
LOCAL_BUILD_MAX_ROWS = 100_000


def tessellate_points(
    df: DataFrame, lon: str = "lon", lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
) -> DataFrame:
    """Point layer → + cell_id (exactly one cell per point; pure
    Catalyst arithmetic, so PIP pairs are duplicate-free by
    construction)."""
    return df.withColumn("cell_id", GRID.cell_id_named(lon, lat, cell_deg))


def tessellate_bbox(
    df: DataFrame, cell_deg: float = GRID.DEFAULT_CELL_DEG
) -> DataFrame:
    """MBR layer (minx/miny/maxx/maxy columns) → one row per covering
    cell (F.explode over a Catalyst-computed sequence×sequence)."""
    return df.withColumn(
        "cell_id",
        F.explode(
            GRID.covering_cells_named("minx", "miny", "maxx", "maxy", cell_deg)
        ),
    )


_BOUNDS = ("minx", "miny", "maxx", "maxy")


def _collect_layer(layer: DataFrame, id_col: str, max_rows: int):
    """Collect the (id, geom_wkb, minx..maxy) columns as ONE Arrow table
    in one job; None when the layer exceeds ``max_rows`` (the caller
    falls back to the WKB transport)."""
    sel = layer.select(id_col, "geom_wkb", *_BOUNDS)
    table = sel.limit(max_rows + 1).toArrow()
    return None if table.num_rows > max_rows else table


def _bounds_array(table):
    """The collected minx..maxy columns as one (n, 4) float64 array; a
    NULL bound reads as NaN (``_cell_index`` places both alike)."""
    import numpy as np

    return np.column_stack([table[c].to_numpy() for c in _BOUNDS]).astype(float)


def _cell_index(v, offset: float, cell_deg: float, n: int):
    """grid._spark_sql_cell_x/_y over a float64 array: FLOOR casts NaN
    to 0 and GREATEST skips NULL (collected as NaN), so both land in
    cell 0; ±inf clamp to the grid edges."""
    import numpy as np

    i = np.floor((v + offset) / cell_deg)
    i[np.isnan(i)] = 0
    return np.clip(i, 0, n - 1).astype(np.int64)


def _cell_spans(bounds, cell_deg: float):
    """Driver-side closed form of ``tessellate_bbox`` over an (n, 4)
    minx..maxy array (``_bounds_array``): each row's first covering
    cell column and row, and its width and height in cells. Same index
    arithmetic as the Catalyst tessellation, and ``sequence`` runs
    downward when a bound pair is inverted, so the spans agree with
    the exploded frame exactly — NULL, NaN and ±inf bounds included —
    without running a job."""
    import numpy as np

    nx, ny = GRID.grid_dims(cell_deg)
    x0 = _cell_index(bounds[:, 0], 180.0, cell_deg, nx)
    x1 = _cell_index(bounds[:, 2], 180.0, cell_deg, nx)
    y0 = _cell_index(bounds[:, 1], 90.0, cell_deg, ny)
    y1 = _cell_index(bounds[:, 3], 90.0, cell_deg, ny)
    return (
        np.minimum(x0, x1), np.minimum(y0, y1),
        np.abs(x1 - x0) + 1, np.abs(y1 - y0) + 1,
    )


def _cell_row_counts(bounds, cell_deg: float):
    """Per-cell row counts ``[(cell_id, n), ...]`` of
    ``exploded.groupBy(cell_id).count()`` from the collected bounds'
    spans, so the salting cost table skips one distributed aggregate
    (guide §2.4). Vectorized (a per-row Python loop over
    cells_covering_bbox measured 0.6 s on the 10k-polygon bench layer;
    this is ~10 ms)."""
    import numpy as np

    cx0, cy0, w, h = _cell_spans(bounds, cell_deg)
    ncell = w * h
    starts = np.cumsum(ncell) - ncell
    off = np.arange(int(ncell.sum()), dtype=np.int64) - np.repeat(starts, ncell)
    h_r = np.repeat(h, ncell)
    cx = np.repeat(cx0, ncell) + off // h_r
    cy = np.repeat(cy0, ncell) + off % h_r
    uniq, cnt = np.unique(cx * np.int64(4294967296) + cy, return_counts=True)
    return [(int(c), int(n)) for c, n in zip(uniq, cnt)]


_RECT_WKB_HDR_BYTES = (
    b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"
)


def _all_rects_matching_bounds(wkb, bounds) -> bool:
    """True iff EVERY collected geometry (``wkb``, the Arrow WKB column)
    is a single axis-aligned rectangle whose ring equals its row of
    ``bounds`` exactly. When a layer passes this check, the Catalyst
    MBR predicate IS the exact geometry predicate — refine needs no
    Python at all. This is verified per row (driver-side decode),
    never assumed from metadata.

    Fast path: a 5-point single-ring polygon WKB is exactly 93 bytes
    with a fixed header, so a homogeneous layer is verified as ONE
    NumPy pass over an (n, 93) view of the column's value buffer (the
    per-row decode loop was ~1 s of driver time per 20k-rect collect);
    anything else falls back to the per-row decode."""
    import numpy as np
    import pyarrow as pa

    if wkb.null_count:
        return False
    arr = wkb.combine_chunks()
    n = len(arr)
    if n:
        _, offsets, values = arr.buffers()
        width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        off = np.frombuffer(offsets, dtype=width)[arr.offset:arr.offset + n + 1]
    if n and (np.diff(off) == 93).all():
        buf = np.frombuffer(values, dtype=np.uint8)[off[0]:off[-1]].reshape(n, 93)
        if (buf[:, :13] == np.frombuffer(_RECT_WKB_HDR_BYTES, dtype=np.uint8)).all():
            ring = buf[:, 13:].copy().view("<f8").reshape(n, 5, 2)
            dx = ring[:, 1:, 0] - ring[:, :-1, 0]
            dy = ring[:, 1:, 1] - ring[:, :-1, 1]
            axis_aligned = ((dx == 0) | (dy == 0)).all(axis=1)
            match = (
                axis_aligned
                & (ring[:, :, 0].min(axis=1) == bounds[:, 0])
                & (ring[:, :, 1].min(axis=1) == bounds[:, 1])
                & (ring[:, :, 0].max(axis=1) == bounds[:, 2])
                & (ring[:, :, 1].max(axis=1) == bounds[:, 3])
            )
            return bool(match.all())

    from workstealing_spatial_join_spark.functions.predicates import _geom_info

    for b, box in zip(arr.to_pylist(), bounds.tolist()):
        rect = _geom_info(b).rect
        if rect is None or rect != tuple(box):
            return False
    return True


def _refpoint_filter(cell_deg: float):
    """Keep a candidate pair only in the cell that contains the
    top-left (minx, miny) corner of the MBR intersection — standard
    duplicate-avoidance for multi-cell replication; pure Catalyst
    (memoized expression — fixed l./r. column names)."""
    from workstealing_spatial_join_spark.functions.exprs import cexpr
    from workstealing_spatial_join_spark.functions.grid import (
        _spark_sql_cell_x, _spark_sql_cell_y,
    )

    cx = _spark_sql_cell_x("GREATEST(l.minx, r.minx)", cell_deg)
    cy = _spark_sql_cell_y("GREATEST(l.miny, r.miny)", cell_deg)
    return cexpr(f"l.cell_id = ({cx} * 4294967296L + {cy})")


@dataclass(eq=False)  # holds DataFrames: compare by identity
class LayerAnalysis:
    """Everything one Arrow collect tells the planner about a geometry
    layer (plans.planner.plan_join reads it; both joins share it).
    ``table`` is the collected (id, geom_wkb, minx..maxy) Arrow table —
    None past DICT_MAX_ROWS, or when the join needs no refine — and
    ``src`` the frame to tessellate: the local replay of the table when
    it is small enough, else the source layer. ``cells`` holds the band
    rows of every non-exterior covering cell
    (functions/interior_cells.py) when a point-in-polygon join asked
    for them, and ``cells_src`` the local frame that carries them, one
    row per geometry."""

    src: DataFrame | None = None
    id_col: str = "polygon_id"
    cell_deg: float = GRID.DEFAULT_CELL_DEG
    table: object = None  # pa.Table | None
    unique_ids: bool = False
    all_rects: bool = False  # every geometry equals its MBR
    exploded_rows: int | None = None  # closed-form Σ covering cells
    exploded_wkb_bytes: int | None = None  # Σ len(wkb) × covering cells
    cells: CellClasses | None = None
    cells_src: DataFrame | None = None
    # its tessellations are cached partitioned by cell_id (a prepared
    # layer): a point probe joins where they lie
    cell_partitioned: bool = False

    @cached_property
    def cell_counts(self):
        """Per-cell exploded row counts [(cell_id, n)], or None when not
        collected (the salting cost table then aggregates instead)."""
        t = self.table
        return None if t is None else _cell_row_counts(_bounds_array(t), self.cell_deg)

    def tessellate(self, transport: str) -> DataFrame:
        """Cell tessellation for a refine transport: (poly_id,
        minx..maxy, cell_id), plus geom_wkb for "wkb", and for "bands"
        the band rows (cell_id and ``band_fields(k)``) of the
        non-exterior cells. One projection of memoized SQL expressions
        (functions/exprs.py)."""
        from workstealing_spatial_join_spark.functions.exprs import cexpr

        sql = [f"`{self.id_col}` AS poly_id", *_BOUNDS]
        if transport == "bands":
            src = self.cells_src
            sql.append("inline(bands)")
        else:
            src = self.src
            if transport == "wkb":
                sql.append("geom_wkb")
            cells = GRID.covering_cells_sql(*_BOUNDS, self.cell_deg)
            sql.append(f"explode({cells}) AS cell_id")
        return src.select(*map(cexpr, sql))


def _local_geom_frame(
    layer: DataFrame, table, with_wkb: bool, cells: CellClasses | None
) -> DataFrame:
    """Replay the collected table as a LOCAL frame: (id, [geom_wkb,]
    minx..maxy[, bands]), one row per geometry, the id
    keeping its Spark type and the bounds their NULLs (those columns
    nullable; the band rows' fields are not, which keeps the refine's
    generated code free of null checks). Downstream tessellation then costs zero scans and zero
    ingest Python — the collect that built the analysis already moved
    these bytes to the driver once (guide §2.4: don't recompute what a
    previous action materialized). The band rows ride as one array per
    geometry and are exploded in Catalyst: a cached tessellation whose
    lineage holds one local row per band row plans measurably slower
    on every query."""
    import pyarrow as pa

    cols = {c: table[c] for c in table.column_names if with_wkb or c != "geom_wkb"}
    if cells is not None:
        cols["bands"] = cells.bands
    return layer.sparkSession.createDataFrame(pa.table(cols))


def _analyze_layer(
    layer: DataFrame, id_col: str, cell_deg: float, collect: bool = True,
    classify: bool = False,
) -> LayerAnalysis:
    """Collect a layer once as Arrow (bounded by DICT_MAX_ROWS) and
    derive what both joins decide from its columns. ``collect=False``
    (an MBR-only join, whose layer may lack ``geom_wkb``) leaves it
    uncollected; ``classify`` (point-in-polygon) adds the band rows of
    a collected non-rect layer and their local frame (None when a band
    overflows its caps: the join then takes the WKB transport)."""
    import pyarrow.compute as pc

    table = _collect_layer(layer, id_col, DICT_MAX_ROWS) if collect else None
    if table is None:
        return LayerAnalysis(layer, id_col, cell_deg)
    wkb = table["geom_wkb"]
    bounds = _bounds_array(table)
    cx0, cy0, w, h = _cell_spans(bounds, cell_deg)
    ncell = w * h
    all_rects = _all_rects_matching_bounds(wkb, bounds)
    cells = cells_src = None
    if classify and not all_rects:
        cells = classify_cells(wkb.to_pylist(), cx0, cy0, w, h, cell_deg)
    # replay a collected layer locally: its tessellation then costs no
    # source scan (and no ingest Python stage) in any downstream job —
    # the collect already paid these bytes. Past LOCAL_BUILD_MAX_ROWS
    # only the cell classes are replayed (without the WKB column), and
    # the WKB tessellation re-reads the source.
    small = table.num_rows <= LOCAL_BUILD_MAX_ROWS
    if small or cells is not None:
        replay = _local_geom_frame(layer, table, small, cells)
        cells_src = None if cells is None else replay
        layer = replay if small else layer
    if cells is not None:
        cells = replace(cells, bands=None)  # they live in the local frame
    return LayerAnalysis(
        layer,
        id_col,
        cell_deg,
        table,
        # the id-keyed transports need one geometry per id — repeated
        # ids (multipart parts exploded at ingest) keep the WKB column
        # so each PART row refines against its own part (reference
        # semantics: parts are separate geometries, src/reader.cpp:44);
        # a NULL id counts as one value
        unique_ids=pc.count_distinct(table[id_col], mode="all").as_py() == table.num_rows,
        all_rects=all_rects,
        exploded_rows=int(ncell.sum()),
        exploded_wkb_bytes=int(pc.fill_null(pc.binary_length(wkb), 0).to_numpy() @ ncell),
        cells=cells,
        cells_src=cells_src,
    )


class PreparedPolygonLayer:
    """A geometry layer prepared once and reused across many joins of
    either kind — the Spark rebirth of the reference's build-once
    STRtree (src/spatial_join.cpp:14-21). Preparation is ONE driver
    job, an Arrow collect of the layer's id, WKB and bounds columns;
    the layer then holds its ``LayerAnalysis`` (the collected table,
    rect verification, closed-form counts, the point-in-polygon cell
    classes) and caches each cell tessellation it is joined with. A
    second join issues no new collect and no new decode.

    Each cached tessellation is partitioned by ``cell_id`` — the
    reference's pre-partitioned layers, sharded by cell
    (tests/main.cpp:99-104) — so a point-in-polygon join against the
    layer is a sort-merge join that shuffles only the points: the
    layer's cached partitions never move, and no join re-broadcasts
    them. Polygon joins read the same caches under the broadcast rule.

    Use for the steady-state shape of a 10^12-image pipeline: one
    (slowly-changing) polygon layer probed by an endless stream of
    image batches."""

    def __init__(
        self,
        polygons: DataFrame,
        poly_id: str = "polygon_id",
        cell_deg: float = GRID.DEFAULT_CELL_DEG,
    ):
        self.analysis = replace(
            _analyze_layer(polygons, poly_id, cell_deg, classify=True),
            cell_partitioned=True,
        )
        self._exploded: dict[str, DataFrame] = {}

    def exploded(self, transport: str) -> DataFrame:
        """The analysis' tessellation, cached (Spark .cache()) per
        transport, hash-partitioned by ``cell_id`` into the session's
        ``spark.sql.shuffle.partitions`` at caching time and sorted by
        ``cell_id`` within each partition — the distribution and
        order a sort-merge join on the cell needs. The first request
        materializes it (one job): an unexecuted adaptive cached plan
        reports no partitioning, and the join would then shuffle and
        sort the layer too."""
        if transport not in self._exploded:
            tess = self.analysis.tessellate(transport)
            n = int(tess.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            cached = (
                tess.repartition(n, "cell_id").sortWithinPartitions("cell_id").cache()
            )
            cached.count()
            self._exploded[transport] = cached
        return self._exploded[transport]

    def release(self) -> int:
        """Unpersist every cached tessellation this layer holds and
        forget them (they rebuild lazily on next use). Long-lived
        sessions preparing many layers call this when done with one —
        without it the .cache()d frames pin executor storage until
        LRU eviction (ADVICE r3; mirror of release_dedup_caches)."""
        n = 0
        for df in self._exploded.values():
            try:
                df.unpersist()
                n += 1
            except Exception:
                pass
        self._exploded.clear()
        return n


def _join_side(
    side, id_col: str, cell_deg: float, collect: bool = True, classify: bool = False
):
    """(analysis, tessellate(transport)) for one side of a join: a
    prepared layer answers from its cache, a DataFrame is analysed now
    and tessellated uncached."""
    if isinstance(side, PreparedPolygonLayer):
        if side.analysis.cell_deg != cell_deg:
            raise ValueError(
                "PreparedPolygonLayer cell_deg "
                f"{side.analysis.cell_deg} != join cell_deg {cell_deg}"
            )
        return side.analysis, side.exploded
    analysis = _analyze_layer(side, id_col, cell_deg, collect, classify)
    return analysis, analysis.tessellate


def _hot_cells(
    probe: DataFrame, build: LayerAnalysis, build_tessellate, target_pairs: int,
):
    """LB1 rebirth: cost-estimated salting of hot cells (see
    operators/skew.py) — bounds the largest join group the way
    TASKS_PER_JOB bounded the reference's work units.

    Collects the hot-cell cost table ONCE (tiny by construction: one
    row per cell whose est_pairs exceed the task target) and replays
    it as a local frame, so the salting joins do not each re-run the
    aggregates behind it. The build side's per-cell counts come from
    the analysis' closed form when it was collected; only an
    uncollected build side is tessellated (``build_tessellate``) and
    aggregated. Returns
    ``(hot cells frame, rows salting adds to the build side)``, or
    ``(None, None)`` when no cell is hot: then the honest LB1 decision
    is to not pay the salting machinery at all (probe-side salt join,
    build-side replicate explode, a wider join key) — the same
    adaptive skip AQE's skew handling makes when nothing is skewed.
    Results are identical by construction (an all-ones salt table is
    a no-op)."""
    from workstealing_spatial_join_spark.operators.skew import cell_cost_table

    counts = build.cell_counts
    cost = cell_cost_table(
        probe, None if counts is not None else build_tessellate("catalyst-rect"),
        target_pairs=target_pairs, right_cell_counts=counts,
    ).where(F.col("n_salt") > 1)
    rows = cost.collect()
    if not rows:
        return None, None
    extra = sum((r["n_salt"] - 1) * r["n_right"] for r in rows)
    return probe.sparkSession.createDataFrame(rows, cost.schema), extra


def _spread_probe(pts: DataFrame, mode: str) -> DataFrame:
    """Spread the probe side over 2× the default parallelism before the
    WKB transport's Python refine: under a broadcast join the refine
    runs on the probe's scan splits, so a compact input would serialize
    it (a join against a cell-partitioned layer shuffles the probe by
    cell anyway and skips this). Fine tasks let the scheduler absorb
    stragglers — the reference's TASKS_PER_JOB=20 chunking
    (include/global_var.h:26) at Spark task level.

    HASH partitioning, not round-robin: a keyless repartition first
    pays a full local sort of its input
    (spark.sql.execution.sortBeforeRepartition, needed so retried
    tasks reproduce their row assignment — guide §2.5), while hashing
    a deterministic key is retry-safe for free. The key is the point
    id wherever the output carries it, so points sharing one
    coordinate (geocoded centroids) still spread; count mode reads
    only the coordinates, and hashing the id would force the id column
    into its scan (observed in the plan's ReadSchema)."""
    target = 2 * pts.sparkSession.sparkContext.defaultParallelism
    try:
        if pts.rdd.getNumPartitions() >= target:
            return pts
    except Exception:  # e.g. a streaming frame has no rdd
        return pts
    keys = ("px", "py") if mode == "count" else ("point_id",)
    return pts.repartition(target, *keys)


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame | PreparedPolygonLayer,
    point_id: str = "image_id",
    poly_id: str = "polygon_id",
    lon: str = "lon",
    lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    mode: str = "pairs",  # pairs | count | semi | percell | anti
    refine: bool = True,
    salt: bool = False,
    target_pairs_per_task: int = 100_000,
    point_payload: tuple[str, ...] = (),
) -> DataFrame:
    """Point-in-polygon spatial join (north_rule primary query).

    ``polygons`` must carry ``geom_wkb, minx, miny, maxx, maxy``
    (from operators.ingest.ingest_geometry) — or just the bounds
    columns when ``refine=False`` (MBR-only join). A
    ``PreparedPolygonLayer`` is reused without a new collect.

    A point lies in exactly one cell, so results are duplicate-free
    without any dedup shuffle. ``mode='percell'`` keeps the polygon's
    cell replication visible (reference §3.2 parity diagnostics).

    The join placement and the refine transport come from
    ``plans.planner.plan_join``. A ``PreparedPolygonLayer`` stays where
    its cell-partitioned cache lies (a sort-merge join; the points
    shuffle by cell) unless salting re-keys it; a fresh layer is
    broadcast when it fits. Transport: the MBR predicate alone when every
    polygon is its MBR; for any other collected layer the interior-cell
    band rows (functions/interior_cells.py) — exterior cells dropped,
    each kept cell's band rows ray-cast in Catalyst over at most K
    local edges, so the plan has no Python node; else (an uncollected
    layer, or one whose bands overflow) the per-candidate WKB column
    through the Arrow refine.

    ``point_payload`` names extra point columns carried THROUGH the
    join (``mode='pairs'`` only) so a downstream per-zone aggregate
    (operators.zonal) needs no second join back to the point table —
    at scale that second equi-join would be a full extra shuffle of
    the pair table. Payload names must not collide with the polygon
    tessellation's ``minx..maxy`` / ``geom_wkb`` / ``poly_id`` columns
    or its band row's (``interior_cells.band_fields``).
    """
    from workstealing_spatial_join_spark.functions.exprs import cexpr
    from workstealing_spatial_join_spark.plans.planner import plan_join

    if point_payload and mode != "pairs":
        raise ValueError("point_payload requires mode='pairs'")
    pts = tessellate_points(
        points.select(
            F.col(point_id).alias("point_id"),
            F.col(lon).alias("px"),
            F.col(lat).alias("py"),
            *[F.col(c) for c in point_payload],
        ),
        lon="px",
        lat="py",
        cell_deg=cell_deg,
    )
    layer, tessellate = _join_side(
        polygons, poly_id, cell_deg, collect=refine, classify=True
    )
    # the cost table reads the UN-repartitioned probe: it needs only
    # per-cell counts, and the refine repartition would pay that
    # exchange a second time (the main query re-executes it anyway)
    hot, extra = (
        _hot_cells(pts, layer, tessellate, target_pairs_per_task)
        if salt else (None, None)
    )
    plan = plan_join(
        None, layer, "contains" if refine else None, salt_extra_rows=extra
    )
    polys = tessellate(plan.transport)
    if plan.partitioned_side == "right":
        # the layer's cache is already partitioned and sorted by cell:
        # merge where it lies, and only the points shuffle (by cell)
        polys = polys.hint("merge")
    elif plan.transport == "wkb":
        # only the Python refine needs the spread; a pure-Catalyst plan
        # runs fine on the scan splits
        pts = _spread_probe(pts, mode)
    join_keys = ["cell_id"]
    if hot is not None:
        from workstealing_spatial_join_spark.operators.skew import (
            salt_build_side,
            salt_probe_side,
        )

        pts = salt_probe_side(pts, hot, ["point_id"])
        polys = salt_build_side(polys, hot)
        join_keys.append("salt")
    if plan.broadcast_side == "right":
        # deterministic J4 fragment-and-replicate: the build side is
        # KNOWN to fit — assert the broadcast instead of hoping AQE's
        # size estimate agrees (a local-replay, lazily-cached or
        # salt-exploded build side has no usable stats, and a missed
        # broadcast here is a full shuffle of the probe table)
        polys = F.broadcast(polys)

    cand = pts.join(polys, on=join_keys).where(
        cexpr(
            "px >= minx AND px <= maxx AND py >= miny AND py <= maxy"
        )
    )
    if plan.transport == "bands":
        cand = cand.where(cexpr(band_contains_sql(layer.cells.k)))
    elif plan.transport == "wkb":
        cand = cand.where(
            PREDICATES["contains_xy"](F.col("geom_wkb"), F.col("px"), F.col("py"))
        )
    if mode == "count":
        return cand.agg(F.count(F.lit(1)).alias("join_count"))
    if mode == "semi":
        return cand.select("point_id").distinct()
    if mode == "anti":
        # spatial ANTI-join: points inside NO polygon (ocean/extent
        # filtering, negative-sample mining). A point lives in exactly
        # one cell, so `pts` is one row per point; the distinct()s are
        # no-ops there but keep the semantics exact under salted runs.
        # Cost at scale: the same filter+refine join plus ONE extra
        # shuffle on point_id for the left_anti — there is no cheaper
        # shape, because "no match" is only known after all of a
        # point's candidate cells resolve.
        matched = cand.select("point_id").distinct()
        return (
            pts.select("point_id")
            .distinct()
            .join(matched, "point_id", "left_anti")
        )
    if mode == "percell":
        return cand.select("point_id", "poly_id", "cell_id")
    return cand.select("point_id", "poly_id", *point_payload)


def polygon_join(
    left: DataFrame | PreparedPolygonLayer,
    right: DataFrame | PreparedPolygonLayer,
    left_id: str = "l_id",
    right_id: str = "r_id",
    predicate: str = "intersects",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    mode: str = "pairs",  # pairs | count
    dedup: str = "refpoint",  # refpoint | parity
    salt: bool = False,
    target_pairs_per_task: int = 100_000,
    extra_pair_filter=None,
) -> DataFrame:
    """Geometry×geometry spatial join with a runtime refine predicate
    (J1/J3/J5). Both inputs need ``geom_wkb, minx..maxy`` columns; a
    side may be a ``PreparedPolygonLayer``, reused without a new
    collect.

    mode='count' with predicate='intersects' reproduces the
    reference's ST_INTERSECTS scalar (match count,
    src/thread_util.cpp:431-432); with 'intersection_numpoints' /
    'union_numpoints' it sums vertex counts (thread_util.cpp:424-425,
    435-441). dedup='parity' reproduces per-cell multiplicity (§3.2).

    The broadcast side and the refine transport come from
    ``plans.planner.plan_join``. With the 'dict' transport (both layers
    collected with unique ids), candidate pairs carry only (lid, rid)
    through Arrow and both geometry dictionaries ship once per
    executor — the WKB-per-candidate-pair column (the round-1
    bottleneck) never enters the join. 'wkb' keeps the per-pair column
    (layers too big to collect, or repeated ids — though at scale
    prefer the cogroup strategy, operators/cogroup_join.py, which
    ships each geometry once per covering cell).

    ``extra_pair_filter``: optional Catalyst predicate over the pair's
    bounds columns (``l.minx``..``r.maxy``), applied BEFORE refine —
    pushes query-level pair restrictions into the join, ahead of the
    Python kernel.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from workstealing_spatial_join_spark.plans.planner import plan_join

    if predicate not in PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")

    # the two dictionary collects are independent driver actions —
    # run them CONCURRENTLY (guide §2.6: the scheduler happily
    # overlaps jobs; actions are only sequential because driver code
    # calls them sequentially). Both collects are bounded by the dict
    # cap. Job groups and other local properties are per thread: the
    # wrapped targets carry the caller's, so the collects report under
    # the caller's job group.
    join_side = inheritable_thread_target(SparkSession.active())(_join_side)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_l = pool.submit(join_side, left, left_id, cell_deg)
        fut_r = pool.submit(join_side, right, right_id, cell_deg)
        la, l_tess = fut_l.result()
        ra, r_tess = fut_r.result()

    # salting: the (larger) left side is the salted probe, the right
    # side is replicated across salts in hot cells only
    hot, extra = (
        _hot_cells(
            l_tess("catalyst-rect"), ra, r_tess, target_pairs_per_task,
        )
        if salt else (None, None)
    )
    plan = plan_join(la, ra, predicate, salt_extra_rows=extra)
    catalyst_rect = plan.transport == "catalyst-rect"
    refine_bc = None
    if plan.transport == "dict" or (catalyst_rect and predicate == "union_numpoints"):
        # id-keyed pair refine; on rect layers union SPLITS the plan:
        # generic-position pairs take the closed-form CASE below and
        # only degenerate contacts pay this UDF
        from workstealing_spatial_join_spark.functions.predicates import (
            make_pair_refine_broadcast,
        )

        refine_bc = make_pair_refine_broadcast(
            la.src.sparkSession,
            la.table[la.id_col], la.table["geom_wkb"],
            ra.table[ra.id_col], ra.table["geom_wkb"],
            predicate,
        )

    lt = (
        l_tess(plan.transport)
        .withColumnsRenamed({"poly_id": "lid", "geom_wkb": "l_wkb"})
        .alias("l")
    )
    rt = (
        r_tess(plan.transport)
        .withColumnsRenamed({"poly_id": "rid", "geom_wkb": "r_wkb"})
        .alias("r")
    )
    join_cond = F.col("l.cell_id") == F.col("r.cell_id")
    if hot is not None:
        from workstealing_spatial_join_spark.operators.skew import (
            salt_build_side,
            salt_probe_side,
        )

        lt = salt_probe_side(lt, hot, ["lid"]).alias("l")
        rt = salt_build_side(rt, hot).alias("r")
        join_cond = join_cond & (F.col("l.salt") == F.col("r.salt"))
    # deterministic J4: the broadcast side is KNOWN to fit (exact
    # closed-form size) — assert it rather than rely on AQE size
    # estimates, which a local-replay frame does not carry
    if plan.broadcast_side == "left":
        lt = F.broadcast(lt)
    elif plan.broadcast_side == "right":
        rt = F.broadcast(rt)

    from workstealing_spatial_join_spark.functions.exprs import cexpr

    cand = lt.join(rt, on=join_cond).where(
        cexpr(
            "l.minx <= r.maxx AND r.minx <= l.maxx "
            "AND l.miny <= r.maxy AND r.miny <= l.maxy"
        )
    )
    if dedup == "refpoint":
        cand = cand.where(_refpoint_filter(cell_deg))
    parity = ["l.cell_id"] if dedup == "parity" else []  # kept in pair output
    if extra_pair_filter is not None:
        cand = cand.where(extra_pair_filter)

    if catalyst_rect:
        # geometry == MBR on both sides: intersects is exactly the
        # bounds predicate already applied; numPoints is the GEOS
        # 5/2/1 CASE over the overlap extent. Whole-stage codegen,
        # no Python node anywhere in this plan.
        if predicate == "intersects":
            if mode == "count":
                return cand.agg(F.count(F.lit(1)).alias("join_count"))
            return cand.select("lid", "rid", *parity)
        w = F.least(F.col("l.maxx"), F.col("r.maxx")) - F.greatest(
            F.col("l.minx"), F.col("r.minx")
        )
        h = F.least(F.col("l.maxy"), F.col("r.maxy")) - F.greatest(
            F.col("l.miny"), F.col("r.miny")
        )
        if predicate == "union_numpoints":
            # generic position: no shared coordinate value on either
            # axis AND positive-area overlap → every union ring vertex
            # is an outside corner or a proper crossing, numPoints =
            # 13 - 2*(cornersA-in-B + cornersB-in-A) (cross-checked
            # against the exact arrangement kernel in
            # tests/test_rect_closed_forms.py). Everything else
            # (touches, shared edges, equal coords) refines through
            # the pair UDF — the SPLIT keeps Python off the common
            # case without changing semantics.
            def corners_in(p, q):  # corners of rect p strictly in q
                cx = [p + ".minx", p + ".minx", p + ".maxx", p + ".maxx"]
                cy = [p + ".miny", p + ".maxy", p + ".miny", p + ".maxy"]
                c = F.lit(0)
                for x, y in zip(cx, cy):
                    c = c + F.when(
                        (F.col(x) > F.col(q + ".minx"))
                        & (F.col(x) < F.col(q + ".maxx"))
                        & (F.col(y) > F.col(q + ".miny"))
                        & (F.col(y) < F.col(q + ".maxy")),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                return c

            distinct_x = (
                (F.col("l.minx") != F.col("r.minx"))
                & (F.col("l.minx") != F.col("r.maxx"))
                & (F.col("l.maxx") != F.col("r.minx"))
                & (F.col("l.maxx") != F.col("r.maxx"))
            )
            distinct_y = (
                (F.col("l.miny") != F.col("r.miny"))
                & (F.col("l.miny") != F.col("r.maxy"))
                & (F.col("l.maxy") != F.col("r.miny"))
                & (F.col("l.maxy") != F.col("r.maxy"))
            )
            generic = distinct_x & distinct_y & (w > 0) & (h > 0)
            gen_scored = cand.where(generic).withColumn(
                "num_points",
                (
                    F.lit(13)
                    - F.lit(2) * (corners_in("l", "r") + corners_in("r", "l"))
                ).cast("long"),
            )
            deg_scored = cand.where(~generic).withColumn(
                "num_points",
                refine_bc.asNondeterministic()(F.col("lid"), F.col("rid")),
            ).where(F.col("num_points") > 0)
            sel = ["lid", "rid", "num_points", *parity]
            both = gen_scored.select(*sel).unionByName(deg_scored.select(*sel))
            if mode == "count":
                return both.agg(F.sum("num_points").alias("join_count"))
            return both
        np_col = (
            F.when((w > 0) & (h > 0), F.lit(5))
            .when((w == 0) & (h == 0), F.lit(1))
            .otherwise(F.lit(2))
            .cast("long")
        )
        scored = cand.withColumn("num_points", np_col)
        if mode == "count":
            return scored.agg(F.sum("num_points").alias("join_count"))
        return scored.select("lid", "rid", "num_points", *parity)

    if refine_bc is not None:
        refine_args = (F.col("lid"), F.col("rid"))
        refine_udf = refine_bc
    else:
        refine_args = (F.col("l_wkb"), F.col("r_wkb"))
        refine_udf = PREDICATES[predicate]

    if predicate == "intersects":
        matched = cand.where(refine_udf(*refine_args))
        if mode == "count":
            return matched.agg(F.count(F.lit(1)).alias("join_count"))
        return matched.select("lid", "rid", *parity)

    # numPoints-producing predicates
    if mode == "count":
        # no >0 filter: zeros add nothing to the sum, and the filter
        # would duplicate the Python refine (Catalyst pushes the
        # predicate through the project, re-evaluating the UDF)
        scored = cand.withColumn("num_points", refine_udf(*refine_args))
        return scored.agg(F.sum("num_points").alias("join_count"))
    # pairs mode: a nondeterministic-marked refine keeps the >0 filter
    # ABOVE the projection — one ArrowEvalPython, not two. The shared
    # registry UDFs must NOT be mutated (asNondeterministic mutates in
    # place): use the pre-built ND copies; a per-join broadcast UDF is
    # private and safe to mark.
    if refine_bc is not None:
        nd_udf = refine_bc.asNondeterministic()
    else:
        from workstealing_spatial_join_spark.functions.predicates import (
            PREDICATES_ND,
        )

        nd_udf = PREDICATES_ND[predicate]
    scored = cand.withColumn(
        "num_points", nd_udf(*refine_args)
    ).where(F.col("num_points") > 0)
    return scored.select("lid", "rid", "num_points", *parity)
