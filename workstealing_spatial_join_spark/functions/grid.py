"""Fixed-resolution lon/lat grid tessellation (H3-like interface).

This is the engine's filter phase: the reference partitions geometries
into grid cells produced by an external partitioner and scopes the
join to same-cell pairs (tests/main.cpp:99-104, src/thread_util.cpp:317).
We re-create that as an EQUI-JOIN KEY computed with pure Catalyst
arithmetic — ``floor`` / ``sequence`` / ``explode`` — so the whole
filter phase is JVM-side, whole-stage-codegen'd, and partition-prunable
(no Python in the hot filter path).

Cell addressing: ``cx = floor((lon+180)/cell_deg)``,
``cy = floor((lat+90)/cell_deg)``, ``cell_id = cx * 2^32 + cy``.
The same formulas are emitted as ANSI SQL strings (for the DuckDB
correctness oracle) and as NumPy (for fixtures + brute-force oracles),
guaranteeing bit-identical cell assignment across all three engines
(pure IEEE-double ops).

Default ``cell_deg=1.0`` → 360×180 grid. At 10^12-image scale the knob
to turn is ``cell_deg`` (smaller cells = more, smaller join groups) —
the reference's analog is its 512/2048/8192-cell datasets
(job_script_for_HPC:29-32).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_CELL_DEG = 1.0
_SHIFT = np.int64(1) << np.int64(32)


def grid_dims(cell_deg: float = DEFAULT_CELL_DEG) -> tuple[int, int]:
    nx = int(np.ceil(360.0 / cell_deg))
    ny = int(np.ceil(180.0 / cell_deg))
    return nx, ny


# ------------------------------------------------------------- NumPy


def cell_xy(
    lon: np.ndarray, lat: np.ndarray, cell_deg: float = DEFAULT_CELL_DEG
) -> tuple[np.ndarray, np.ndarray]:
    nx, ny = grid_dims(cell_deg)
    cx = np.clip(np.floor((lon + 180.0) / cell_deg).astype(np.int64), 0, nx - 1)
    cy = np.clip(np.floor((lat + 90.0) / cell_deg).astype(np.int64), 0, ny - 1)
    return cx, cy


def cell_id(
    lon: np.ndarray, lat: np.ndarray, cell_deg: float = DEFAULT_CELL_DEG
) -> np.ndarray:
    cx, cy = cell_xy(lon, lat, cell_deg)
    return cx * _SHIFT + cy


def cells_covering_bbox(
    minx: float, miny: float, maxx: float, maxy: float,
    cell_deg: float = DEFAULT_CELL_DEG,
) -> np.ndarray:
    """All cell ids whose cell intersects the bbox (the multi-cell
    tagging that makes a reference pair appear in k cells, §3.2)."""
    nx, ny = grid_dims(cell_deg)
    x0 = int(np.clip(np.floor((minx + 180.0) / cell_deg), 0, nx - 1))
    x1 = int(np.clip(np.floor((maxx + 180.0) / cell_deg), 0, nx - 1))
    y0 = int(np.clip(np.floor((miny + 90.0) / cell_deg), 0, ny - 1))
    y1 = int(np.clip(np.floor((maxy + 90.0) / cell_deg), 0, ny - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    return (xs[:, None] * _SHIFT + ys[None, :]).ravel()


def k_ring(cx: int, cy: int, k: int, cell_deg: float = DEFAULT_CELL_DEG) -> np.ndarray:
    """Cell ids within Chebyshev distance k (kNN expansion, J6).
    Both axes CLAMP — matching every cell-assignment path (cell_xy,
    cell_x_col, the SQL twins) and the kNN operator's ``_ring_cells``.
    Longitude wrap would fetch far-side cells whose contents are
    assigned by clamping, silently disagreeing with the grid; wrap
    support would require the assignment paths to wrap too (ROADMAP).
    """
    nx, ny = grid_dims(cell_deg)
    xs = np.arange(max(0, cx - k), min(nx - 1, cx + k) + 1, dtype=np.int64)
    ys = np.arange(max(0, cy - k), min(ny - 1, cy + k) + 1, dtype=np.int64)
    return (xs[:, None] * _SHIFT + ys[None, :]).ravel()


# ---------------------------------------------------------- Catalyst


def cell_x_col(lon: Column, cell_deg: float = DEFAULT_CELL_DEG) -> Column:
    nx, _ = grid_dims(cell_deg)
    return F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)), F.lit(0)),
        F.lit(nx - 1),
    ).cast("long")


def cell_y_col(lat: Column, cell_deg: float = DEFAULT_CELL_DEG) -> Column:
    _, ny = grid_dims(cell_deg)
    return F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)), F.lit(0)),
        F.lit(ny - 1),
    ).cast("long")


def cell_id_col(
    lon: Column, lat: Column, cell_deg: float = DEFAULT_CELL_DEG
) -> Column:
    return (cell_x_col(lon, cell_deg) * F.lit(4294967296).cast("long")) + cell_y_col(
        lat, cell_deg
    )


# ------------------------------------------- memoized name-based API
#
# The fluent builders above cost one py4j round trip per operator
# node, re-paid at every query construction (profiled: ~0.34 s per
# covering_cells_cols call alone). When the inputs are COLUMN NAMES —
# every hot caller's case — the identical expression is parsed once
# per process from its SQL form and the immutable unresolved Column
# is reused (functions/exprs.py). Literal discipline (D/L suffixes)
# keeps the arithmetic bit-identical to the fluent form; pinned by
# tests/test_expr_equivalence.py.


def _spark_sql_cell_x(lon: str, cell_deg: float) -> str:
    from workstealing_spatial_join_spark.functions.exprs import dlit

    nx, _ = grid_dims(cell_deg)
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({lon} + 180.0D) / {dlit(cell_deg)}), "
        f"0L), {nx - 1}L) AS BIGINT)"
    )


def _spark_sql_cell_y(lat: str, cell_deg: float) -> str:
    from workstealing_spatial_join_spark.functions.exprs import dlit

    _, ny = grid_dims(cell_deg)
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({lat} + 90.0D) / {dlit(cell_deg)}), "
        f"0L), {ny - 1}L) AS BIGINT)"
    )


def cell_id_named(
    lon: str, lat: str, cell_deg: float = DEFAULT_CELL_DEG
) -> Column:
    """``cell_id_col`` over column NAMES — parsed once per process."""
    from workstealing_spatial_join_spark.functions.exprs import cexpr

    return cexpr(
        f"({_spark_sql_cell_x(lon, cell_deg)} * 4294967296L "
        f"+ {_spark_sql_cell_y(lat, cell_deg)})"
    )


def covering_cells_sql(
    minx: str, miny: str, maxx: str, maxy: str,
    cell_deg: float = DEFAULT_CELL_DEG,
) -> str:
    """Spark-SQL form of ``covering_cells_cols`` over column names."""
    x0 = _spark_sql_cell_x(minx, cell_deg)
    x1 = _spark_sql_cell_x(maxx, cell_deg)
    y0 = _spark_sql_cell_y(miny, cell_deg)
    y1 = _spark_sql_cell_y(maxy, cell_deg)
    return (
        f"flatten(transform(sequence({x0}, {x1}), "
        f"x -> transform(sequence({y0}, {y1}), "
        f"y -> x * 4294967296L + y)))"
    )


def covering_cells_named(
    minx: str, miny: str, maxx: str, maxy: str,
    cell_deg: float = DEFAULT_CELL_DEG,
) -> Column:
    """``covering_cells_cols`` over column NAMES — parsed once."""
    from workstealing_spatial_join_spark.functions.exprs import cexpr

    return cexpr(covering_cells_sql(minx, miny, maxx, maxy, cell_deg))


def covering_cells_cols(
    minx: Column, miny: Column, maxx: Column, maxy: Column,
    cell_deg: float = DEFAULT_CELL_DEG,
) -> Column:
    """array<long> of covering cell ids for an MBR — pure Catalyst
    (sequence × sequence, flattened); explode downstream. This is the
    multi-cell tagging step of the filter phase."""
    x0 = cell_x_col(minx, cell_deg)
    x1 = cell_x_col(maxx, cell_deg)
    y0 = cell_y_col(miny, cell_deg)
    y1 = cell_y_col(maxy, cell_deg)
    return F.flatten(
        F.transform(
            F.sequence(x0, x1),
            lambda x: F.transform(
                F.sequence(y0, y1),
                lambda y: x * F.lit(4294967296).cast("long") + y,
            ),
        )
    )


# --------------------------------------------------------------- SQL
# Identical formulas as ANSI SQL strings, consumed by the DuckDB
# oracle in __spark_entry__.oracle_sql so engine and oracle agree
# bit-for-bit on cell assignment.


def sql_cell_x(lon_expr: str, cell_deg: float = DEFAULT_CELL_DEG) -> str:
    nx, _ = grid_dims(cell_deg)
    return (
        f"LEAST(GREATEST(CAST(FLOOR(({lon_expr} + 180.0) / {cell_deg!r}) "
        f"AS BIGINT), 0), {nx - 1})"
    )


def sql_cell_y(lat_expr: str, cell_deg: float = DEFAULT_CELL_DEG) -> str:
    _, ny = grid_dims(cell_deg)
    return (
        f"LEAST(GREATEST(CAST(FLOOR(({lat_expr} + 90.0) / {cell_deg!r}) "
        f"AS BIGINT), 0), {ny - 1})"
    )


def sql_cell_id(
    lon_expr: str, lat_expr: str, cell_deg: float = DEFAULT_CELL_DEG
) -> str:
    return (
        f"({sql_cell_x(lon_expr, cell_deg)} * CAST(4294967296 AS BIGINT) "
        f"+ {sql_cell_y(lat_expr, cell_deg)})"
    )
