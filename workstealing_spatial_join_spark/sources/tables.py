"""Driver-testdata adapters: load the TPC-H-ish parquet tables and
derive deterministic spatial layers from them with SQL-reproducible
integer arithmetic, so every engine query has an exact DuckDB oracle
(the SQL twins live in __spark_entry__.oracle_sql).

Derivations (exact in IEEE double — integer mod then /1000):
* customer → points   (lon/lat from c_custkey)
* supplier → rects    (center + integer half-extents from s_suppkey)
* part     → rects    (smaller, denser layer from p_partkey)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.functions import wkt as W
from workstealing_spatial_join_spark.functions.exprs import cexpr, dlit

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


import weakref

_LOAD_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table as a DataFrame, memoized per (session, path).

    ``spark.read.parquet`` re-lists the path and re-reads footers to
    build a fresh relation on every call — ~50–150 ms of driver work
    per table per query, and every contract query calls this 1–3
    times. DataFrames are immutable, so reusing the relation is safe;
    like any ``read.parquet`` result it snapshots the file set at
    creation (the driver testdata is immutable for a session's
    lifetime). Not a result cache: no rows are materialized. Keyed
    WEAKLY by the session object so a stopped session's entries die
    with it (an id()-keyed cache could alias a recycled address)."""
    per_session = _LOAD_CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _LOAD_CACHE[spark] = per_session
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        per_session[key] = df
    return df


# The derived columns below are memoized SQL (functions/exprs.py): one
# parse per process instead of one py4j round trip per operator node on
# every call. ``D``-suffixed doubles and bare integer literals keep the
# arithmetic exactly that of the fluent form (integer multiply and mod,
# then one double division).


def _centre_sql(key: str, mult: int, span: int, origin: float) -> str:
    return f"({dlit(origin)} + ({key} * {mult} % {span}) / {dlit(1000.0)})"


def customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        cexpr("c_custkey AS point_id"),
        cexpr(f"{_centre_sql('c_custkey', 9973, 360000, -180.0)} AS lon"),
        cexpr(f"{_centre_sql('c_custkey', 7919, 180000, -90.0)} AS lat"),
    )


def _rect_select(df: DataFrame, key: str, mults: tuple, extents: tuple) -> DataFrame:
    mx, my = mults
    ew, eh, dw, dh, sw, sh = extents
    cx = _centre_sql(key, mx, 360000, -180.0)
    cy = _centre_sql(key, my, 180000, -90.0)
    hw = f"({dlit(ew)} + ({key} % {int(dw)}) / {dlit(sw)})"
    hh = f"({dlit(eh)} + ({key} % {int(dh)}) / {dlit(sh)})"
    return df.select(
        cexpr(f"{key} AS rect_id"),
        cexpr(f"{cx} - {hw} AS minx"),
        cexpr(f"{cy} - {hh} AS miny"),
        cexpr(f"{cx} + {hw} AS maxx"),
        cexpr(f"{cy} + {hh} AS maxy"),
    )


def supplier_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rect_select(
        load(spark, sf_dir, "supplier"), "s_suppkey", (7817, 6271),
        (1.0, 1.0, 7, 5, 1.0, 1.0),
    )


def part_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rect_select(
        load(spark, sf_dir, "part"), "p_partkey", (104729, 92821),
        (0.5, 0.5, 5, 3, 2.0, 2.0),
    )


def rects_with_geom(rects: DataFrame) -> DataFrame:
    """Attach a polygon WKB built from the exact bounds doubles (no
    text round-trip), so the pandas-UDF refine path is exercised on
    geometry whose containment semantics equal the SQL BETWEEN oracle."""
    schema = (
        "rect_id bigint, minx double, miny double, maxx double, "
        "maxy double, geom_wkb binary"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["geom_wkb"] = pd.Series(
                rect_wkbs(
                    pdf["minx"].to_numpy(np.float64),
                    pdf["miny"].to_numpy(np.float64),
                    pdf["maxx"].to_numpy(np.float64),
                    pdf["maxy"].to_numpy(np.float64),
                ),
                index=pdf.index,
                dtype=object,
            )
            yield pdf

    return rects.mapInPandas(build, schema=schema)


# fixed 93-byte rect-polygon WKB prefix: little-endian, type POLYGON,
# one ring, five points — byte-identical to
# to_wkb(POLYGON, [[(x0,y0),(x1,y0),(x1,y1),(x0,y1),(x0,y0)]])
_RECT_WKB_HDR = np.frombuffer(
    b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00", dtype=np.uint8
)


def rect_wkbs(minx, miny, maxx, maxy) -> list:
    """Vectorized WKB construction for axis-aligned rectangles: one
    (n, 93) byte matrix built by NumPy instead of a per-row Python
    loop through the generic codec (guide §4.2 — the loop was the
    whole cost of the mapInPandas stage; measured ~40× on the 20k-row
    part layer). Byte-identical to the scalar ``W.to_wkb`` path —
    pinned by tests."""
    n = len(minx)
    ring = np.empty((n, 5, 2), dtype="<f8")
    ring[:, 0, 0] = minx
    ring[:, 0, 1] = miny
    ring[:, 1, 0] = maxx
    ring[:, 1, 1] = miny
    ring[:, 2, 0] = maxx
    ring[:, 2, 1] = maxy
    ring[:, 3, 0] = minx
    ring[:, 3, 1] = maxy
    ring[:, 4, 0] = minx
    ring[:, 4, 1] = miny
    buf = np.empty((n, 93), dtype=np.uint8)
    buf[:, :13] = _RECT_WKB_HDR
    buf[:, 13:] = ring.reshape(n, 10).view(np.uint8)
    return [row.tobytes() for row in buf]


# SQL twins of the derivations above (DuckDB oracle building blocks)

SQL_POINTS = (
    "SELECT c_custkey AS point_id, "
    "-180.0 + (c_custkey * 9973 % 360000) / 1000.0 AS lon, "
    "-90.0 + (c_custkey * 7919 % 180000) / 1000.0 AS lat FROM customer"
)

SQL_SUPPLIER_RECTS = (
    "SELECT s_suppkey AS rect_id, "
    "(-180.0 + (s_suppkey * 7817 % 360000) / 1000.0) - (1.0 + (s_suppkey % 7) / 1.0) AS minx, "
    "(-90.0 + (s_suppkey * 6271 % 180000) / 1000.0) - (1.0 + (s_suppkey % 5) / 1.0) AS miny, "
    "(-180.0 + (s_suppkey * 7817 % 360000) / 1000.0) + (1.0 + (s_suppkey % 7) / 1.0) AS maxx, "
    "(-90.0 + (s_suppkey * 6271 % 180000) / 1000.0) + (1.0 + (s_suppkey % 5) / 1.0) AS maxy "
    "FROM supplier"
)

SQL_PART_RECTS = (
    "SELECT p_partkey AS rect_id, "
    "(-180.0 + (p_partkey * 104729 % 360000) / 1000.0) - (0.5 + (p_partkey % 5) / 2.0) AS minx, "
    "(-90.0 + (p_partkey * 92821 % 180000) / 1000.0) - (0.5 + (p_partkey % 3) / 2.0) AS miny, "
    "(-180.0 + (p_partkey * 104729 % 360000) / 1000.0) + (0.5 + (p_partkey % 5) / 2.0) AS maxx, "
    "(-90.0 + (p_partkey * 92821 % 180000) / 1000.0) + (0.5 + (p_partkey % 3) / 2.0) AS maxy "
    "FROM part"
)


# ------------------------------------------------ integer-milli layers
#
# Exact INTEGER millidegree twins of the float derivations above.
# Operators whose cross-engine contract is "bit-exact by construction"
# (hexbin tessellation, nearest-segment snap) never touch a float:
# every coordinate below is int64 in both engines, so there is no IEEE
# step to reason about at all.


def customer_points_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → integer-millidegree points (same congruence as
    :func:`customer_points`, kept in int64 instead of /1000.0)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") * 9973 % 360000 - 180000)
        .cast("long")
        .alias("mx"),
        (F.col("c_custkey") * 7919 % 180000 - 90000)
        .cast("long")
        .alias("my"),
    )


def supplier_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → integer-millidegree line SEGMENTS (road-network
    stand-in for the snap/nearest-line family): one segment per
    supplier, start point from the rect-center congruences, offset
    bounded to ±4000 milli (±4°) so every segment is short relative
    to the domain — the shape a tiled road layer has."""
    s = load(spark, sf_dir, "supplier")
    x1 = (F.col("s_suppkey") * 7817 % 360000 - 180000).cast("long")
    y1 = (F.col("s_suppkey") * 6271 % 180000 - 90000).cast("long")
    return s.select(
        F.col("s_suppkey").alias("seg_id"),
        x1.alias("x1"),
        y1.alias("y1"),
        (x1 + (F.col("s_suppkey") * 31 % 8001 - 4000)).cast("long").alias("x2"),
        (y1 + (F.col("s_suppkey") * 43 % 8001 - 4000)).cast("long").alias("y2"),
    )


SQL_POINTS_MILLI = (
    "SELECT c_custkey AS point_id, "
    "CAST(c_custkey * 9973 % 360000 - 180000 AS BIGINT) AS mx, "
    "CAST(c_custkey * 7919 % 180000 - 90000 AS BIGINT) AS my "
    "FROM customer"
)

SQL_SUPPLIER_SEGMENTS = (
    "SELECT s_suppkey AS seg_id, x1, y1, "
    "CAST(x1 + (s_suppkey * 31 % 8001 - 4000) AS BIGINT) AS x2, "
    "CAST(y1 + (s_suppkey * 43 % 8001 - 4000) AS BIGINT) AS y2 FROM ("
    "SELECT s_suppkey, "
    "CAST(s_suppkey * 7817 % 360000 - 180000 AS BIGINT) AS x1, "
    "CAST(s_suppkey * 6271 % 180000 - 90000 AS BIGINT) AS y1 "
    "FROM supplier) t"
)


def supplier_road_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → a DENSE integer-milli road layer confined to a
    city-scale window (6144×6144 milli, i.e. ~6°×6°) so segment pairs
    actually cross — the fixture for the segment×segment intersection
    join. Extents are bounded to ±1000 per axis (≤ segjoin.ROAD_CELL),
    keeping the covering-cell explode ≤ 2×2; endpoints may leave the
    window by ≤1000, which the floor-div cell keys handle exactly.
    Multipliers are coprime to 6144 = 2^11·3 so starts spread over the
    whole window at every sf."""
    s = load(spark, sf_dir, "supplier")
    x1 = (F.col("s_suppkey") * 5923 % 6144).cast("long")
    y1 = (F.col("s_suppkey") * 4799 % 6144).cast("long")
    return s.select(
        F.col("s_suppkey").alias("seg_id"),
        x1.alias("x1"),
        y1.alias("y1"),
        (x1 + (F.col("s_suppkey") * 37 % 2001 - 1000)).cast("long").alias("x2"),
        (y1 + (F.col("s_suppkey") * 53 % 2001 - 1000)).cast("long").alias("y2"),
    )


SQL_SUPPLIER_ROAD_SEGMENTS = (
    "SELECT seg_id, x1, y1, "
    "CAST(x1 + (seg_id * 37 % 2001 - 1000) AS BIGINT) AS x2, "
    "CAST(y1 + (seg_id * 53 % 2001 - 1000) AS BIGINT) AS y2 FROM ("
    "SELECT s_suppkey AS seg_id, "
    "CAST(s_suppkey * 5923 % 6144 AS BIGINT) AS x1, "
    "CAST(s_suppkey * 4799 % 6144 AS BIGINT) AS y1 "
    "FROM supplier) t"
)


def customer_cluster_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → a MIXTURE layer for density clustering: every 20
    consecutive custkeys form one ~20-point cluster whose center
    comes from a congruence of the cluster index and whose members
    jitter inside a ±600-milli box. The cluster COUNT scales with sf
    while the cluster SIZE stays constant — the shape that keeps
    ε-pair volume linear in the table (pairs ≈ 200·n_clusters) and
    component diameters O(1), i.e. the layout a scale-correct DBSCAN
    contract needs. All int64; members at the box corners fall below
    min_pts and become borders/noise by construction."""
    c = load(spark, sf_dir, "customer")
    k = F.expr("c_custkey div 20")
    cx0 = (k * 48271 % 350000 - 175000).cast("long")
    cy0 = (k * 16807 % 170000 - 85000).cast("long")
    # QUADRATIC jitter congruences: a linear congruence gives
    # consecutive keys a FIXED (Δx, Δy) step, turning every cluster
    # into a chain where each point has the same near neighbors at
    # any ε ≥ the step — all-core, border-free, a degenerate DBSCAN
    # input (observed; measured in tests). k² strides vary (2k+1),
    # so members scatter quasi-uniformly in the ±600 box.
    jx = F.expr("c_custkey * c_custkey % 1201 - 600")
    jy = F.expr("c_custkey * (c_custkey + 7) % 1201 - 600")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        (cx0 + jx).cast("long").alias("mx"),
        (cy0 + jy).cast("long").alias("my"),
    )


SQL_CLUSTER_POINTS = (
    "SELECT c_custkey AS point_id, "
    "CAST((c_custkey // 20) * 48271 % 350000 - 175000 "
    "+ (c_custkey * c_custkey % 1201 - 600) AS BIGINT) AS mx, "
    "CAST((c_custkey // 20) * 16807 % 170000 - 85000 "
    "+ (c_custkey * (c_custkey + 7) % 1201 - 600) AS BIGINT) AS my "
    "FROM customer"
)


def part_rects_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → integer-millidegree zone rectangles (the exact int64
    twin of :func:`part_rects`: same congruences ×1000)."""
    p = load(spark, sf_dir, "part")
    cx = (F.col("p_partkey") * 104729 % 360000 - 180000).cast("long")
    cy = (F.col("p_partkey") * 92821 % 180000 - 90000).cast("long")
    hw = (F.lit(500) + (F.col("p_partkey") % 5) * 500).cast("long")
    hh = (F.lit(500) + (F.col("p_partkey") % 3) * 500).cast("long")
    return p.select(
        F.col("p_partkey").alias("zone_id"),
        (cx - hw).alias("zminx"),
        (cy - hh).alias("zminy"),
        (cx + hw).alias("zmaxx"),
        (cy + hh).alias("zmaxy"),
    )


SQL_PART_RECTS_MILLI = (
    "SELECT p_partkey AS zone_id, "
    "CAST((p_partkey * 104729 % 360000 - 180000) "
    "- (500 + (p_partkey % 5) * 500) AS BIGINT) AS zminx, "
    "CAST((p_partkey * 92821 % 180000 - 90000) "
    "- (500 + (p_partkey % 3) * 500) AS BIGINT) AS zminy, "
    "CAST((p_partkey * 104729 % 360000 - 180000) "
    "+ (500 + (p_partkey % 5) * 500) AS BIGINT) AS zmaxx, "
    "CAST((p_partkey * 92821 % 180000 - 90000) "
    "+ (500 + (p_partkey % 3) * 500) AS BIGINT) AS zmaxy "
    "FROM part"
)


def part_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → measure-carrying zone rectangles: the part_rects_milli
    congruences plus an integer-cent measure (p_retailprice), the
    input shape areal interpolation wants — one projection, no join."""
    p = load(spark, sf_dir, "part")
    cx = (F.col("p_partkey") * 104729 % 360000 - 180000).cast("long")
    cy = (F.col("p_partkey") * 92821 % 180000 - 90000).cast("long")
    hw = (F.lit(500) + (F.col("p_partkey") % 5) * 500).cast("long")
    hh = (F.lit(500) + (F.col("p_partkey") % 3) * 500).cast("long")
    return p.select(
        F.col("p_partkey").alias("zone_id"),
        (cx - hw).alias("zminx"),
        (cy - hh).alias("zminy"),
        (cx + hw).alias("zmaxx"),
        (cy + hh).alias("zmaxy"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("measure"),
    )


SQL_PART_ZONES = (
    "SELECT p_partkey AS zone_id, "
    "CAST((p_partkey * 104729 % 360000 - 180000) "
    "- (500 + (p_partkey % 5) * 500) AS BIGINT) AS zminx, "
    "CAST((p_partkey * 92821 % 180000 - 90000) "
    "- (500 + (p_partkey % 3) * 500) AS BIGINT) AS zminy, "
    "CAST((p_partkey * 104729 % 360000 - 180000) "
    "+ (500 + (p_partkey % 5) * 500) AS BIGINT) AS zmaxx, "
    "CAST((p_partkey * 92821 % 180000 - 90000) "
    "+ (500 + (p_partkey % 3) * 500) AS BIGINT) AS zmaxy, "
    "CAST(round(p_retailprice * 100) AS BIGINT) AS measure "
    "FROM part"
)


def customer_point_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → measure-carrying points: the milli-coordinate
    congruences plus integer-cent account balance (which CAN be
    negative — the IDW operator's sign-portable floor handles it)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") * 9973 % 360000 - 180000).cast("long").alias("mx"),
        (F.col("c_custkey") * 7919 % 180000 - 90000).cast("long").alias("my"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )


SQL_POINT_VALUES = (
    "SELECT c_custkey AS point_id, "
    "CAST(c_custkey * 9973 % 360000 - 180000 AS BIGINT) AS mx, "
    "CAST(c_custkey * 7919 % 180000 - 90000 AS BIGINT) AS my, "
    "CAST(round(c_acctbal * 100) AS BIGINT) AS cents "
    "FROM customer"
)
