"""Deterministic synthetic fixtures (FIXTURES.md; seed=42, per-row
SeedSequence streams so any prefix is stable under scale-up).

Generation is DISTRIBUTED: ``spark.range(n)`` → ``mapInPandas``
(rows are produced on executors keyed by row index — no driver-side
loop, no collect; at 10^12 scale this is exactly how the table would
be synthesized). Pure-pandas variants (`*_pdf`) exist for tiny unit
tests and brute-force oracles.

Mirrors the reference's two-layer WKT inputs (src/reader.cpp:6-59)
plus the BASELINE.json input_hint image+caption table.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from workstealing_spatial_join_spark.functions import images as IMG
from workstealing_spatial_join_spark.functions import wkt as W

_WS = [32, 64, 128]
_HS = [32, 48, 96]

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double"
)
POLYGONS_SCHEMA = (
    "polygon_id string, wkt string, minx double, miny double, "
    "maxx double, maxy double"
)


def _img_row(i: int, with_bytes: bool = True) -> dict:
    rng = np.random.default_rng([42, 1, i])
    if i % 10 == 0:  # hot box: 10% of rows → skew (FIXTURES.md §1)
        lon = 10.0 + rng.uniform()
        lat = 45.0 + rng.uniform()
    else:
        lon = rng.uniform(-180.0, 180.0)
        lat = rng.uniform(-60.0, 60.0)
    w, h = _WS[i % 3], _HS[i % 3]
    fmt = "png" if i % 2 == 0 else "jpeg"
    row = {
        "image_id": f"img{i:012d}",
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"synthetic caption {i} tile {lon:.3f},{lat:.3f}",
        "lon": float(lon),
        "lat": float(lat),
    }
    if with_bytes:
        gx = np.linspace(0, 255, w, dtype=np.float64)
        gy = np.linspace(0, 255, h, dtype=np.float64)
        base = (gy[:, None] + gx[None, :]) / 2.0
        noise = rng.integers(0, 32, size=(h, w, 3))
        arr = np.clip(base[:, :, None] + noise, 0, 255).astype(np.uint8)
        data = IMG.encode_image(arr, fmt)
        row["bytes"] = data
        row["phash"] = IMG.phash64(IMG.decode_image(data))
    else:
        row["bytes"] = b""
        row["phash"] = 0
    return row


def images_pdf(n: int, with_bytes: bool = True) -> pd.DataFrame:
    return pd.DataFrame([_img_row(i, with_bytes) for i in range(n)])[
        [
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lon", "lat",
        ]
    ]


def images_df(spark: SparkSession, n: int, with_bytes: bool = True) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [_img_row(int(i), with_bytes) for i in pdf["id"]]
            )[
                [
                    "image_id", "bytes", "w", "h", "fmt",
                    "caption", "phash", "lon", "lat",
                ]
            ]

    parts = max(1, min(n // 1000, 256))
    return spark.range(n, numPartitions=parts).mapInPandas(gen, IMAGES_SCHEMA)


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; returns CCW closed ring."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out: list[np.ndarray] = []
        for p in points:
            while (
                len(out) >= 2
                and (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                <= 0
            ):
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.asarray(lower[:-1] + upper[:-1])
    return np.vstack([hull, hull[:1]])


def _poly_row(j: int) -> dict:
    rng = np.random.default_rng([42, 2, j])
    cx = rng.uniform(-180.0, 180.0)
    cy = rng.uniform(-60.0, 60.0)
    if j % 20 == 0:  # 5% continent-scale → multi-cell spanning
        radius = rng.uniform(5.0, 15.0)
    else:
        radius = 0.3 * float(rng.lognormal(0.0, 1.0))
    nv = int(rng.integers(6, 25))
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = radius * rng.uniform(0.7, 1.0, nv)
    pts = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    ring = _convex_hull(pts)
    return {
        "polygon_id": f"poly{j:06d}",
        "wkt": W.to_wkt(W.POLYGON, [ring]),
        "minx": float(ring[:, 0].min()),
        "miny": float(ring[:, 1].min()),
        "maxx": float(ring[:, 0].max()),
        "maxy": float(ring[:, 1].max()),
    }


def polygons_pdf(n: int) -> pd.DataFrame:
    return pd.DataFrame([_poly_row(j) for j in range(n)])


def polygons_df(spark: SparkSession, n: int) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([_poly_row(int(j)) for j in pdf["id"]])

    parts = max(1, min(n // 500, 128))
    return spark.range(n, numPartitions=parts).mapInPandas(gen, POLYGONS_SCHEMA)


def _line_row(j: int) -> dict:
    rng = np.random.default_rng([42, 3, j])
    cx = rng.uniform(-180.0, 180.0)
    cy = rng.uniform(-60.0, 60.0)
    radius = 0.3 * float(rng.lognormal(0.0, 1.0))
    nv = int(rng.integers(2, 11))
    pts = np.column_stack(
        [cx + rng.uniform(-radius, radius, nv), cy + rng.uniform(-radius, radius, nv)]
    )
    return {
        "line_id": f"line{j:06d}",
        "wkt": W.to_wkt(W.LINESTRING, [pts]),
        "minx": float(pts[:, 0].min()),
        "miny": float(pts[:, 1].min()),
        "maxx": float(pts[:, 0].max()),
        "maxy": float(pts[:, 1].max()),
    }


def lines_pdf(n: int) -> pd.DataFrame:
    return pd.DataFrame([_line_row(j) for j in range(n)])
