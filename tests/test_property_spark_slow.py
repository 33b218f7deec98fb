"""SLOW Spark-level property sweep (ROADMAP "test debt"): many random
layer pairs through the FULL distributed engine (tessellation →
equi-join → refine) compared against the serial brute-force oracle.

Gated behind SLOW_TESTS=1 so `pytest tests/` stays inside the CI
budget; run explicitly with:

    SLOW_TESTS=1 python -m pytest tests/test_property_spark_slow.py -v

Each round draws a fresh layer pair — sizes, polygon radii/vertex
counts, and a planted hot cluster vary with the seed — and the
distributed result must equal the oracle EXACTLY on every draw.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from tests.oracle import pip_pairs_oracle

from workstealing_spatial_join_spark.functions import wkt as W
from workstealing_spatial_join_spark.operators.ingest import ingest_geometry
from workstealing_spatial_join_spark.operators.spatial_join import (
    point_in_polygon_join,
)
from workstealing_spatial_join_spark.sources.fixtures import _convex_hull

pytestmark = pytest.mark.skipif(
    not os.environ.get("SLOW_TESTS"),
    reason="slow property sweep; set SLOW_TESTS=1",
)

ROUNDS = int(os.environ.get("SLOW_ROUNDS", "12"))


def _rand_points(rng: np.random.Generator, n: int) -> pd.DataFrame:
    n_hot = n // 3
    hot_cx = rng.uniform(-90.0, 90.0)
    hot_cy = rng.uniform(-50.0, 50.0)
    lon = np.concatenate([
        rng.uniform(-180.0, 180.0, n - n_hot),
        rng.normal(hot_cx, 0.5, n_hot),
    ])
    lat = np.concatenate([
        rng.uniform(-60.0, 60.0, n - n_hot),
        rng.normal(hot_cy, 0.5, n_hot),
    ])
    return pd.DataFrame({
        "image_id": [f"p{i:06d}" for i in range(n)],
        "lon": np.clip(lon, -179.99, 179.99),
        "lat": np.clip(lat, -89.99, 89.99),
    })


def _rand_polys(rng: np.random.Generator, n: int) -> pd.DataFrame:
    rows = []
    for j in range(n):
        cx = rng.uniform(-180.0, 180.0)
        cy = rng.uniform(-60.0, 60.0)
        radius = float(rng.uniform(0.2, 8.0))
        nv = int(rng.integers(5, 30))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = radius * rng.uniform(0.5, 1.0, nv)
        pts = np.column_stack(
            [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
        )
        ring = _convex_hull(pts)
        rows.append({
            "polygon_id": f"poly{j:06d}",
            "wkt": W.to_wkt(W.POLYGON, [ring]),
        })
    return pd.DataFrame(rows)


@pytest.mark.parametrize("round_idx", range(ROUNDS))
def test_pip_join_matches_oracle_random_layers(spark, round_idx):
    rng = np.random.default_rng(816_000 + round_idx)
    n_pts = int(rng.integers(500, 4000))
    n_polys = int(rng.integers(20, 200))
    images = _rand_points(rng, n_pts)
    polys = _rand_polys(rng, n_polys)
    want = pip_pairs_oracle(images, polys)

    sdf_pts = spark.createDataFrame(images)
    sdf_polys = ingest_geometry(
        spark.createDataFrame(polys), "wkt", keep_cols=["polygon_id"]
    )
    got = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join(sdf_pts, sdf_polys).collect()
    }
    assert got == want, (
        f"round {round_idx}: engine != oracle "
        f"({len(got)} vs {len(want)} pairs)"
    )
