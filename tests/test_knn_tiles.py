"""kNN join vs brute-force oracle; tile assignment vs arithmetic."""

import numpy as np
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.operators.knn import knn_join
from workstealing_spatial_join_spark.operators.tiles import (
    assign_tiles,
    tile_cell_assignment,
)
from workstealing_spatial_join_spark.sources import fixtures as FX


def brute_knn(qdf, cdf, k, exclude_self):
    out = {}
    for _, q in qdf.iterrows():
        dists = []
        for _, c in cdf.iterrows():
            if exclude_self and q["image_id"] == c["image_id"]:
                continue
            d = float(
                np.sqrt((q["lon"] - c["lon"]) ** 2 + (q["lat"] - c["lat"]) ** 2)
            )
            dists.append((d, c["image_id"]))
        dists.sort()
        out[q["image_id"]] = [nid for _, nid in dists[:k]]
    return out


def test_knn_matches_bruteforce(spark):
    pdf = FX.images_pdf(300, with_bytes=False)
    df = spark.createDataFrame(pdf[["image_id", "lon", "lat"]]).cache()
    queries = df.limit(40)
    got_rows = knn_join(
        queries, df, k=3, exclude_self=True, initial_ring=1
    ).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    qpdf = pdf.iloc[: len(got)].copy()
    want = brute_knn(
        pdf[pdf.image_id.isin(got.keys())], pdf, k=3, exclude_self=True
    )
    assert got == want
    assert all(len(v) == 3 for v in got.values())


def test_knn_ring_invariance(spark):
    """Initial ring size must not change results (only performance)."""
    pdf = FX.images_pdf(200, with_bytes=False)
    df = spark.createDataFrame(pdf[["image_id", "lon", "lat"]]).cache()
    a = knn_join(df.limit(20), df, k=4, initial_ring=1, exclude_self=True)
    b = knn_join(df.limit(20), df, k=4, initial_ring=32, exclude_self=True)
    ra = {(r.query_id, r.rank, r.neighbor_id) for r in a.collect()}
    rb = {(r.query_id, r.rank, r.neighbor_id) for r in b.collect()}
    assert ra == rb


def test_knn_exact_boundary_distances(spark):
    """Adversarial settle-condition fixture: a non-representable
    cell_deg (0.1) and coordinates quantized to exact 0.05 steps put
    many k-th distances exactly ON ring radii — the configuration
    where the old ``kth <= r*cell_deg`` settle rule could keep a
    seen candidate over an unseen equal/closer one. Must equal brute
    force exactly (strict '<' settle)."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 240
    pdf = pd.DataFrame(
        {
            "image_id": [f"c{i}" for i in range(n)],
            "lon": np.round(rng.integers(-60, 60, n) * 0.05, 10),
            "lat": np.round(rng.integers(-60, 60, n) * 0.05, 10),
        }
    )
    df = spark.createDataFrame(pdf).cache()
    queries = df.limit(30)
    got_rows = knn_join(
        queries, df, k=3, exclude_self=True, cell_deg=0.1, initial_ring=1
    ).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    want = brute_knn(pdf[pdf.image_id.isin(got.keys())], pdf, k=3, exclude_self=True)
    # ties at equal distance break by neighbor_id in BOTH paths: the
    # brute oracle sorts (dist, id) tuples, matching the window order
    assert got == want


def test_knn_auto_initial_ring(spark):
    """initial_ring='auto' (default) must match an explicit ring, and
    the stats report the split decision: the fixture's hot box (10 %
    of the images in one cell) is the one split cell."""
    pdf = FX.images_pdf(200, with_bytes=False)
    df = spark.createDataFrame(pdf[["image_id", "lon", "lat"]]).cache()
    stats = {}
    a = knn_join(df.limit(20), df, k=4, exclude_self=True, stats=stats)  # auto
    b = knn_join(df.limit(20), df, k=4, initial_ring=8, exclude_self=True)
    assert {(r.query_id, r.rank, r.neighbor_id) for r in a.collect()} == {
        (r.query_id, r.rank, r.neighbor_id) for r in b.collect()
    }
    assert stats["split_cells"] == 1 and stats["max_level"] >= 1


def test_knn_duplicate_query_ids_run_no_extra_rounds(spark):
    """Every query row twice: both loops count distinct query ids, so
    the duplicated input runs exactly the rounds of the de-duplicated
    one (a row count would never reach zero and run empty rounds up
    to the whole-grid ring)."""
    from workstealing_spatial_join_spark.operators.knn import knn_haversine_join

    pdf = FX.images_pdf(200, with_bytes=False)
    df = spark.createDataFrame(pdf[["image_id", "lon", "lat"]]).cache()
    q = df.where(F.col("image_id") < "img000000000020")
    for join in (knn_join, knn_haversine_join):
        once, twice = {}, {}
        join(q, df, k=3, exclude_self=True, stats=once).collect()
        join(q.unionByName(q), df, k=3, exclude_self=True, stats=twice).collect()
        assert twice["rounds"] == once["rounds"], join.__name__


def test_assign_tiles_arithmetic(spark):
    pdf = FX.images_pdf(100, with_bytes=False)
    df = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
    rows = {r.image_id: r for r in assign_tiles(df, zoom=6).collect()}
    for _, p in pdf.iterrows():
        tx = min(max(int(np.floor((p.lon + 180.0) / 360.0 * 64)), 0), 63)
        ty = min(max(int(np.floor((90.0 - p.lat) / 180.0 * 64)), 0), 63)
        r = rows[p.image_id]
        assert r.tile_id == f"z6/{tx}/{ty}"


def test_tile_cell_assignment_cover(spark):
    tc = tile_cell_assignment(spark, zoom=6, cell_deg=1.0)
    rows = tc.collect()
    # zoom 6 lat/lon tiles are 5.625° × 2.8125° → cover 6 or 7 × 3 or 4 cells
    per_tile = {}
    for r in rows:
        per_tile.setdefault(r.tile_id, 0)
        per_tile[r.tile_id] += 1
    assert len(per_tile) == 64 * 64
    assert all(12 <= n <= 28 for n in per_tile.values())


def test_dwithin_haversine_vs_bruteforce(spark):
    """Great-circle range join vs a NumPy haversine oracle, with
    points pushed to high latitudes where a fixed Chebyshev ring in
    degrees would miss neighbors (longitude degrees shrink)."""
    import pandas as pd

    from workstealing_spatial_join_spark.operators.knn import (
        EARTH_RADIUS_KM,
        dwithin_haversine_join,
    )

    rng = np.random.default_rng(17)
    n = 400
    pdf = pd.DataFrame(
        {
            "image_id": [f"p{i}" for i in range(n)],
            "lon": rng.uniform(-170, 170, n),
            # bias toward high latitudes (pole-adjacent cover matters)
            "lat": np.clip(rng.normal(70, 15, n), -89, 89),
        }
    )
    df = spark.createDataFrame(pdf).cache()
    radius = 300.0  # km
    got = {
        (r.left_id, r.right_id)
        for r in dwithin_haversine_join(
            df, df, radius, exclude_self=True, cell_deg=1.0
        ).collect()
    }

    lon = np.radians(pdf.lon.to_numpy())
    lat = np.radians(pdf.lat.to_numpy())
    dlat = lat[:, None] - lat[None, :]
    dlon = lon[:, None] - lon[None, :]
    a = (
        np.sin(dlat / 2) ** 2
        + np.cos(lat)[:, None] * np.cos(lat)[None, :] * np.sin(dlon / 2) ** 2
    )
    d = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.clip(a, 0, 1)))
    ids = pdf.image_id.to_numpy()
    want = {
        (ids[i], ids[j])
        for i, j in zip(*np.nonzero(d <= radius))
        if i != j
    }
    assert got == want and len(want) > 50


def test_knn_haversine_vs_bruteforce(spark):
    """Great-circle kNN vs a NumPy haversine oracle — high latitudes
    AND antimeridian-adjacent longitudes included (both break planar
    ring covers)."""
    import pandas as pd

    from workstealing_spatial_join_spark.operators.knn import (
        EARTH_RADIUS_KM,
        knn_haversine_join,
    )

    rng = np.random.default_rng(23)
    n = 300
    pdf = pd.DataFrame(
        {
            "image_id": [f"h{i:03d}" for i in range(n)],
            "lon": rng.uniform(-180, 180, n),
            "lat": np.clip(rng.normal(60, 25, n), -89, 89),
        }
    )
    df = spark.createDataFrame(pdf).cache()
    got_rows = knn_haversine_join(
        df.limit(25), df, k=4, exclude_self=True, cell_deg=1.0
    ).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)

    lon = np.radians(pdf.lon.to_numpy())
    lat = np.radians(pdf.lat.to_numpy())
    dlat = lat[:, None] - lat[None, :]
    dlon = lon[:, None] - lon[None, :]
    a = (
        np.sin(dlat / 2) ** 2
        + np.cos(lat)[:, None] * np.cos(lat)[None, :] * np.sin(dlon / 2) ** 2
    )
    d = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.clip(a, 0, 1)))
    ids = pdf.image_id.to_numpy()
    want = {}
    for qid in got:
        i = int(np.nonzero(ids == qid)[0][0])
        order = sorted(
            ((d[i, j], ids[j]) for j in range(n) if j != i)
        )
        want[qid] = [nid for _, nid in order[:4]]
    assert got == want
    assert all(len(v) == 4 for v in got.values())
