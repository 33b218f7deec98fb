"""Numbers taken outside Spark: the refine kernels timed single-threaded
on fixed inputs, and a host-speed sentinel."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from workloads import ROOT, ensure_inputs

CONCAVE = ROOT / "bench_data" / "concave"
CONTAINS_PAIRS = 200_000
CONTAINS_REPEATS = 3


def host_sentinel_s() -> float:
    """A fixed single-thread NumPy sort loop. It gates nothing; recorded
    before and after a run, it shows whether the host drifted."""
    data = np.random.default_rng(0).random(1_000_000)
    start = time.perf_counter()
    for _ in range(16):
        np.sort(data, kind="quicksort")
    return time.perf_counter() - start


def _timed(fn):
    start = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - start


def kernel_rates() -> tuple[dict, bool]:
    """Pairs per second through ``st_contains_xy`` (seeded points inside
    the bench polygons' MBRs; median of three calls) and through the
    overlay numPoints kernels (the concave fixture's a x b part-pairs; one
    call each, as one takes about a second). The intersection result is
    checked against the fixture's exact expectation."""
    from workstealing_spatial_join_spark.functions import predicates as P

    polygons = pd.read_parquet(ensure_inputs()[1])
    rng = np.random.default_rng(20261017)
    pick = rng.integers(0, len(polygons), CONTAINS_PAIRS)
    box = polygons.iloc[pick]
    wkb = pd.Series(box["geom_wkb"].to_numpy())
    xs = pd.Series(rng.uniform(box["minx"].to_numpy(), box["maxx"].to_numpy()))
    ys = pd.Series(rng.uniform(box["miny"].to_numpy(), box["maxy"].to_numpy()))

    a = pd.read_parquet(CONCAVE / "layer_a.parquet").set_index("poly_id")
    b = pd.read_parquet(CONCAVE / "layer_b.parquet").set_index("poly_id")
    expected = pd.read_parquet(CONCAVE / "expected_int.parquet")
    wkb_a = pd.Series(a.loc[expected["a_id"], "geom_wkb"].to_numpy())
    wkb_b = pd.Series(b.loc[expected["b_id"], "geom_wkb"].to_numpy())

    contains_s = statistics.median(
        _timed(lambda: P.st_contains_xy.func(wkb, xs, ys))[1]
        for _ in range(CONTAINS_REPEATS)
    )
    got, intersection_s = _timed(lambda: P.st_intersection_num_points.func(wkb_a, wkb_b))
    _, union_s = _timed(lambda: P.st_union_num_points.func(wkb_a, wkb_b))
    ok = bool((got.to_numpy() == expected["expected"].to_numpy()).all())
    rates = {
        "predicates.contains_pairs_per_s": CONTAINS_PAIRS / contains_s,
        "overlay.intersection_pairs_per_s": len(expected) / intersection_s,
        "overlay.union_pairs_per_s": len(expected) / union_s,
    }
    return rates, ok
