"""The kNN settle rule at its edges, planar and great-circle, against a
serial NumPy brute force.

A query settles in a round when its rank-k row has a distance strictly
below the round's reach. Each case is laid out on a sparse corpus (no
split cells) with an explicit first ring or radius, so the reach of
every round is known:

* a k-th neighbour exactly at the reach does not settle in that round;
* ties at the k-th distance are split by neighbour id;
* a query with fewer than k candidates in the first round, and one
  with none, keep doubling until they settle;
* a query id given on several rows is one query."""

import numpy as np
import pandas as pd
import pytest

from tests.test_knn_split import frame
from tests.test_knn_split import oracle as planar_oracle
from workstealing_spatial_join_spark.operators.knn import (
    EARTH_RADIUS_KM,
    knn_haversine_join,
    knn_join,
)

K = 2
# (query, its candidates) per case, in degrees; the ids of the tied
# candidates are out of order on purpose
AT_REACH = ((0.5, 0.5), [(1.5, 0.5, 3), (0.5, 0.75, 4)])  # k-th at 1 cell
TIES = ((10.5, 0.0), [(10.75, 0.0, 40), (10.25, 0.0, 12),
                      (10.5, 0.25, 33), (10.5, -0.25, 7)])
FEWER = ((20.5, 20.5), [(20.6, 20.6, 50), (23.5, 20.5, 51)])
NONE = ((-30.5, -30.5), [(-36.5, -30.5, 60), (-30.5, -37.5, 61)])
CASES = {-1: AT_REACH, -2: TIES, -3: FEWER, -4: NONE}


def corpus() -> pd.DataFrame:
    rows = [c for _, cands in CASES.values() for c in cands]
    # a far background, two points per cell at most: no cell is split
    rng = np.random.default_rng(41)
    bg = rng.uniform(50.0, 60.0, size=(40, 2))
    return pd.concat([
        frame([i for _, _, i in rows], [x for x, _, _ in rows], [y for _, y, _ in rows]),
        frame(np.arange(1000, 1040), bg[:, 0], bg[:, 1]),
    ], ignore_index=True)


def queries(ids) -> pd.DataFrame:
    return frame(ids, [CASES[i][0][0] for i in ids], [CASES[i][0][1] for i in ids])


def haversine_oracle(q: pd.DataFrame, c: pd.DataFrame, k: int) -> dict:
    """(query_id, rank) → (neighbor_id, dist_km), ties by neighbor_id;
    the operator's formula, term for term."""
    rad = np.pi / 180.0
    cid, cx, cy = (c[col].to_numpy() for col in ("id", "lon", "lat"))
    out = {}
    for qid, qx, qy in q[["id", "lon", "lat"]].itertuples(index=False):
        dlat = (cy - qy) * rad
        dlon = (cx - qx) * rad
        a = (np.sin(dlat / 2) * np.sin(dlat / 2)
             + np.cos(qy * rad) * np.cos(cy * rad) * np.sin(dlon / 2) * np.sin(dlon / 2))
        d = 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
        for rank, j in enumerate(np.lexsort((cid, d))[:k], start=1):
            out[(int(qid), rank)] = (int(cid[j]), float(d[j]))
    return out


def run(spark, metric, q, c, first):
    stats = {}
    qdf = spark.createDataFrame(q).cache()
    cdf = spark.createDataFrame(c).cache()
    if metric == "planar":
        df = knn_join(qdf, cdf, k=K, query_id="id", cand_id="id", cell_deg=1.0,
                      initial_ring=first, stats=stats)
    else:
        df = knn_haversine_join(qdf, cdf, k=K, query_id="id", cand_id="id",
                                cell_deg=1.0, initial_radius_km=first, stats=stats)
    rows = df.collect()
    got = {(r.query_id, r["rank"]): (r.neighbor_id, r[3]) for r in rows}
    assert len(got) == len(rows)  # one row per (query, rank)
    qdf.unpersist()
    cdf.unpersist()
    return got, stats


def check(got, want, metric):
    assert got.keys() == want.keys()
    for key, (nid, dist) in want.items():
        assert got[key][0] == nid, key
        if metric == "planar":
            assert got[key][1] == dist, key
        else:
            assert got[key][1] == pytest.approx(dist, rel=1e-12), key


def kth_at_reach(spark, metric, c) -> float:
    """The first ring (planar) or radius (great-circle) that puts the
    k-th neighbour of AT_REACH exactly at the first round's reach: one
    cell for the planar join, and for the great-circle join the
    distance as the operator computes it."""
    if metric == "planar":
        return 1
    q = queries([-1])
    got, _ = run(spark, metric, q, c, 1000.0)
    return got[(-1, K)][1]


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_kth_neighbour_at_the_reach_waits_a_round(spark, metric):
    c = corpus()
    first = kth_at_reach(spark, metric, c)
    q = queries([-1])
    got, stats = run(spark, metric, q, c, first)
    assert stats["rounds"] == 2
    want = (planar_oracle(q, c, K, False) if metric == "planar"
            else haversine_oracle(q, c, K))
    check(got, want, metric)


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_ties_short_and_empty_queries_and_repeated_ids(spark, metric):
    """Every case in one query frame, two ids repeated: the first round
    settles only the tie case, and the rest settle by subtraction over
    later rounds."""
    c = corpus()
    first = kth_at_reach(spark, metric, c)
    q = queries([-1, -2, -3, -4])
    dup = pd.concat([q, q.iloc[[0, 1]], q.iloc[[1]]], ignore_index=True)
    got, stats = run(spark, metric, dup, c, first)
    assert stats["rounds"] >= 3
    want = (planar_oracle(q, c, K, False) if metric == "planar"
            else haversine_oracle(q, c, K))
    check(got, want, metric)
    # the tie at the k-th distance went to the lesser ids
    assert [got[(-2, r)][0] for r in (1, 2)] == [7, 12]
