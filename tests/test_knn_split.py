"""Density-adaptive kNN cells against a serial NumPy oracle.

Every case puts a split cell in the candidate layer (asserted through
``stats``) and compares the whole result — neighbour, rank and
distance — with a brute force that sorts every candidate by
``(dist, neighbor_id)``."""

import numpy as np
import pandas as pd
import pytest

from workstealing_spatial_join_spark.operators import knn as KNN
from workstealing_spatial_join_spark.operators.knn import knn_join


def oracle(q: pd.DataFrame, c: pd.DataFrame, k: int, exclude_self: bool) -> dict:
    """(query_id, rank) → (neighbor_id, dist), ties by neighbor_id."""
    cid = c["id"].to_numpy()
    cx = c["lon"].to_numpy()
    cy = c["lat"].to_numpy()
    out = {}
    for qid, qx, qy in q[["id", "lon", "lat"]].itertuples(index=False):
        dx = qx - cx
        dy = qy - cy
        d = np.sqrt(dx * dx + dy * dy)
        keep = cid != qid if exclude_self else np.ones(len(cid), bool)
        order = np.lexsort((cid[keep], d[keep]))[:k]
        for rank, j in enumerate(order, start=1):
            out[(int(qid), rank)] = (int(cid[keep][j]), float(d[keep][j]))
    return out


def run(spark, q, c, k, exclude_self, **kw):
    stats = {}
    qdf = spark.createDataFrame(q)
    cdf = spark.createDataFrame(c).cache()
    rows = knn_join(
        qdf, cdf, k=k, query_id="id", cand_id="id",
        exclude_self=exclude_self, stats=stats, **kw,
    ).collect()
    got = {(r.query_id, r["rank"]): (r.neighbor_id, r.dist) for r in rows}
    assert len(got) == len(rows)  # one row per (query, rank)
    return got, stats


def frame(ids, lon, lat) -> pd.DataFrame:
    return pd.DataFrame({
        "id": np.asarray(ids, dtype=np.int64),
        "lon": np.asarray(lon, dtype=np.float64),
        "lat": np.asarray(lat, dtype=np.float64),
    })


def hot_layer(rng, n_bg, n_hot, hot=(2.0, 4.0), extent=10.0, side=1.0):
    """Uniform background over ±extent plus n_hot points in the cell
    [hot, hot + side)²."""
    lon = np.concatenate([rng.uniform(-extent, extent, n_bg),
                          rng.uniform(hot[0], hot[0] + side, n_hot)])
    lat = np.concatenate([rng.uniform(-extent, extent, n_bg),
                          rng.uniform(hot[1], hot[1] + side, n_hot)])
    return frame(np.arange(len(lon)), lon, lat)


@pytest.mark.parametrize("exclude_self", [True, False])
def test_split_cell_holding_30_percent(spark, exclude_self):
    """One cell holds 30 % of the points; queries inside it, in the
    background, and cold queries just outside its edges."""
    rng = np.random.default_rng(11)
    c = hot_layer(rng, 1400, 600)
    q = pd.concat([
        c.iloc[1400:1420], c.iloc[:15],
        # cold queries hugging the hot cell from each side
        frame([-1, -2, -3, -4], [1.97, 3.03, 2.5, 2.5], [4.5, 4.5, 3.98, 5.02]),
    ])
    got, stats = run(spark, q, c, 5, exclude_self)
    assert stats["split_cells"] >= 1 and stats["max_level"] >= 2
    assert got == oracle(q, c, 5, exclude_self)


@pytest.mark.parametrize("initial_ring", ["auto", 1])
def test_density_gradient_inside_split_cell(spark, initial_ring):
    """Random queries over a split cell whose density falls off across
    it: on the sparse side the k-th neighbour lies near the query's
    small radius, so a cover that drops a fine column or a settle test
    looser than the radius shows up as a wrong neighbour (ring 1 puts
    the first round's box one fine cell from the query)."""
    rng = np.random.default_rng(17)
    bg = hot_layer(rng, 1400, 0)
    u = rng.uniform(0, 1, 800)
    grad = frame(np.arange(3000, 3800), 2.0 + u * u, rng.uniform(4.0, 5.0, 800))
    c = pd.concat([bg, grad])
    q = frame(-np.arange(1, 151), rng.uniform(2.0, 3.0, 150), rng.uniform(4.0, 5.0, 150))
    got, stats = run(spark, q, c, 3, False, initial_ring=initial_ring)
    assert stats["split_cells"] >= 1
    assert got == oracle(q, c, 3, False)


def test_pile_on_one_coordinate_hits_level_cap(spark, monkeypatch):
    """500 points on one coordinate inside a split cell: every
    distance ties at 0, so the order is the id tie-break alone, and
    the cell's level is held at the cap."""
    monkeypatch.setattr(KNN, "SPLIT_MAX_LEVEL", 2)
    rng = np.random.default_rng(12)
    c = hot_layer(rng, 1400, 300)
    pile = frame(np.arange(5000, 5500), np.full(500, 2.25), np.full(500, 4.75))
    c = pd.concat([c, pile])
    q = pd.concat([pile.iloc[[0, 17, 499]], c.iloc[1400:1410],
                   frame([-1], [2.2500001], [4.75])])
    got, stats = run(spark, q, c, 7, True)
    assert stats["max_level"] == 2
    assert got == oracle(q, c, 7, True)


def test_queries_on_coarse_and_fine_edges(spark):
    """cell_deg=0.1 (not a binary fraction) with every coordinate on a
    lattice of 0.1/16: points and queries sit exactly on coarse and
    fine cell edges, where the floor of u · 2^L is most fragile."""
    rng = np.random.default_rng(13)
    step = 0.1 / 16
    bg = rng.integers(-160, 160, size=(900, 2)) * step
    hot = 0.3 + rng.integers(0, 16, size=(500, 2)) * step  # cell [0.3, 0.4)²
    xy = np.round(np.vstack([bg, hot]), 12)
    c = frame(np.arange(len(xy)), xy[:, 0], xy[:, 1])
    edges = [0.3, 0.3 + step, 0.3 + 2 * step, 0.3 + 8 * step, 0.4, 0.2]
    qxy = [(x, y) for x in edges for y in edges]
    q = pd.concat([
        frame(-np.arange(1, len(qxy) + 1), [x for x, _ in qxy], [y for _, y in qxy]),
        c.iloc[900:915],
    ])
    got, stats = run(spark, q, c, 4, True, cell_deg=0.1)
    assert stats["split_cells"] >= 1
    assert got == oracle(q, c, 4, True)


def test_k_larger_than_hot_population(spark):
    """k exceeds every cell's population, so no query can settle
    inside its own cell; the coarse ring has to reach outward."""
    rng = np.random.default_rng(14)
    c = hot_layer(rng, 600, 40)
    q = pd.concat([c.iloc[600:610], c.iloc[:5]])
    got, _ = run(spark, q, c, 60, False)
    assert got == oracle(q, c, 60, False)


def test_empty_corner_of_split_cell_needs_more_rounds(spark):
    """A split cell whose points all sit in one corner: a query in the
    opposite corner gets the cell's small radius, finds nothing, and
    must keep doubling (across level boundaries) until exact."""
    rng = np.random.default_rng(15)
    bg = hot_layer(rng, 1400, 0)
    corner = frame(np.arange(2000, 2600),
                   rng.uniform(2.0, 2.1, 600), rng.uniform(4.0, 4.1, 600))
    c = pd.concat([bg, corner])
    q = pd.concat([frame([-1, -2], [2.95, 2.5], [4.95, 4.99]),
                   corner.iloc[:5]])
    got, stats = run(spark, q, c, 5, True)
    assert stats["split_cells"] >= 1 and stats["rounds"] >= 2
    assert got == oracle(q, c, 5, True)


def test_split_stats_hot_vs_uniform(spark):
    """The split decision is reported: a hot fixture splits its hot
    cell, a uniform one splits nothing."""
    rng = np.random.default_rng(16)
    hot = hot_layer(rng, 1400, 600)
    uniform = hot_layer(rng, 2000, 0)
    _, s_hot = run(spark, hot.iloc[:5], hot, 3, True)
    _, s_uni = run(spark, uniform.iloc[:5], uniform, 3, True)
    assert s_hot["split_cells"] == 1 and s_hot["max_level"] >= 2
    assert s_uni["split_cells"] == 0 and s_uni["max_level"] == 0
    assert {"initial_ring", "rounds"} <= s_hot.keys()


def test_level_rule():
    """floor(log4(n / density)), capped, and only when the fine ring
    is under one cell."""
    assert KNN._split_level(20004, 4.58, 5, 2) == 6  # the bench hot box
    assert KNN._split_level(18, 4.58, 5, 2) == 0  # < 4x density
    assert KNN._split_level(10**9, 1.0, 5, 2) == KNN.SPLIT_MAX_LEVEL
    # sparse layer, auto ring 39: a 1-point cell is not worth a split
    assert KNN._split_level(1, 0.0046, 5, 39) == 0
    # explicit small ring: the cell's own points bound the level
    assert KNN._split_level(20, 0.0046, 5, 1) == 0
