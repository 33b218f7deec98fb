"""Cogrouped per-cell spatial join — the J3 physical strategy
(reference: per-thread partitioned join, src/thread_util.cpp:247-933)
for LARGE × LARGE layers where neither side fits in a broadcast.

Shape: tessellate both layers → hash each cell into one of B BUCKETS
(B ≈ 8× parallelism) → ``groupBy(bucket).cogroup(...)`` → one
``applyInPandas`` call per bucket, which pairs rows PER CELL inside
(pandas groupby, vectorized NumPy refine per cell). Each geometry
crosses the JVM→Python wire once per covering cell (not once per
candidate pair, as the WKB-column transport does).

Why buckets instead of one group per cell: cogroup pays a fixed
pandas/Arrow cost per GROUP. With millions of mostly-tiny cells (any
fine grid at scale) that fixed cost dominates; hashing cells into a
bounded number of fat groups amortizes it while keeping every
refine strictly cell-scoped. Group count stays O(cluster parallelism)
at any data scale.

Skew note: a cogroup group = one task; AQE cannot split it. Both
cogroup joins therefore take ``salt=True`` to PRE-SPLIT hot cells
before bucketing: the cost table (operators/skew.py) estimates
per-cell candidate volume, the probe side gets one salt per row, the
build side replicates across that cell's salts, and the pairing key
becomes (cell_id, salt) — bounding the largest single cell-task the
way TASKS_PER_JOB bounded the reference's work units
(include/global_var.h:26). This is the engine's only salting: the
Catalyst joins (operators/spatial_join.py) leave a hot cell to their
placement and to AQE's skew split, which can split a shuffle join's
partitions but not a cogroup group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.operators.spatial_join import (
    tessellate_bbox,
    tessellate_points,
)


def _candidate_pairs_mbr(lp: pd.DataFrame, rp: pd.DataFrame):
    """All (i, j) index pairs whose MBRs overlap — vectorized outer
    bbox test, chunked on the left axis to bound memory."""
    li = []
    rj = []
    rminx = rp["minx"].to_numpy()
    rminy = rp["miny"].to_numpy()
    rmaxx = rp["maxx"].to_numpy()
    rmaxy = rp["maxy"].to_numpy()
    lminx = lp["minx"].to_numpy()
    lminy = lp["miny"].to_numpy()
    lmaxx = lp["maxx"].to_numpy()
    lmaxy = lp["maxy"].to_numpy()
    chunk = max(1, 4_000_000 // max(len(rp), 1))
    for s in range(0, len(lp), chunk):
        e = min(s + chunk, len(lp))
        ov = (
            (lminx[s:e, None] <= rmaxx[None, :])
            & (rminx[None, :] <= lmaxx[s:e, None])
            & (lminy[s:e, None] <= rmaxy[None, :])
            & (rminy[None, :] <= lmaxy[s:e, None])
        )
        ii, jj = np.nonzero(ov)
        li.append(ii + s)
        rj.append(jj)
    if not li:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(li), np.concatenate(rj)


def _refine_values(lp, rp, li, rj, predicate: str) -> np.ndarray:
    """Refine candidate index pairs through the shared vectorized core
    (functions/predicates.refine_pairs_core): rect×rect closed-form,
    vertex-count-bucketed ring kernels, general-clipper fallback.
    Each cell's geometries decode once (executor decode cache)."""
    from workstealing_spatial_join_spark.functions.predicates import (
        refine_pairs_core,
    )

    uniques_l = [bytes(w) for w in lp["geom_wkb"]]
    uniques_r = [bytes(w) for w in rp["geom_wkb"]]
    return refine_pairs_core(li, uniques_l, rj, uniques_r, predicate)


def _salt_for_cogroup(probe: DataFrame, build: DataFrame, probe_keys,
                      target_pairs_per_task: int):
    """Pre-split hot cells: probe rows get one deterministic salt,
    build rows replicate across the cell's salts. Cold cells (absent
    from the cost table) keep salt 0 on both sides."""
    from workstealing_spatial_join_spark.operators.skew import (
        cell_cost_table,
        salt_build_side,
        salt_probe_side,
    )

    cost_hot = cell_cost_table(
        probe, build, target_pairs=target_pairs_per_task
    ).where(F.col("n_salt") > 1)
    # collect the (tiny) hot-cell table once and replay it locally:
    # both salting joins broadcast it, and each broadcast would
    # otherwise re-run the two groupBy aggregates behind it
    rows = cost_hot.collect()
    cost = probe.sparkSession.createDataFrame(rows, cost_hot.schema)
    return salt_probe_side(probe, cost, probe_keys), salt_build_side(build, cost)


def _with_bucket(df: DataFrame, n_buckets: int, salted: bool) -> DataFrame:
    cols = [F.col("cell_id")] + ([F.col("salt")] if salted else [])
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")
    )


def _default_buckets(df: DataFrame) -> int:
    return 8 * df.sparkSession.sparkContext.defaultParallelism


def _group_key_cols(salted: bool) -> list[str]:
    return ["cell_id", "salt"] if salted else ["cell_id"]


def _make_per_bucket(per_cell, empty_cols: dict, keys: list[str]):
    """Shared bucket body for both cogroup joins: pair the two sides'
    rows PER (cell[, salt]) group inside the bucket (pandas groupby),
    run ``per_cell(key, lg, rg)`` on each match, concat the frames."""

    def per_bucket(lp: pd.DataFrame, rp: pd.DataFrame) -> pd.DataFrame:
        if lp.empty or rp.empty:
            return pd.DataFrame(empty_cols)
        frames = []
        rgroups = dict(tuple(rp.groupby(keys)))
        for key, lg in lp.groupby(keys):
            rg = rgroups.get(key)
            if rg is None:
                continue
            out = per_cell(key, lg, rg)
            if out is not None:
                frames.append(out)
        if not frames:
            return pd.DataFrame(empty_cols)
        return pd.concat(frames, ignore_index=True)

    return per_bucket


def polygon_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "l_id",
    right_id: str = "r_id",
    predicate: str = "intersects",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    mode: str = "pairs",  # pairs | count
    dedup: str = "refpoint",
    salt: bool = False,
    target_pairs_per_task: int = 100_000,
    n_buckets: int | None = None,
) -> DataFrame:
    """Large×large polygon join via cell-bucketed cogroup. Semantics
    match operators.spatial_join.polygon_join exactly (tested) for all
    three runtime predicates (intersects / intersection_numpoints /
    union_numpoints)."""
    if predicate not in (
        "intersects", "intersection_numpoints", "union_numpoints"
    ):
        raise ValueError(f"unknown predicate {predicate!r}")
    if dedup != "refpoint":
        # polygon_join's 'parity' mode keeps one row per covering cell
        # with a cell_id column — not implemented here; accepting it
        # silently would change the output contract
        raise ValueError(
            f"unsupported dedup {dedup!r}: polygon_join_cogrouped "
            "implements only 'refpoint'"
        )
    numpoints = predicate != "intersects"
    lt = tessellate_bbox(
        left.select(
            F.col(left_id).alias("lid"), "geom_wkb", "minx", "miny", "maxx", "maxy"
        ),
        cell_deg,
    )
    rt = tessellate_bbox(
        right.select(
            F.col(right_id).alias("rid"), "geom_wkb", "minx", "miny", "maxx", "maxy"
        ),
        cell_deg,
    )
    if salt:
        lt, rt = _salt_for_cogroup(lt, rt, ["lid"], target_pairs_per_task)
    nb = n_buckets or _default_buckets(left)
    lt = _with_bucket(lt, nb, salt)
    rt = _with_bucket(rt, nb, salt)
    keys = _group_key_cols(salt)

    empty_cols: dict = {"lid": [], "rid": []}
    if numpoints:
        empty_cols["num_points"] = []

    def per_cell(key, lp: pd.DataFrame, rp: pd.DataFrame):
        cell = key[0] if isinstance(key, tuple) else key
        li, rj = _candidate_pairs_mbr(lp, rp)
        if len(li) == 0:
            return None
        if dedup == "refpoint":
            # keep the pair only in the cell holding the MBR-overlap
            # top-left corner (same rule as the Catalyst path)
            rx = np.maximum(lp["minx"].to_numpy()[li], rp["minx"].to_numpy()[rj])
            ry = np.maximum(lp["miny"].to_numpy()[li], rp["miny"].to_numpy()[rj])
            owner = GRID.cell_id(rx, ry, cell_deg)
            sel = owner == cell
            li, rj = li[sel], rj[sel]
            if len(li) == 0:
                return None
        vals = _refine_values(lp, rp, li, rj, predicate)
        if numpoints:
            keep = vals > 0
            return pd.DataFrame(
                {
                    "lid": lp["lid"].to_numpy()[li[keep]],
                    "rid": rp["rid"].to_numpy()[rj[keep]],
                    "num_points": vals[keep],
                }
            )
        keep = vals
        return pd.DataFrame(
            {
                "lid": lp["lid"].to_numpy()[li[keep]],
                "rid": rp["rid"].to_numpy()[rj[keep]],
            }
        )

    per_bucket = _make_per_bucket(per_cell, empty_cols, keys)

    lid_t = lt.schema["lid"].dataType.simpleString()
    rid_t = rt.schema["rid"].dataType.simpleString()
    schema = f"lid {lid_t}, rid {rid_t}"
    if numpoints:
        schema += ", num_points bigint"
    pairs = (
        lt.groupBy("bucket")
        .cogroup(rt.groupBy("bucket"))
        .applyInPandas(per_bucket, schema=schema)
    )
    if mode == "count":
        if numpoints:
            return pairs.agg(F.sum("num_points").alias("join_count"))
        return pairs.agg(F.count(F.lit(1)).alias("join_count"))
    return pairs


def point_in_polygon_join_cogrouped(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "image_id",
    poly_id: str = "polygon_id",
    lon: str = "lon",
    lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    mode: str = "pairs",
    salt: bool = False,
    target_pairs_per_task: int = 100_000,
    n_buckets: int | None = None,
) -> DataFrame:
    """Large×large PIP via cell-bucketed cogroup (polygon layer too
    big to broadcast). Each polygon crosses the wire once per covering
    cell; points pair only with polygons sharing their exact cell."""
    pts = tessellate_points(
        points.select(
            F.col(point_id).alias("point_id"),
            F.col(lon).alias("px"),
            F.col(lat).alias("py"),
        ),
        lon="px",
        lat="py",
        cell_deg=cell_deg,
    )
    pls = tessellate_bbox(
        polygons.select(
            F.col(poly_id).alias("poly_id"),
            "geom_wkb", "minx", "miny", "maxx", "maxy",
        ),
        cell_deg,
    )
    if salt:
        pts, pls = _salt_for_cogroup(
            pts, pls, ["point_id"], target_pairs_per_task
        )
    nb = n_buckets or _default_buckets(points)
    pts = _with_bucket(pts, nb, salt)
    pls = _with_bucket(pls, nb, salt)
    keys = _group_key_cols(salt)

    def per_cell(_key, lp: pd.DataFrame, rp: pd.DataFrame):
        # candidate (point, polygon) pairs by bbox containment, then
        # ONE vectorized pass through the shared contains core
        # (vertex-count-bucketed ray-cast; decode cached per executor)
        from workstealing_spatial_join_spark.functions.predicates import (
            _contains_xy_core,
            _geom_info,
        )

        xs = lp["px"].to_numpy()
        ys = lp["py"].to_numpy()
        x0 = rp["minx"].to_numpy()
        y0 = rp["miny"].to_numpy()
        x1 = rp["maxx"].to_numpy()
        y1 = rp["maxy"].to_numpy()
        inbox = (
            (xs[:, None] >= x0[None, :]) & (xs[:, None] <= x1[None, :])
            & (ys[:, None] >= y0[None, :]) & (ys[:, None] <= y1[None, :])
        )
        li, rj = np.nonzero(inbox)
        if len(li) == 0:
            return None
        infos = [_geom_info(bytes(w)) for w in rp["geom_wkb"]]
        keep = _contains_xy_core(rj, infos, xs[li], ys[li])
        if not keep.any():
            return None
        return pd.DataFrame(
            {
                "point_id": lp["point_id"].to_numpy()[li[keep]],
                "poly_id": rp["poly_id"].to_numpy()[rj[keep]],
            }
        )

    per_bucket = _make_per_bucket(
        per_cell, {"point_id": [], "poly_id": []}, keys
    )

    pid_t = pts.schema["point_id"].dataType.simpleString()
    gid_t = pls.schema["poly_id"].dataType.simpleString()
    pairs = (
        pts.groupBy("bucket")
        .cogroup(pls.groupBy("bucket"))
        .applyInPandas(per_bucket, schema=f"point_id {pid_t}, poly_id {gid_t}")
    )
    if mode == "count":
        return pairs.agg(F.count(F.lit(1)).alias("join_count"))
    return pairs
