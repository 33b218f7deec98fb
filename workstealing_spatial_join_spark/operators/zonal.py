"""Zonal statistics: aggregate point-carried measures per containing
polygon zone (the classic raster/vector "zonal stats" operator, here
vector-native: points = sample sites / image capture locations, zones
= polygons).

Reference parity: the reference engine stops at the join scalar
(match count / numPoints sums, src/thread_util.cpp:424-441); zonal
statistics is the natural aggregate a user of that join computes
next, and a first-class need for a geo-referenced image corpus
(per-region image counts, pixel volumes, duplicate density).

Scale shape: ONE spatial equi-join (grid cell key + MBR residual +
exact refine) with the measure columns riding the probe side —
``point_in_polygon_join(point_payload=...)`` — followed by ONE
map-side-combinable groupBy on the zone id. No second join back to
the point table (that re-shuffle of the full pair table is the
naive plan), no driver materialization. Skewed zones inherit the
join's skew handling (its placement and AQE's skew split); the
aggregate itself is pre-combined per partition by Catalyst's partial
aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.operators.spatial_join import (
    point_in_polygon_join,
)


def zonal_stats(
    points: DataFrame,
    zones: DataFrame,
    aggs: Sequence[Column],
    point_id: str = "point_id",
    zone_id: str = "zone_id",
    lon: str = "lon",
    lat: str = "lat",
    payload: Sequence[str] = (),
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    include_empty_zones: bool = False,
    **pip_kwargs,
) -> DataFrame:
    """Per-zone aggregates over the points each zone contains.

    ``aggs`` are ordinary Catalyst aggregate Columns over the payload
    columns (e.g. ``F.sum(F.col('w') * F.col('h'))``); ``payload``
    names the point columns those aggregates read. Zones containing
    no point are absent unless ``include_empty_zones`` (left join of
    the zone ids against the aggregate — zone-side table only, no
    extra pass over the points).
    """
    pairs = point_in_polygon_join(
        points,
        zones,
        point_id=point_id,
        poly_id=zone_id,
        lon=lon,
        lat=lat,
        cell_deg=cell_deg,
        mode="pairs",
        point_payload=tuple(payload),
        **pip_kwargs,
    )
    out = pairs.groupBy(F.col("poly_id").alias(zone_id)).agg(*aggs)
    if include_empty_zones:
        ids = zones.select(F.col(zone_id)).distinct()
        out = ids.join(out, zone_id, "left")
    return out
