"""Task-time skew of a point-in-polygon join on one hot cell, by plan.

The bench corpus (``bench_data/``) made hot: the 20k images of the
fixture's hot box (cell [10, 11] x [45, 46]) are kept, every other image
only when ``hash(image_id) % 10 == 0``, so the hot cell holds more than
half of the points; 200 extra polygons (squares and triangles around
(10.5, 45.5)) are added to the 10k bench polygons, so many polygon rows
cover that cell. The join (pairs, counted) then runs under three plans:

* ``partitioned``: against a ``PreparedPolygonLayer`` — a sort-merge
  join on the layer's cell-partitioned cache, only the points shuffled;
* ``broadcast``: the same prepared layer with its analysis marked not
  cell-partitioned, so ``plan_join`` broadcasts its cached tessellation
  to the points' scan splits (the plan every prepared-layer join had
  before the layer was cell-partitioned);
* ``salted``: the prepared layer with ``salt=True`` — hot cells found,
  so the layer is salted and broadcast.

Per plan: one warm-up op, then ``REPS`` timed ops, each under its own
job group. Each op reports its wall seconds and perfbench's
``spark.task_skew``: max ÷ median task time of the stage whose slowest
task was the slowest of the op (``perfbench/probe.py``). Prints one
JSON line.

Usage: python scripts/hot_cell_trade.py  (``SPARK_GRAFT_CPUS`` sets the
cores; shuffle partitions follow them, as in perfbench)
"""

import json
import os
import sys
import time
from dataclasses import replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from probe import SparkProbe  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from workstealing_spatial_join_spark.operators.ingest import ingest_geometry  # noqa: E402
from workstealing_spatial_join_spark.operators.spatial_join import (  # noqa: E402
    PreparedPolygonLayer,
    point_in_polygon_join,
)
from workstealing_spatial_join_spark.session import default_cores, get_spark  # noqa: E402

REPS = 5
HOT_X, HOT_Y = 10.5, 45.5


def hot_polygons_wkt(n: int = 200) -> list[tuple[str, str]]:
    rows = []
    for i in range(n):
        h = 0.05 + 1.5 * i / n
        if i % 2:
            ring = [(HOT_X - h, HOT_Y - h), (HOT_X + h, HOT_Y - h),
                    (HOT_X + h, HOT_Y + h), (HOT_X - h, HOT_Y + h)]
        else:
            ring = [(HOT_X - h, HOT_Y - h), (HOT_X + h, HOT_Y), (HOT_X - h, HOT_Y + h)]
        ring.append(ring[0])
        coords = ", ".join(f"{x!r} {y!r}" for x, y in ring)
        rows.append((f"hot{i:04d}", f"POLYGON (({coords}))"))
    return rows


def main():
    cores = default_cores()
    spark = get_spark("hot_cell_trade", cores=cores, shuffle_partitions=cores)
    sc = spark.sparkContext
    probe = SparkProbe(spark)
    bd = os.path.join(ROOT, "bench_data")
    images = spark.read.parquet(f"{bd}/images_200000.parquet").select(
        "image_id", "lon", "lat")
    hot = (F.floor("lon") == 10) & (F.floor("lat") == 45)
    images = images.where(hot | (F.abs(F.hash("image_id")) % 10 == 0)).cache()
    n_points, n_hot = images.agg(F.count("*"), F.sum(hot.cast("int"))).first()
    bench = spark.read.parquet(f"{bd}/polygons_10000.parquet").select(
        "polygon_id", "geom_wkb", "minx", "miny", "maxx", "maxy")
    extra = ingest_geometry(
        spark.createDataFrame(hot_polygons_wkt(), "polygon_id string, wkt string"),
        "wkt", keep_cols=["polygon_id"],
    ).select("polygon_id", "geom_wkb", "minx", "miny", "maxx", "maxy")
    polygons = bench.unionByName(extra).cache()
    polygons.count()
    layer = PreparedPolygonLayer(polygons)
    broadcast = PreparedPolygonLayer(polygons)
    broadcast.analysis = replace(broadcast.analysis, cell_partitioned=False)
    plans = {
        "partitioned": lambda: point_in_polygon_join(images, layer),
        "broadcast": lambda: point_in_polygon_join(images, broadcast),
        "salted": lambda: point_in_polygon_join(images, layer, salt=True),
    }
    out = {"cores": cores, "points": n_points, "hot_cell_points": n_hot,
           "polygons": polygons.count()}
    for name, build in plans.items():
        ops = []
        for rep in range(REPS + 1):
            group = f"{name}-{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                pairs = build().count()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            wall = time.perf_counter() - t0
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            if rep:
                skew = probe.job_counts(group)["task_skew"]
                ops.append({"op_s": round(wall, 3), "pairs": pairs,
                            "task_skew": round(skew, 2)})
        out[name] = ops
    print(json.dumps(out))
    layer.release()
    broadcast.release()
    spark.stop()


if __name__ == "__main__":
    main()
