"""Op time and task-time skew of a point-in-polygon join, by probe shape
and plan.

Three probe shapes over the bench corpus (``bench_data/``), each against
one ``PreparedPolygonLayer`` (the join counts its pairs,
``mode="count"``):

* ``hot_both``: the corpus made hot: the 20k images of the fixture's hot
  box (cell [10, 11] x [45, 46]) are kept, every other image only when
  ``hash(image_id) % 10 == 0``, so the hot cell holds more than half of
  the points; 200 extra polygons (squares and triangles around
  (10.5, 45.5)) are added to the 10k bench polygons, so many polygon
  rows cover that cell;
* ``hot_probe``: the same points against the 10k bench polygons alone
  (the cell is hot on the probe side only);
* ``uniform``: every bench image against the 10k bench polygons.

Two plans per shape:

* ``merge``: the default, a sort-merge join on the layer's
  cell-partitioned cache, only the points shuffled;
* ``broadcast``: the same prepared layer with its analysis marked not
  cell-partitioned, so ``plan_join`` broadcasts its cached tessellation
  to the points' scan splits.

One warm-up round, then ``REPS`` rounds; each round runs every shape
and plan once, interleaved in one session, each op under its own job
group. Per shape and plan: the median op seconds and task skew, and
per op its wall seconds, pairs, jobs and perfbench's
``spark.task_skew`` (max ÷ median task time of the stage whose slowest
task was the slowest of the op, ``perfbench/probe.py``). Prints one
JSON line.

Usage: python scripts/hot_cell_trade.py  (``SPARK_GRAFT_CPUS`` sets the
cores; shuffle partitions follow them, as in perfbench)
"""

import copy
import json
import os
import statistics
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

REPS = 7
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
    corpus = spark.read.parquet(f"{bd}/images_200000.parquet").select(
        "image_id", "lon", "lat").cache()
    in_hot = (F.floor("lon") == 10) & (F.floor("lat") == 45)
    hot = corpus.where(in_hot | (F.abs(F.hash("image_id")) % 10 == 0)).cache()
    n_points, n_hot = hot.agg(F.count("*"), F.sum(in_hot.cast("int"))).first()
    bench = spark.read.parquet(f"{bd}/polygons_10000.parquet").select(
        "polygon_id", "geom_wkb", "minx", "miny", "maxx", "maxy").cache()
    extra = ingest_geometry(
        spark.createDataFrame(hot_polygons_wkt(), "polygon_id string, wkt string"),
        "wkt", keep_cols=["polygon_id"],
    ).select("polygon_id", "geom_wkb", "minx", "miny", "maxx", "maxy")
    layers = {
        "bench": PreparedPolygonLayer(bench),
        "hot": PreparedPolygonLayer(bench.unionByName(extra).cache()),
    }
    shapes = {
        "hot_both": (hot, layers["hot"]),
        "hot_probe": (hot, layers["bench"]),
        "uniform": (corpus, layers["bench"]),
    }
    out = {"cores": cores, "points": n_points, "hot_cell_points": n_hot,
           "corpus_points": corpus.count()}
    ops = {(shape, plan): [] for shape in shapes for plan in ("merge", "broadcast")}
    for rep in range(REPS + 1):
        for (shape, plan), runs in ops.items():
            points, layer = shapes[shape]
            side = layer if plan == "merge" else broadcast_twin(layer)
            group = f"{shape}-{plan}-{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                pairs = point_in_polygon_join(points, side, mode="count").first()[0]
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            wall = time.perf_counter() - t0
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            if rep:
                counts = probe.job_counts(group)
                runs.append({"op_s": round(wall, 3), "pairs": pairs,
                             "jobs": counts["jobs"],
                             "task_skew": round(counts["task_skew"], 2)})
    for (shape, plan), runs in ops.items():
        out.setdefault(shape, {})[plan] = {
            "op_s_median": statistics.median(r["op_s"] for r in runs),
            "task_skew_median": statistics.median(r["task_skew"] for r in runs),
            "ops": runs,
        }
    print(json.dumps(out))
    for layer in layers.values():
        layer.release()
    spark.stop()


def broadcast_twin(layer: PreparedPolygonLayer) -> PreparedPolygonLayer:
    """The layer (sharing its caches) with its analysis marked not
    cell-partitioned: ``plan_join`` then broadcasts its tessellation."""
    twin = copy.copy(layer)
    twin.analysis = replace(layer.analysis, cell_partitioned=False)
    return twin


if __name__ == "__main__":
    main()
