"""Dump .explain('formatted') for the spatial-join plans into
plans/r14/<name>_<tag>.txt (or OUT_DIR):

* the bench.py headline entries that are not in queries(): the
  prepared-layer PIP join (count, pairs, and bench.py's ``salt=True``
  count, which plans as the count; a sort-merge join on the layer's
  cell-partitioned cache), the same join against a
  fresh (unprepared) polygon layer (broadcast), tile_assign and one final
  kNN round, over bench_data/;
* the non-final kNN round a default-ring ``knn_join`` runs on a cached
  corpus and cached queries (the perfbench ``knn_hotbox`` shape):
  knn_join is run under a job group, and the executed plan of its round
  checkpoint (the one carrying the settle ``CollectMetrics``) is read
  from the SQL status store into knn_images_round_nonfinal_<tag>.txt;
* every pip_*, rect_*, concave_*, degenerate_*, lines_*, zonal_* and
  tile_rect_overlap_count driver query, at SF_DIR.

Usage: python scripts/dump_headline_plans.py <tag> <SF_DIR> [OUT_DIR]
"""

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402
from workstealing_spatial_join_spark.operators.knn import knn_join  # noqa: E402
from workstealing_spatial_join_spark.operators.spatial_join import (  # noqa: E402
    PreparedPolygonLayer,
    point_in_polygon_join,
)
from workstealing_spatial_join_spark.operators.tiles import assign_tiles  # noqa: E402
from workstealing_spatial_join_spark.session import get_spark  # noqa: E402

STRICT = re.compile(r"(pip_|rect_|concave_|degenerate_|lines_|zonal_)")


def main():
    tag = sys.argv[1]
    sf_dir = sys.argv[2]
    out_dir = sys.argv[3] if len(sys.argv) > 3 else os.path.join(ROOT, "plans", "r14")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    bd = os.path.join(ROOT, "bench_data")
    images = spark.read.parquet(f"{bd}/images_200000.parquet")
    polygons = spark.read.parquet(f"{bd}/polygons_10000.parquet")
    layer = PreparedPolygonLayer(polygons, poly_id="polygon_id")
    frames = {
        "spatial_join_pip": lambda: point_in_polygon_join(
            images, layer, mode="count"
        ),
        "spatial_join_pip_pairs": lambda: point_in_polygon_join(
            images, layer, mode="pairs"
        ),
        "spatial_join_pip_salted": lambda: point_in_polygon_join(
            images, layer, mode="count", salt=True
        ),
        "spatial_join_pip_fresh": lambda: point_in_polygon_join(
            images, polygons, mode="pairs"
        ),
        "tile_assign": lambda: assign_tiles(images),
        # ONE round of the kNN loop has the representative plan; the
        # full operator is a driver loop of these
        "knn_images_round": lambda: knn_join(
            images.limit(5000), images, k=5, exclude_self=True,
            max_ring=1, initial_ring=1,
        ),
    }
    for name, fn in E.queries().items():
        if STRICT.match(name) or name == "tile_rect_overlap_count":
            frames[name] = lambda fn=fn: fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    texts = {
        name: lambda build=build: build()._jdf.queryExecution().explainString(
            mode.fromString("formatted")
        )
        for name, build in frames.items()
    }
    # last: it caches its corpus and queries
    texts["knn_images_round_nonfinal"] = lambda: knn_round_checkpoint_plan(spark, images)
    for name, text in texts.items():
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(text())
        print(name, "written")
    spark.stop()


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def knn_round_checkpoint_plan(spark, images) -> str:
    """The executed physical plan of the first round checkpoint that
    carries the settle counts, from a default-ring ``knn_join`` over a
    cached corpus and cached queries, run under its own job group."""
    corpus = images.select("image_id", "lon", "lat").cache()
    corpus.count()
    queries = corpus.limit(1000).cache()
    queries.count()
    sc = spark.sparkContext
    sc.setJobGroup("knn-round-plan", "knn-round-plan")
    try:
        knn_join(queries, corpus, k=5, exclude_self=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup("knn-round-plan"))
    store = spark._jsparkSession.sharedState().statusStore()
    for ex in _scala_iter(store.executionsList()):
        ran = {int(j) for j in _scala_iter(ex.jobs().keys())}
        plan = ex.physicalPlanDescription()
        if ran & jobs and "CollectMetrics" in plan:
            return plan
    raise RuntimeError("knn_join ran no round checkpoint with settle counts")


if __name__ == "__main__":
    main()
