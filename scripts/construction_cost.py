"""Driver-side construction cost of named driver queries and of a
prepared polygon layer: prints ONE JSON line.

For each named query (default ``pip_count``, ``rect_join_count`` and
``rect_intersection_numpoints``, built over ``$SPARK_GRAFT_SF_DIR``,
default /root/testdata/sf0.1) and for ``PreparedPolygonLayer`` over
bench_data/polygons_10000.parquet (cached first, as perfbench's
``pip_bulk`` prepares it), each of 3 reps records:

* ``construct_s``: seconds to build the DataFrame (for the layer: the
  preparation, i.e. its collect and analysis);
* ``construct_py4j``: py4j round trips during that construction,
  counted by wrapping ``ClientServerConnection.send_command``;
* ``construct_jobs``: Spark jobs started during it (its own job group);
* ``action_s``: seconds to collect the query's result (for the layer:
  to count its cached interior-cell tessellation, which its first
  point-in-polygon join materializes).

All reps run in one fresh session with ``get_spark``'s defaults (cores
from the affinity mask, driver heap half of RAM).

Usage: python scripts/construction_cost.py [QUERY ...]
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from py4j.clientserver import ClientServerConnection  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from workstealing_spatial_join_spark.operators.spatial_join import (  # noqa: E402
    PreparedPolygonLayer,
)
from workstealing_spatial_join_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_QUERIES = ("pip_count", "rect_join_count", "rect_intersection_numpoints")
LAYER = "PreparedPolygonLayer"
REPS = 3


def count_round_trips() -> list:
    """Wrap py4j's ``send_command`` so every driver-to-JVM round trip
    adds one to the returned one-element counter."""
    counter = [0]
    send_command = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        counter[0] += 1
        return send_command(self, *args, **kwargs)

    ClientServerConnection.send_command = counting
    return counter


def measure(spark, round_trips: list, group: str, build, act) -> dict:
    """Time ``build()`` under its own job group, counting py4j round
    trips and jobs, then time ``act(built)``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    calls0 = round_trips[0]
    t0 = time.perf_counter()
    try:
        built = build()
    finally:
        construct_s = time.perf_counter() - t0
        calls = round_trips[0] - calls0
        sc.setLocalProperty("spark.jobGroup.id", None)
    t1 = time.perf_counter()
    act(built)
    action_s = time.perf_counter() - t1
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {
        "construct_s": round(construct_s, 4),
        "construct_py4j": calls,
        "construct_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "action_s": round(action_s, 4),
    }


def main():
    names = sys.argv[1:] or list(DEFAULT_QUERIES)
    queries = E.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    round_trips = count_round_trips()
    spark = get_spark("construction_cost")
    polygons = spark.read.parquet(
        os.path.join(ROOT, "bench_data", "polygons_10000.parquet")
    ).cache()
    polygons.count()

    def count_layer(layer):
        layer.exploded("bands").count()
        layer.release()

    out = {name: [] for name in [*names, LAYER]}
    for rep in range(REPS):
        for name in names:
            out[name].append(measure(
                spark, round_trips, f"{name}-{rep}",
                lambda name=name: queries[name](spark, SF_DIR),
                lambda df: df.collect(),
            ))
        out[LAYER].append(measure(
            spark, round_trips, f"{LAYER}-{rep}",
            lambda: PreparedPolygonLayer(polygons, poly_id="polygon_id"),
            count_layer,
        ))
    print(json.dumps({
        "sf_dir": SF_DIR,
        "cores": spark.sparkContext.defaultParallelism,
        "reps": REPS,
        "results": out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
