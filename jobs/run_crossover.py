"""Broadcast ↔ cogroup crossover evidence (round-2 verdict #9).

The join planner (plans/planner.py:plan_join) replicates a polygon
side that fits the broadcast budget with the interior-cell Catalyst
refine (functions/interior_cells.py) and leaves larger layers to the
WKB transport; the cogroup operator is the
alternative for large × large. Every driver-table layer fits the dict,
so the crossover was never measured. This job measures PIP wall time for BOTH
physical strategies at two polygon-layer sizes on the same 2M-point
probe side:

  * small layer (20k polys, fits the 500k dict cap)
  * large layer (800k polys, EXCEEDS the cap — point_in_polygon_join
    auto-falls back to WKB-per-candidate transport; cogroup ships each
    polygon once per covering cell instead)

Run:  python jobs/run_crossover.py [n_points] [cores]
Appends one JSON line per run to jobs/crossover_runs.jsonl and prints
it. Run on an idle box — concurrent load poisons the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from workstealing_spatial_join_spark.operators.cogroup_join import (  # noqa: E402
    point_in_polygon_join_cogrouped,
)
from workstealing_spatial_join_spark.operators.spatial_join import (  # noqa: E402
    point_in_polygon_join,
)
from workstealing_spatial_join_spark.session import get_spark  # noqa: E402
from workstealing_spatial_join_spark.sources import fixtures as FX  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG = f"{REPO}/jobs/crossover_runs.jsonl"
DATA = f"{REPO}/bench_data/crossover"


def synth_points(spark, n):
    """Deterministic points, JVM-generated (same recipe as
    jobs/scale_bench.py — input generation can't bottleneck)."""
    return spark.range(n, numPartitions=max(32, n // 500_000)).select(
        F.col("id").alias("image_id"),
        (F.lit(-180.0) + F.pmod(F.col("id") * 9973, F.lit(360000)) / 1000.0)
        .alias("lon"),
        (F.lit(-60.0) + F.pmod(F.col("id") * 7919, F.lit(120000)) / 1000.0)
        .alias("lat"),
    )


def ensure_polys(spark, n):
    path = f"{DATA}/polys_{n}.parquet"
    if not os.path.exists(path):
        from workstealing_spatial_join_spark.operators.ingest import (
            ingest_geometry,
        )

        ingest_geometry(
            FX.polygons_df(spark, n), "wkt", keep_cols=["polygon_id"]
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def timed(fn):
    t0 = time.time()
    out = fn()
    return out, round(time.time() - t0, 2)


def main():
    n_points = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark("crossover", cores=cores, shuffle_partitions=2 * cores)
    pts = synth_points(spark, n_points).cache()
    pts.count()

    rec = {"n_points": n_points, "cores": cores, "results": {}}
    for n_polys, label in ((20_000, "small"), (800_000, "large")):
        polys = ensure_polys(spark, n_polys).cache()
        polys.count()
        # catalyst strategy: interior-cell refine under the cap,
        # WKB-per-candidate transport above it (the automatic routing
        # point_in_polygon_join applies)
        c1, t1 = timed(
            lambda: point_in_polygon_join(pts, polys, mode="count")
            .collect()[0][0]
        )
        c2, t2 = timed(
            lambda: point_in_polygon_join_cogrouped(pts, polys, mode="count")
            .collect()[0][0]
        )
        assert c1 == c2, (label, c1, c2)
        rec["results"][label] = {
            "n_polys": n_polys,
            "matches": int(c1),
            "catalyst_sec": t1,
            "catalyst_transport": "broadcast-dict" if n_polys <= 500_000
            else "wkb-per-candidate",
            "cogroup_sec": t2,
            "pts_per_sec_catalyst": round(n_points / t1),
            "pts_per_sec_cogroup": round(n_points / t2),
        }
        polys.unpersist()
        print(json.dumps({label: rec["results"][label]}), flush=True)

    print(json.dumps(rec), flush=True)
    with open(LOG, "a") as f:
        f.write(json.dumps(rec) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
