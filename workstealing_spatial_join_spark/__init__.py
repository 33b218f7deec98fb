"""workstealing_spatial_join_spark — a brand-new PySpark-native spatial
join + tiling engine.

Re-creates the capabilities of satishphd/WorkStealing-Spatial-Join
(C++17 / MPI / GEOS filter-then-refine spatial join with work-stealing
load balancing) as an idiomatic Spark engine:

* filter phase  = grid-cell tessellation expressed as pure Catalyst
  arithmetic (``floor`` / ``sequence`` / ``explode``) + MBR residual
  predicates — JVM-side, whole-stage-codegen'd, pushdown-friendly
  (reference: STRtree filter, src/spatial_join.cpp:14-37)
* refine phase  = vectorized NumPy kernels inside Arrow-batched pandas
  UDFs (reference: GEOS exact predicates, src/thread_util.cpp:412-455)
* work stealing = reborn as skew handling by placement: broadcast or
  cell-partitioned layers, AQE skew-join splits, and salted hot cells
  for the cogroup joins AQE cannot split
  (reference: include/wsq.hpp, src/mpi_util.cpp:376-1078)

No per-row Python anywhere; DataFrames everywhere; no RDDs.
"""

from workstealing_spatial_join_spark.session import get_spark
from workstealing_spatial_join_spark.operators.spatial_join import (
    PreparedPolygonLayer,
    point_in_polygon_join,
    polygon_join,
)
from workstealing_spatial_join_spark.operators.cogroup_join import (
    point_in_polygon_join_cogrouped,
    polygon_join_cogrouped,
)
from workstealing_spatial_join_spark.operators.knn import (
    dwithin_haversine_join,
    dwithin_join,
    knn_haversine_join,
    knn_join,
)
from workstealing_spatial_join_spark.operators.tiles import (
    assign_tiles,
    tile_cell_assignment,
)
from workstealing_spatial_join_spark.operators.dedup import (
    embedding_neardup,
    exact_dedup,
    minhash_dedup,
    minhash_signatures,
    release_dedup_caches,
    phash_neardup,
    simhash_dedup,
)
from workstealing_spatial_join_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from workstealing_spatial_join_spark.sources.writer import write_resumable
from workstealing_spatial_join_spark.sources.bucketed import (
    pip_join_bucketed,
    save_bucketed_polygon_layer,
)

__version__ = "0.3.0"

__all__ = [
    "get_spark",
    "PreparedPolygonLayer",
    "point_in_polygon_join",
    "polygon_join",
    "point_in_polygon_join_cogrouped",
    "polygon_join_cogrouped",
    "knn_join",
    "dwithin_join",
    "dwithin_haversine_join",
    "knn_haversine_join",
    "assign_tiles",
    "tile_cell_assignment",
    "exact_dedup",
    "minhash_dedup",
    "minhash_signatures",
    "release_dedup_caches",
    "simhash_dedup",
    "phash_neardup",
    "embedding_neardup",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "write_resumable",
    "save_bucketed_polygon_layer",
    "pip_join_bucketed",
    "__version__",
]
