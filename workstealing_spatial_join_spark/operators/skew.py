"""Explicit skew handling for the cogroup joins
(operators/cogroup_join.py) — the Spark rebirth of the reference's
work-stealing load balancer (SURVEY.md §2.6).

The reference balances load dynamically: jobs capped at 20 candidate
pairs (TASKS_PER_JOB, include/global_var.h:26), lock-free deque
stealing (include/wsq.hpp), MPI starvation-board stealing
(src/mpi_util.cpp:376-1078). A cogroup group is one task, and AQE
cannot split it, so the cogroup joins pre-split hot cells here:

1. per-cell COST ESTIMATION — the reference's MBR+weight input files
   (S6, src/reader.cpp:332-362) are precedent: cost(cell) ≈ n_left ×
   n_right (candidate pairs to refine);
2. SALTED REPARTITIONING of hot cells (LB1 rebirth) — split a hot
   cell's probe side into `n_salt` sub-keys and replicate the build
   side across salts, bounding the largest group.

The Catalyst joins (operators/spatial_join.py) do not salt: their
placement handles a hot cell (a broadcast layer, a prepared layer's
merge join, or a shuffle join whose skewed partitions AQE splits —
session.py configs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TARGET_PAIRS_PER_TASK = 100_000


def cell_cost_table(
    left_cells: DataFrame,
    right_cells: DataFrame,
    target_pairs: int = DEFAULT_TARGET_PAIRS_PER_TASK,
    max_salt: int = 64,
) -> DataFrame:
    """Estimate per-cell refine cost and derive a salt factor:
    ``(cell_id, n_left, n_right, est_pairs, n_salt)``; only cells with
    est_pairs > target_pairs get n_salt > 1. Both inputs must carry
    ``cell_id``. This is a tiny aggregate (one row per occupied cell)
    — broadcastable."""
    lc = left_cells.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_left"))
    rc = right_cells.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_right"))
    return (
        lc.join(rc, "cell_id")
        .withColumn("est_pairs", F.col("n_left") * F.col("n_right"))
        .withColumn(
            "n_salt",
            F.least(
                F.greatest(
                    F.ceil(F.col("est_pairs") / F.lit(target_pairs)), F.lit(1)
                ),
                F.lit(max_salt),
            ).cast("int"),
        )
    )


def salt_probe_side(
    df: DataFrame, cost: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Probe (large) side: one salt value per row —
    ``salt = pmod(xxhash64(keys), n_salt)``. Cells absent from the
    cost table default to salt 0."""
    cost_small = F.broadcast(cost.select("cell_id", "n_salt"))
    return (
        df.join(cost_small, "cell_id", "left")
        .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("salt", F.pmod(F.xxhash64(*key_cols), F.col("n_salt")).cast("int"))
        .drop("n_salt")
    )


def salt_build_side(df: DataFrame, cost: DataFrame) -> DataFrame:
    """Build (replicated) side: explode one row per salt value so the
    (cell_id, salt) equi-join covers every probe row exactly once."""
    cost_small = F.broadcast(cost.select("cell_id", "n_salt"))
    return (
        df.join(cost_small, "cell_id", "left")
        .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("salt_raw", F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)))
        .withColumn("salt", F.col("salt_raw").cast("int"))
        .drop("n_salt", "salt_raw")
    )
