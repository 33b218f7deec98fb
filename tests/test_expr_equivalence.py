"""The memoized name-based expressions (functions/exprs.py,
grid.cell_id_named / covering_cells_named) must be VALUE-IDENTICAL to
the fluent-API originals they replace: the optimization round swapped
construction mechanics (one parsed SQL string per process vs one py4j
round trip per operator node), not semantics. Spark SQL parses a bare
``180.0`` as DECIMAL — the D/L literal suffixes are what keep the
arithmetic in double/long; this suite is the pin."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.functions import grid as GRID


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.default_rng(11)
    n = 5000
    lon = rng.uniform(-200.0, 200.0, n)  # deliberately out of domain
    lat = rng.uniform(-100.0, 100.0, n)  # → exercises the clamps
    w = rng.uniform(0.0, 5.0, n)
    h = rng.uniform(0.0, 5.0, n)
    pts = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    rects = spark.createDataFrame(
        [
            (float(a), float(b), float(a + c), float(b + d))
            for a, b, c, d in zip(lon, lat, w, h)
        ],
        "minx double, miny double, maxx double, maxy double",
    )
    return pts, rects


@pytest.mark.parametrize("cell_deg", [1.0, 0.25, 3.0])
def test_cell_id_named_identical(spark, frames, cell_deg):
    pts, _ = frames
    both = pts.select(
        GRID.cell_id_col(F.col("lon"), F.col("lat"), cell_deg).alias("a"),
        GRID.cell_id_named("lon", "lat", cell_deg).alias("b"),
    )
    assert both.where("a IS DISTINCT FROM b").count() == 0
    # dtype parity too: both long
    assert dict(both.dtypes) == {"a": "bigint", "b": "bigint"}


@pytest.mark.parametrize("cell_deg", [1.0, 0.25, 3.0])
def test_covering_cells_named_identical(spark, frames, cell_deg):
    _, rects = frames
    both = rects.select(
        GRID.covering_cells_cols(
            F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"),
            cell_deg,
        ).alias("a"),
        GRID.covering_cells_named(
            "minx", "miny", "maxx", "maxy", cell_deg
        ).alias("b"),
    )
    assert both.where("a IS DISTINCT FROM b").count() == 0


def test_cexpr_memoizes(spark):
    from workstealing_spatial_join_spark.functions.exprs import cexpr

    c1 = cexpr("1L + 2L")
    c2 = cexpr("1L + 2L")
    assert c1 is c2
    assert spark.range(1).select(c1.alias("v")).first()["v"] == 3


# ------------------------------------------- testdata layer builders

SF001 = "/root/testdata/sf0.01"


def _fluent_centre(key, mult, span, origin):
    return F.lit(origin) + (F.col(key) * mult % span) / 1000.0


def _fluent_points(spark):
    from workstealing_spatial_join_spark.sources import tables as TB

    return TB.load(spark, SF001, "customer").select(
        F.col("c_custkey").alias("point_id"),
        _fluent_centre("c_custkey", 9973, 360000, -180.0).alias("lon"),
        _fluent_centre("c_custkey", 7919, 180000, -90.0).alias("lat"),
    )


def _fluent_rects(spark, table, key, mults, extents):
    from workstealing_spatial_join_spark.sources import tables as TB

    ew, eh, dw, dh, sw, sh = extents
    cx = _fluent_centre(key, mults[0], 360000, -180.0)
    cy = _fluent_centre(key, mults[1], 180000, -90.0)
    hw = F.lit(ew) + (F.col(key) % dw) / sw
    hh = F.lit(eh) + (F.col(key) % dh) / sh
    return TB.load(spark, SF001, table).select(
        F.col(key).alias("rect_id"),
        (cx - hw).alias("minx"),
        (cy - hh).alias("miny"),
        (cx + hw).alias("maxx"),
        (cy + hh).alias("maxy"),
    )


FLUENT_BUILDERS = {
    "customer_points": _fluent_points,
    "supplier_rects": lambda spark: _fluent_rects(
        spark, "supplier", "s_suppkey", (7817, 6271), (1.0, 1.0, 7, 5, 1.0, 1.0)
    ),
    "part_rects": lambda spark: _fluent_rects(
        spark, "part", "p_partkey", (104729, 92821), (0.5, 0.5, 5, 3, 2.0, 2.0)
    ),
}


@pytest.mark.parametrize("builder", sorted(FLUENT_BUILDERS))
def test_table_builders_identical(spark, builder):
    """The memoized-SQL testdata layers equal their fluent forms."""
    from workstealing_spatial_join_spark.sources import tables as TB

    fluent = FLUENT_BUILDERS[builder](spark)
    sql_form = getattr(TB, builder)(spark, SF001)
    assert sql_form.schema == fluent.schema
    assert sorted(sql_form.collect()) == sorted(fluent.collect())
