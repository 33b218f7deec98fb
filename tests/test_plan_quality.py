"""Plan-shape regression gates: the filter phase must stay JVM-side;
Python appears only as (a) the fixture/ingest sources and (b) exactly
one refine UDF."""

import re

import pytest

from workstealing_spatial_join_spark.operators import spatial_join as SJ
from workstealing_spatial_join_spark.operators.ingest import ingest_geometry
from workstealing_spatial_join_spark.operators.spatial_join import (
    PreparedPolygonLayer,
    point_in_polygon_join,
    polygon_join,
)
from workstealing_spatial_join_spark.plans.planner import (
    assert_plan_quality,
    audit_plan,
)
from workstealing_spatial_join_spark.sources import fixtures as FX


@pytest.fixture(scope="module")
def layers(spark, tmp_path_factory):
    """Parquet-backed layers so the audit sees real scans (fixture
    mapInPandas sources would inflate the Python-node count)."""
    d = tmp_path_factory.mktemp("plans")
    FX.images_df(spark, 1000, with_bytes=False).write.parquet(f"{d}/img")
    ingest_geometry(
        FX.polygons_df(spark, 100), "wkt", keep_cols=["polygon_id"]
    ).write.parquet(f"{d}/poly")
    return spark.read.parquet(f"{d}/img"), spark.read.parquet(f"{d}/poly")


def test_pip_plan_single_python_node(layers):
    """A collected layer refines in Catalyst (band rows ray-cast at most
    K carried edges): no Python node at all."""
    images, polys = layers
    df = point_in_polygon_join(images, polys, mode="count")
    audit = assert_plan_quality(df, max_python_nodes=0)
    assert sum(audit["python_nodes"].values()) == 0
    assert "blo" in audit["plan"]
    # codegen_stages is 0 pre-AQE-finalization; only assert it never
    # goes negative (best-effort counter)
    assert audit["codegen_stages"] >= 0


def test_pip_wkb_path_single_python_node(layers, monkeypatch):
    """An uncollected layer keeps the WKB column and exactly one Python
    node, the Arrow refine."""
    images, polys = layers
    monkeypatch.setattr(SJ, "DICT_MAX_ROWS", 0)
    df = point_in_polygon_join(images, polys, mode="count")
    audit = assert_plan_quality(df, max_python_nodes=1)
    assert audit["python_nodes"]["ArrowEvalPython"] == 1
    assert audit["python_nodes"]["MapInPandas"] == 0
    assert "geom_wkb" in audit["plan"]


def test_pip_mbr_only_plan_zero_python(layers):
    images, polys = layers
    df = point_in_polygon_join(images, polys, mode="count", refine=False)
    audit = assert_plan_quality(df, max_python_nodes=0)
    assert sum(audit["python_nodes"].values()) == 0


def test_residual_predicate_inside_join(layers):
    """The MBR residual must be in the join condition, not a
    post-join filter (Catalyst pushes it when expressed declaratively)."""
    images, polys = layers
    df = point_in_polygon_join(images, polys, mode="count", refine=False)
    plan = audit_plan(df)["plan"]
    join_section = plan[plan.index("Join"):]
    cond = join_section[: join_section.index("\n\n")] if "\n\n" in join_section else join_section
    assert "px" in plan and "minx" in plan


def test_polygon_join_plan(layers):
    _, polys = layers
    df = polygon_join(polys, polys, "polygon_id", "polygon_id", mode="count")
    assert_plan_quality(df, max_python_nodes=1)


def test_polygon_join_broadcast_transport_no_wkb_in_join(layers):
    """Routed (broadcast-dict) polygon joins must not ship geometry
    bytes through the join: no geom_wkb/l_wkb/r_wkb column anywhere in
    the candidate plan, and exactly ONE Python node for the refine —
    for pairs mode too (the >0 filter must not duplicate the UDF)."""
    _, polys = layers
    for mode in ("count", "pairs"):
        df = polygon_join(
            polys, polys, "polygon_id", "polygon_id",
            predicate="intersection_numpoints", mode=mode,
        )
        audit = assert_plan_quality(df, max_python_nodes=1)
        assert audit["python_nodes"]["ArrowEvalPython"] == 1, mode
        assert "wkb" not in audit["plan"], mode


def test_rect_layers_refine_in_pure_catalyst(spark, tmp_path, monkeypatch):
    """When every geometry IS its MBR (verified per row at dict-build
    time), intersects and intersection-numPoints plans must contain
    ZERO Python nodes — the bounds predicate / closed-form CASE is the
    exact refine."""
    import pyspark.sql.functions as F

    from workstealing_spatial_join_spark.sources.tables import rects_with_geom

    d = str(tmp_path / "rects")
    rects_with_geom(
        spark.range(1, 300).select(
            F.col("id").alias("rect_id"),
            (F.col("id") % 30 - 15.0).alias("minx"),
            (F.col("id") % 20 - 10.0).alias("miny"),
            (F.col("id") % 30 - 12.0).alias("maxx"),
            (F.col("id") % 20 - 7.0).alias("maxy"),
        )
    ).write.parquet(d)
    rects = spark.read.parquet(d)
    for pred in ("intersects", "intersection_numpoints"):
        df = polygon_join(rects, rects, "rect_id", "rect_id",
                          predicate=pred, mode="count")
        audit = assert_plan_quality(df, max_python_nodes=0)
        assert sum(audit["python_nodes"].values()) == 0, pred
    # PIP against a rect layer: zero Python as well
    pts = spark.range(2000).select(
        F.col("id").alias("image_id"),
        (F.rand(5) * 30 - 15).alias("lon"),
        (F.rand(6) * 20 - 10).alias("lat"),
    )
    df = point_in_polygon_join(pts, rects, poly_id="rect_id", mode="count")
    audit = assert_plan_quality(df, max_python_nodes=0)
    assert sum(audit["python_nodes"].values()) == 0
    # and the shortcut result equals the forced-UDF path (a dict cap
    # of 0 leaves the layer uncollected: WKB transport)
    a = df.collect()[0][0]
    monkeypatch.setattr(SJ, "DICT_MAX_ROWS", 0)
    b = point_in_polygon_join(
        pts, rects, poly_id="rect_id", mode="count"
    ).collect()[0][0]
    assert a == b > 0


def test_polygon_join_multipart_ids_fall_back_to_wkb(spark):
    """Repeated ids (multipart parts) must keep per-part refine
    semantics: the dict transport declines and the WKB path runs."""
    from workstealing_spatial_join_spark.operators.ingest import ingest_geometry

    rows = [
        (1, "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
            "((10 10, 12 10, 12 12, 10 12, 10 10)))"),
        (2, "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"),
    ]
    geoms = ingest_geometry(
        spark.createDataFrame(rows, "gid int, wkt string"), "wkt",
        keep_cols=["gid"],
    )
    out = polygon_join(
        geoms, geoms, "gid", "gid", predicate="intersects", mode="pairs",
        dedup="refpoint",
    ).collect()
    got = sorted((r.lid, r.rid) for r in out)
    # part-level semantics: each part intersects itself; part1 of gid1
    # intersects gid2 (and vice versa); part2 of gid1 only itself
    assert got == sorted(
        [(1, 1), (1, 1), (1, 2), (2, 1), (2, 2)]
    )


def test_polygon_join_wkb_transport_still_works(layers, monkeypatch):
    _, polys = layers
    a = polygon_join(
        polys, polys, "polygon_id", "polygon_id",
        predicate="intersection_numpoints", mode="count",
    ).collect()[0][0]
    monkeypatch.setattr(SJ, "DICT_MAX_ROWS", 0)
    wkb = polygon_join(
        polys, polys, "polygon_id", "polygon_id",
        predicate="intersection_numpoints", mode="count",
    )
    assert "r_wkb" in audit_plan(wkb)["plan"]
    b = wkb.collect()[0][0]
    assert a == b and a > 0


def test_parquet_filter_and_column_pushdown(spark, tmp_path):
    """Filters and projections must reach the parquet scan: the plan
    shows PushedFilters with the predicate and a ReadSchema pruned to
    the selected columns (a scan reading all columns for a 2-column
    projection is wrong at any scale)."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "pd")
    spark.range(10_000).select(
        F.col("id"),
        (F.col("id") * 2).alias("a"),
        (F.col("id") * 3).alias("b"),
        (F.col("id") * 5).alias("c"),
    ).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("id") > 100).select("id", "a")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,100)]" in plan, plan
    read = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "a:" in read and "b:" not in read and "c:" not in read, read


def test_driver_query_python_node_budgets(spark):
    """Plan-audit the driver contract's spatial queries: each has a
    known Python-node budget (0 = pure Catalyst; rect layers refine
    JVM-side, concave layers pay exactly one Arrow refine). Catches
    any future regression that sneaks extra Python into these plans."""
    import __spark_entry__ as E

    budgets = {
        "pip_count": 0,            # rect layer → catalyst shortcut
        "pip_pairs": 0,
        "cell_assign": 0,
        "tile_assign": 0,
        "rect_join_count": 0,
        "rect_intersection_numpoints": 0,
        "rect_union_numpoints": 1,  # union keeps the pair UDF
        "concave_intersection_numpoints": 1,
        "concave_union_numpoints": 1,
        "dwithin_pairs": 0,
        "dwithin_haversine": 0,
        "q1_pricing": 0,
        "q6_revenue": 0,
        "events_hourly": 0,
        "events_user_stats": 0,
        "ann_cosine_topk": 0,
        "ann_cosine_topk_ivf": 0,
        "doc_jaccard_adjacent": 0,
        # minhash: ONE Arrow node (the signature+shingle pass) — the
        # round-3 verify is pure Catalyst set arithmetic, no raw text
        "minhash_neardup": 1,
        # line/degenerate overlay queries pay exactly one pair refine
        "lines_intersection_numpoints": 1,
        "lines_union_numpoints": 1,
        "degenerate_intersection_numpoints": 1,
        "degenerate_union_numpoints": 1,
        # round-5 second batch: all pure Catalyst
        "events_cms_heavy": 0,
        "bloom_semijoin": 0,
        "setsim_exact_pairs": 0,
        "points_zorder": 0,
        "doc_tfidf_top": 0,
        "docs_sample": 0,
        "events_quantiles": 0,
        "tile_image_stats": 0,
        # phash is already a materialized integer column — the chunk
        # explode, equi-join and bit_count verify are all Catalyst
        "phash_neardup": 0,
        # bin-decomposed interval join: explode + equi-join + integer
        # verify, all Catalyst
        "events_interval_overlap": 0,
        # grouping-sets rollup: one Expand, zero Python
        "events_time_rollup": 0,
        # round-5 third batch: all pure Catalyst (zonal rides the
        # rect-layer catalyst shortcut like pip_count)
        "zonal_image_stats": 0,
        "q3_shipping": 0,
        "doc_chunks": 0,
        "docs_pack_shards": 0,
        "dedup_incremental": 0,
        # round-5 fourth batch: density clustering is groupBy + cell
        # equi-join + checkpointed label propagation; rolling window
        # is one native RANGE frame — both pure Catalyst
        "spatial_cluster_images": 0,
        "events_rolling": 0,
    }
    qs = E.queries()
    sf = "/root/testdata/sf0.001"
    for name, budget in budgets.items():
        df = qs[name](spark, sf)
        audit = audit_plan(df)
        # MapInPandas appears only as the driver-table layer BUILDER
        # (rects_with_geom attaches WKB to derived layers) — the gate
        # here is the REFINE path: Arrow UDF nodes and, always, zero
        # row-at-a-time Python
        n_arrow = audit["python_nodes"]["ArrowEvalPython"]
        assert n_arrow <= budget, (name, n_arrow, audit["python_nodes"])
        assert audit["python_nodes"]["BatchEvalPython"] == 0, name


def test_salted_pip_keeps_broadcast_build_side(layers):
    """salt_build_side's explode wrecks AQE's size stats; a known-
    small build side must still broadcast (round-3 fix: salted PIP
    was falling back to a full shuffle join)."""
    images, polys = layers
    df = point_in_polygon_join(images, polys, mode="count", salt=True)
    audit = audit_plan(df)
    assert audit["broadcast_joins"] >= 1, audit["plan"][:2000]
    assert audit["sortmerge_joins"] == 0


# ------------------------------------- prepared layer: cell-partitioned


def _plan_nodes(plan: str):
    """The formatted plan's tree as ``[(node_id, name, parent_index)]``:
    a node's parent is the nearest earlier line whose name starts
    further left."""
    nodes = []
    for line in plan.partition("\n\n(")[0].splitlines():
        m = re.search(r"[A-Za-z]\w*", line)
        i = re.search(r"\((\d+)\)", line)
        if m and i:
            parent = next(
                (k for k in range(len(nodes) - 1, -1, -1) if nodes[k][3] < m.start()),
                None,
            )
            nodes.append((i.group(1), m.group(0), parent, m.start()))
    return [(nid, name, parent) for nid, name, parent, _ in nodes]


def _subtree(nodes, root, stop=("InMemoryTableScan",)):
    """Indices under ``root`` down to (and including) the first node
    named in ``stop`` on each path."""
    out = []
    for k in range(root + 1, len(nodes)):
        p = nodes[k][2]
        if p == root or (p in out and nodes[p][1] not in stop):
            out.append(k)
    return out


def test_prepared_layer_pip_merges_on_the_cached_cell_partitions(spark, layers):
    """A prepared layer's tessellation is cached partitioned and sorted
    by cell: the PIP join is ONE sort-merge join whose layer side is a
    bare cached scan (no exchange, no sort between them), and the only
    per-op exchange hashes the probe by cell_id into the layer's
    partition count. Nothing is broadcast. (audit_plan also counts the
    exchange inside the cached relation's own plan, so the asserts
    read the join's children.)"""
    images, polys = layers
    layer = PreparedPolygonLayer(polys)
    df = point_in_polygon_join(images, layer, mode="pairs")
    audit = audit_plan(df)
    nodes = _plan_nodes(audit["plan"])
    names = [n for _, n, _ in nodes]
    assert audit["sortmerge_joins"] == 1 and audit["broadcast_joins"] == 0
    assert "BroadcastExchange" not in names
    (smj,) = [k for k, n in enumerate(names) if n == "SortMergeJoin"]
    probe, build = [k for k, (_, _, p) in enumerate(nodes) if p == smj]
    build_path = [names[k] for k in _subtree(nodes, build)] + [names[build]]
    assert "InMemoryTableScan" in build_path
    assert not {"Exchange", "Sort"} & set(build_path), build_path
    # per-op exchanges: every Exchange outside a cached relation's plan
    cached = set()
    for k, n in enumerate(names):
        if n == "InMemoryRelation" or nodes[k][2] in cached:
            cached.add(k)
    per_op = [k for k, n in enumerate(names) if n == "Exchange" and k not in cached]
    assert len(per_op) == 1 and per_op[0] in _subtree(nodes, probe)
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert re.search(
        rf"\n\({nodes[per_op[0]][0]}\) Exchange\n(?:.*\n)*?"
        rf"Arguments: hashpartitioning\(cell_id#\d+L, {partitions}\)",
        audit["plan"],
    ), audit["plan"][:4000]
    layer.release()


def test_pip_joins_compile_into_whole_stage_codegen(layers):
    """The band refine has no lambda: neither PIP plan holds a
    ``lambdafunction``, and after execution the prepared layer's
    SortMergeJoin and the fresh layer's BroadcastHashJoin each run
    inside a whole-stage-codegen stage (``*(n)`` in the executed
    plan)."""
    images, polys = layers
    layer = PreparedPolygonLayer(polys)
    for side, join in ((layer, "SortMergeJoin"), (polys, "BroadcastHashJoin")):
        df = point_in_polygon_join(images, side, mode="count")
        assert "lambdafunction" not in audit_plan(df)["plan"].lower(), join
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(rf"\*\(\d+\) {join} ", executed), executed[:4000]
    layer.release()


def test_fresh_layer_pip_still_broadcasts(layers):
    images, polys = layers
    audit = audit_plan(point_in_polygon_join(images, polys, mode="pairs"))
    assert audit["broadcast_joins"] == 1 and audit["sortmerge_joins"] == 0


def test_prepared_layer_second_op_runs_no_more_jobs(spark, layers):
    """The first join materializes the layer's cache; every later op
    runs the same jobs (no layer collect, no broadcast job)."""
    images, polys = layers
    layer = PreparedPolygonLayer(polys)
    sc = spark.sparkContext
    jobs, results = [], []
    for rep in range(3):
        group = f"prepared-op-{rep}-{id(layer)}"
        sc.setJobGroup(group, group)
        try:
            results.append(
                point_in_polygon_join(images, layer, mode="count").collect()[0][0]
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert results[0] == results[1] == results[2] > 0
    assert jobs[2] <= jobs[1], jobs
    layer.release()
