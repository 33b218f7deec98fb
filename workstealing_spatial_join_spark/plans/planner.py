"""Spatial join planner: one pure decision for both spatial joins, and
the audit that the produced plan has the shape the engine promises
(SURVEY.md §4).

``plan_join`` is the reference's J4 fragment-and-replicate choice
(tests/main.cpp:189-274) — replicate a side when it fits, the smaller
one when both do — plus the choice of refine transport. A prepared
polygon layer probed by points takes the reference's pre-partitioned
shape instead (tests/main.cpp:99-104): its tessellation is cached
partitioned by cell, and only the points move. It reads only the exact
figures each join already holds for its geometry sides
(``operators.spatial_join.LayerAnalysis``: closed-form exploded rows,
collected WKB bytes, id uniqueness, rectangle verification, interior
cell classes, cell partitioning), so it runs no job and trusts no
estimate. Where it forces nothing (an uncollected side), Catalyst/AQE
still decide.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

# an exploded bounds-only row: id, four bounds and cell_id, 8 bytes each
BOUNDS_ROW_BYTES = 48
# the one size gate for every forced broadcast: a bounds-only side
# fits up to 2M exploded cell-rows (~96 MB)
BROADCAST_BUDGET_BYTES = 2_000_000 * BOUNDS_ROW_BYTES


@dataclass(frozen=True)
class JoinPlan:
    broadcast_side: str | None  # "left" | "right" | None (AQE decides)
    transport: str  # "catalyst-rect" | "bands" | "dict" | "wkb"
    # "right": that side is cached partitioned and sorted by cell_id;
    # the join merges on it and shuffles only the other side
    partitioned_side: str | None = None


def _build_bytes(side, transport: str) -> int | None:
    """Exact bytes a side puts into a broadcast: its exploded rows at
    the bounds-row width, plus what the transport carries — the WKB
    column once per covering cell, or the band rows' bounds, parity,
    truth table and K edge slots (the "bands" rows replace the
    covering cells). None when the side was not collected."""
    if side is None or side.exploded_rows is None:
        return None
    rows, payload = side.exploded_rows, 0
    if transport == "bands":
        rows, payload = side.cells.rows, side.cells.band_bytes
    elif transport == "wkb":
        payload = side.exploded_wkb_bytes
    return rows * BOUNDS_ROW_BYTES + payload


def plan_join(left, right, predicate: str | None) -> JoinPlan:
    """Decide the broadcast side and the refine transport of a join.

    ``left``/``right`` are ``LayerAnalysis`` objects (read: exploded_rows,
    exploded_wkb_bytes, unique_ids, all_rects, cells; ``exploded_rows``
    None = not collected) or None for a side that is not a geometry layer —
    the points of a PIP join. ``predicate`` is ``"contains"`` for PIP,
    a polygon-join predicate, or None for an MBR-only join.

    Placement: a point probe (``left`` None) against a layer whose
    cached tessellation is already partitioned by cell
    (``cell_partitioned``, a ``PreparedPolygonLayer``) joins where the
    layer lies — a sort-merge join on ``cell_id`` that shuffles only
    the points, so no op re-collects, re-hashes or re-broadcasts the
    layer. Fresh layers and polygon joins take the broadcast rule: the
    smaller side that fits the budget is broadcast; when neither fits,
    the shuffle join and its skew splits are AQE's.

    Transport: ``catalyst-rect`` when the MBR predicate is the whole
    refine (every geometry equals its MBR; union also needs the
    id-keyed dict for its degenerate residual); for ``contains``,
    ``bands`` when the layer's cells are classified (band rows
    ray-cast in Catalyst over at most K edge slots); for a
    polygon join, ``dict`` when every side is collected with unique
    ids; else ``wkb``.
    """
    sides = [s for s in (left, right) if s is not None]
    collected = all(s.exploded_rows is not None for s in sides)
    unique = collected and all(s.unique_ids for s in sides)
    rects = collected and all(s.all_rects for s in sides)
    union = predicate == "union_numpoints"
    if predicate is None or (rects and (unique or not union)):
        transport = "catalyst-rect"
    elif predicate == "contains":
        classified = all(s.cells is not None for s in sides)
        transport = "bands" if collected and classified else "wkb"
    elif unique:
        transport = "dict"
    else:
        transport = "wkb"

    if left is None and right.cell_partitioned:
        return JoinPlan(None, transport, partitioned_side="right")
    sizes = {
        "left": _build_bytes(left, transport),
        "right": _build_bytes(right, transport),
    }
    fits = {
        k: v for k, v in sizes.items()
        if v is not None and v <= BROADCAST_BUDGET_BYTES
    }
    # the smaller side that fits; a tie replicates the right side
    side = min(fits, key=lambda k: (fits[k], k == "left"), default=None)
    return JoinPlan(side, transport)


# ------------------------------------------------------------- audit

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def audit_plan(df: DataFrame) -> dict:
    """Parse the formatted physical plan into the quality counters the
    engine cares about: Python nodes in the hot path, exchanges,
    broadcast usage, codegen coverage, pushed filters."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    jvm = df._sc._jvm  # noqa: SLF001
    plan = jvm.PythonSQLUtils.explainString(qe, "formatted")
    simple = jvm.PythonSQLUtils.explainString(qe, "simple")
    # a cached AdaptiveSparkPlan prints BOTH its final and its initial
    # physical plan; counting the initial one double-counts every
    # operator materialized behind an InMemoryRelation. Drop each
    # "== Initial Plan ==" SUBTREE (lines more indented than its
    # marker) from the tree section, then count operators by DISTINCT
    # node id — repeated prints of a shared cached relation collapse
    # to one.
    tree_lines = []
    skip_indent = None
    for line in plan.splitlines():
        stripped = line.lstrip()
        indent = len(line) - len(stripped)
        if skip_indent is not None:
            if stripped and indent <= skip_indent:
                skip_indent = None
            else:
                continue
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        tree_lines.append(line)
    tree = "\n".join(tree_lines)
    # tree section only (the detail section repeats every node and its
    # argument lines can contain incidental "(N)" patterns)
    split = re.search(r"\n\s*\n\(\d+\) ", tree)
    if split:
        tree = tree[: split.start()]
    name_by_id: dict[str, str] = {}
    for line in tree.splitlines():
        m = re.match(r"^[\s:+|*-]*([A-Za-z]\w*)", line)
        i = re.search(r"\((\d+)\)", line)
        if m and i:
            name_by_id.setdefault(i.group(1), m.group(1))

    def count_nodes(name: str) -> int:
        return sum(1 for nm in name_by_id.values() if nm == name)

    return {
        "python_nodes": {node: count_nodes(node) for node in _PY_NODES},
        "exchanges": count_nodes("Exchange") + count_nodes("BroadcastExchange"),
        "broadcast_joins": count_nodes("BroadcastHashJoin"),
        "sortmerge_joins": count_nodes("SortMergeJoin"),
        "shuffledhash_joins": count_nodes("ShuffledHashJoin"),
        "codegen_stages": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", simple))),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "plan": plan,
    }


def assert_plan_quality(
    df: DataFrame, max_python_nodes: int, require_join: bool = True
) -> dict:
    """Raise if the plan regressed: more Python nodes than promised or
    no join operator where one is expected. Used by tests as the
    'explain and iterate' gate."""
    a = audit_plan(df)
    n_py = sum(a["python_nodes"].values())
    if n_py > max_python_nodes:
        raise AssertionError(
            f"plan has {n_py} Python nodes (max {max_python_nodes}):\n"
            + a["plan"][:4000]
        )
    if require_join and not (
        a["broadcast_joins"] or a["sortmerge_joins"] or a["shuffledhash_joins"]
    ):
        raise AssertionError("plan has no join operator:\n" + a["plan"][:4000])
    return a
