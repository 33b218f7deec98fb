"""The benchmark's two workloads, their inputs and their references.

Inputs are the FIXTURES.md corpus (200k images, 10 % of them in one
1°x1° hot box; 10k convex polygons), written once per checkout under
``.perfbench/data``. The seed picks rows by id arithmetic, never by
``limit()``. Each workload computes its reference with NumPy alone, from
the same parquet files the engine reads, and caches it per input.
"""

from __future__ import annotations

import json
import struct
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
DATA = WORK / "data"
N_IMAGES = 200_000
N_POLYS = 10_000
IMAGE_FILES = 8

# checksum of an id pair, order-independent once summed; the same
# expression runs in Spark (pmod keeps every term below 2^31)
CHECK_MULT = 1_000_003
CHECK_MOD = 2_147_483_647


def _write_atomic(path: Path, write) -> None:
    tmp = path.with_name(path.name + ".tmp")
    write(tmp)
    tmp.rename(path)


def ensure_inputs() -> tuple[Path, Path]:
    """Write the corpus on the first run of a checkout; later runs reuse
    it. The rows are the fixture generator's, byte for byte."""
    from workstealing_spatial_join_spark.sources import fixtures as FX
    from workstealing_spatial_join_spark.functions import wkt as W

    DATA.mkdir(parents=True, exist_ok=True)
    images = DATA / f"images_{N_IMAGES}"
    polygons = DATA / f"polygons_{N_POLYS}.parquet"
    if not images.exists():
        pdf = FX.images_pdf(N_IMAGES, with_bytes=False)[["image_id", "lon", "lat"]]
        pdf.insert(0, "idx", np.arange(N_IMAGES, dtype=np.int64))

        def write_images(tmp: Path) -> None:
            tmp.mkdir()
            step = N_IMAGES // IMAGE_FILES
            for part in range(IMAGE_FILES):
                chunk = pdf.iloc[part * step:(part + 1) * step]
                pq.write_table(
                    pa.Table.from_pandas(chunk, preserve_index=False),
                    tmp / f"part-{part:05d}.parquet",
                )

        _write_atomic(images, write_images)
    if not polygons.exists():
        rows = []
        for r in FX.polygons_pdf(N_POLYS).itertuples():
            # the same parse → WKB → bounds path as operators.ingest
            ((gtype, rings),) = W.parse_wkt(r.wkt)
            shell = rings[0]
            rows.append({
                "polygon_id": r.polygon_id,
                "geom_wkb": W.to_wkb(gtype, rings),
                "minx": float(shell[:, 0].min()),
                "miny": float(shell[:, 1].min()),
                "maxx": float(shell[:, 0].max()),
                "maxy": float(shell[:, 1].max()),
            })
        _write_atomic(
            polygons,
            lambda tmp: pd.DataFrame(rows).to_parquet(tmp, index=False),
        )
    return images, polygons


def _cached_json(name: str, compute) -> dict:
    path = WORK / "ref" / f"{name}.json"
    if path.exists():
        return json.loads(path.read_text())
    value = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    _write_atomic(path, lambda tmp: tmp.write_text(json.dumps(value)))
    return value


def _polygon_rings(wkb: bytes) -> list[np.ndarray]:
    """Rings of a little-endian WKB POLYGON, decoded here rather than by
    the engine's codec so the reference shares no code with it."""
    order, gtype, nrings = struct.unpack_from("<BII", wkb, 0)
    if order != 1 or gtype != 3:
        raise ValueError("reference expects little-endian POLYGON WKB")
    off, rings = 9, []
    for _ in range(nrings):
        (n,) = struct.unpack_from("<I", wkb, off)
        rings.append(np.frombuffer(wkb, "<f8", 2 * n, off + 4).reshape(n, 2))
        off += 4 + 16 * n
    return rings


def _even_odd(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        crosses = (y1 > py) != (y2 > py)
        if crosses.any():
            xc = x1 + (py[crosses] - y1) * (x2 - x1) / (y2 - y1)
            inside[np.flatnonzero(crosses)[px[crosses] < xc]] ^= True
    return inside


def pip_reference(images: pd.DataFrame, polygons: pd.DataFrame) -> dict:
    """Pair count and checksum of every (image, polygon) containment,
    by brute force over the x-sorted points inside each polygon's MBR."""
    order = np.argsort(images["lon"].to_numpy(), kind="stable")
    xs = images["lon"].to_numpy()[order]
    ys = images["lat"].to_numpy()[order]
    ids = images["idx"].to_numpy()[order]
    count = checksum = 0
    for p in polygons.itertuples():
        lo = np.searchsorted(xs, p.minx, side="left")
        hi = np.searchsorted(xs, p.maxx, side="right")
        y = ys[lo:hi]
        in_box = (y >= p.miny) & (y <= p.maxy)
        px, py, pid = xs[lo:hi][in_box], y[in_box], ids[lo:hi][in_box]
        inside = np.zeros(len(px), dtype=bool)
        for ring in _polygon_rings(p.geom_wkb):
            inside ^= _even_odd(ring, px, py)
        hits = pid[inside]
        poly_idx = int(p.polygon_id[4:])
        count += len(hits)
        checksum += int(((hits * CHECK_MULT + poly_idx) % CHECK_MOD).sum())
    return {"count": count, "checksum": checksum}


def tile_reference(images: pd.DataFrame, zoom: int) -> list[list[int]]:
    """``tile_density_rollup(images, zoom, min_zoom=0)`` by NumPy: the
    image count of every tile at every level, as sorted
    ``[zoom, tx, ty, n]`` rows."""
    n = 2 ** zoom
    tx = np.clip(np.floor((images["lon"].to_numpy() + 180.0) / 360.0 * n), 0, n - 1)
    ty = np.clip(np.floor((90.0 - images["lat"].to_numpy()) / 180.0 * n), 0, n - 1)
    tx, ty = tx.astype(np.int64), ty.astype(np.int64)
    rows = []
    for shift in range(zoom + 1):
        tiles, counts = np.unique(
            np.stack([tx >> shift, ty >> shift], axis=1), axis=0, return_counts=True)
        rows += [[zoom - shift, int(x), int(y), int(c)]
                 for (x, y), c in zip(tiles, counts)]
    return sorted(rows)


def knn_reference(images: pd.DataFrame, query_idx: np.ndarray, k: int) -> dict:
    """k nearest other images per query, exact, by a sweep over the
    corpus sorted by x: a query's x-window doubles until every point
    outside it is farther in x alone than its k-th distance. Ties are
    broken by neighbour id ascending, as the operator documents."""
    ids = images["idx"].to_numpy()
    if not (np.diff(ids) > 0).all():
        raise ValueError("reference expects the corpus sorted by idx")
    cx = images["lon"].to_numpy()
    cy = images["lat"].to_numpy()
    by_x = np.argsort(cx, kind="stable")
    sx = cx[by_x]
    rank = np.empty_like(by_x)
    rank[by_x] = np.arange(len(by_x))
    n = len(ids)
    neighbors = np.empty((len(query_idx), k), dtype=np.int64)
    dists = np.empty((len(query_idx), k), dtype=np.float64)
    for j, q in enumerate(np.searchsorted(ids, query_idx)):
        width = 64
        while True:
            lo = max(rank[q] - width, 0)
            hi = min(rank[q] + width + 1, n)
            cand = by_x[lo:hi]
            cand = cand[cand != q]
            dx = cx[cand] - cx[q]
            dy = cy[cand] - cy[q]
            d = np.sqrt(dx * dx + dy * dy)
            kth = np.partition(d, k - 1)[k - 1] if len(d) >= k else np.inf
            # 1e-9 covers the rounding between |dx| and the distance
            reach = kth * (1 + 1e-9)
            if ((lo == 0 or cx[q] - sx[lo - 1] > reach)
                    and (hi == n or sx[hi] - cx[q] > reach)):
                break
            width *= 2
        keep = d <= kth
        order = np.lexsort((ids[cand[keep]], d[keep]))[:k]
        neighbors[j] = ids[cand[keep]][order]
        dists[j] = d[keep][order]
    return {
        "queries": query_idx.tolist(),
        "neighbors": neighbors.ravel().tolist(),
        "dists": dists.ravel().tolist(),
    }


def pip_action(df) -> dict:
    """Reduce point-in-polygon pairs to their count and checksum."""
    row = df.selectExpr(
        "count(1) AS n",
        f"sum(pmod(cast(substring(point_id, 4) AS bigint) * {CHECK_MULT}"
        f" + cast(substring(poly_id, 5) AS bigint), {CHECK_MOD})) AS s",
    ).collect()[0]
    return {"count": int(row["n"]), "checksum": int(row["s"] or 0)}


class Workload:
    """What both workloads share: the cached image DataFrame
    (``self.images``, with ``image_id, lon, lat``) and the layer probes
    of a traced run, which call two layers the op does not."""

    TILE_ZOOM = 6
    # untimed warm-up ops after the first: see run.warmed_up
    min_warmup_ops: int
    max_warmup_s: float

    def __init__(self):
        self.images = None

    def image_rows(self) -> pd.DataFrame:
        """The rows of ``self.images``, read by pandas for the references."""
        raise NotImplementedError

    def input_key(self) -> str:
        raise NotImplementedError

    def join_reference(self) -> dict:
        """Point-in-polygon count and checksum of these images against
        the 10k polygons; cached per input."""
        return _cached_json(
            f"pip-{self.input_key()}",
            lambda: pip_reference(self.image_rows(), pd.read_parquet(ensure_inputs()[1])),
        )

    def probe_reference(self) -> dict:
        return {
            "tiles": _cached_json(
                f"tiles{self.TILE_ZOOM}-{self.input_key()}",
                lambda: tile_reference(self.image_rows(), self.TILE_ZOOM)),
            "join": self.join_reference(),
        }

    def layer_probes(self, spark, ref: dict) -> tuple[dict, bool]:
        """One ``tile_density_rollup`` of the cached images, collected,
        and one ``point_in_polygon_join`` of them against a fresh,
        unprepared polygon layer, which plans the join inside the call
        (the path a one-off ``spatial_join`` caller takes). Timed apart
        from the ops; both results are checked."""
        from workstealing_spatial_join_spark import point_in_polygon_join
        from workstealing_spatial_join_spark.operators.tiles import tile_density_rollup

        t0 = time.perf_counter()
        tiles = sorted(
            [r["zoom"], r["tx"], r["ty"], r["n_images"]]
            for r in tile_density_rollup(self.images, zoom=self.TILE_ZOOM).collect())
        t1 = time.perf_counter()
        polygons = spark.read.parquet(str(ensure_inputs()[1]))
        df = point_in_polygon_join(self.images, polygons, mode="pairs")
        t2 = time.perf_counter()
        joined = pip_action(df)
        t3 = time.perf_counter()
        ok = tiles == ref["tiles"] and joined == ref["join"]
        return {"tiles.rollup_s": t1 - t0,
                "spatial_join.fresh_call_s": t2 - t1,
                "spatial_join.fresh_action_s": t3 - t2}, ok


class PipBulk(Workload):
    """Bulk point-in-polygon pairs against one prepared polygon layer."""

    name = "pip_bulk"
    # op times fall for the first 2 or 3 ops (JIT and Spark's caches)
    min_warmup_ops = 2
    max_warmup_s = 10.0
    keep_mod = 7  # drops one residue class: coprime to the i % 10 hot rule

    def __init__(self, seed: int):
        super().__init__()
        self.residue = seed % self.keep_mod
        self.polygons = self.layer = None

    def input_key(self) -> str:
        return f"images-{self.keep_mod}-{self.residue}"

    def image_rows(self) -> pd.DataFrame:
        images = pd.read_parquet(ensure_inputs()[0])
        return images[images["idx"].to_numpy() % self.keep_mod != self.residue]

    def reference(self) -> dict:
        return self.join_reference()

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        images_path, polygons_path = ensure_inputs()
        self.images = (
            spark.read.parquet(str(images_path))
            .where(F.col("idx") % self.keep_mod != self.residue)
            .select("image_id", "lon", "lat")
            .cache()
        )
        self.images.count()
        self.polygons = spark.read.parquet(str(polygons_path)).cache()
        self.polygons.count()

    def prepare(self) -> None:
        from workstealing_spatial_join_spark import PreparedPolygonLayer

        self.layer = PreparedPolygonLayer(self.polygons, poly_id="polygon_id")

    def call(self, stats: dict):
        from workstealing_spatial_join_spark import point_in_polygon_join

        return point_in_polygon_join(self.images, self.layer, mode="pairs")

    @staticmethod
    def action(df) -> dict:
        return pip_action(df)

    @staticmethod
    def check(result: dict, ref: dict) -> bool:
        return result == ref

    @staticmethod
    def matches(result: dict) -> int:
        return result["count"]


class KnnHotbox(Workload):
    """Planar kNN of a seeded query set against the whole corpus."""

    name = "knn_hotbox"
    # op times fall for the first 6 to 8 ops, while the JIT compiles the
    # driver's planning code (the CPU per op falls with them)
    min_warmup_ops = 6
    max_warmup_s = 32.0
    k = 5
    # queries are the ids ≡ seed (mod 211): 947 or 948 of the 200k. 211
    # is coprime to the i % 10 hot rule, so 10 % of them are in the hot box
    query_mod = 211

    def __init__(self, seed: int):
        super().__init__()
        self.residue = seed % self.query_mod
        self.queries = None

    def input_key(self) -> str:
        return "corpus"  # the probes see the whole corpus, whatever the seed

    def image_rows(self) -> pd.DataFrame:
        return pd.read_parquet(ensure_inputs()[0])

    def _query_idx(self) -> np.ndarray:
        return np.arange(self.residue, N_IMAGES, self.query_mod, dtype=np.int64)

    def reference(self) -> dict:
        def compute():
            return knn_reference(self.image_rows(), self._query_idx(), self.k)

        return _cached_json(f"knn_hotbox-{self.query_mod}-{self.residue}", compute)

    def load(self, spark) -> None:
        self.images = (
            spark.read.parquet(str(ensure_inputs()[0]))
            .select("idx", "image_id", "lon", "lat")
            .cache()
        )
        self.images.count()

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        self.queries = self.images.where(
            F.col("idx") % self.query_mod == self.residue
        ).cache()
        self.queries.count()

    def call(self, stats: dict):
        from workstealing_spatial_join_spark import knn_join

        return knn_join(
            self.queries, self.images, k=self.k, exclude_self=True, stats=stats
        )

    def action(self, df):
        return df.select("query_id", "neighbor_id", "rank", "dist").collect()

    def check(self, rows, ref: dict) -> bool:
        got = sorted(
            (int(r["query_id"][3:]), int(r["rank"]), int(r["neighbor_id"][3:]), r["dist"])
            for r in rows
        )
        want = [
            (q, rank + 1, n, d)
            for q, nbrs, ds in zip(
                ref["queries"],
                np.reshape(ref["neighbors"], (-1, self.k)).tolist(),
                np.reshape(ref["dists"], (-1, self.k)).tolist(),
            )
            for rank, (n, d) in enumerate(zip(nbrs, ds))
        ]
        return got == want

    @staticmethod
    def matches(rows) -> int:
        return len(rows)


WORKLOADS = {w.name: w for w in (PipBulk, KnnHotbox)}
