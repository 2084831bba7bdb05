"""Spatial joins: point-in-polygon, kNN, raster<->vector conversion.

- PIP  = broadcast polygon set + bbox/cell-prefix prune (Catalyst pushes
  the range predicates to the scan) + exact ray-casting refine inside a
  vectorized pandas UDF.
- kNN  = density-adaptive tiles with halo replication, the Spark-native
  form of the reference's k-d tree range search (structures/kdtree.go).
  One sampling job sizes k-d tiles on the driver; one shuffle sends
  each point to its home tile and to every tile whose halo-grown
  rectangle holds it (the edge-strip halo idea of grid.py's raster
  tiles); an exact NumPy kNN per tile answers every query whose kth
  neighbour is provably closer than anything outside that rectangle.
  The rest, usually none, go to a cell-ring hash join whose ring is
  as wide as the query's local kth distance.

At 100 TB the PIP prune is what matters: the refine UDF sees only
bbox-candidate rows. The kNN tiles split wherever the sample is dense,
so the geocoder's hotspot skew becomes many small tiles rather than
one hot shuffle key, and a tile group holds about KNN_TILE_CAP home
points plus at most KNN_TILE_CAP replicas per side (coincident points
excepted).
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np

from go_spatial_spark.session import (cache_frame, ensure_parallelism,
                                      release_cached)
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

# (lon, lat) integer vertices; ring closes last->first. Mix of convex,
# concave, triangle, sliver, nested box pair (FIXTURES.md §5).
POLYGONS: dict[int, list[tuple[float, float]]] = {
    1: [(-85, 40), (-75, 40), (-74, 45), (-79, 47), (-86, 44)],  # hotspot cover
    2: [(0, -10), (25, -10), (25, 15), (12, 1), (0, 15)],        # concave
    3: [(-150, -60), (-100, -55), (-120, -20)],                  # triangle
    4: [(100, 10), (140, 11), (100, 12)],                        # sliver
    5: [(60, 30), (90, 30), (90, 60), (60, 60)],                 # outer box
    6: [(70, 40), (80, 40), (80, 50), (70, 50)],                 # inner box
}


def polygon_edges(pid: int, polygons: dict | None = None):
    ring = (polygons or POLYGONS)[pid]
    return [(ring[i][0], ring[i][1], ring[(i + 1) % len(ring)][0],
             ring[(i + 1) % len(ring)][1]) for i in range(len(ring))]


def synthetic_polygons(n: int) -> dict[int, list[tuple[float, float]]]:
    """Deterministic synthetic polygon set for benchmarks/tests: k-gons
    (k in 5..8) on a shuffled lon/lat grid with varying radius — no RNG,
    same set on every run/executor."""
    import math as _m
    polys: dict[int, list[tuple[float, float]]] = {}
    for i in range(1, n + 1):
        cx = -175.0 + (i * 37) % 350
        cy = -80.0 + (i * 53) % 160
        r = 3.0 + (i % 7)
        k = 5 + (i % 4)
        polys[i] = [(cx + r * _m.cos(2 * _m.pi * j / k + i),
                     cy + 0.7 * r * _m.sin(2 * _m.pi * j / k + i))
                    for j in range(k)]
    return polys


def _ray_cast_np(px: np.ndarray, py: np.ndarray, pid: int,
                 polygons: dict | None = None) -> np.ndarray:
    """Crossing-number parity, identical expression to the SQL oracle:
    ((y1>py) != (y2>py)) AND (px < (x2-x1)*(py-y1)/(y2-y1)+x1)."""
    inside = np.zeros(px.shape[0], dtype=np.int64)
    # horizontal edges divide by zero, but the crossing test is already
    # False there ((y1>py) == (y2>py)) — mask the warning only
    with np.errstate(divide="ignore", invalid="ignore"):
        for x1, y1, x2, y2 in polygon_edges(pid, polygons):
            crosses = ((y1 > py) != (y2 > py)) & (
                px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
            inside += crosses.astype(np.int64)
    return (inside % 2) == 1


def point_in_polygon(points: DataFrame, spark,
                     id_col: str = "doc_id",
                     polygons: dict | None = None) -> DataFrame:
    """points(id, lon, lat) -> (id, polygon_id) membership pairs.

    Plan shape: broadcast(polygon bboxes) range-join [prune] ->
    pandas-UDF ray cast [refine]. The bbox predicate is pushed into the
    scan side by Catalyst; the UDF sees candidates only.
    """
    polygons = polygons or POLYGONS
    bbox_rows = []
    for pid, ring in polygons.items():
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        bbox_rows.append((pid, float(min(xs)), float(max(xs)),
                          float(min(ys)), float(max(ys))))
    bboxes = spark.createDataFrame(
        bbox_rows, "polygon_id int, minx double, maxx double, miny double, maxy double")

    points = ensure_parallelism(points)
    cand = points.join(
        F.broadcast(bboxes),
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy")),
        "inner",
    )

    @F.pandas_udf(T.BooleanType())
    def refine(lon: pd.Series, lat: pd.Series, pid: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        px = lon.to_numpy(dtype=np.float64)
        py = lat.to_numpy(dtype=np.float64)
        ids = pid.to_numpy()
        for p in np.unique(ids):
            m = ids == p
            out[m] = _ray_cast_np(px[m], py[m], int(p), polygons)
        return pd.Series(out)

    return (cand.where(refine(F.col("lon"), F.col("lat"), F.col("polygon_id")))
            .select(F.col(id_col), F.col("polygon_id")))


def pip_oracle_sql(points_sql: str, id_col: str = "doc_id") -> str:
    """DuckDB brute-force PIP over the same inline polygon set."""
    edge_rows = []
    for pid in POLYGONS:
        for x1, y1, x2, y2 in polygon_edges(pid):
            edge_rows.append(f"({pid}, {x1}.0, {y1}.0, {x2}.0, {y2}.0)")
    edges = ",\n      ".join(edge_rows)
    return f"""
    WITH pts AS ({points_sql}),
    edges(polygon_id, x1, y1, x2, y2) AS (VALUES
      {edges}
    ),
    crossings AS (
      SELECT p.{id_col}, e.polygon_id,
             SUM(CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
                       AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
                                    / (e.y2 - e.y1) + e.x1)
                 THEN 1 ELSE 0 END) AS n
      FROM pts p CROSS JOIN edges e
      GROUP BY p.{id_col}, e.polygon_id
    )
    SELECT {id_col}, polygon_id FROM crossings WHERE n % 2 = 1
    """


# ---------------------------------------------------------------------------
# kNN via density-adaptive tiles with halo replication
# ---------------------------------------------------------------------------

KNN_SAMPLE_CAP = 1000   # sampled rows per input partition
KNN_TILE_CAP = 1024     # estimated home points per tile, and replicas per side
_MAX_DEPTH = 40         # k-d recursion bound
_MARGIN = 1e-9          # relative float slack of the resolution test
_BLOCK = 1 << 20        # distance-matrix elements per query block

_SAMPLE_SCHEMA = ("n long, x0 double, x1 double, y0 double, y1 double, "
                  "xs array<double>, ys array<double>")


class _Tiles(NamedTuple):
    """k-d tiles over the data extent.

    Node arrays (preorder, so children follow their parent): ``axis``
    (0 = x, 1 = y, -1 at a leaf), ``split`` (coordinate < split goes
    ``left``, the rest ``right``), ``leaf`` (tile id, -1 inside) and
    ``box``, the union of the expanded rectangles below the node.
    Tile arrays: ``ext``, the tile rectangle grown by its halo
    (x0, x1, y0, y1), and ``far``, which of those sides lie at or
    beyond the data extent, where no point can be outside them."""
    axis: np.ndarray
    split: np.ndarray
    left: np.ndarray
    right: np.ndarray
    leaf: np.ndarray
    box: np.ndarray
    ext: np.ndarray
    far: np.ndarray


def _sample_partition(batches):
    """One row per non-empty partition: its row count, its extent and
    the KNN_SAMPLE_CAP rows with the smallest id hash (pandas' fixed
    hash key seeds it, so the sample does not depend on row order)."""
    n, ext, kept = 0, [], None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        ext.append((pdf.x.min(), pdf.x.max(), pdf.y.min(), pdf.y.max()))
        pdf = pdf.assign(
            h=pd.util.hash_pandas_object(pdf.id, index=False).to_numpy())
        kept = pdf if kept is None else pd.concat([kept, pdf])
        kept = kept.nsmallest(KNN_SAMPLE_CAP, "h")
    if n:
        e = np.array(ext)
        yield pd.DataFrame({
            "n": [n], "x0": [e[:, 0].min()], "x1": [e[:, 1].max()],
            "y0": [e[:, 2].min()], "y1": [e[:, 3].max()],
            "xs": [kept.x.to_numpy()], "ys": [kept.y.to_numpy()]})


def _median_cut(x, y, w, rect):
    """(axis, value) at the sample's weighted median along the
    rectangle's longer side, or along the other side when the longer
    one holds a single sampled value; None when all sampled points
    coincide. Both sides of the cut keep at least one sampled point."""
    wide = rect[1] - rect[0] >= rect[3] - rect[2]
    for a in ((0, 1) if wide else (1, 0)):
        o = np.argsort((x, y)[a], kind="stable")
        c = (x, y)[a][o]
        if c[0] == c[-1]:
            continue
        cum = np.cumsum(w[o])
        v = c[np.searchsorted(cum, cum[-1] / 2)]
        if v == c[0]:
            v = c[np.searchsorted(c, v, side="right")]
        return a, v
    return None


def _kd_tiles(x, y, w, extent):
    """Split ``extent`` at weighted medians of the sample (x, y, weight
    w) until each leaf's estimated point count is at most KNN_TILE_CAP.
    Returns the node arrays (axis, split, left, right, leaf), the leaf
    rectangles (T, 4) and the leaves' estimated counts (T,)."""
    nodes: list[list] = []
    rects, counts = [], []

    def build(idx, rect, depth):
        node = len(nodes)
        nodes.append([-1, 0.0, -1, -1, -1])
        count = w[idx].sum()
        cut = _median_cut(x[idx], y[idx], w[idx], rect) \
            if count > KNN_TILE_CAP and depth < _MAX_DEPTH else None
        if cut is None:
            nodes[node][4] = len(rects)
            rects.append(rect)
            counts.append(count)
            return node
        a, v = cut
        c = (x, y)[a][idx]
        lo, hi = list(rect), list(rect)
        lo[2 * a + 1] = hi[2 * a] = v
        nodes[node][:2] = a, v
        nodes[node][2] = build(idx[c < v], lo, depth + 1)
        nodes[node][3] = build(idx[c >= v], hi, depth + 1)
        return node

    build(np.arange(len(x)), list(extent), 0)
    axis, split, left, right, leaf = map(np.array, zip(*nodes))
    return ((axis, split.astype(np.float64), left, right, leaf),
            np.array(rects, dtype=np.float64), np.array(counts))


def _halos(rects, counts, k):
    """Each tile's halo from its sampled density: three times the
    radius expected to hold k + 1 points (the 1-D estimate where the
    tile is a line)."""
    dx = rects[:, 1] - rects[:, 0]
    dy = rects[:, 3] - rects[:, 2]
    r2 = np.sqrt((k + 1) * dx * dy / (np.pi * counts))
    r1 = (k + 1) * np.maximum(dx, dy) / (2 * counts)
    return 3.0 * np.maximum(r2, r1)


def _tree(nodes, rects, halo, extent) -> _Tiles:
    """The k-d nodes with each tile grown by its (T, 4) side halos."""
    axis, split, left, right, leaf = nodes
    ext = rects + halo * np.array([-1.0, 1.0, -1.0, 1.0])
    x0, x1, y0, y1 = extent
    far = np.stack([ext[:, 0] <= x0, ext[:, 1] >= x1,
                    ext[:, 2] <= y0, ext[:, 3] >= y1], axis=1)
    box = np.empty((len(axis), 4))
    for i in reversed(range(len(axis))):
        if leaf[i] >= 0:
            box[i] = ext[leaf[i]]
        else:
            lo, hi = box[left[i]], box[right[i]]
            box[i] = (min(lo[0], hi[0]), max(lo[1], hi[1]),
                      min(lo[2], hi[2]), max(lo[3], hi[3]))
    return _Tiles(axis, split, left, right, leaf, box, ext, far)


def _home(t: _Tiles, x, y):
    """Tile holding each point: one k-d descent, O(log T) per point."""
    node = np.zeros(len(x), dtype=np.int64)
    inner = np.flatnonzero(t.axis[node] >= 0)
    while len(inner):
        nd = node[inner]
        c = np.where(t.axis[nd] == 0, x[inner], y[inner])
        node[inner] = np.where(c < t.split[nd], t.left[nd], t.right[nd])
        inner = inner[t.axis[node[inner]] >= 0]
    return t.leaf[node]


def _covering(t: _Tiles, x, y):
    """(point index, tile) for every tile whose closed expanded
    rectangle holds the point: a descent into each child whose box
    holds it, O(log T + replicas) per point."""
    pi = np.arange(len(x))
    nd = np.zeros(len(x), dtype=np.int64)
    found_p, found_t = [pi[:0]], [nd[:0]]
    while len(pi):
        b = t.box[nd]
        px, py = x[pi], y[pi]
        inside = (b[:, 0] <= px) & (px <= b[:, 1]) \
            & (b[:, 2] <= py) & (py <= b[:, 3])
        pi, nd = pi[inside], nd[inside]
        at_leaf = t.leaf[nd] >= 0
        found_p.append(pi[at_leaf])
        found_t.append(t.leaf[nd[at_leaf]])
        pi, nd = pi[~at_leaf], nd[~at_leaf]
        pi = np.concatenate([pi, pi])
        nd = np.concatenate([t.left[nd], t.right[nd]])
    return np.concatenate(found_p), np.concatenate(found_t)


def _replicas(t: _Tiles, x, y):
    """Each point's home tile, and (point index, tile) for every other
    tile whose expanded rectangle holds it."""
    home = _home(t, x, y)
    p, tile = _covering(t, x, y)
    other = tile != home[p]
    return home, p[other], tile[other]


def _tiles(x, y, w, extent, k) -> _Tiles:
    """Tiles and halos from the weighted sample. Each side of a tile
    carries its own halo, first the tile's density estimate. A side
    whose sampled replicas would exceed KNN_TILE_CAP shrinks to the
    widest halo that fits, so no tile group grows with the data: a
    sparse tile beside a dense cluster narrows only the side facing
    the cluster, and the few queries near that side go to the
    fallback rather than pulling the cluster in."""
    nodes, rects, counts = _kd_tiles(x, y, w, extent)
    halo = np.repeat(_halos(rects, counts, k)[:, None], 4, axis=1)
    _, p, tile = _replicas(_tree(nodes, rects, halo, extent), x, y)
    r = rects[tile]
    # how far a replica lies beyond each side; its largest overshoot
    # is the smallest halo of that side that still replicates it
    over = np.stack([r[:, 0] - x[p], x[p] - r[:, 1],
                     r[:, 2] - y[p], y[p] - r[:, 3]], axis=1)
    key = tile * 4 + over.argmax(axis=1)
    d = over.max(axis=1)
    o = np.lexsort((d, key))
    key, d, wt = key[o], d[o], w[p][o]
    cum = np.cumsum(wt)
    first = np.searchsorted(key, key)
    full = cum - cum[first] + wt[first] > KNN_TILE_CAP
    key, j = np.unique(key[full], return_index=True)
    tt, side = np.divmod(key, 4)
    halo[tt, side] = np.minimum(
        halo[tt, side], np.maximum(np.nextafter(d[full][j], -np.inf), 0.0))
    return _tree(nodes, rects, halo, extent)


def _replicate(t: _Tiles, batches):
    """Every point once at its home tile and once per replica tile."""
    for pdf in batches:
        x = pdf.x.to_numpy(np.float64)
        y = pdf.y.to_numpy(np.float64)
        home, p, tile = _replicas(t, x, y)
        p = np.concatenate([np.arange(len(x)), p])
        yield pd.DataFrame({
            "tile": np.concatenate([home, tile]).astype(np.int32),
            "home": np.arange(len(p)) < len(x),
            "id": pdf.id.to_numpy()[p], "x": x[p], "y": y[p]})


def _topk(qid, qx, qy, cid, cx, cy, k):
    """Each query's k nearest candidates other than itself, ranked by
    (dist2, id): the candidates come sorted by id and the rank sort is
    stable. Returns (query index, candidate index, rank, dist2)."""
    out = [(np.zeros(0, np.int64),) * 3 + (np.zeros(0),)]
    step = max(1, _BLOCK // len(cid))
    kk = min(k, len(cid))
    for s in range(0, len(qid), step):
        dx = cx[None, :] - qx[s:s + step, None]
        dy = cy[None, :] - qy[s:s + step, None]
        d2 = dx * dx + dy * dy
        d2[cid[None, :] == qid[s:s + step, None]] = np.inf
        kth = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
        r, c = np.nonzero(d2 <= kth[:, None])
        v = d2[r, c]
        o = np.lexsort((c, v, r))
        r, c, v = r[o], c[o], v[o]
        rank = np.arange(len(r)) - np.searchsorted(r, r) + 1
        keep = (rank <= k) & np.isfinite(v)
        out.append((r[keep] + s, c[keep], rank[keep], v[keep]))
    return tuple(np.concatenate(a) for a in zip(*out))


def _tile_knn(t: _Tiles, k: int, pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact kNN of one tile's home points over its home and replica
    points. A query is resolved when it has k neighbours and its kth
    dist2 is below the squared distance to the nearest side of the
    expanded rectangle: every point left out lies strictly beyond that
    side, so none can tie or beat the kth. Unresolved queries come out
    as one rank-0 row carrying their coordinates and, as dist2, their
    local kth dist2 (inf below k neighbours): k real points lie that
    close, so it bounds the true kth from above."""
    tile = int(pdf.tile.iat[0])
    pdf = pdf.sort_values("id", kind="stable")
    cid = pdf.id.to_numpy()
    cx = pdf.x.to_numpy(np.float64)
    cy = pdf.y.to_numpy(np.float64)
    home = pdf.home.to_numpy()
    qid, qx, qy = cid[home], cx[home], cy[home]
    e = t.ext[tile]
    side = np.stack([qx - e[0], e[1] - qx, qy - e[2], e[3] - qy], axis=1)
    side[:, t.far[tile]] = np.inf
    reach = side.min(axis=1)
    qi, ci, rank, d2 = _topk(qid, qx, qy, cid, cx, cy, k)
    kth = np.full(len(qid), np.inf)
    kth[qi[rank == k]] = d2[rank == k]
    ok = kth < reach * reach * (1.0 - _MARGIN)
    keep, miss = ok[qi], ~ok
    zero, pad = np.zeros(int(miss.sum())), np.zeros(int(keep.sum()))
    return pd.DataFrame({
        "qid": np.concatenate([qid[qi[keep]], qid[miss]]),
        "nid": np.concatenate([cid[ci[keep]], qid[miss]]),
        "rank": np.concatenate([rank[keep], zero]).astype(np.int32),
        "dist2": np.concatenate([d2[keep], kth[miss]]),
        "qx": np.concatenate([pad, qx[miss]]),
        "qy": np.concatenate([pad, qy[miss]])})


def _ring_fallback(queries: DataFrame, pts: DataFrame, k: int,
                   cs: float, extent) -> DataFrame:
    """Exact top-k of ``queries`` (qid, qx, qy, bound) over all points.

    Every true neighbour of a query lies within dist2 ``bound``, so
    within ceil(sqrt(bound) / cs) + 1 cells of it (the +1 absorbs the
    floor of the cell index); a ring that wide, capped at the
    exhaustive radius ceil(span / cs) + 1 that covers the whole extent
    (an infinite bound), holds them all. Each query's ring is
    exploded clipped to the occupied-cell bounding box, semi-joined
    against the occupied cells (a broadcast LeftSemi) and hash-joined
    to the points on the cell key — never a nested loop."""
    x0, x1, y0, y1 = extent
    gx0, gx1, gy0, gy1 = (math.floor(v / cs) for v in extent)
    r_max = math.ceil(max(x1 - x0, y1 - y0) / cs) + 1
    lim = F.lit(float(r_max * cs) ** 2)
    p = pts.select(F.col("id").alias("nid"), F.col("x").alias("nx"),
                   F.col("y").alias("ny"),
                   F.floor(F.col("x") / cs).alias("ngx"),
                   F.floor(F.col("y") / cs).alias("ngy"))
    occupied = p.select(F.col("ngx").alias("gx"),
                        F.col("ngy").alias("gy")).distinct()
    q = queries.select(
        "qid", "qx", "qy",
        F.floor(F.col("qx") / cs).alias("qgx"),
        F.floor(F.col("qy") / cs).alias("qgy"),
        F.least(F.lit(r_max), F.ceil(
            F.sqrt(F.least(F.col("bound"), lim)) / cs) + 1).alias("r"))
    cells = F.expr(
        f"explode(flatten(transform("
        f"sequence(greatest(qgx - r, {gx0}L), least(qgx + r, {gx1}L)), "
        f"gx -> transform("
        f"sequence(greatest(qgy - r, {gy0}L), least(qgy + r, {gy1}L)), "
        f"gy -> struct(gx, gy)))))")
    gq = (q.select("qid", "qx", "qy", cells.alias("cell"))
          .select("qid", "qx", "qy", "cell.gx", "cell.gy")
          .join(F.broadcast(occupied), ["gx", "gy"], "left_semi"))
    ring = gq.join(
        p,
        (F.col("ngx") == F.col("gx")) & (F.col("ngy") == F.col("gy"))
        & (F.col("nid") != F.col("qid")),
        "inner",
    ).withColumn(
        "dist2",
        (F.col("nx") - F.col("qx")) * (F.col("nx") - F.col("qx"))
        + (F.col("ny") - F.col("qy")) * (F.col("ny") - F.col("qy")))
    w = Window.partitionBy("qid").orderBy(F.col("dist2"), F.col("nid"))
    return ring.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= k)


def knn_self(points: DataFrame, k: int = 5, cell_size: float = 11.25,
             id_col: str = "doc_id") -> DataFrame:
    """Exact self-kNN (id, neighbor_id, rank, dist2), rank 1..k by
    (dist2, neighbor_id), dist2 = (nx-qx)*(nx-qx)+(ny-qy)*(ny-qy).

    1. **Sample.** One job returns each partition's row count, extent
       and a deterministic sample of at most KNN_SAMPLE_CAP rows.
    2. **Tiles** (driver). k-d splits at the weighted sample median
       along the longer side until each tile holds an estimated
       KNN_TILE_CAP points or fewer, so the tile count grows with N and
       dense clusters (the geocoder's urban hotspot) become many small
       tiles. Each tile gets a halo from its sampled density; a side
       whose sampled replicas would exceed KNN_TILE_CAP narrows.
    3. **One tile pass.** Each point goes to its home tile and to every
       tile whose halo-grown rectangle holds it (a k-d descent, not a
       scan of all tiles); one ``groupBy(tile).applyInPandas`` runs an
       exact NumPy kNN per tile. This frame is the one cached
       (``cache_frame(..., "knn_self")``).
    4. **Fallback, only when needed.** Queries the tile could not
       resolve (fewer than k neighbours, or a kth dist2 not strictly
       below the squared distance to the nearest expanded side that
       lies inside the data extent, with a float margin) go to a
       cell-ring hash join, the ring as wide as the query's local kth
       distance (the whole extent below k local neighbours).

    Tiles and halos only decide which path answers a query, never the
    answer: both paths compute dist2 in the same operation order and
    rank by (dist2, neighbor_id). Coincident points cannot be split
    apart, so a tile of one repeated coordinate may exceed the cap.
    ``cell_size`` is the fallback's cell.
    """
    spark = points.sparkSession
    # the previous call's tile frame is released here
    release_cached(spark, "knn_self")
    pts = points.select(F.col(id_col).alias("id"), F.col("lon").alias("x"),
                        F.col("lat").alias("y"))
    id_t = pts.schema["id"].dataType.simpleString()
    parts = pts.mapInPandas(_sample_partition, _SAMPLE_SCHEMA).collect()
    if not parts:
        return spark.createDataFrame(
            [], f"{id_col} {id_t}, neighbor_id {id_t}, rank int, "
                "dist2 double")
    extent = (min(r.x0 for r in parts), max(r.x1 for r in parts),
              min(r.y0 for r in parts), max(r.y1 for r in parts))
    x = np.concatenate([np.asarray(r.xs, np.float64) for r in parts])
    y = np.concatenate([np.asarray(r.ys, np.float64) for r in parts])
    w = np.concatenate([np.full(len(r.xs), r.n / len(r.xs)) for r in parts])
    tiles = _tiles(x, y, w, extent, k)

    found = (pts.mapInPandas(lambda it: _replicate(tiles, it),
                             f"tile int, home boolean, id {id_t}, "
                             "x double, y double")
             .groupBy("tile")
             .applyInPandas(lambda pdf: _tile_knn(tiles, k, pdf),
                            f"qid {id_t}, nid {id_t}, rank int, "
                            "dist2 double, qx double, qy double"))
    found = cache_frame(found, "knn_self")
    cols = [F.col("qid").alias(id_col), F.col("nid").alias("neighbor_id"),
            "rank", "dist2"]
    out = found.where(F.col("rank") > 0).select(*cols)
    missed = found.where(F.col("rank") == 0).select(
        "qid", "qx", "qy", F.col("dist2").alias("bound"))
    if missed.isEmpty():
        return out
    return out.unionByName(
        _ring_fallback(missed, pts, k, cell_size, extent).select(*cols))

def knn_oracle_sql(points_sql: str, k: int = 5, id_col: str = "doc_id") -> str:
    return f"""
    WITH pts AS ({points_sql}),
    pairs AS (
      SELECT q.{id_col} AS {id_col}, n.{id_col} AS neighbor_id,
             (n.lon - q.lon) * (n.lon - q.lon)
             + (n.lat - q.lat) * (n.lat - q.lat) AS dist2
      FROM pts q JOIN pts n ON n.{id_col} <> q.{id_col}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY {id_col} ORDER BY dist2, neighbor_id) AS rank
      FROM pairs
    )
    SELECT {id_col}, neighbor_id, CAST(rank AS INT) AS rank, dist2
    FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# raster <-> vector
# ---------------------------------------------------------------------------

def raster_to_vector_points(grid: DataFrame, meta) -> DataFrame:
    """Long-form grid -> point table (the RasterToVectorPoints
    semantics named in BASELINE.json#north_star). Georeferencing mode
    follows meta.pixel_is_area (raster.go:383-399): area pixels emit
    cell CENTERS (half-cell offset); point pixels ARE the grid nodes
    (row/col scale directly, spanning rows-1/cols-1 cells)."""
    half = 0.5 if meta.pixel_is_area else 0.0
    x = F.lit(meta.west) + (F.col("col") + F.lit(half)) * F.lit(meta.cellsize_x)
    y = F.lit(meta.north) - (F.col("row") + F.lit(half)) * F.lit(meta.cellsize_y)
    return grid.select(x.alias("x"), y.alias("y"), F.col("value"))


def vector_points_to_raster(points: DataFrame, meta,
                            agg: str = "max") -> DataFrame:
    """Point table -> long-form grid; cells aggregate colliding points
    (VectorPointsToRaster semantics). Out-of-bounds points are dropped.
    pixel_is_area bins points into cell footprints; pixel-is-point
    snaps to the nearest grid node (+0.5 before the floor)."""
    snap = 0.0 if meta.pixel_is_area else 0.5
    row = F.floor((F.lit(meta.north) - F.col("y")) / F.lit(meta.cellsize_y)
                  + F.lit(snap))
    col = F.floor((F.col("x") - F.lit(meta.west)) / F.lit(meta.cellsize_x)
                  + F.lit(snap))
    df = points.select(row.cast("int").alias("row"),
                       col.cast("int").alias("col"), "value")
    df = df.where((F.col("row") >= 0) & (F.col("row") < meta.rows)
                  & (F.col("col") >= 0) & (F.col("col") < meta.cols))
    agg_fn = {"max": F.max, "min": F.min, "sum": F.sum,
              "count": F.count}[agg]
    return df.groupBy("row", "col").agg(agg_fn("value").alias("value"))
