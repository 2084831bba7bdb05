"""knn_self against a NumPy brute force, bit for bit.

The reference ranks every other point by (dist2, neighbor id), with
dist2 computed in the operator's order (nx-qx)*(nx-qx)+(ny-qy)*(ny-qy).
Tiles and halos only choose which path answers a query, so every case
here must match it whatever the tiling: ties broken by id, coincident
points, points on tile splits and on halo edges, fewer than k points,
and queries forced through the exhaustive fallback.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_spatial_spark import session
from go_spatial_spark.geocode import geocode
from go_spatial_spark.operators import spatial_join as sj

SCHEMA = "doc_id long, lat double, lon double"


def brute_knn(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    ids = pdf["doc_id"].to_numpy()
    x = pdf["lon"].to_numpy(np.float64)
    y = pdf["lat"].to_numpy(np.float64)
    rows = []
    for i in range(len(ids)):
        d2 = (x - x[i]) * (x - x[i]) + (y - y[i]) * (y - y[i])
        order = np.lexsort((ids, d2))
        order = order[ids[order] != ids[i]][:k]
        rows += [(int(ids[i]), int(ids[j]), r, float(d2[j]))
                 for r, j in enumerate(order, 1)]
    return _sorted(pd.DataFrame(
        rows, columns=["doc_id", "neighbor_id", "rank", "dist2"]))


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    df = df.astype({"doc_id": "int64", "neighbor_id": "int64",
                    "rank": "int64", "dist2": "float64"})
    return df.sort_values(["doc_id", "rank"]).reset_index(drop=True)


def assert_exact(spark, pdf: pd.DataFrame, k: int = 5, parts: int = 3):
    pts = spark.createDataFrame(pdf, SCHEMA).repartition(parts)
    got = _sorted(sj.knn_self(pts, k=k).toPandas())
    want = brute_knn(pdf, k)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # dist2 bit for bit, not just equal as floats
    assert (got["dist2"].to_numpy().view(np.int64)
            == want["dist2"].to_numpy().view(np.int64)).all()
    return got


def _points(xs, ys, ids=None) -> pd.DataFrame:
    ids = np.arange(len(xs)) if ids is None else ids
    return pd.DataFrame({"doc_id": np.asarray(ids, np.int64),
                         "lat": np.asarray(ys, np.float64),
                         "lon": np.asarray(xs, np.float64)})


def _geo(spark, sf) -> pd.DataFrame:
    return geocode(spark.read.parquet(f"{sf}/documents.parquet")) \
        .select("doc_id", "lat", "lon").toPandas()


def _unresolved(spark) -> tuple[int, int]:
    """(unresolved, home) query counts of the last call's tile pass."""
    slot = session._slots[(spark.sparkContext.applicationId, "knn_self")]
    found = slot.frames[-1]
    return (found.where(F.col("rank") == 0).count(),
            found.select("qid").distinct().count())


class _Recorder:
    """Wraps sj._tiles and keeps the tiles it built."""

    def __init__(self, monkeypatch):
        self.built = []
        orig = sj._tiles

        def record(*a):
            self.built.append(orig(*a))
            return self.built[-1]
        monkeypatch.setattr(sj, "_tiles", record)


def test_one_coordinate_ties_break_by_id(spark):
    rng = np.random.default_rng(7)
    ids = rng.permutation(np.arange(100, 160))
    got = assert_exact(spark, _points(np.full(60, 12.5), np.full(60, -3.25),
                                      ids))
    assert (got["dist2"] == 0.0).all()


def test_every_point_repeated_four_times(spark, sf01):
    base = _geo(spark, sf01)
    pts4 = pd.concat([base.assign(doc_id=base["doc_id"] * 4 + r)
                      for r in range(4)], ignore_index=True)
    assert_exact(spark, pts4)


@pytest.mark.parametrize("k", [4, 5])
def test_points_on_tile_splits_and_halo_edges(spark, monkeypatch, k):
    """An integer lattice over several tiles, every halo exactly 1: the
    weighted-median splits fall on lattice lines, so points sit exactly
    on splits, and the next lattice line sits exactly on the expanded
    rectangle's edge. With k=4 the kth dist2 (1) equals the squared
    reach of a query on a split, the strict boundary of the rule."""
    side = 48
    g = np.arange(side * side)
    pdf = _points(g % side, g // side, ids=(g * 7919) % (side * side))
    rec = _Recorder(monkeypatch)
    monkeypatch.setattr(sj, "_halos", lambda rects, *a: np.ones(len(rects)))
    assert_exact(spark, pdf, k=k)
    t = rec.built[-1]
    assert len(t.ext) > 1
    xs, ys = set(pdf["lon"]), set(pdf["lat"])
    splits = t.split[t.axis >= 0]
    assert any(v in (xs, ys)[a] for a, v in zip(t.axis[t.axis >= 0], splits))
    inner = [(v, (xs, xs, ys, ys)[s]) for e, far in zip(t.ext, t.far)
             for s, v in enumerate(e) if not far[s]]
    assert inner and all(v in coords for v, coords in inner)
    # the split queries (reach 1) cannot resolve: the fallback ran
    assert _unresolved(spark)[0] > 0


@pytest.mark.parametrize("n", [2, 3, 5])
def test_no_more_than_k_points_gives_fewer_ranks(spark, n):
    got = assert_exact(spark, _points([0.0, 1.0, 2.5, 2.5, -1.0][:n],
                                      [0.0, 0.5, 0.5, 0.5, 3.0][:n]), k=5)
    assert (got.groupby("doc_id").size() == n - 1).all()


def test_one_point_and_empty_input(spark):
    assert_exact(spark, _points([3.0], [4.0]))
    empty = sj.knn_self(spark.createDataFrame([], SCHEMA), k=5)
    assert empty.columns == ["doc_id", "neighbor_id", "rank", "dist2"]
    assert empty.count() == 0


def test_sf0p1_all_queries_bit_exact(spark, sf0p1):
    assert_exact(spark, _geo(spark, sf0p1), parts=8)


def test_forced_fallback_matches_brute_force(spark, sf01, monkeypatch):
    """Tiles of about 8 points with halos shrunk to 1% leave at least
    half the sf0.01 queries unresolved; the exhaustive fallback must
    answer them exactly."""
    pdf = _geo(spark, sf01)
    orig = sj._halos
    monkeypatch.setattr(sj, "KNN_TILE_CAP", 8)
    monkeypatch.setattr(sj, "_halos", lambda *a: orig(*a) * 0.01)
    assert_exact(spark, pdf)
    missed, queries = _unresolved(spark)
    assert queries == len(pdf) and 2 * missed >= queries, (missed, queries)


def test_no_fallback_when_all_resolved(spark, sf0p1):
    pts = geocode(spark.read.parquet(f"{sf0p1}/documents.parquet")) \
        .select("doc_id", "lat", "lon")
    out = sj.knn_self(pts, k=5)
    assert _unresolved(spark)[0] == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan
