"""Correctness checks: each operator output against an independent
reference, run outside the timed region.

Every check takes the generated inputs and the operator's output as
pandas/NumPy objects and returns ``None`` when the output matches, or
a one-line description of the first mismatch.  References:

* PIP   - ``spatial_join.pip_oracle_sql`` in DuckDB, over the seeded
  polygons, on a seeded sample of points;
* kNN   - NumPy brute force with the ``(dist2, id)`` rank rule, on a
  seeded sample of query points;
* stencils - the ``oracles.py`` SQL in DuckDB on seeded 32x32 blocks,
  one straddling an interior tile corner (so the halo exchange is
  exercised) and one anywhere;
* fill / d8 - ``fill_minimax_sql`` / ``d8_flow_accum_sql`` over the
  whole hydrology DEM;
* dedup, corpus and similarity - each operator's ``*_oracle_sql``.

The ``oracles.py`` builders read the DEM through their module-level
``synthetic_dem_sql``; the checks swap in SQL over the seeded DEM with
``unittest.mock.patch.object`` for the duration of one call.
"""

from __future__ import annotations

from unittest import mock

import duckdb
import numpy as np
import pandas as pd

from go_spatial_spark import oracles
from go_spatial_spark.grid import NODATA
from go_spatial_spark.operators import corpus, dedup, similarity, spatial_join

# Tolerances fixed before any run.  Pure sums/ratios of 2^-6 multiples
# are exact; float64 transcendental results may differ in the last ulp
# between NumPy and DuckDB (``oracles.py`` docstring), which moves a
# 4-decimal rounding by at most one unit and a floor(255*x) shade by at
# most one level.
RTOL = 1e-9
SLOPE_ATOL = 1.0001e-4
SHADE_ATOL = 1.0
BLOCK = 32


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _canon(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64")
    return out.sort_values(cols).reset_index(drop=True)


def compare_frames(name: str, got: pd.DataFrame, want: pd.DataFrame,
                   keys: list[str], floats: tuple[str, ...] = (),
                   atol: float = 0.0) -> str | None:
    """Row-set equality on ``keys`` (exact) plus ``floats`` (RTOL/atol).
    Rows are ordered by the key columns only, so a float that differs
    in its last ulp cannot reorder the two sides differently."""
    if len(got) != len(want):
        return f"{name}: {len(got)} rows, reference has {len(want)}"
    a = _canon(got, keys + list(floats)).sort_values(keys).reset_index(drop=True)
    b = _canon(want, keys + list(floats)).sort_values(keys).reset_index(drop=True)
    for c in keys:
        bad = np.flatnonzero(a[c].to_numpy() != b[c].to_numpy())
        if bad.size:
            i = int(bad[0])
            return (f"{name}: {bad.size} rows differ in {c}; first "
                    f"{a.iloc[i].to_dict()} vs {b.iloc[i].to_dict()}")
    for c in floats:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        ok = np.isclose(x, y, rtol=RTOL, atol=atol) | (np.isnan(x) & np.isnan(y))
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return (f"{name}: {int((~ok).sum())} values differ in {c}; "
                    f"first {x[i]!r} vs {y[i]!r}")
    return None


# --- geo join ----------------------------------------------------------

def geocode_reference(docs: pd.DataFrame) -> pd.DataFrame:
    """lat/lon/cell from ``geocode.geocode_sql`` evaluated in DuckDB."""
    from go_spatial_spark.geocode import DEFAULT_RES, geocode_sql
    frag = geocode_sql(DEFAULT_RES, "duckdb")
    con = _connect()
    try:
        con.register("documents", docs[["doc_id"]])
        return con.sql(f"SELECT doc_id, {frag['lat']} AS lat, "
                       f"{frag['lon']} AS lon, "
                       f"CAST({frag['cell']} AS BIGINT) AS cell "
                       f"FROM documents").df()
    finally:
        con.close()


def check_geocode(docs: pd.DataFrame, got: pd.DataFrame) -> str | None:
    return compare_frames("geocode", got, geocode_reference(docs),
                          ["doc_id", "cell"], ("lat", "lon"))


def check_salted(docs: pd.DataFrame, got: pd.DataFrame) -> str | None:
    """salted_cells: parent cell at resolution 6 and salt doc_id % 16
    (the ``pipeline`` constants), on top of the geocoded cells."""
    from go_spatial_spark import pipeline
    want = geocode_reference(docs)[["doc_id", "cell"]]
    want = want.assign(
        parent_cell=want["cell"].to_numpy() >> 2 * (12 - pipeline.HOT_PARENT_RES),
        salt=want["doc_id"].to_numpy() % pipeline.N_SALT)
    return compare_frames("salted_cells", got, want,
                          ["doc_id", "cell", "parent_cell", "salt"])


def check_pip(points: pd.DataFrame, polygons: dict, got: pd.DataFrame,
              sample_ids: np.ndarray) -> str | None:
    """points(doc_id, lon, lat); got(doc_id, polygon_id)."""
    pts = points[points["doc_id"].isin(sample_ids)]
    con = _connect()
    try:
        con.register("pts_sample", pts)
        with mock.patch.object(spatial_join, "POLYGONS", polygons):
            sql = spatial_join.pip_oracle_sql(
                "SELECT doc_id, lon, lat FROM pts_sample")
        want = con.sql(sql).df()
    finally:
        con.close()
    got = got[got["doc_id"].isin(sample_ids)]
    return compare_frames("pip", got, want, ["doc_id", "polygon_id"])


def knn_reference(points: pd.DataFrame, qids: np.ndarray,
                  k: int) -> pd.DataFrame:
    """Brute-force kNN: dist2 in the operator's operation order,
    ranked by (dist2, neighbor id), self excluded."""
    ids = points["doc_id"].to_numpy()
    x = points["lon"].to_numpy()
    y = points["lat"].to_numpy()
    pos = {int(v): i for i, v in enumerate(ids)}
    rows = []
    for q in qids:
        i = pos[int(q)]
        d2 = (x - x[i]) * (x - x[i]) + (y - y[i]) * (y - y[i])
        order = np.lexsort((ids, d2))
        order = order[ids[order] != ids[i]][:k]
        for r, j in enumerate(order, 1):
            rows.append((int(q), int(ids[j]), r, float(d2[j])))
    return pd.DataFrame(rows, columns=["doc_id", "neighbor_id", "rank",
                                       "dist2"])


def check_knn(points: pd.DataFrame, got: pd.DataFrame,
              sample_ids: np.ndarray, k: int) -> str | None:
    want = knn_reference(points, sample_ids, k)
    got = got[got["doc_id"].isin(sample_ids)]
    return compare_frames("knn", got, want,
                          ["doc_id", "rank", "neighbor_id"], ("dist2",))


# --- stencils ----------------------------------------------------------

def stencil_blocks(rng: np.random.Generator, rows: int, cols: int,
                   tile: int) -> list[tuple[int, int]]:
    """Top-left corners of the checked blocks: one centred on a seeded
    interior tile corner, one anywhere."""
    n_ty, n_tx = rows // tile, cols // tile
    cy = int(rng.integers(1, max(n_ty, 2))) * tile
    cx = int(rng.integers(1, max(n_tx, 2))) * tile
    corner = (min(max(cy - BLOCK // 2, 0), rows - BLOCK),
              min(max(cx - BLOCK // 2, 0), cols - BLOCK))
    anywhere = (int(rng.integers(0, rows - BLOCK + 1)),
                int(rng.integers(0, cols - BLOCK + 1)))
    return [corner, anywhere]


def _window_long(dem: np.ndarray, r0: int, c0: int,
                 halo: int) -> pd.DataFrame:
    """Valid cells of the block plus a halo ring, in global coords."""
    rows, cols = dem.shape
    ra, rb = max(r0 - halo, 0), min(r0 + BLOCK + halo, rows)
    ca, cb = max(c0 - halo, 0), min(c0 + BLOCK + halo, cols)
    sub = dem[ra:rb, ca:cb]
    rr, cc = np.nonzero(sub != NODATA)
    return pd.DataFrame({"row": (rr + ra).astype(np.int32),
                         "col": (cc + ca).astype(np.int32),
                         "value": sub[rr, cc]})


# kind -> (oracle builder, oracle value column, rounding, atol)
STENCIL_ORACLES = {
    "slope": (lambda r, c, p: oracles.slope_sql(r, c), "slope", 4,
              SLOPE_ATOL),
    "hillshade": (lambda r, c, p: oracles.hillshade_sql(r, c), "shade",
                  None, SHADE_ATOL),
    "mean_filter": (lambda r, c, p: oracles.mean_filter_sql(
        r, c, rx=p["rx"], ry=p["ry"]), "mean_val", None, 0.0),
    "dev_from_mean": (lambda r, c, p: oracles.dev_from_mean_sql(
        r, c, r=p["r"]), "dev", None, 0.0),
}


def check_stencil(kind: str, dem: np.ndarray, out: np.ndarray,
                  params: dict, blocks: list[tuple[int, int]],
                  halo: int) -> str | None:
    """``out`` is the operator's full output grid (NoData where the
    input is NoData)."""
    build, col, ndigits, atol = STENCIL_ORACLES[kind]
    rows, cols = dem.shape
    valid = dem[dem != NODATA]
    con = _connect()
    try:
        for r0, c0 in blocks:
            win = _window_long(dem, r0, c0, halo)
            if kind == "dev_from_mean":
                # the oracle's constant k comes from min/max over its
                # DEM: two far-away sentinel cells carry the global
                # extremes without entering any checked window
                win = pd.concat([win, pd.DataFrame({
                    "row": np.array([-10**6, -10**6], np.int32),
                    "col": np.array([-10**6, -10**6 + 4], np.int32),
                    "value": [valid.min(), valid.max()]})])
            con.register("perfbench_window", win)
            with mock.patch.object(oracles, "synthetic_dem_sql",
                                   lambda r, c: "SELECT row, col, value FROM perfbench_window"):
                sql = build(rows, cols, params)
            want = con.sql(
                f"SELECT row, col, {col} AS v FROM ({sql}) "
                f"WHERE row BETWEEN {r0} AND {r0 + BLOCK - 1} "
                f"AND col BETWEEN {c0} AND {c0 + BLOCK - 1}").df()
            g = out[want["row"].to_numpy(), want["col"].to_numpy()]
            if ndigits is not None:
                g = np.round(g, ndigits)
            got = want[["row", "col"]].assign(v=g)
            err = compare_frames(f"{kind}@{r0},{c0}", got, want,
                                 ["row", "col"], ("v",), atol=atol)
            if err:
                return err
            n_block = int((dem[r0:r0 + BLOCK, c0:c0 + BLOCK] != NODATA).sum())
            if len(want) != n_block:
                return f"{kind}@{r0},{c0}: oracle covered {len(want)} of {n_block} cells"
    finally:
        con.close()
    return None


# --- hydrology ---------------------------------------------------------

def _dem_long(dem: np.ndarray) -> pd.DataFrame:
    rr, cc = np.nonzero(dem != NODATA)
    return pd.DataFrame({"row": rr.astype(np.int32),
                         "col": cc.astype(np.int32), "value": dem[rr, cc]})


def _grid_oracle(builder, dem: np.ndarray) -> pd.DataFrame:
    con = _connect()
    try:
        con.register("dem_in", _dem_long(dem))
        with mock.patch.object(oracles, "synthetic_dem_sql",
                               lambda r, c: "SELECT row, col, value FROM dem_in"):
            sql = builder(*dem.shape)
        return con.sql(sql).df()
    finally:
        con.close()


def check_fill(dem: np.ndarray, got: pd.DataFrame) -> str | None:
    """got(row, col, filled)."""
    want = _grid_oracle(oracles.fill_minimax_sql, dem)
    return compare_frames("fill", got, want, ["row", "col"], ("filled",))


def check_d8(dem: np.ndarray, got: pd.DataFrame) -> str | None:
    """got(row, col, accum)."""
    want = _grid_oracle(oracles.d8_flow_accum_sql, dem)
    return compare_frames("d8", got, want, ["row", "col"], ("accum",))


def check_tiles_roundtrip(written: pd.DataFrame,
                          read: pd.DataFrame) -> str | None:
    """Bucketed tile store: every tile reads back byte-identical."""
    a = {(int(r.ty), int(r.tx)): bytes(r.data) for r in written.itertuples()}
    b = {(int(r.ty), int(r.tx)): bytes(r.data) for r in read.itertuples()}
    if a.keys() != b.keys():
        return f"tile_store: tile keys differ ({len(a)} vs {len(b)})"
    bad = [k for k in a if a[k] != b[k]]
    return f"tile_store: {len(bad)} tiles differ, first {bad[0]}" if bad else None


# --- corpus ------------------------------------------------------------

def _docs_oracle(docs: pd.DataFrame, sql: str) -> pd.DataFrame:
    con = _connect()
    try:
        con.register("documents", docs)
        return con.sql(sql).df()
    finally:
        con.close()


def check_minhash_pairs(docs: pd.DataFrame, got: pd.DataFrame) -> str | None:
    want = _docs_oracle(docs, dedup.minhash_lsh_pairs_oracle_sql())
    return compare_frames("minhash_lsh_pairs", got, want, ["a", "b"])


def check_simhash(docs: pd.DataFrame, got: pd.DataFrame,
                  sample_ids: np.ndarray) -> str | None:
    ids = ", ".join(str(int(i)) for i in sample_ids)
    want = _docs_oracle(docs, f"SELECT * FROM ({dedup.simhash_oracle_sql()}) "
                              f"WHERE doc_id IN ({ids})")
    got = got[got["doc_id"].isin(sample_ids)]
    return compare_frames("simhash", got, want, ["doc_id", "simhash"])


def check_ngram(docs: pd.DataFrame, got: pd.DataFrame) -> str | None:
    want = _docs_oracle(docs, dedup.ngram_jaccard_top1_oracle_sql())
    return compare_frames("ngram_jaccard_top1", got, want,
                          ["doc_id", "neighbor_id"], ("jaccard",))


def check_tfidf(docs: pd.DataFrame, got: pd.DataFrame) -> str | None:
    want = _docs_oracle(docs, corpus.tfidf_topk_oracle_sql())
    return compare_frames("tfidf_topk", got, want,
                          ["doc_id", "rank", "token", "tf", "df"], ("score",))


def _emb_oracle(emb: pd.DataFrame, sql: str) -> pd.DataFrame:
    con = _connect()
    try:
        con.register("emb_in", emb)
        con.sql("CREATE TABLE embeddings AS SELECT vec_id, "
                "embedding::FLOAT[] AS embedding FROM emb_in")
        return con.sql(sql).df()
    finally:
        con.close()


def check_cosine(emb: pd.DataFrame, got: pd.DataFrame,
                 n_centroids: int) -> str | None:
    want = _emb_oracle(emb, similarity.cosine_topk_oracle_sql(
        n_centroids=n_centroids))
    return compare_frames("cosine_topk", got, want,
                          ["vec_id", "rank", "neighbor_id"], ("cos",))


def check_ivf(emb: pd.DataFrame, got: pd.DataFrame,
              n_centroids: int) -> str | None:
    want = _emb_oracle(emb, similarity.ivf_topk_oracle_sql(
        n_centroids=n_centroids))
    return compare_frames("ivf_topk", got, want,
                          ["vec_id", "rank", "neighbor_id"], ("cos",))
