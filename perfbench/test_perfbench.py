"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q

* seeded generators: one seed gives identical digests, another seed
  different ones;
* every correctness check accepts a reference output and rejects one
  corrupted here, in the test;
* the result line carries every metric with its unit, and
  ``BENCHMARK.json`` lists exactly the catalogue in ``metrics.py``;
* ``run.py`` fails fast in a directory without the engine.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from go_spatial_spark import kernels  # noqa: E402
from go_spatial_spark.grid import NODATA, RasterMeta, StencilCtx  # noqa: E402
from go_spatial_spark.operators import corpus, dedup, similarity  # noqa: E402
from perfbench import checks, gen, metrics, workloads  # noqa: E402


# --- generators --------------------------------------------------------------

GENERATORS = {
    "docs": lambda s: gen.gen_docs(s, 300)[1],
    "polygons": lambda s: gen.gen_polygons(s, 50)[1],
    "dem": lambda s: gen.gen_dem(s, 64, 64, n_pits=8, hole_rate=0.002)[1],
    "basin": lambda s: gen.gen_basin(s, 32, 64, 32, n_pits=8)[1],
    "vectors": lambda s: gen.gen_vectors(s, 200)[1],
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_digest_depends_on_seed_only(name):
    g = GENERATORS[name]
    assert g(7) == g(7)
    assert g(7) != g(8)


def test_docs_properties():
    docs, _ = gen.gen_docs(3, 1000)
    assert docs["doc_id"].is_unique
    assert (docs["doc_id"] % 5 == 0).mean() == pytest.approx(0.2)
    assert docs["text"].nunique() == len(docs)  # replicas are edited
    assert docs["text"].str.split().str.len().between(12, 80).all()


def test_dem_values_are_exact_sixty_fourths():
    dem, _ = gen.gen_dem(5, 64, 64, n_pits=16, hole_rate=0.01)
    basin, _ = gen.gen_basin(5, 32, 64, 32, n_pits=16)
    assert (dem == NODATA).any() and not (basin == NODATA).any()
    for z in (dem, basin):
        v = z[z != NODATA]
        assert np.all(v * 64 == np.round(v * 64)) and v.min() > 0 and v.max() < 600


def test_basin_drains_through_the_right_edge():
    z, _ = gen.gen_basin(5, 32, 64, 32, n_pits=16)
    assert (z[[0, -1]] == gen.WALL).all() and (z[:, 0] == gen.WALL).all()
    assert z[1:-1, 1:].max() < gen.WALL


# --- checks: accept the reference, reject a corruption -------------------------

@pytest.fixture(scope="module")
def docs():
    return gen.gen_docs(11, 300)[0]


@pytest.fixture(scope="module")
def points(docs):
    return checks.geocode_reference(docs)


def _bump(df: pd.DataFrame, col: str, delta=1) -> pd.DataFrame:
    out = df.copy()
    out.loc[out.index[len(out) // 2], col] += delta
    return out


def test_geocode_and_salted_checks(docs, points):
    assert checks.check_geocode(docs, points) is None
    assert checks.check_geocode(docs, _bump(points, "cell")) is not None
    salted = points.assign(parent_cell=points["cell"].to_numpy() >> 12,
                           salt=points["doc_id"] % 16)
    assert checks.check_salted(docs, salted) is None
    assert checks.check_salted(docs, _bump(salted, "salt")) is not None


def test_pip_check(points):
    polys, _ = gen.gen_polygons(11, 200)
    ids = points["doc_id"].to_numpy()
    # the reference output for all points is what a correct join returns
    want = [(int(d), pid) for pid, ring in polys.items()
            for d, x, y in points[["doc_id", "lon", "lat"]].itertuples(index=False)
            if _inside(x, y, ring)]
    got = pd.DataFrame(want, columns=["doc_id", "polygon_id"])
    assert len(got) > 0
    assert checks.check_pip(points, polys, got, ids) is None
    assert checks.check_pip(points, polys, got.iloc[1:], ids) is not None
    assert checks.check_pip(points, polys, _bump(got, "polygon_id"), ids) is not None


def _inside(px, py, ring) -> bool:
    n = 0
    for i in range(len(ring)):
        (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % len(ring)]
        if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
            n += 1
    return n % 2 == 1


def test_knn_check(points):
    qids = points["doc_id"].to_numpy()[:40]
    good = checks.knn_reference(points, qids, 5)
    assert checks.check_knn(points, good, qids, 5) is None
    bad = good.copy()
    bad.loc[bad.index[0], "neighbor_id"] = bad.loc[bad.index[0], "doc_id"]  # self
    assert checks.check_knn(points, bad, qids, 5) is not None
    assert checks.check_knn(points, _bump(good, "dist2", 1e-3), qids, 5) is not None
    assert checks.check_knn(points, good.iloc[:-1], qids, 5) is not None


@pytest.fixture(scope="module")
def dem():
    return gen.gen_dem(13, 96, 96, n_pits=12, hole_rate=0.003)[0]


def _whole_grid(kernel, dem, halo, extra):
    """Operator output on one tile covering the grid: the kernel on the
    NoData-padded DEM."""
    rows, cols = dem.shape
    padded = np.full((rows + 2 * halo, cols + 2 * halo), NODATA)
    padded[halo:halo + rows, halo:halo + cols] = dem
    ctx = StencilCtx(meta=RasterMeta(rows=rows, cols=cols), tile=rows,
                     ty=0, tx=0, row0=0, col0=0, extra=extra)
    return kernel(padded, halo, ctx)


@pytest.mark.parametrize("name,kname,halo,extra",
                         [s for s in workloads.STENCILS if s[1]])
def test_stencil_checks(dem, name, kname, halo, extra):
    params = workloads.stencil_params(dem) if name == "dev_from_mean" else (extra or {})
    out = _whole_grid(getattr(kernels, kname), dem, halo, params)
    blocks = checks.stencil_blocks(np.random.default_rng(0), 96, 96, 48)
    assert checks.check_stencil(name, dem, out, params, blocks, halo) is None
    r0, c0 = blocks[0]
    bad = out.copy()
    cells = np.argwhere(dem[r0:r0 + checks.BLOCK, c0:c0 + checks.BLOCK] != NODATA)
    r, c = cells[len(cells) // 2]
    bad[r0 + r, c0 + c] += 5.0
    assert checks.check_stencil(name, dem, bad, params, blocks, halo) is not None


def test_fill_and_d8_checks():
    dem = gen.gen_basin(17, 16, 48, 24, n_pits=4)[0]
    from go_spatial_spark import oracles
    fill = checks._grid_oracle(oracles.fill_minimax_sql, dem)
    assert checks.check_fill(dem, fill) is None
    assert checks.check_fill(dem, _bump(fill, "filled", 0.5)) is not None
    acc = checks._grid_oracle(oracles.d8_flow_accum_sql, dem)
    assert checks.check_d8(dem, acc) is None
    assert checks.check_d8(dem, _bump(acc, "accum")) is not None


def test_tile_roundtrip_check():
    dem = gen.gen_dem(19, 64, 64, n_pits=4, hole_rate=0.0)[0]
    tiles = gen.dem_tiles_pdf(dem, 32)
    assert checks.check_tiles_roundtrip(tiles, tiles.iloc[::-1]) is None
    bad = tiles.copy()
    bad.at[0, "data"] = bytes(8) + bad.at[0, "data"][8:]
    assert checks.check_tiles_roundtrip(tiles, bad) is not None
    assert checks.check_tiles_roundtrip(tiles, tiles.iloc[1:]) is not None


@pytest.mark.parametrize("check,sql,col", [
    (checks.check_minhash_pairs, dedup.minhash_lsh_pairs_oracle_sql, "b"),
    (checks.check_ngram, dedup.ngram_jaccard_top1_oracle_sql, "jaccard"),
    (checks.check_tfidf, corpus.tfidf_topk_oracle_sql, "tf"),
])
def test_docs_checks(docs, check, sql, col):
    good = checks._docs_oracle(docs, sql())
    assert len(good) > 0
    assert check(docs, good) is None
    assert check(docs, _bump(good, col, 1)) is not None


def test_simhash_check(docs):
    good = checks._docs_oracle(docs, dedup.simhash_oracle_sql())
    ids = docs["doc_id"].to_numpy()[:50]
    assert checks.check_simhash(docs, good, ids) is None
    bad = good.copy()
    bad.loc[bad["doc_id"] == ids[0], "simhash"] ^= 1
    assert checks.check_simhash(docs, bad, ids) is not None


@pytest.mark.parametrize("check,sql", [
    (checks.check_cosine, similarity.cosine_topk_oracle_sql),
    (checks.check_ivf, similarity.ivf_topk_oracle_sql),
])
def test_vector_checks(check, sql):
    emb, _ = gen.gen_vectors(23, 200)
    nc = max(16, math.isqrt(len(emb)))
    good = checks._emb_oracle(emb, sql(n_centroids=nc))
    assert check(emb, good, nc) is None
    assert check(emb, _bump(good, "cos", 1e-3), nc) is not None
    assert check(emb, _bump(good, "neighbor_id"), nc) is not None


# --- result line and BENCHMARK.json -------------------------------------------

@pytest.mark.parametrize("trace", [False, True])
def test_result_carries_every_metric_with_unit(trace):
    table = metrics.PER_LAYER if trace else metrics.END_TO_END
    values = {name: 1.5 for name, *_ in table}
    res = metrics.result(values, trace, attempted=4, failed=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {name: unit for name, unit, *_ in table}
    json.dumps(res)
    del values[table[0][0]]
    with pytest.raises(KeyError):
        metrics.result(values, trace, attempted=4, failed=0)


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["end_to_end"] == [
        {"name": n, "unit": u, "better": b, "bound": bd}
        for n, u, b, bd in metrics.END_TO_END]
    assert spec["per_layer"] == [
        {"name": n, "unit": u, "better": b} for n, u, b in metrics.PER_LAYER]
    assert len(metrics.PER_LAYER) <= 128
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_run_fails_fast_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "geo_corpus", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
