"""Operator groups and the workloads built from them.

A group owns one family of seeded inputs, the operator calls a pass
makes over them, the correctness checks of those calls, and the
probes a traced run adds.  A workload is a list of groups run as one
closed loop: every call starts when the previous one has finished.

Sizes are fixed here, not by flags, so every run of a workload does
the same work (see NOTES.md for how they were chosen).
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

from perfbench import checks, gen

# --- sizes ---------------------------------------------------------------
N_DOCS = 2000         # docs for geo join and corpus dedup (one table)
N_POLYGONS = 800
N_VECTORS = 1000      # 64-dim embeddings for cosine/ivf
KNN_K = 5
PIP_SAMPLE, KNN_SAMPLE, SIMHASH_SAMPLE = 500, 200, 200
STENCIL_DEM, STENCIL_TILE = 1024, 512     # 4 tiles
HYDRO_ROWS, HYDRO_COLS, HYDRO_TILE = 32, 64, 32   # 1x2 tiles (gen.gen_basin)
DEV_R, MEAN_R = 16, 2


def noop_kernel(padded: np.ndarray, halo: int, ctx) -> np.ndarray:
    """Identity kernel: the stencil plumbing floor (halo shuffle, Arrow
    transfer, cogroup) with no kernel compute."""
    h = padded.shape[0] - 2 * halo
    w = padded.shape[1] - 2 * halo
    return padded[halo:halo + h, halo:halo + w]


@dataclass
class Op:
    """One public call.  ``run(sink)`` makes the call and hands any
    DataFrame result to ``sink``; the span is named ``name``.

    ``timed=False`` marks a call made only by traced runs: it has
    per-layer metrics but is left out of the untraced passes that give
    the end-to-end metrics, to keep a run inside the time budget
    (NOTES.md, "Why the sizes are small")."""
    name: str
    run: Callable[[Callable], None]
    timed: bool = True


@dataclass
class Group:
    name: str
    items: dict[str, int]   # input -> items a pass processes; shared inputs count once
    ops: list[Op] = field(default_factory=list)
    digests: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)   # per-pass facts for the run record


class Ctx:
    """What groups share in one run: the session, the temp dir, the
    seed, and the outputs captured by the checked pass."""

    def __init__(self, spark, tmp: str, seed: int):
        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.pass_no = 0
        self.captured: dict[str, str] = {}   # op name -> parquet dir
        self.docs_pdf = None
        self.docs_df = None

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, 100 + stream])

    def docs(self):
        """The seeded docs table, generated once per setup."""
        if self.docs_pdf is None:
            self.docs_pdf, self.docs_digest = gen.gen_docs(self.seed, N_DOCS)
            self.docs_df = self.cache(self.spark.createDataFrame(
                self.docs_pdf, "doc_id long, text string, lang string"))
        return self.docs_df

    @staticmethod
    def cache(df):
        df = df.cache()
        df.count()
        return df

    def output(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(self.captured[name])


# --- geo join ------------------------------------------------------------

def geo_group(ctx: Ctx) -> Group:
    from go_spatial_spark.geocode import geocode
    from go_spatial_spark.operators.spatial_join import knn_self, point_in_polygon
    from go_spatial_spark.pipeline import salted_cells

    docs = ctx.docs()
    polys, pdig = gen.gen_polygons(ctx.seed, N_POLYGONS)
    g = Group("geo", {"docs": N_DOCS}, digests={"docs": ctx.docs_digest,
                                      "polygons": pdig})

    def pts():
        return salted_cells(geocode(docs)).select("doc_id", "lat", "lon")

    g.ops = [
        Op("geocode", lambda sink: sink(geocode(docs))),
        Op("pipeline.salted_cells",
           lambda sink: sink(salted_cells(geocode(docs)))),
        Op("spatial_join.pip", lambda sink: sink(
            point_in_polygon(pts(), ctx.spark, polygons=polys))),
        Op("spatial_join.knn", lambda sink: sink(knn_self(pts(), k=KNN_K))),
    ]
    g.polygons = polys
    return g


def geo_checks(ctx: Ctx, g: Group) -> dict[str, Callable[[], str | None]]:
    rng = ctx.rng(1)
    ids = ctx.docs_pdf["doc_id"].to_numpy()
    pip_ids = rng.choice(ids, PIP_SAMPLE, replace=False)
    knn_ids = rng.choice(ids, KNN_SAMPLE, replace=False)

    def points():
        return checks.geocode_reference(ctx.docs_pdf)[["doc_id", "lon", "lat"]]

    return {
        "geocode": lambda: checks.check_geocode(
            ctx.docs_pdf, ctx.output("geocode")),
        "pipeline.salted_cells": lambda: checks.check_salted(
            ctx.docs_pdf, ctx.output("pipeline.salted_cells")),
        "spatial_join.pip": lambda: checks.check_pip(
            points(), g.polygons, ctx.output("spatial_join.pip"), pip_ids),
        "spatial_join.knn": lambda: checks.check_knn(
            points(), ctx.output("spatial_join.knn"), knn_ids, KNN_K),
    }


# --- corpus dedup ----------------------------------------------------------

def corpus_group(ctx: Ctx) -> Group:
    from go_spatial_spark.operators import corpus, dedup, similarity

    docs = ctx.docs()
    vec_pdf, vdig = gen.gen_vectors(ctx.seed, N_VECTORS)
    emb = ctx.cache(ctx.spark.createDataFrame(
        vec_pdf, "vec_id long, embedding array<float>"))
    g = Group("corpus", {"docs": N_DOCS}, digests={"docs": ctx.docs_digest,
                                         "vectors": vdig})

    def ann(fn):
        # every pass builds its own ANN index, as a fresh batch job does;
        # the memo-hit path is measured apart (similarity.memo_hit_s)
        def run(sink):
            similarity.release_ann_caches()
            sink(fn(emb))
        return run

    g.ops = [
        Op("dedup.minhash_lsh_pairs",
           lambda sink: sink(dedup.minhash_lsh_pairs(docs)), timed=False),
        Op("dedup.simhash", lambda sink: sink(dedup.simhash(docs)),
           timed=False),
        Op("dedup.ngram_jaccard_top1",
           lambda sink: sink(dedup.ngram_jaccard_top1(docs))),
        Op("corpus.tfidf_topk", lambda sink: sink(corpus.tfidf_topk(docs)),
           timed=False),
        Op("similarity.cosine_topk", ann(similarity.cosine_topk), timed=False),
        Op("similarity.ivf_topk", ann(similarity.ivf_topk), timed=False),
    ]
    g.vec_pdf, g.emb = vec_pdf, emb
    return g


def corpus_checks(ctx: Ctx, g: Group) -> dict[str, Callable[[], str | None]]:
    docs = ctx.docs_pdf[["doc_id", "text", "lang"]]
    nc = max(16, math.isqrt(N_VECTORS))
    sample = ctx.rng(2).choice(docs["doc_id"].to_numpy(), SIMHASH_SAMPLE,
                               replace=False)
    return {
        "dedup.minhash_lsh_pairs": lambda: checks.check_minhash_pairs(
            docs, ctx.output("dedup.minhash_lsh_pairs")),
        "dedup.simhash": lambda: checks.check_simhash(
            docs, ctx.output("dedup.simhash"), sample),
        "dedup.ngram_jaccard_top1": lambda: checks.check_ngram(
            docs, ctx.output("dedup.ngram_jaccard_top1")),
        "corpus.tfidf_topk": lambda: checks.check_tfidf(
            docs, ctx.output("corpus.tfidf_topk")),
        "similarity.cosine_topk": lambda: checks.check_cosine(
            g.vec_pdf, ctx.output("similarity.cosine_topk"), nc),
        "similarity.ivf_topk": lambda: checks.check_ivf(
            g.vec_pdf, ctx.output("similarity.ivf_topk"), nc),
    }


# --- terrain stencils ------------------------------------------------------

STENCILS = (  # name, kernel attr (None = identity probe), halo, ctx_extra
    ("stencil_noop", None, 1, None),
    ("slope", "slope_kernel", 1, None),
    ("hillshade", "hillshade_kernel", 1, None),
    ("mean_filter", "mean_filter_kernel", MEAN_R, {"rx": MEAN_R, "ry": MEAN_R}),
    ("dev_from_mean", "deviation_from_mean_kernel", DEV_R, {"r": DEV_R}),
)


def stencil_op_name(name: str, kname: str | None) -> str:
    return "grid." + (name if kname is None else "stencil." + name)


def stencil_params(dem: np.ndarray) -> dict:
    valid = dem[dem != gen.NODATA]
    mn, mx = float(valid.min()), float(valid.max())
    return {"r": DEV_R, "k": mn + (mx - mn) / 2.0}


def stencil_group(ctx: Ctx) -> Group:
    from go_spatial_spark import kernels
    from go_spatial_spark.grid import RasterMeta, TILE_SCHEMA, run_stencil

    dem, dig = gen.gen_dem(ctx.seed, STENCIL_DEM, STENCIL_DEM, n_pits=64,
                           hole_rate=0.001)
    meta = RasterMeta(rows=STENCIL_DEM, cols=STENCIL_DEM)
    tiles = ctx.cache(ctx.spark.createDataFrame(
        gen.dem_tiles_pdf(dem, STENCIL_TILE), TILE_SCHEMA + ", edges binary")
        .withMetadata("edges", {"halo_max": gen.EDGE_HALO})
        .repartition("ty", "tx"))
    g = Group("stencil", {"stencil_dem": STENCIL_DEM * STENCIL_DEM},
              digests={"stencil_dem": dig})
    dev = stencil_params(dem)

    def op(name, kname, halo, extra):
        kernel = noop_kernel if kname is None else getattr(kernels, kname)
        extra = dev if name == "dev_from_mean" else extra
        return Op(stencil_op_name(name, kname),
                  lambda sink: sink(run_stencil(
                      tiles, meta, kernel, halo=halo, tile=STENCIL_TILE,
                      ctx_extra=extra, output="tiles", copartitioned=True)))

    g.ops = [op(*s) for s in STENCILS]
    g.dem, g.meta = dem, meta
    return g


def tiles_to_grid(pdf: pd.DataFrame, rows: int, cols: int,
                  tile: int) -> np.ndarray:
    out = np.full((rows, cols), gen.NODATA)
    for t in pdf.itertuples():
        a = np.frombuffer(t.data, dtype=np.float64).reshape(t.h, t.w)
        out[t.ty * tile:t.ty * tile + t.h, t.tx * tile:t.tx * tile + t.w] = a
    return out


def stencil_checks(ctx: Ctx, g: Group) -> dict[str, Callable[[], str | None]]:
    rows, cols = g.dem.shape
    blocks = checks.stencil_blocks(ctx.rng(3), rows, cols, STENCIL_TILE)

    def one(name, kname, halo, extra):
        grid = tiles_to_grid(ctx.output(stencil_op_name(name, kname)),
                             rows, cols, STENCIL_TILE)
        if kname is None:
            same = np.array_equal(grid, g.dem)
            return None if same else "stencil_noop: output != input"
        params = stencil_params(g.dem) if name == "dev_from_mean" \
            else (extra or {})
        return checks.check_stencil(name, g.dem, grid, params, blocks, halo)

    return {stencil_op_name(n, k): (lambda s=(n, k, h, e): one(*s))
            for n, k, h, e in STENCILS}


# --- hydrology fixpoints ------------------------------------------------------

def hydro_group(ctx: Ctx) -> Group:
    from go_spatial_spark.grid import RasterMeta, TILE_SCHEMA
    from go_spatial_spark.operators import hydrology as H
    from go_spatial_spark.sources.tile_store import (
        read_tiles_bucketed, write_tiles_bucketed)

    dem, dig = gen.gen_basin(ctx.seed, HYDRO_ROWS, HYDRO_COLS, HYDRO_TILE,
                             n_pits=12)
    meta = RasterMeta(rows=HYDRO_ROWS, cols=HYDRO_COLS)
    tiles_pdf = gen.dem_tiles_pdf(dem, HYDRO_TILE)[
        ["ty", "tx", "h", "w", "data"]]
    tiles = ctx.cache(ctx.spark.createDataFrame(tiles_pdf, TILE_SCHEMA))
    g = Group("hydro", {"hydro_dem": HYDRO_ROWS * HYDRO_COLS},
              digests={"hydro_dem": dig})
    table, store = "perfbench_dem", os.path.join(ctx.tmp, "tile_store")
    state: dict = {}

    def write(sink):
        write_tiles_bucketed(tiles, meta, table, path=store)

    def read(sink):
        state["tiles"], _ = read_tiles_bucketed(ctx.spark, table)
        sink(state["tiles"])

    def fill(sink):
        state["ckpt"] = ck = os.path.join(ctx.tmp, f"ckpt{ctx.pass_no}")
        sink(H.fill_depressions_tiled(state["tiles"], meta, tile=HYDRO_TILE,
                                      ckpt_dir=ck))
        g.notes.setdefault("fill_rounds", []).append(fill_rounds(ck))

    def d8(sink):
        sink(H.d8_flow_accum(state["tiles"], meta, tile=HYDRO_TILE))

    g.ops = [Op("tile_store.write", write), Op("tile_store.read", read),
             Op("hydrology.fill", fill), Op("hydrology.d8", d8, timed=False)]
    g.dem, g.meta, g.tiles_pdf, g.state, g.store = dem, meta, tiles_pdf, state, store
    return g


def fill_rounds(ckpt_dir: str) -> int:
    """Completed fixpoint rounds: ``round=<k>`` dirs in the checkpoint."""
    return sum(d.startswith("round=")
               for d in os.listdir(os.path.join(ckpt_dir, "fill_w")))


def hydro_checks(ctx: Ctx, g: Group) -> dict[str, Callable[[], str | None]]:
    # tile_store.write is checked through the read-back
    return {
        "tile_store.read": lambda: checks.check_tiles_roundtrip(
            g.tiles_pdf, ctx.output("tile_store.read")),
        "hydrology.fill": lambda: checks.check_fill(
            g.dem, ctx.output("hydrology.fill")),
        "hydrology.d8": lambda: checks.check_d8(
            g.dem, ctx.output("hydrology.d8")),
    }


GROUPS = {
    "geo": (geo_group, geo_checks),
    "corpus": (corpus_group, corpus_checks),
    "stencil": (stencil_group, stencil_checks),
    "hydro": (hydro_group, hydro_checks),
}

# workload -> groups, in pass order
WORKLOADS = {
    "geo_join": ("geo",),
    "corpus_dedup": ("corpus",),
    "terrain_stencil": ("stencil",),
    "hydro_fixpoint": ("hydro",),
    "geo_corpus": ("geo", "corpus"),
    "terrain_hydro": ("stencil", "hydro"),
}


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0
