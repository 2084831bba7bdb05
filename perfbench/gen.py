"""Seeded input generators for the benchmark.

Every input is built in NumPy on the driver from ``--seed`` before any
timing starts; the engine only ever sees the DataFrames made from these
arrays.  Each generator returns plain NumPy/pandas objects plus a
SHA-256 digest of their canonical bytes, so two runs can prove they
used identical inputs.

Sub-streams: each input draws from ``np.random.default_rng([seed, k])``
with its own ``k``, so changing one generator never shifts another.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from go_spatial_spark.grid import NODATA, edge_sidecar_bytes

VOCAB_SIZE = 3000
ZIPF_S = 1.05
NEAR_DUP_SHARE = 0.30   # share of docs that are edited replicas
EDIT_RATE = 0.10        # per-token substitution rate inside a replica
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)  # sf0.1's language mix
HOT_POLY_SHARE = 0.05   # polygons centred near the geocoder hotspot
EDGE_HALO = 16          # sidecar apron width (covers dev_from_mean r=16)


def digest(*parts: bytes) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(len(p).to_bytes(8, "little"))
        h.update(p)
    return h.hexdigest()[:16]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


# --- documents ---------------------------------------------------------

def gen_docs(seed: int, n_docs: int) -> tuple[pd.DataFrame, str]:
    """(doc_id, text, lang) with a stated near-duplicate share.

    Base docs draw 12-80 words from a Zipf-weighted vocabulary.  A
    ``NEAR_DUP_SHARE`` of the docs are replicas of a base doc in which
    every token is independently replaced with probability
    ``EDIT_RATE`` (at least one token each) — near duplicates, never
    exact copies, so n-gram
    posting lists do not grow with the copy count.  ``doc_id`` is a
    seeded offset (a multiple of 5) plus a dense index, which keeps the
    geocoder's ``doc_id % 5 == 0`` urban hotspot at exactly 20%."""
    rng = _rng(seed, 1)
    vocab = np.array([f"w{i:04d}" for i in range(VOCAB_SIZE)])
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    p /= p.sum()
    n_rep = int(round(n_docs * NEAR_DUP_SHARE))
    n_base = n_docs - n_rep
    lens = rng.integers(12, 81, n_base)
    base = [rng.choice(VOCAB_SIZE, int(n), p=p) for n in lens]
    src = rng.integers(0, n_base, n_rep)
    reps = []
    for s in src:
        toks = base[s].copy()
        edit = rng.random(toks.size) < EDIT_RATE
        edit[rng.integers(toks.size)] = True   # never an exact copy
        new = rng.choice(VOCAB_SIZE, int(edit.sum()), p=p)
        toks[edit] = np.where(new == toks[edit], (new + 1) % VOCAB_SIZE, new)
        reps.append(toks)
    order = rng.permutation(n_docs)
    all_toks = base + reps
    texts = [" ".join(vocab[all_toks[i]]) for i in order]
    offset = 5 * int(rng.integers(0, 2_000_000))
    ids = offset + np.arange(n_docs, dtype=np.int64)
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    pdf = pd.DataFrame({"doc_id": ids, "text": texts, "lang": langs})
    return pdf, digest(ids.tobytes(), "\n".join(texts).encode(),
                       "".join(langs).encode())


# --- polygons ----------------------------------------------------------

def gen_polygons(seed: int, n: int) -> tuple[dict, str]:
    """Star-shaped k-gons (k = 3..8) with integer vertices, the form
    ``pip_oracle_sql`` renders.  A ``HOT_POLY_SHARE`` of them sit on
    the geocoder's hotspot box (lat 43, lon -79) so the skewed points
    meet many candidate polygons."""
    rng = _rng(seed, 2)
    polys: dict[int, list[tuple[int, int]]] = {}
    for pid in range(1, n + 1):
        if rng.random() < HOT_POLY_SHARE:
            cx, cy = -79.0 + rng.uniform(-2, 2), 43.0 + rng.uniform(-2, 2)
            r = rng.uniform(1.5, 4.0)
        else:
            cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
            r = rng.uniform(2.0, 9.0)
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * math.pi, k))
        rad = r * rng.uniform(0.5, 1.0, k)
        ring = []
        for a, rr in zip(ang, rad):
            v = (int(round(cx + rr * math.cos(a))),
                 int(round(cy + rr * math.sin(a))))
            if not ring or v != ring[-1]:
                ring.append(v)
        if len(ring) > 1 and ring[0] == ring[-1]:
            ring.pop()
        if len(set(ring)) < 3:  # degenerate after rounding: a unit box
            x0, y0 = int(round(cx)), int(round(cy))
            ring = [(x0, y0), (x0 + 1, y0), (x0 + 1, y0 + 1), (x0, y0 + 1)]
        polys[pid] = ring
    return polys, digest(repr(sorted(polys.items())).encode())


# --- DEMs --------------------------------------------------------------

def _surface(rng: np.random.Generator, rows: int, cols: int, base,
             n_waves: int, amp: tuple[float, float], n_pits: int,
             top: float, pit_rad: tuple[float, float] = (2, 10),
             pit_cols=None) -> np.ndarray:
    """``base`` plus seeded sinusoids, seeded conical pits and noise,
    quantised to multiples of 2^-6 within [1, top] (top < 600): every
    windowed sum is then exact in float64, so NumPy kernels and DuckDB
    oracles agree bit for bit (the property ``grid.synthetic_dem``
    relies on).  Pit centres are drawn from ``pit_cols`` when given."""
    r = np.arange(rows, dtype=np.float64)[:, None]
    c = np.arange(cols, dtype=np.float64)[None, :]
    z = np.broadcast_to(base(r, c), (rows, cols)).astype(np.float64)
    for _ in range(n_waves):
        fr, fc = rng.uniform(0.002, 0.05, 2)
        ph = rng.uniform(0, 2 * math.pi)
        z = z + rng.uniform(*amp) * np.sin(fr * r + fc * c + ph)
    for _ in range(n_pits):
        pr = rng.uniform(0, rows)
        pc = rng.uniform(0, cols) if pit_cols is None else rng.choice(pit_cols)
        rad, depth = rng.uniform(*pit_rad), rng.uniform(0.5, 3.0)
        r0, r1 = max(int(pr - rad), 0), min(int(pr + rad) + 1, rows)
        c0, c1 = max(int(pc - rad), 0), min(int(pc + rad) + 1, cols)
        d = np.sqrt((r[r0:r1] - pr) ** 2 + (c[:, c0:c1] - pc) ** 2)
        z[r0:r1, c0:c1] -= np.clip(rad - d, 0, None) * depth
    z += rng.integers(0, 64, (rows, cols)) / 64.0
    return np.clip(np.round(z * 64.0) / 64.0, 1.0, top)


def gen_dem(seed: int, rows: int, cols: int, n_pits: int,
            hole_rate: float) -> tuple[np.ndarray, str]:
    """Terrain for the stencils: rolling hills with pits and NoData
    holes."""
    rng = _rng(seed, 3)
    z = _surface(rng, rows, cols, lambda r, c: 300.0, 6,
                 (10, 60), n_pits, 599.0)
    z[rng.random((rows, cols)) < hole_rate] = NODATA
    return z, digest(z.tobytes())


WALL = 590.0


def gen_basin(seed: int, rows: int, cols: int, tile: int,
              n_pits: int) -> tuple[np.ndarray, str]:
    """Terrain for the fill fixpoint on one row of tiles: a slope that
    falls two units per column towards the right edge, walled at
    ``WALL`` on the other three edges, with seeded hills and pits.

    The slope outweighs the steepest hill (amplitude x frequency <= 0.3
    per cell) plus the noise (< 1), so every cell outside a pit has a
    lower right-hand neighbour; pits stay 8 or more columns clear of
    the tile seams.  Every spill path therefore runs right, never back
    across a seam, and the fixpoint takes the same number of rounds on
    every seed: tiles learn their spill level one halo exchange after
    their right-hand neighbour.  The basin has no NoData holes: each
    hole would be a local outlet."""
    rng = _rng(seed, 4)
    centres = np.array([c + 0.5 for c in range(cols)
                        if 8 <= c % tile < tile - 8])
    z = _surface(rng, rows, cols, lambda r, c: 150.0 + 2.0 * (cols - 1 - c),
                 4, (2, 6), n_pits, WALL - 30.0, pit_rad=(2, 6),
                 pit_cols=centres)
    z[0, :] = z[-1, :] = z[:, 0] = WALL
    return z, digest(z.tobytes())


def dem_tiles_pdf(dem: np.ndarray, tile: int,
                  halo_max: int = EDGE_HALO) -> pd.DataFrame:
    """Tile form (``grid.TILE_SCHEMA``) plus the ``edges`` sidecar."""
    rows, cols = dem.shape
    recs = []
    for ty in range(math.ceil(rows / tile)):
        for tx in range(math.ceil(cols / tile)):
            a = np.ascontiguousarray(
                dem[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile])
            recs.append((ty, tx, a.shape[0], a.shape[1], a.tobytes(),
                         edge_sidecar_bytes(a, halo_max)))
    return pd.DataFrame(recs, columns=["ty", "tx", "h", "w", "data",
                                       "edges"])


# --- vectors -----------------------------------------------------------

def gen_vectors(seed: int, n: int, dim: int = 64,
                n_clusters: int = 32) -> tuple[pd.DataFrame, str]:
    """Float32 embeddings from a seeded Gaussian mixture (so IVF
    buckets have structure), ids a seeded offset plus a dense index."""
    rng = _rng(seed, 5)
    centers = rng.standard_normal((n_clusters, dim))
    lab = rng.integers(0, n_clusters, n)
    emb = (centers[lab] + 0.6 * rng.standard_normal((n, dim))) \
        .astype(np.float32)
    ids = int(rng.integers(0, 1_000_000)) * 16 + np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(emb)})
    return pdf, digest(ids.tobytes(), emb.tobytes())
