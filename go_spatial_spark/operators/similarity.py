"""Similarity search over the embeddings table (array<float>, 64-dim).

- brute-force cosine top-k: the exactness baseline. Dot products are
  computed as a *left fold* (F.aggregate) so the summation order is
  fixed and identical to the DuckDB oracle's list_reduce — bit-equal
  doubles, deterministic ranking.
- IVF-bucketed ANN: deterministic coarse quantizer (the first C
  vectors by vec_id are the centroids — no kmeans nondeterminism),
  nprobe buckets searched. Approximate by design but fully
  deterministic, so it also gets an exact oracle.

At scale the brute-force path is the broadcast side of a cross join
(queries broadcast, corpus partitioned); IVF turns that into an
equi-join on bucket id — the shuffle-light path.
"""

from __future__ import annotations

from go_spatial_spark.session import (ensure_parallelism, memo_frame,
                                      release_cached)
from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _dot(a, b):
    """Left-fold dot product with fixed order: identical in DuckDB's
    list_reduce (0.0 + e1 + e2 ... in element order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _norm2(a):
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


import numpy as np
import pandas as pd
from pyspark.sql import types as T


def _fold_matmul(qm: np.ndarray, cm: np.ndarray) -> np.ndarray:
    """All-pairs left-fold dot products (out[i, j] = fold over features
    k of qm[i, k] * cm[j, k]), bit-identical to the naive full-matrix
    per-feature accumulation — row blocking never changes any single
    element's accumulation order — but ~5x faster: the naive loop
    rewrites an N x M float64 accumulator d times (= 12+ GB of DRAM
    traffic per 65k-row Arrow batch at d=64, M=357, measured as the
    dominant cost of the IVF stages), while the per-block accumulator
    here stays cache-resident (~256-384 KB target)."""
    n, d = qm.shape
    m = cm.shape[0]
    block = min(max(32, 49152 // max(m, 1)), 4096)
    out = np.empty((n, m))
    cmT = np.ascontiguousarray(cm.T)
    for s in range(0, n, block):
        e = min(s + block, n)
        acc = np.zeros((e - s, m))
        q = qm[s:e]
        for k in range(d):
            acc += q[:, k:k + 1] * cmT[k][None, :]
        out[s:e] = acc
    return out


# Row-block size for the blocked assignment scoring loops: 1024 rows
# x 505 centroids (the 256k-corpus sqrt(N) quantizer) keeps the cos /
# argsort working set ~4 MB x2 — L2/L3-resident — instead of ~100 MB
# of full-batch DRAM traffic per task (round-5 profile, BENCH/NOTES.md
# finding 3).
_SEL_BLOCK = 1024


def _pin_parts(df: DataFrame) -> int:
    """Partition count for the CPU-dense ANN stages, pinned against
    AQE's byte-based coalescing. The cogroup bucket scoring and the
    qid merge cost ~200 ms per MB of shuffle bytes (numpy matrix
    scoring), but AQE's advisory-size coalescing models scan-shaped
    cost: at 64 MB targets it merged the 32-partition scoring stage
    to 7-10 tasks — 1.25 waves at 8 cores, a 50% wall inflation
    (round-5 profile, BENCH/NOTES.md). A user-specified numPartitions
    on the repartition is exempt from coalescing, restoring wave
    granularity at any cluster size; skew stays AQE-handled because
    skew-join splitting targets joins, not these pinned exchanges,
    and measured bucket skew is mild (max/mean 1.58)."""
    spark = df.sparkSession
    try:
        conf_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        # non-numeric ("auto") OR a platform where the lookup itself
        # raises (Py4J-wrapped NoSuchElementException when defaults
        # are suppressed) — the fallback below is the safe default
        # either way, so the pin stays best-effort
        conf_p = 0
    return max(conf_p, 2 * spark.sparkContext.defaultParallelism, 32)


@F.pandas_udf(T.DoubleType())
def _dot_fold_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized exact left-fold dot product: NumPy cumsum is
    sequential, so the result is bit-identical to F.aggregate's
    (((0+e1)+e2)+...) and to DuckDB's list_reduce — but ~100x faster
    than Catalyst's interpreted higher-order aggregate."""
    am = np.stack(a.to_numpy()).astype(np.float64)
    bm = np.stack(b.to_numpy()).astype(np.float64)
    prod = am * bm
    return pd.Series(np.cumsum(prod, axis=1)[:, -1])


@F.pandas_udf(T.DoubleType())
def _norm_fold_arrow(a: pd.Series) -> pd.Series:
    am = np.stack(a.to_numpy()).astype(np.float64)
    sq = am * am
    return pd.Series(np.sqrt(np.cumsum(sq, axis=1)[:, -1]))


_DOT_SQL = ("list_reduce(list_transform(list_zip({a}, {b}), "
            "__p -> CAST(__p[1] AS DOUBLE) * CAST(__p[2] AS DOUBLE)), "
            "(__x, __y) -> __x + __y)")
_NORM2_SQL = ("list_reduce(list_transform({a}, "
              "__e -> CAST(__e AS DOUBLE) * CAST(__e AS DOUBLE)), "
              "(__x, __y) -> __x + __y)")


def _estimate_rows(df: DataFrame) -> int:
    """Row count without a full scan when possible: for a bare parquet
    scan, sum the parquet footers' exact row counts driver-side (the
    footer read is O(files), not O(data) — at production scale the
    catalog/manifest supplies this). Falls back to df.count() for
    non-file-backed frames (cached/synthetic inputs)."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        try:
            import pyarrow.parquet as pq
            total = 0
            for f in files:
                p = f[len("file:"):] if f.startswith("file:") else f
                if not (p.endswith(".parquet") and os.path.exists(p)):
                    raise ValueError(p)
                total += pq.ParquetFile(p).metadata.num_rows
            return total
        except Exception:
            pass
    return df.count()


def _resolve_centroids(emb: DataFrame, n_centroids: int | None,
                       n_rows: int | None = None) -> int:
    """IVF centroid count defaults to ~sqrt(N) (floor, min 16): bucket
    size and bucket count then both grow as sqrt(N), so per-bucket
    matrix work stays balanced and the scoring stage exposes O(sqrt(N))
    parallel tasks at any corpus size (16 fixed buckets stop scaling
    past 16 cores). Driver-contract queries pin 16 so the DuckDB
    oracle sees the same quantizer. N comes from `n_rows` when the
    caller knows it, else parquet footer stats, else one count()."""
    if n_centroids is not None:
        return n_centroids
    import math as _m
    if n_rows is None:
        n_rows = _estimate_rows(emb)
    return max(16, _m.isqrt(max(n_rows, 1)))


def cosine_topk(emb: DataFrame, k: int = 5,
                n_centroids: int | None = None,
                nprobe: int = 2, exact: bool = False,
                n_rows: int | None = None) -> DataFrame:
    """Self top-k by cosine over a bucketed ANN candidate set — the
    scale path (no driver corpus collect, no cross join).

    Candidates = (IVF: queries x members of their nprobe nearest
    centroid buckets) UNION (random-hyperplane LSH band-mates), then
    an *exact* cosine re-rank: candidate pairs equi-join the
    embeddings table on both sides, score with the Arrow left-fold dot
    (bit-identical to the oracle's list_reduce), and a window keeps
    the per-query top-k with the (cos DESC, nid ASC) tie-break.

    The IVF leg scores per-bucket MATRICES with a local top-k per
    (query, bucket) — never a per-pair row explosion, so the merge
    sees <= nprobe*k rows per query however big buckets get. The LSH
    leg uses SPARSE 16-bit bands (2 bands from the 32 planes): at
    production densities each bucket holds O(N/2^16) vectors, keeping
    the pair leg linear-ish; its pairs are scored exactly and unioned
    before the final window merge.

    At 10^12 vectors every stage is an equi-join / hash aggregation on
    bucket or vec_id keys (AQE splits hot buckets); only the
    n_centroids-row quantizer is collected. The brute-force exactness
    baseline lives in cosine_topk_bruteforce (size-guarded); callers
    who relied on the pre-ANN exact semantics opt back in with
    ``exact=True`` (same size guard).

    Cache invalidation contract: the memoized index keys on the input
    PLAN's semantics, not the underlying bytes — within one session,
    re-reading a parquet path whose files were overwritten or appended
    yields the same plan, so results would come from the index built
    over the OLD data. Callers that mutate the underlying storage must
    call ``release_ann_caches()`` before querying again (the
    index-at-ingest production framing: mutate corpus -> re-ingest ->
    rebuild index)."""
    if exact:
        return cosine_topk_bruteforce(emb, k)
    emb = ensure_parallelism(emb)
    # ONE Arrow pass over the corpus builds BOTH candidate indexes
    # (IVF assignment rows + LSH band-signature rows) into a cached
    # frame: previously the corpus crossed the Python boundary three
    # times per query (assign once, signatures once per join side —
    # the two sides' pre-exchange projections differ, so Catalyst
    # cannot reuse them), and at 10^12 vectors each pass is a
    # full-corpus Arrow transfer.
    nc = _resolve_centroids(emb, n_centroids, n_rows)
    idx = _ann_index(emb, nc, nprobe, LSH_PLANES, TOPK_LSH_PER_BAND, 64)
    ranked = idx.where(F.col("kind") == 0).select(
        "vec_id", "embedding", "cid", "arn", "norm")
    ivf_scored = _ivf_bucket_scored_from(ranked, k, nprobe)
    # LSH leg: band-mate pairs scored in ONE self-join exchange — the
    # index rows carry each vector's embedding + norm, so the join
    # output feeds the Arrow cosine directly (no qe/ne lookup
    # joins), and the union's distinct dedups both legs at once
    sigs = idx.where(F.col("kind") == 1).select(
        "vec_id", "band", "sig", "embedding", "norm")
    l = sigs.select(F.col("vec_id").alias("qid"), "band", "sig",
                    F.col("embedding").alias("qe"),
                    F.col("norm").alias("qn"))
    r = sigs.select(F.col("vec_id").alias("nid"), "band", "sig",
                    F.col("embedding").alias("ne"),
                    F.col("norm").alias("nn"))
    # The LSH self-join keeps AQE's byte-coalesced partitioning
    # deliberately: pinning it like the cogroup was A/B-profiled and
    # LOST (+40 exec-run seconds at 32 tasks — the fold-cosine UDF's
    # per-task Arrow/worker fixed overhead exceeds the 4-9-task wave
    # tail it removes), and a 16 MB session advisory fixed the tail
    # but cost ~10% on scan-shaped queries (round-5 profile).
    cos = _dot_fold_arrow(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn"))
    lsh_scored = (l.join(r, ["band", "sig"])
                  .where(F.col("qid") != F.col("nid"))
                  .select("qid", "nid", cos.alias("cos")))
    # Merge fusion (round-4): the old `union.distinct()` + top-k window
    # shuffled the candidate set TWICE — once on (qid, nid, cos) for
    # the distinct, once on qid for the window. One explicit
    # repartition(qid) satisfies BOTH downstream requirements
    # (HashPartitioning(qid) clusters (qid, nid) for the dedup agg AND
    # qid for the window), so the merge is now a single exchange. The
    # dedup is max(cos) per pair — identical to distinct() since both
    # legs compute the same fold-ordered cosine for a shared pair.
    scored = (ivf_scored.unionByName(lsh_scored)
              .repartition(_pin_parts(emb), "qid")
              .groupBy("qid", "nid").agg(F.max("cos").alias("cos")))
    return _topk_window(scored, k)


def cosine_topk_bruteforce(emb: DataFrame, k: int = 5,
                           max_rows: int = 200_000) -> DataFrame:
    """Exact self top-k by cosine similarity (vec_id, neighbor_id,
    rank, cos) — the documented small-N exactness baseline (used to
    measure ANN recall in tests). Ties broken by neighbor id; cos is
    bit-deterministic.

    Physical plan: the corpus matrix is a Spark broadcast (the classic
    brute-force ANN shape — queries partitioned, corpus replicated);
    each partition computes its query-block cosines in NumPy with a
    *sequential* fold over the feature axis (acc += q_k * c_k in
    element order), so every dot product is bit-identical to the SQL
    oracle's list_reduce left fold. Top-k via per-row lexsort on
    (-cos, nid) keeps the deterministic tie-break.

    O(N^2) compute + a driver collect of the corpus: hard-guarded to
    max_rows (raises beyond) so a misrouted big job fails loudly
    instead of melting the driver."""
    emb = ensure_parallelism(emb)
    spark = emb.sparkSession
    n = _estimate_rows(emb)
    if n > max_rows:
        raise ValueError(
            f"cosine_topk_bruteforce is the O(N^2) small-N baseline: "
            f"corpus has {n} rows > max_rows={max_rows}; use "
            f"cosine_topk (IVF+LSH candidates, exact re-rank) at scale")
    corpus_pdf = emb.select("vec_id", "embedding").toPandas()
    c_ids = corpus_pdf["vec_id"].to_numpy()
    c_mat = np.stack(corpus_pdf["embedding"].to_numpy()).astype(np.float64)
    c_norm = np.sqrt(np.cumsum(c_mat * c_mat, axis=1)[:, -1])
    bc = spark.sparkContext.broadcast((c_ids, c_mat, c_norm))

    def solve(it):
        ids, cm, cn = bc.value
        n = cm.shape[0]
        d = cm.shape[1]
        for pdf in it:
            if pdf.empty:
                continue
            qids = pdf["vec_id"].to_numpy()
            qm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qn = np.sqrt(np.cumsum(qm * qm, axis=1)[:, -1])
            # sequential left-fold dot, row-blocked (bit-identical)
            cos = _fold_matmul(qm, cm) / (qn[:, None] * cn[None, :])
            rows = []
            for i in range(qm.shape[0]):
                mask = ids != qids[i]
                order = np.lexsort((ids[mask], -cos[i, mask]))[:k]
                cand_ids = ids[mask][order]
                cand_cos = cos[i, mask][order]
                for r, (nid, cv) in enumerate(zip(cand_ids, cand_cos), 1):
                    rows.append((int(qids[i]), int(nid), r, float(cv)))
            yield pd.DataFrame(rows, columns=["vec_id", "neighbor_id",
                                              "rank", "cos"])

    return emb.select("vec_id", "embedding").mapInPandas(
        solve, schema="vec_id long, neighbor_id long, rank int, cos double")


def cosine_topk_oracle_sql(emb_tbl: str = "embeddings", k: int = 5,
                           n_centroids: int = 16, nprobe: int = 2) -> str:
    """Oracle for the ANN-candidate top-k: genuinely recomputes both
    candidate generators (IVF assignment ranking + LSH band signatures)
    and the exact list_reduce re-rank."""
    dot_ec = _DOT_SQL.format(a="e.embedding", b="c.ce")
    ne_ = _NORM2_SQL.format(a="e.embedding")
    nc_ = _NORM2_SQL.format(a="c.ce")
    dot = _DOT_SQL.format(a="q.embedding", b="c.embedding")
    nq = _NORM2_SQL.format(a="q.embedding")
    nc = _NORM2_SQL.format(a="c.embedding")
    # the query's IVF leg truncates to a LOCAL top-k per (query,
    # bucket); rows it drops have >= k lex-better rows in the same
    # bucket (all candidates of that query), so the global rank over
    # the full candidate set below is provably identical
    lsh = embed_lsh_pairs_oracle_sql(emb_tbl,
                                     per_band=TOPK_LSH_PER_BAND)
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS ce FROM {emb_tbl}
      ORDER BY vec_id LIMIT {n_centroids}),
    assign_all AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {dot_ec} / (sqrt({ne_}) * sqrt({nc_})) AS cc
      FROM {emb_tbl} e CROSS JOIN cents c),
    ranked_a AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS arn
      FROM assign_all),
    ivf_cand AS (
      SELECT q.vec_id AS qid, n.vec_id AS nid
      FROM ranked_a q JOIN ranked_a n
        ON q.cid = n.cid AND n.arn = 1 AND q.arn <= {nprobe}
       AND q.vec_id <> n.vec_id),
    lshpairs AS MATERIALIZED ({lsh}),
    cand AS (
      SELECT DISTINCT qid, nid FROM (
        SELECT qid, nid FROM ivf_cand
        UNION ALL SELECT a AS qid, b AS nid FROM lshpairs
        UNION ALL SELECT b AS qid, a AS nid FROM lshpairs)),
    scored AS (
      SELECT p.qid AS vec_id, p.nid AS neighbor_id,
             {dot} / (sqrt({nq}) * sqrt({nc})) AS cos
      FROM cand p
      JOIN {emb_tbl} q ON q.vec_id = p.qid
      JOIN {emb_tbl} c ON c.vec_id = p.nid),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM ranked WHERE rank <= {k}
    """


def cosine_topk_bruteforce_oracle_sql(emb_tbl: str = "embeddings",
                                      k: int = 5) -> str:
    dot = _DOT_SQL.format(a="q.embedding", b="c.embedding")
    nq = _NORM2_SQL.format(a="q.embedding")
    nc = _NORM2_SQL.format(a="c.embedding")
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
             {dot} / (sqrt({nq}) * sqrt({nc})) AS cos
      FROM {emb_tbl} q JOIN {emb_tbl} c ON q.vec_id <> c.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM ranked WHERE rank <= {k}
    """


def _centroids(emb: DataFrame, n_centroids: int):
    """(ids, matrix, left-fold norms) of the IVF coarse quantizer: the
    embeddings of the n_centroids smallest vec_ids (a deterministic
    quantizer — no kmeans nondeterminism). Only this n_centroids-row
    dim table is collected to the driver."""
    pdf = (emb.orderBy("vec_id").limit(n_centroids)
           .select("vec_id", "embedding").toPandas())
    c_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return (pdf["vec_id"].to_numpy(), c_mat,
            np.sqrt(np.cumsum(c_mat * c_mat, axis=1)[:, -1]))


def _row_blocks(it):
    """(vec_id, embedding objects, float64 matrix, left-fold norms) per
    row block of every Arrow batch. ROW-BLOCKED: the full-batch cos
    matrix + its argsort are ~100 MB of DRAM traffic per task at
    sqrt(N) centroids; 8 concurrent single-threaded workers saturate
    one host's memory bandwidth (round-5 profile: per-task py_run
    1.26 s at 2 workers -> 2.10 s at 8 on identical data). Per-block
    buffers stay cache-resident; row blocking never changes any row's
    accumulation or sort, so outputs are bit-identical."""
    for pdf in it:
        vec_all = pdf["vec_id"].to_numpy()
        emb_all = pdf["embedding"].to_numpy()
        for s in range(0, len(vec_all), _SEL_BLOCK):
            eobj = emb_all[s:s + _SEL_BLOCK]
            vm = np.stack(eobj).astype(np.float64)
            yield (vec_all[s:s + _SEL_BLOCK], eobj, vm,
                   np.sqrt(np.cumsum(vm * vm, axis=1)[:, -1]))


def _nearest_centroids(vm, vn, cents, nprobe: int):
    """(row index, cid, arn) for each row's arn-th nearest centroid,
    arn = 1..nprobe, by (cos DESC, cid ASC)."""
    ids, cm, cn = cents
    cos = _fold_matmul(vm, cm) / (vn[:, None] * cn[None, :])
    # stable argsort of -cos == lexsort((ids, -cos)): the centroid axis
    # is already ascending in cid, so ties resolve to the smallest cid
    # — one vectorized sort for the block instead of a per-row loop
    np.negative(cos, out=cos)
    order = np.argsort(cos, axis=1, kind="stable")[:, :nprobe]
    nrow = len(vm)
    return (np.repeat(np.arange(nrow), nprobe), ids[order.ravel()],
            np.tile(np.arange(1, nprobe + 1, dtype=np.int32), nrow))


def _ivf_assign(emb: DataFrame, n_centroids: int, nprobe: int) -> DataFrame:
    """IVF coarse assignment: (vec_id, embedding, cid, arn, norm) rows
    for each vector's arn-th nearest centroid, arn = 1..nprobe, in one
    broadcast-centroids mapInPandas pass with the fold order preserved.

    MEMOIZED across calls on (input plan semanticHash, parameters) —
    same production index semantics as _ann_index."""
    def build() -> DataFrame:
        bc = emb.sparkSession.sparkContext.broadcast(
            _centroids(emb, n_centroids))

        def assign(it):
            cents = bc.value
            for vec, eobj, vm, vn in _row_blocks(it):
                idx, cid, arn = _nearest_centroids(vm, vn, cents, nprobe)
                yield pd.DataFrame({
                    "vec_id": vec[idx], "embedding": eobj[idx],
                    "cid": cid, "arn": arn, "norm": vn[idx]})

        return emb.select("vec_id", "embedding").mapInPandas(
            assign, schema=("vec_id long, embedding array<float>, "
                            "cid long, arn int, norm double"))

    return memo_frame(emb, "ivf_assign",
                      (_plan_key(emb), n_centroids, nprobe), build)


def _plan_key(df: DataFrame):
    """Semantic identity of a DataFrame's analyzed plan — the
    memoization key component for the ANN index caches (whose slots are
    already per session). Two frames with semantically equal plans
    read the same data, so the built index is identical; any change
    to the input (different path, filter, projection) changes the hash
    and forces a rebuild. On failure of the internal API the key is a
    fresh sentinel object that can never compare equal to a stored key
    — memoization is simply disabled for that call (the old id(df)
    fallback could alias a GC-reused address and serve a stale index
    for different data)."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return object()


def release_ann_caches() -> None:
    """Unpersist the (single, bounded) ANN index caches — call after a
    query's results are materialized to free executor storage
    immediately instead of waiting for the next ANN call to evict it."""
    release_cached(SparkSession.active(), "ann_index", "ivf_assign")


def _ann_index(emb: DataFrame, n_centroids: int, nprobe: int,
               n_planes: int, per_band: int, dim: int) -> DataFrame:
    """Fused candidate-index build for cosine_topk: ONE Arrow pass over
    the corpus emits both the IVF assignment rows (kind=0: vec_id,
    embedding, cid, arn, norm — identical content to _ivf_assign) and
    the LSH band-signature rows (kind=1: vec_id, band, sig, embedding,
    norm — the (vec_id, band, sig) of _lsh_band_sigs, each carrying
    its vector and norm). Every fold runs in the same element order
    as the split passes, so downstream results are bit-identical; the
    cached frame feeds all four consumers (cogroup probes/buckets,
    both self-join sides) JVM-side. Those four scans are concurrent
    shuffle-map stages, so cache_frame's barrier matters most here:
    without it, at 4 executors the build work went 50 -> 260+
    executor-run seconds with 2.4x trial-to-trial variance.

    MEMOIZED across calls on (input plan semanticHash, parameters):
    the index is a pure function of the corpus, so repeated ANN
    queries over the same input reuse it — the production
    vector-store shape, where the index is built at ingest and
    queried many times, not rebuilt per query. Any input or
    parameter change misses the key and rebuilds (single slot, old
    cache evicted)."""
    def build() -> DataFrame:
        wmatT = np.ascontiguousarray(
            _plane_weights(n_planes, dim).T)  # (n_planes, dim)
        bc = emb.sparkSession.sparkContext.broadcast(
            (_centroids(emb, n_centroids), wmatT))
        n_bands = n_planes // per_band

        def rows(it):
            cents, wT = bc.value
            for vec, eobj, vm, vn in _row_blocks(it):
                idx, cid, arn = _nearest_centroids(vm, vn, cents, nprobe)
                yield pd.DataFrame({
                    "vec_id": vec[idx], "embedding": eobj[idx],
                    "norm": vn[idx], "kind": np.int32(0),
                    "cid": cid, "arn": arn,
                    "band": np.int32(-1), "sig": np.int64(-1)})
                bidx = np.repeat(np.arange(len(vec)), n_bands)
                yield pd.DataFrame({
                    "vec_id": vec[bidx], "embedding": eobj[bidx],
                    "norm": vn[bidx], "kind": np.int32(1),
                    "cid": np.int64(-1), "arn": np.int32(-1),
                    "band": np.tile(np.arange(n_bands, dtype=np.int32),
                                    len(vec)),
                    "sig": _band_sigs(vm, wT, per_band).reshape(-1)})

        return emb.select("vec_id", "embedding").mapInPandas(
            rows, schema=("vec_id long, embedding array<float>, "
                          "norm double, kind int, cid long, arn int, "
                          "band int, sig long"))

    key = (_plan_key(emb), n_centroids, nprobe, n_planes, per_band, dim)
    return memo_frame(emb, "ann_index", key, build)


def _ivf_bucket_scored_from(ranked: DataFrame, k: int,
                            nprobe: int) -> DataFrame:
    """(qid, nid, cos) candidate rows: per-bucket matrix scoring with
    a local top-k per (query, bucket) — the per-bucket local top-k is
    a superset of each query's global top-k contribution from that
    bucket, so <= nprobe*k rows per query reach the final merge. This
    is the O(bucket) matrix path, NOT a per-pair row explosion.

    Rows are distinct BY CONSTRUCTION — every member belongs to
    exactly one bucket (arn == 1) and each (query, probed-cid) row is
    unique, so a (qid, nid) pair is scored in at most one cogroup.
    The old trailing ``.distinct()`` was therefore a redundant
    full-candidate-set exchange (removed round 4; the cosine_topk
    merge dedups cross-LEG duplicates in its own qid-partitioned
    agg)."""
    # explicit co-partitioning on cid at a PINNED count: the cogroup's
    # own ENSURE_REQUIREMENTS exchanges would be AQE-coalesced by
    # shuffle BYTES (7-10 tasks for ~74 core-seconds of matrix work —
    # see _pin_parts); a user-specified numPartitions keeps the
    # scoring stage wave-granular while adding no extra exchange
    # (HashPartitioning(cid, p) on both sides satisfies the cogroup's
    # required distribution).
    p = _pin_parts(ranked)
    buckets = ranked.where(F.col("arn") == 1).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"),
        "cid", F.col("norm").alias("nn")).repartition(p, "cid")
    probes = ranked.where(F.col("arn") <= nprobe).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        "cid", F.col("norm").alias("qn")).repartition(p, "cid")

    # per-bucket matrix scoring (one cogroup per centroid id): the
    # per-bucket local top-k is a superset of each query's global
    # top-k contribution from that bucket, so the final window merge
    # over <= nprobe*k rows per query is exact
    def bucket_score(key, probe_pdf, member_pdf):
        if probe_pdf.empty or member_pdf.empty:
            return pd.DataFrame({"qid": pd.Series(dtype="int64"),
                                 "nid": pd.Series(dtype="int64"),
                                 "cos": pd.Series(dtype="float64")})
        qm = np.stack(probe_pdf["qe"].to_numpy()).astype(np.float64)
        qn = probe_pdf["qn"].to_numpy()
        qids = probe_pdf["qid"].to_numpy()
        # sort members by nid so a STABLE argsort of -cos reproduces
        # the (cos DESC, nid ASC) tie-break — whole-bucket vectorized
        morder = np.argsort(member_pdf["nid"].to_numpy(), kind="stable")
        nm = np.stack(member_pdf["ne"].to_numpy()[morder]) \
            .astype(np.float64)
        nn = member_pdf["nn"].to_numpy()[morder]
        nids = member_pdf["nid"].to_numpy()[morder]
        cos = _fold_matmul(qm, nm) / (qn[:, None] * nn[None, :])
        cos_m = np.where(nids[None, :] == qids[:, None], -np.inf, cos)
        kk_ = min(k, cos_m.shape[1])
        order = np.argsort(-cos_m, axis=1, kind="stable")[:, :kk_]
        sel_cos = np.take_along_axis(cos_m, order, axis=1)
        valid = np.isfinite(sel_cos)
        qrep = np.repeat(qids, kk_)
        flat = valid.ravel()
        return pd.DataFrame({"qid": qrep[flat],
                             "nid": nids[order.ravel()][flat],
                             "cos": sel_cos.ravel()[flat]})

    return (probes.groupBy("cid").cogroup(buckets.groupBy("cid"))
            .applyInPandas(bucket_score,
                           schema="qid long, nid long, cos double"))


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").alias("vec_id"),
                    F.col("nid").alias("neighbor_id"),
                    F.col("rank").cast("int").alias("rank"), "cos"))


def ivf_topk(emb: DataFrame, k: int = 5,
             n_centroids: int | None = None,
             nprobe: int = 2, n_rows: int | None = None) -> DataFrame:
    """IVF ANN: centroids = embeddings of the n_centroids smallest
    vec_ids; every vector is assigned to its nearest centroid; queries
    probe their nprobe nearest buckets. Assignment runs as one
    broadcast-centroids mapInPandas pass (fold order preserved);
    bucket search is an equi-join on centroid id with per-vector
    precomputed norms — the shuffle-light ANN shape.

    Cache invalidation contract: same as cosine_topk — the memoized
    assignment keys on plan semantics; after mutating the underlying
    files call ``release_ann_caches()`` to force a rebuild."""
    emb = ensure_parallelism(emb)
    nc = _resolve_centroids(emb, n_centroids, n_rows)
    return _topk_window(
        _ivf_bucket_scored_from(_ivf_assign(emb, nc, nprobe), k, nprobe), k)


def ivf_topk_oracle_sql(emb_tbl: str = "embeddings", k: int = 5,
                        n_centroids: int = 16, nprobe: int = 2) -> str:
    dot_ec = _DOT_SQL.format(a="e.embedding", b="c.ce")
    ne_ = _NORM2_SQL.format(a="e.embedding")
    nc_ = _NORM2_SQL.format(a="c.ce")
    dot_qn = _DOT_SQL.format(a="q.qe", b="n.ne")
    nq2 = _NORM2_SQL.format(a="q.qe")
    nn2 = _NORM2_SQL.format(a="n.ne")
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS ce FROM {emb_tbl}
      ORDER BY vec_id LIMIT {n_centroids}),
    assign_all AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {dot_ec} / (sqrt({ne_}) * sqrt({nc_})) AS cc
      FROM {emb_tbl} e CROSS JOIN cents c),
    ranked_a AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS arn
      FROM assign_all),
    buckets AS (
      SELECT vec_id AS nid, embedding AS ne, cid FROM ranked_a WHERE arn = 1),
    probes AS (
      SELECT vec_id AS qid, embedding AS qe, cid FROM ranked_a
      WHERE arn <= {nprobe}),
    scored AS (
      SELECT DISTINCT q.qid, n.nid,
             {dot_qn} / (sqrt({nq2}) * sqrt({nn2})) AS cos
      FROM probes q JOIN buckets n ON q.cid = n.cid AND q.qid <> n.nid),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM scored)
    SELECT qid AS vec_id, nid AS neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM ranked WHERE rank <= {k}
    """


def cosine_near_dup(emb: DataFrame, threshold: float = 0.35,
                    exact: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos >= threshold)
    over the LSH candidate set — the embedding leg of the dedup family
    in its scale shape: random-hyperplane band bucketing generates
    candidates (equi-join on (band, sig) — never all pairs), then the
    exact Arrow-fold cosine refines. Recall is the standard LSH
    tradeoff (band/bit parameters tune it; at production thresholds
    near-dups collide in >=1 band w.h.p.); the exhaustive baseline is
    cosine_near_dup_bruteforce (size-guarded), which tests use to
    measure recall. ``exact=True`` opts back into the pre-ANN
    exhaustive semantics (same size guard)."""
    if exact:
        return cosine_near_dup_bruteforce(emb, threshold)
    emb = ensure_parallelism(emb)
    pairs = embed_lsh_pairs(emb)
    q = emb.select(F.col("vec_id").alias("a"),
                   F.col("embedding").alias("qe"),
                   _norm_fold_arrow("embedding").alias("qn"))
    c = emb.select(F.col("vec_id").alias("b"),
                   F.col("embedding").alias("ne"),
                   _norm_fold_arrow("embedding").alias("nn"))
    cos = _dot_fold_arrow(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn"))
    return (pairs.join(q, "a").join(c, "b")
            .select("a", "b", cos.alias("cos"))
            .where(F.col("cos") >= threshold)
            .select("a", "b", "cos"))


def cosine_near_dup_bruteforce(emb: DataFrame, threshold: float = 0.35,
                               max_rows: int = 100_000) -> DataFrame:
    """All-pairs exact near-dup (a < b, cos >= threshold): the O(N^2)
    cross-join exactness baseline, hard-guarded to max_rows."""
    emb = ensure_parallelism(emb)
    n = _estimate_rows(emb)
    if n > max_rows:
        raise ValueError(
            f"cosine_near_dup_bruteforce is the O(N^2) baseline: corpus "
            f"has {n} rows > max_rows={max_rows}; use cosine_near_dup "
            f"(LSH candidates + exact refine) at scale")
    q = emb.select(F.col("vec_id").alias("a"),
                   F.col("embedding").alias("qe"),
                   _norm_fold_arrow("embedding").alias("qn"))
    c = emb.select(F.col("vec_id").alias("b"),
                   F.col("embedding").alias("ne"),
                   _norm_fold_arrow("embedding").alias("nn"))
    pairs = q.crossJoin(c).where(F.col("a") < F.col("b"))
    cos = _dot_fold_arrow(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn"))
    return (pairs.select("a", "b", cos.alias("cos"))
            .where(F.col("cos") >= threshold))


def cosine_near_dup_oracle_sql(emb_tbl: str = "embeddings",
                               threshold: float = 0.35) -> str:
    """Oracle for the LSH-candidate near-dup: the genuinely-computed
    LSH pair set (embed_lsh_pairs_oracle_sql) refined by the exact
    list_reduce cosine."""
    dot = _DOT_SQL.format(a="q.embedding", b="c.embedding")
    nq = _NORM2_SQL.format(a="q.embedding")
    nc = _NORM2_SQL.format(a="c.embedding")
    lsh = embed_lsh_pairs_oracle_sql(emb_tbl)
    return f"""
    WITH lshpairs AS MATERIALIZED ({lsh})
    SELECT p.a, p.b,
           {dot} / (sqrt({nq}) * sqrt({nc})) AS cos
    FROM lshpairs p
    JOIN {emb_tbl} q ON q.vec_id = p.a
    JOIN {emb_tbl} c ON c.vec_id = p.b
    WHERE {dot} / (sqrt({nq}) * sqrt({nc})) >= {threshold}
    """


def cosine_near_dup_bruteforce_oracle_sql(emb_tbl: str = "embeddings",
                                          threshold: float = 0.35) -> str:
    dot = _DOT_SQL.format(a="q.embedding", b="c.embedding")
    nq = _NORM2_SQL.format(a="q.embedding")
    nc = _NORM2_SQL.format(a="c.embedding")
    return f"""
    SELECT q.vec_id AS a, c.vec_id AS b,
           {dot} / (sqrt({nq}) * sqrt({nc})) AS cos
    FROM {emb_tbl} q JOIN {emb_tbl} c ON q.vec_id < c.vec_id
    WHERE {dot} / (sqrt({nq}) * sqrt({nc})) >= {threshold}
    """


# ---------------------------------------------------------------------------
# Random-hyperplane LSH over embeddings (SimHash-for-vectors ANN)
# ---------------------------------------------------------------------------

LSH_PLANES = 32
LSH_PER_BAND = 8  # -> 4 bands of 8 bits (near-dup recall setting)
TOPK_LSH_PER_BAND = 16  # sparse bands for the top-k candidate leg


def _plane_weight_spark(dim: int) -> str:
    """Deterministic hyperplane entry w(j, d) as an exact dyadic
    rational in [-0.5, 0.5): a TWO-ROUND multiply/xor-shift hash of
    t = j*dim + d. A single-round LCG here is a real defect, not a
    nicety: consecutive t share the classic LCG lattice, adjacent
    planes' weight vectors are near-shifts of each other, and their
    sign bits correlate up to 0.7 — measured 200x-over-uniform bucket
    occupancy (24.8M candidate pairs from 128k vectors where ~130k
    are expected). The xor-shift between rounds breaks the lattice
    (max plane-bit correlation drops to the iid-random level). All
    integer intermediates stay < 2^62 so int64 and SQL BIGINT agree;
    the same expression (DuckDB spelling: xor()) is emitted for the
    oracle, so the fold dots and bucket bits match exactly."""
    h1 = f"(((j * {dim} + d) * 2654435761) % 2147483648)"
    h2 = f"((({h1} ^ shiftright({h1}, 15)) * 1597334677) % 2147483648)"
    h3 = f"({h2} ^ shiftright({h2}, 13))"
    return f"(CAST({h3} AS DOUBLE) / 2147483648.0 - 0.5)"


def _plane_weights(n_planes: int, dim: int) -> np.ndarray:
    """(dim, n_planes) hyperplane weight matrix: the exact
    dyadic-rational LCG values of _plane_weight_spark, reproduced in
    int64 (< 2^53, exact) — shared by the split signature pass and the
    fused _ann_index build."""
    j = np.arange(n_planes, dtype=np.int64)[None, :]
    d = np.arange(dim, dtype=np.int64)[:, None]
    h1 = ((j * dim + d) * 2654435761) % 2147483648
    h2 = ((h1 ^ (h1 >> 15)) * 1597334677) % 2147483648
    return (h2 ^ (h2 >> 13)).astype(np.float64) / 2147483648.0 - 0.5


def _band_sigs(vm: np.ndarray, wT: np.ndarray, per_band: int) -> np.ndarray:
    """(rows, n_bands) band signatures: the sign bits of each row's
    left-fold plane dots, packed per_band bits to a band."""
    n_planes = wT.shape[0]
    bits = (_fold_matmul(vm, wT) >= 0).astype(np.int64)
    shifts = np.int64(1) << (np.arange(n_planes, dtype=np.int64) % per_band)
    return (bits * shifts[None, :]).reshape(
        len(vm), n_planes // per_band, per_band).sum(axis=2)


def _lsh_band_sigs(emb: DataFrame, n_planes: int, per_band: int,
                   dim: int) -> DataFrame:
    """(vec_id, band, sig) rows: all plane dots in ONE Arrow pass —
    the fold runs feature-by-feature in NumPy (acc += x_d * w(j,d) in
    element order), bit-identical to the interpreted
    aggregate(zip_with(...)) expression and to the DuckDB oracle's
    list_reduce, but vectorized across the whole batch x all planes
    (measured ~10x on the 32-plane signature stage). The plane
    weights are the same exact dyadic-rational LCG values
    (_plane_weight_spark), reproduced in int64 (< 2^53, exact)."""
    n_bands = n_planes // per_band
    wmatT = np.ascontiguousarray(_plane_weights(n_planes, dim).T)

    def sigs_fn(it):
        for pdf in it:
            if pdf.empty:
                continue
            em = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vec = pdf["vec_id"].to_numpy()
            yield pd.DataFrame({
                "vec_id": np.repeat(vec, n_bands),
                "band": np.tile(np.arange(n_bands, dtype=np.int32),
                                len(vec)),
                "sig": _band_sigs(em, wmatT, per_band).reshape(-1)})

    return emb.select("vec_id", "embedding").mapInPandas(
        sigs_fn, schema="vec_id long, band int, sig long")


def embed_lsh_pairs(emb: DataFrame, n_planes: int = LSH_PLANES,
                    per_band: int = LSH_PER_BAND,
                    dim: int = 64) -> DataFrame:
    """ANN candidate pairs by random-hyperplane LSH: bit_j =
    sign(<x, H_j>), bits grouped into bands of `per_band`; vectors
    sharing any full band signature are candidates (a, b), a < b.

    Plan shape: one Arrow signature pass -> self equi-join on
    (band, sig) — the shuffle-light bucketed ANN path (same shape as
    MinHash LSH); at scale the join key space is dense enough that
    AQE handles any hot bucket."""
    emb = ensure_parallelism(emb)
    sigs = _lsh_band_sigs(emb, n_planes, per_band, dim)
    left = sigs.select(F.col("vec_id").alias("a"), "band", "sig")
    right = sigs.select(F.col("vec_id").alias("b"), "band", "sig")
    return (left.join(right, ["band", "sig"])
            .where(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def embed_lsh_pairs_oracle_sql(emb_tbl: str = "embeddings",
                               n_planes: int = LSH_PLANES,
                               per_band: int = LSH_PER_BAND,
                               dim: int = 64) -> str:
    # DuckDB's indexed lambda is 1-based -> d = i - 1; DuckDB's ^ is
    # POWER, so bitwise xor is the xor() function
    h1 = f"((((j * {dim}) + (i - 1)) * 2654435761) % 2147483648)"
    h2 = f"((xor({h1}, {h1} >> 15) * 1597334677) % 2147483648)"
    h3 = f"(xor({h2}, {h2} >> 13))"
    w = f"(CAST({h3} AS DOUBLE) / 2147483648.0 - 0.5)"
    return f"""
    WITH planes AS (SELECT range AS j FROM range(0, {n_planes})),
    dots AS (
      SELECT e.vec_id, p.j,
             list_reduce(list_transform(e.embedding,
               (x, i) -> CAST(x AS DOUBLE) * {w}),
               (__a, __b) -> __a + __b) AS dot
      FROM {emb_tbl} e CROSS JOIN planes p),
    sigs AS (
      SELECT vec_id, CAST(j // {per_band} AS INT) AS band,
             SUM((CASE WHEN dot >= 0 THEN 1 ELSE 0 END)
                 << CAST(j % {per_band} AS INT)) AS sig
      FROM dots GROUP BY vec_id, CAST(j // {per_band} AS INT)),
    pairs AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM sigs l JOIN sigs r ON l.band = r.band AND l.sig = r.sig
      WHERE l.vec_id < r.vec_id)
    SELECT a, b FROM pairs
    """
