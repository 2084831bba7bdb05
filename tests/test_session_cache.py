"""The operator cache lifecycle (session.cache_frame / release_cached /
memo_frame): release on the next call, no residue from a failed
barrier, results unchanged under concurrent calls, and a guard that
keeps module-level cache state out of the operators."""

import ast
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from go_spatial_spark import session
from go_spatial_spark.geocode import geocode
from go_spatial_spark.operators import dedup, similarity
from go_spatial_spark.operators.spatial_join import knn_self


def _frames(spark, op):
    """The frames filed in op's slot for this session."""
    slot = session._slots.get((spark.sparkContext.applicationId, op))
    return slot.frames if slot else ()


def _cached(df) -> bool:
    """True when Spark's own CacheManager holds df's plan."""
    return df.storageLevel != StorageLevel.NONE


def _points(spark, sf):
    return geocode(spark.read.parquet(f"{sf}/documents.parquet")) \
        .select("doc_id", "lat", "lon")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _in_two_threads(f, g):
    """Run f and g at the same time; their results in order."""
    start = threading.Barrier(2, timeout=120)

    def run(fn):
        start.wait()
        return fn()

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(run, fn) for fn in (f, g)]
        return [fut.result(timeout=900) for fut in futures]


@pytest.mark.parametrize("op", ["knn_self", "ngram_jaccard_top1"])
def test_release_on_next_call(spark, sf001, op):
    """A second call evicts the first call's frames from Spark's cache
    registry (not just the helper's slot), and release_cached evicts
    the second's."""
    if op == "knn_self":
        src, run = _points(spark, sf001), (lambda df: knn_self(df, k=5))
    else:
        src = spark.read.parquet(f"{sf001}/documents.parquet")
        run = dedup.ngram_jaccard_top1
    run(src)
    first = _frames(spark, op)
    run(src.where(F.col("doc_id") % 2 == 0))
    second = _frames(spark, op)
    assert first and second
    assert not {id(df) for df in first} & {id(df) for df in second}
    assert not any(map(_cached, first))
    assert all(map(_cached, second))
    session.release_cached(spark, op)
    assert _frames(spark, op) == ()
    assert not any(map(_cached, second))


def test_failed_barrier_leaves_nothing_cached(spark):
    """A build whose count() barrier raises is unpersisted and never
    filed, so a retry cannot meet a half-materialized cache."""
    def boom(it):
        for pdf in it:
            raise RuntimeError("injected barrier failure")
            yield pdf

    src = spark.range(8)
    built = []

    def build():
        built.append(src.mapInPandas(boom, schema="id long"))
        return built[0]

    with pytest.raises(Exception, match="injected barrier failure"):
        session.memo_frame(src, "failing_op", ("k",), build)
    assert not _cached(built[0])
    assert _frames(spark, "failing_op") == ()


def test_concurrent_cosine_topk_matches_single_thread(spark, sf001):
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    half = emb.where(F.col("vec_id") % 2 == 0)
    try:
        similarity.release_ann_caches()
        want = [_rows(similarity.cosine_topk(emb)),
                _rows(similarity.cosine_topk(half))]
        similarity.release_ann_caches()
        got = _in_two_threads(lambda: _rows(similarity.cosine_topk(emb)),
                              lambda: _rows(similarity.cosine_topk(half)))
        assert got == want
    finally:
        similarity.release_ann_caches()


def test_concurrent_knn_self_matches_single_thread(spark, sf001):
    pts = _points(spark, sf001)
    half = pts.where(F.col("doc_id") % 2 == 0)
    try:
        want = [_rows(knn_self(pts, k=5)), _rows(knn_self(half, k=5))]
        got = _in_two_threads(lambda: _rows(knn_self(pts, k=5)),
                              lambda: _rows(knn_self(half, k=5)))
        assert got == want
    finally:
        session.release_cached(spark, "knn_self")


class _FakeFrame:
    """Stands in for a DataFrame so filing runs without Spark jobs and
    threads meet in the slot's read-modify-write thousands of times."""

    def __init__(self, spark):
        self.sparkSession = spark

    def persist(self, level):
        return self

    def count(self):
        return 0

    def unpersist(self, blocking=False):
        return self


def test_concurrent_filing_loses_no_frame(spark):
    """Eight threads (more than this suite's four cores) file frames
    into one slot at once with a shortened switch interval: a lost
    read-modify-write would drop a frame that stays persisted but can
    never be released."""
    def file_many(n):
        return [session.cache_frame(_FakeFrame(spark), "stress_op")
                for _ in range(n)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(file_many, 400) for _ in range(8)]
            filed = [df for fut in futures for df in fut.result(timeout=300)]
        assert len(filed) == 3200
        assert {id(df) for df in _frames(spark, "stress_op")} == \
            {id(df) for df in filed}
    finally:
        sys.setswitchinterval(interval)
        session.release_cached(spark, "stress_op")


def _module_state(source: str) -> list[str]:
    """`global` statements and module-level DataFrame-annotated
    assignments in one module's source."""
    tree = ast.parse(source)
    found = [f"{n.lineno}: global {', '.join(n.names)}"
             for n in ast.walk(tree) if isinstance(n, ast.Global)]
    found += [f"{n.lineno}: {ast.unparse(n)}" for n in tree.body
              if isinstance(n, ast.AnnAssign)
              and "DataFrame" in ast.unparse(n.annotation)]
    return found


def test_operators_keep_no_module_cache_state():
    """Operator caches live in session's one lifecycle helper; a
    hand-rolled module-global lifecycle must not creep back in."""
    assert len(_module_state(
        "_c: list[DataFrame] = []\n"
        "_d: DataFrame | None = None\n"
        "def f():\n    global _d\n")) == 3
    ops = Path(__file__).resolve().parents[1] / "go_spatial_spark" / "operators"
    found = {p.name: _module_state(p.read_text())
             for p in sorted(ops.glob("*.py"))}
    assert found and not any(found.values()), found
