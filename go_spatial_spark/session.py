"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are what we would
submit cluster-side via spark-submit --py-files (AQE on, Arrow on,
shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import os
import threading
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def get_spark(app: str = "go_spatial_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to 2x parallelism (good local-mode default; on a
    real cluster AQE coalesces from a higher initial number anyway).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    # $SPARK_GRAFT_MASTER overrides the master verbatim — used by the
    # scaling bench to run the SAME job under multi-process executors
    # (local-cluster[n,c,mem]): each executor is a separate JVM with its
    # own committed heap, GC, and Python-worker pool, which is what an
    # N -> 4N cluster scale-out actually adds. cpus should then be the
    # TOTAL core count (n*c) so shuffle partitioning is sized the same.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = SparkSession.builder.master(master)
    builder = (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Spark 4.1 local mode: the python-worker REUSE pool serializes
        # worker handoff at high thread counts (measured 10-20x task
        # stalls at local[32] on Arrow-UDF stages); fresh forks are
        # cheap and scale linearly
        .config("spark.python.worker.reuse", "false")
        # fresh forks inherit a daemon that has ALREADY imported
        # numpy/pandas/pyarrow (copy-on-write) — removes the ~0.5-1s
        # per-worker import cost that made reuse=false expensive
        # (measured: 1024^2 stencil 2.1s -> 1.2s, Arrow cosine stage
        # 4s -> 1.3s at local[32], stable across trials)
        .config("spark.python.daemon.module",
                os.environ.get("SPARK_GRAFT_DAEMON",
                               "go_spatial_spark.daemon"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    if master.startswith("local-cluster"):
        # Executors are forked JVMs: they need the repo on PYTHONPATH
        # (for the python-worker daemon module) and the same committed
        # heap a cluster executor gets. Memory comes from the master
        # string's per-executor MB figure.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        exec_mem_mb = master.rstrip("]").split(",")[-1].strip()
        builder = (
            builder
            .config("spark.executor.memory", f"{exec_mem_mb}m")
            .config("spark.executorEnv.PYTHONPATH", repo_root)
            .config("spark.executorEnv.OMP_NUM_THREADS", "1")
            .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
            # The reuse=false workaround below targets the SINGLE-JVM
            # local[32] worker-pool stall; a 2-core executor's pool of
            # 2 reused workers can't stall, and reuse saves a measured
            # ~0.7 s/stage of fork+handshake at 32 Python tasks — the
            # cluster default a real executor runs with.
            # SPARK_GRAFT_WORKER_REUSE overrides for A/B probes of the
            # intermittent reused-worker handoff stall (see PLANS.md
            # round-3 scaling notes).
            .config("spark.python.worker.reuse",
                    os.environ.get("SPARK_GRAFT_WORKER_REUSE", "true"))
        )
        if os.environ.get("SPARK_GRAFT_PRETOUCH"):
            builder = builder.config(
                "spark.executor.extraJavaOptions",
                f"-Xms{exec_mem_mb}m -XX:+AlwaysPreTouch")
    if os.environ.get("SPARK_GRAFT_PRETOUCH"):
        # Benchmark mode: commit + zero the whole heap up front. The
        # JVM's lazy heap growth otherwise charges page-commit faults to
        # the first few *queries* (measured: first stencil run 28-48s vs
        # 7s steady-state at 16384^2 in this VM) — exactly the noise a
        # cluster executor with -Xms=-Xmx never sees. Costs ~1s/GB at
        # session start, excluded from every timed region.
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch")
    # $SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v pairs, applied
    # LAST so a probe can override any named config above — the whole
    # point of the hook is benchmark A/B experiments without code
    # edits (it was originally applied first, which silently no-op'd
    # any probe of a config this function also sets, e.g. the AQE
    # coalescing A/B in the round-5 ANN profile).
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            # log each applied override: because the hook is applied
            # LAST it silently wins over every hardened named config
            # above, so a probe config leaking from a bench/A-B
            # environment into a production run must leave a trace
            import sys as _sys
            print(f"[session] SPARK_GRAFT_EXTRA_CONF override: "
                  f"{k.strip()}={v.strip()}", file=_sys.stderr)
            builder = builder.config(k.strip(), v.strip())
    # single-threaded math libs inside the (many) python workers:
    # 32 workers x N BLAS/Arrow threads oversubscribes the host
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parse_bytes(v: str) -> int:
    """'134217728b' / '128m' / '1g' -> bytes."""
    v = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if v.endswith(suf):
            v = v[: -len(suf)]
            mult = m
            break
    return int(float(v)) * mult


def _estimated_scan_partitions(spark, files) -> int | None:
    """Split count the file scan will produce, from driver-side file
    stats alone (ceil(size/maxPartitionBytes) per file). None when the
    files aren't cheaply stat-able (non-local storage)."""
    import math
    try:
        mpb = _parse_bytes(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b"))
    except Exception:
        mpb = 128 << 20
    total = 0
    for f in files:
        p = f[len("file:"):] if f.startswith("file:") else (
            f if f.startswith("/") else None)
        if p is None or not os.path.exists(p):
            return None
        total += max(1, math.ceil(os.path.getsize(p) / mpb))
    return total


# Logical-plan nodes that (re)establish a partitioning the file-stat
# estimate can't see. If any appears, the frame's real partition count
# may exceed the scan estimate — e.g. an upstream .repartition(4*cpus)
# over a small file would be "estimated" at 1 split and coalesced back
# down with a fresh full shuffle, the opposite of the no-op contract.
_PARTITIONING_NODES = (
    "Repartition", "RebalancePartitions", "Join", "Aggregate", "Sort",
    "Window", "Deduplicate", "InMemoryRelation", "Union",
)


def ensure_parallelism(df, min_parts: int | None = None):
    """Spread a DataFrame across the cluster if its scan produced too
    few partitions (small local files read as one split; at production
    scale the scan itself yields thousands). Cheap no-op when already
    parallel — this guards the fan-out operators (explode-heavy dedup /
    hashing) whose map-side work would otherwise serialize.

    The partition count comes from driver-side file stats
    (inputFiles + size/maxPartitionBytes) ONLY when the analyzed plan
    is a bare scan (Project/Filter/Generate over a relation) — for any
    plan containing a partitioning-establishing node (repartition,
    join, aggregate, cache, ...) the estimate is blind to the plan's
    actual partitioning, so we fall back to df.rdd.getNumPartitions().
    """
    spark = df.sparkSession
    want = min_parts or spark.sparkContext.defaultParallelism
    est = None
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        bare_scan = not any(n in plan for n in _PARTITIONING_NODES)
    except Exception:
        bare_scan = False
    if bare_scan:
        try:
            files = df.inputFiles()
        except Exception:
            files = []
        est = _estimated_scan_partitions(spark, files) if files else None
    parts = est if est is not None else df.rdd.getNumPartitions()
    if parts < want:
        return df.repartition(want)
    return df


# ---------------------------------------------------------------------------
# Operator cache lifecycle
# ---------------------------------------------------------------------------

class _Slot(NamedTuple):
    key: object                 # memo key; None outside the memo form
    source: DataFrame | None    # input the memoized frame was built from
    frames: tuple[DataFrame, ...]


# (applicationId, operator) -> _Slot. A slot is only ever replaced
# whole under the lock, so a reader always sees a key beside the frame
# built for it. The lock is never held across a Spark job or a
# blocking unpersist.
_slots: dict[tuple[str, str], _Slot] = {}
_slots_lock = threading.Lock()


def _slot_id(spark: SparkSession, op: str) -> tuple[str, str]:
    return (spark.sparkContext.applicationId, op)


def cache_frame(df: DataFrame, op: str, key: object = None,
                source: DataFrame | None = None) -> DataFrame:
    """Persist ``df`` at MEMORY_AND_DISK behind an eager ``count()``
    barrier and file it in ``op``'s slot for this session.

    The barrier populates every block with full parallelism before any
    consumer launches: the consumers of an operator's cache are
    independent shuffle-map stages that Spark submits concurrently, and
    left lazy each races the population and recomputes uncached blocks
    (measured 5x build executor-run time at 4 executors, BENCH/NOTES.md
    round-5 profile). It also finalizes the cached AQE plan, so joins
    over the cache see its partitioning. The frame is filed only after
    the barrier succeeds; if it fails the frame is unpersisted and the
    error re-raised, so a retry never meets a half-materialized cache.
    """
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        df.count()
    except Exception:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
        raise
    sid = _slot_id(df.sparkSession, op)
    with _slots_lock:
        held = _slots.get(sid)
        _slots[sid] = _Slot(key, source,
                            (held.frames if held else ()) + (df,))
    return df


def release_cached(spark: SparkSession, *ops: str) -> None:
    """Unpersist every frame filed in ``ops``' slots for this session.

    Operators call this at the start of each call (the memo form on a
    miss), so at most one call's frames per operator stay cached — a
    long session would otherwise pin every call's copy forever, and
    stale entries would get substituted into some branches of the next
    call's plan (Spark's cache lookup is plan-structural). BLOCKING: a
    lazy unpersist leaves the stale cache competing with the new build
    for executor storage (measured 2x degradation over repeated ANN
    calls). A frame released while a lazy result still reads it is
    recomputed from its lineage, so release never changes a result."""
    sids = [_slot_id(spark, op) for op in ops]
    with _slots_lock:
        held = [_slots.pop(sid, None) for sid in sids]
    for slot in filter(None, held):
        # newest first: a later frame may read an earlier one, and
        # uncaching the earlier one first makes Spark re-plan the later
        for df in reversed(slot.frames):
            try:
                df.unpersist(blocking=True)
            except Exception:
                pass


def memo_frame(source: DataFrame, op: str, key: object,
               build: Callable[[], DataFrame]) -> DataFrame:
    """``op``'s cached frame for ``source``: the slot's frame when it
    was filed under an equal ``key`` AND from an input with the same
    semantics as ``source``, else the slot is released and ``build()``'s
    frame is cached in its place.

    ``key`` is a cheap pre-filter (a 32-bit plan hash plus parameters);
    ``sameSemantics`` confirms a hit, so two different inputs that
    collide on the hash never share a frame. Any failure of that API
    counts as a miss — rebuilding is always safe."""
    spark = source.sparkSession
    sid = _slot_id(spark, op)
    with _slots_lock:
        slot = _slots.get(sid)
    if slot is not None and slot.key == key:
        try:
            if source.sameSemantics(slot.source):
                return slot.frames[-1]
        except Exception:
            pass
    release_cached(spark, op)
    return cache_frame(build(), op, key, source)
