"""N -> 4N scaling rows for the two heaviest never-cohorted queries:
ngram_jaccard_top1 and knn (round-5 verdict task #3).

bench.py is frozen for driver measurement this round, so these rows
live here instead of in bench.py's scaling_workload. Protocol is
otherwise IDENTICAL to scripts/scaling_bench.py: the same job at two
cluster sizes emulated with multi-process executors
(local-cluster[1,2,mem] vs local-cluster[4,2,mem]), constant node
shape, pre-touched heaps, 1 warm-up + min of 2 timed runs, every
completed run graded (no exclusions).

Input: a 50k-doc corpus built by GRAM-DISJOINT salted replication
of sf0.1 (see worker()) — the driver-generated sf1.0 corpus is not
present in this environment, and PLAIN replication is wrong for
ngram (replicas share their whole gram set, so every gram's document
frequency multiplies by the replication factor and the df_cap drops
the entire vocabulary: the query degenerates to empty output and
would measure nothing). Per-token replica salting keeps every gram
inside one replica, preserving the df distribution exactly while
scaling the corpus 10x.

Usage: python scripts/scaling_extra.py            # both levels, JSON
       python scripts/scaling_extra.py --worker   # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEVELS = (("N", 1, 2), ("4N", 4, 2))
EXEC_MB = 10240
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def worker() -> None:
    sys.path.insert(0, REPO)
    from go_spatial_spark.session import get_spark
    from go_spatial_spark.operators import dedup
    from go_spatial_spark.operators.spatial_join import knn_self
    from go_spatial_spark.geocode import geocode

    from pyspark.sql import functions as F

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark("gss-scaling-extra", cpus=cpus,
                      shuffle_partitions=32)
    # The driver-generated sf1.0 corpus is not present in this
    # environment (see BENCH/NOTES.md round-6 amendment, stated
    # before any graded run): build the 50k-doc workload as a
    # GRAM-DISJOINT salted replication of sf0.1 — every token gets a
    # per-replica suffix, so every token trigram lives in exactly one
    # replica: per-gram document frequency is PRESERVED (plain
    # replication multiplies every df by the factor and the df_cap
    # empties the vocabulary), the vocabulary and the gram self-join
    # fan-out scale 10x, and doc_ids stay unique. geocode() is pure
    # arithmetic on doc_id, so the remapped ids also yield a
    # native-like 50k-point cloud (20% hotspot rate preserved:
    # (10*id + r) % 5 == r % 5 -> replicas r=0,5 are the hot 20%).
    R = 10
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs = (base.select(
        F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("r"),
        "doc_id", "text")
        .select((F.col("doc_id") * R + F.col("r")).alias("doc_id"),
                F.regexp_replace(
                    "text", F.lit(r"(\S+)"),
                    F.concat(F.lit("$1_"), F.col("r").cast("string"))
                ).alias("text"))
        .repartition(32).cache())
    docs.count()
    pts = geocode(docs).select("doc_id", "lat", "lon")
    # knn_200k: 4x-replicated point cloud, unique ids, hotspot
    # preserved (exact coordinate copies — the per-tile candidate
    # density is what's being scaled); this row measures the
    # compute-bound regime.
    pts4 = (pts.select(
        "doc_id", "lat", "lon",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r"))
        .select((F.col("doc_id") * 4 + F.col("r")).alias("doc_id"),
                "lat", "lon")
        .repartition(32).cache())
    pts4.count()

    queries = {
        "ngram_50k": lambda: dedup.ngram_jaccard_top1(docs).count(),
        "knn_50k": lambda: knn_self(pts, k=5).count(),
        "knn_200k": lambda: knn_self(pts4, k=5).count(),
    }
    times: dict[str, float] = {}
    trials: dict[str, list[float]] = {}
    for name, fn in queries.items():
        rec = trials.setdefault(name, [])
        best = float("inf")
        for i in range(3):  # 1 warm-up + 2 timed
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            rec.append(round(dt, 3))
            if i >= 1:
                best = min(best, dt)
        times[name] = round(best, 3)
        print(f"[extra-scaling] {name} {best:.2f}s trials={rec}",
              file=sys.stderr, flush=True)
    print(json.dumps({"queries": times, "trials": trials, "cpus": cpus}))
    spark.stop()


def main() -> None:
    if "--worker" in sys.argv:
        worker()
        return
    out: dict[str, dict] = {}
    for label, n_exec, cores in LEVELS:
        master = f"local-cluster[{n_exec},{cores},{EXEC_MB}]"
        env = dict(os.environ,
                   SPARK_GRAFT_CPUS=str(n_exec * cores),
                   SPARK_GRAFT_MASTER=master,
                   SPARK_GRAFT_DRIVER_MEM="6g",
                   SPARK_GRAFT_PRETOUCH="1",
                   SPARK_GRAFT_SF_DIR=SF_DIR)
        print(f"[extra-scaling] {label} master={master} ...",
              file=sys.stderr, flush=True)
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker"],
            env=env, capture_output=True, text=True, timeout=7200)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-4000:])
            raise RuntimeError(f"worker failed at {label}")
        for ln in r.stderr.splitlines():
            if ln.startswith("[extra-scaling]"):
                print(ln, file=sys.stderr, flush=True)
        out[label] = json.loads(r.stdout.strip().splitlines()[-1])
        # let executor JVMs tear down before the next level
        time.sleep(10)
    factor = (LEVELS[1][1] * LEVELS[1][2]) / (LEVELS[0][1] * LEVELS[0][2])
    eff = {q: round((out["N"]["queries"][q] / out["4N"]["queries"][q])
                    / factor, 3)
           for q in out["N"]["queries"]}
    print(json.dumps({"eff_N_4N": eff,
                      "seconds_N": out["N"]["queries"],
                      "seconds_4N": out["4N"]["queries"],
                      "trials": {lbl: out[lbl]["trials"] for lbl in out}}))


if __name__ == "__main__":
    main()
