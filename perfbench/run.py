"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload geo_corpus --seed 1 --seconds 5 --trace 0

Closed loop on ``local[$(nproc)]``: one driver issues the workload's
operator calls back to back.  Per run:

1. set-up: session start, then the seeded inputs are generated, made
   into DataFrames and cached;
2. the first pass: every call writes Parquet, which the checks read;
3. timed passes: every call writes to the ``noop`` sink, so every
   output column is computed; passes repeat until ``--seconds`` have
   gone by (at least ``MIN_PASSES``).  Calls marked ``timed=False``
   run only in traced runs;
4. the checks, outside any timed region.

``--trace 1`` adds the Spark event log (through SPARK_GRAFT_EXTRA_CONF),
a job group per call, a span file under ``.perfbench/`` and the traced
probes, and prints the per-layer metrics instead.

The last stdout line is the result JSON; the line before it is the run
record (host, versions, seed, input digests, pass times).  All scratch
files live in ``.perfbench/tmp-<pid>`` under the repository root and are
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PASSES = 1


def process_age() -> float:
    """Seconds since this process was started.  Both ends are on the
    boot clock: ``/proc/self/stat`` gives the start in clock ticks since
    boot, so no wall-clock step or whole-second ``btime`` enters."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(tmp: str, trace: bool) -> None:
    """Session settings, all scratch inside ``tmp``.  Must run before
    the JVM starts: it and its Python workers inherit this environment."""
    for d in ("local", "warehouse", "events", "java"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    env = os.environ
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    env["TMPDIR"] = tmp
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp}/java "
                                "-XX:-UsePerfData")
    conf = [f"spark.sql.warehouse.dir=file:{tmp}/warehouse",
            "spark.ui.showConsoleProgress=false"]
    if trace:
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file:{tmp}/events"]
    env["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)


def git_commit() -> str:
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def dir_mb(path: str) -> float:
    total = 0
    for dp, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
    return total / (1024.0 * 1024.0)


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, tmp: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.tmp = trace, tmp
        self.attempted = self.failed = 0
        self.called_ops: set[str] = set()
        self.failed_ops: set[str] = set()   # raised in any pass or failed its check
        self.errors: list[str] = []
        self.values: dict[str, float] = {}
        self.passes: list[dict] = []
        self.phases: dict[str, float] = {}
        self.warm: list[dict] = []
        self.conf: dict[str, str] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from go_spatial_spark.session import get_spark
        from perfbench import trace as T, workloads as W

        self.rss = None
        self.spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
        self.values["session.start_s"] = process_age()
        t0 = time.perf_counter()
        self.ctx = W.Ctx(self.spark, self.tmp, self.seed)
        self.groups = [W.GROUPS[g][0](self.ctx) for g in W.WORKLOADS[self.workload]]
        self.values["inputs.gen_s"] = time.perf_counter() - t0
        self.digests = {k: v for g in self.groups for k, v in g.digests.items()}
        self.values["setup_s"] = (self.values["session.start_s"]
                                  + self.values["inputs.gen_s"])
        sc = self.spark.sparkContext
        self.conf = {"driver_memory": sc.getConf().get("spark.driver.memory"),
                     "master": sc.master}
        self.tracer = T.Tracer(run_id=f"{self.workload}-{self.seed}-{os.getpid()}",
                               spark=self.spark, enabled=self.trace)
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.rss = T.RssSampler(jvm_pid)

    # -- passes ---------------------------------------------------------
    def noop_sink(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def capture_sink(self, name: str):
        def sink(df) -> None:
            path = os.path.join(self.tmp, "out", name)
            df.write.mode("overwrite").parquet(path)
            self.ctx.captured[name] = path
        return sink

    def run_pass(self, capture: bool, all_ops: bool) -> dict:
        """One pass over the workload's calls; ``all_ops`` adds the
        calls marked ``timed=False``."""
        self.ctx.pass_no += 1
        times = {}
        with self.tracer.span("pass") as ps:
            for g in self.groups:
                for op in g.ops:
                    if not (op.timed or all_ops):
                        continue
                    self.attempted += 1
                    self.called_ops.add(op.name)
                    sink = self.capture_sink(op.name) if capture else self.noop_sink
                    with self.tracer.span(op.name) as s:
                        try:
                            op.run(sink)
                        except Exception as e:  # a failed call is counted, not fatal
                            self.failed += 1
                            self.failed_ops.add(op.name)
                            self.errors.append(f"{op.name}: {type(e).__name__}: {e}"[:500])
                    times[op.name] = s.end - s.start
        rec = {"wall_s": ps.end - ps.start, "ops": times, "span": ps,
               "traced": self.tracer.enabled}
        self.passes.append(rec)
        return rec

    def measure(self) -> None:
        first = self.run_pass(capture=True, all_ops=self.trace)
        self.values["first_pass_s"] = first["wall_s"]
        warm = []
        t0 = time.perf_counter()
        self.rss.active.set()
        if self.trace:
            # the traced pass over all calls comes second, the position of
            # the untraced runs' timed pass; an untraced pass over the
            # timed calls follows.  Their difference on the timed calls
            # is the cost of spans and job groups, read high by the third
            # pass's extra warm-up (the event log is on for the whole
            # traced session, so its own cost is not in it)
            warm.append(self.run_pass(capture=False, all_ops=True))
            self.tracer.enabled = False
            untraced = self.run_pass(capture=False, all_ops=False)
            self.tracer.enabled = True
            self.values["trace.overhead_s"] = (
                sum(warm[0]["ops"][o] for o in untraced["ops"])
                - sum(untraced["ops"].values()))
        else:
            while len(warm) < MIN_PASSES or time.perf_counter() - t0 < self.seconds:
                warm.append(self.run_pass(capture=False, all_ops=False))
        self.rss.active.clear()
        self.warm = warm
        self.values["wall_s"] = statistics.median(p["wall_s"] for p in warm)
        items = {k: n for g in self.groups for k, n in g.items.items()}
        self.values["items_per_s"] = sum(items.values()) / self.values["wall_s"]
        self.values["peak_rss_mb"] = self.rss.peak

    def check(self) -> None:
        from perfbench import workloads as W
        for g in self.groups:
            for op, fn in W.GROUPS[g.name][1](self.ctx, g).items():
                if op not in self.ctx.captured:
                    continue  # not called, or failed and counted already
                try:
                    err = fn()
                except Exception as e:  # a check that cannot run is a failure
                    err = f"{op}: check raised {type(e).__name__}: {e}"
                if err:
                    self.failed += 1
                    self.failed_ops.add(op)
                    self.errors.append(err[:500])

    # -- traced probes ----------------------------------------------------
    def probes(self) -> None:
        """Per-layer figures that need calls outside the passes."""
        from perfbench import workloads as W
        v = self.values
        names = {g.name for g in self.groups}
        rng = self.ctx.rng(9)
        if "geo" in names:
            from go_spatial_spark.cellindex import cell_of_lonlat_np
            lon = rng.uniform(-180, 180, 1_000_000)
            lat = rng.uniform(-90, 90, 1_000_000)
            dt = min(W.timed(lambda: cell_of_lonlat_np(lon, lat, 12)) for _ in range(3))
            v["cellindex.cells_per_s"] = lon.size / dt
        if "stencil" in names:
            self._kernel_probe(next(g for g in self.groups if g.name == "stencil"))
        if "corpus" in names:
            from go_spatial_spark.operators import similarity
            g = next(g for g in self.groups if g.name == "corpus")
            # the passes' ivf call released the ANN index: build it again
            # untimed, then time a call that finds it in the memo
            self.noop_sink(similarity.cosine_topk(g.emb))
            with self.tracer.span("similarity.memo_hit") as s:
                self.noop_sink(similarity.cosine_topk(g.emb))
            v["similarity.memo_hit_s"] = s.end - s.start
            similarity.release_ann_caches()
        if "hydro" in names:
            from go_spatial_spark.operators import hydrology as H
            g = next(g for g in self.groups if g.name == "hydro")
            ck = g.state["ckpt"]
            with self.tracer.span("checkpoint.resume") as s:
                self.noop_sink(H.fill_depressions_tiled(
                    g.state["tiles"], g.meta, tile=W.HYDRO_TILE, ckpt_dir=ck))
            v["checkpoint.resume_s"] = s.end - s.start
            v["hydrology.fill.rounds"] = W.fill_rounds(ck)
            v["checkpoint.write_mb"] = dir_mb(ck)
            with open(os.path.join(ck, "_metrics.jsonl")) as f:
                v["checkpoint.stage_wall_s"] = sum(
                    json.loads(line)["wall_s"] for line in f if line.strip())
            v["tile_store.write_mb"] = dir_mb(g.store)

    def _kernel_probe(self, g) -> None:
        """ns per cell of each kernel, called directly on one seeded
        padded tile (best of 3)."""
        import numpy as np
        from go_spatial_spark import kernels
        from go_spatial_spark.grid import StencilCtx
        from perfbench import workloads as W
        t = W.STENCIL_TILE
        ty, tx = (int(x) for x in self.ctx.rng(10).integers(0, W.STENCIL_DEM // t, 2))
        for name, kname, halo, extra in W.STENCILS:
            if kname is None:
                continue
            if name == "dev_from_mean":
                extra = W.stencil_params(g.dem)
            padded = np.full((t + 2 * halo, t + 2 * halo), g.meta.nodata)
            r0, c0 = ty * t - halo, tx * t - halo
            ra, ca = max(r0, 0), max(c0, 0)
            sub = g.dem[ra:ty * t + t + halo, ca:tx * t + t + halo]
            padded[ra - r0:ra - r0 + sub.shape[0], ca - c0:ca - c0 + sub.shape[1]] = sub
            sctx = StencilCtx(meta=g.meta, tile=t, ty=ty, tx=tx, row0=ty * t,
                              col0=tx * t, extra=extra or {})
            fn = getattr(kernels, kname)
            dt = min(W.timed(lambda: fn(padded, halo, sctx)) for _ in range(3))
            self.values[f"kernels.{name}.ns_per_cell"] = dt / (t * t) * 1e9

    def per_layer(self) -> None:
        """Per-layer values from the traced pass and the event log."""
        from perfbench import metrics as M, trace as T
        v = self.values
        log = T.read_event_log(os.path.join(self.tmp, "events"))
        spans = {s.name: s for s in self.tracer.spans
                 if s.parent == self.warm[-1]["span"].sid}
        for name, *_ in M.PER_LAYER:
            v.setdefault(name, 0.0)
        for name, s in spans.items():
            if name.startswith("tile_store."):
                v[f"{name}_s"] = s.end - s.start
            else:
                v[f"{name}.wall_s"] = s.end - s.start
        for short, span_name in M.RUNTIME_OPS.items():
            if span_name in spans:
                for f, x in T.runtime_for(spans[span_name], log).items():
                    v[f"{short}.{f}"] = x
        st = [spans[n] for n in spans if n.startswith("grid.")]
        rt = [T.runtime_for(s, log) for s in st]
        v["grid.halo_shuffle_mb"] = sum(r["shuffle_write_mb"] for r in rt)
        v["grid.arrow_mb"] = sum(r["python_mb"] for r in rt)
        kern = [v[f"grid.stencil.{k}.wall_s"] for k in M.STENCIL_KERNELS]
        if sum(kern) > 0:
            v["kernels.share"] = (sum(kern) - len(kern) * v["grid.stencil_noop.wall_s"]) / sum(kern)
        v["hydrology.driver_gap_s"] = v["fill.driver_gap_s"] + v["d8.driver_gap_s"]
        if "spatial_join.pip" in self.ctx.captured:
            v["spatial_join.pip.pairs"] = len(self.ctx.output("spatial_join.pip"))
        if "dedup.ngram_jaccard_top1" in self.ctx.captured:
            v["dedup.ngram.pairs_out"] = len(self.ctx.output("dedup.ngram_jaccard_top1"))
        # per operator: a call that raised in every pass counts once
        v["fail_ratio"] = len(self.failed_ops) / max(len(self.called_ops), 1)

    def close(self) -> None:
        """Stop the sampler, the session and the JVM, and wait for the
        JVM to exit (it takes its Python workers with it)."""
        if getattr(self, "rss", None) is not None:
            self.rss.close()
        if getattr(self, "spark", None) is None:
            return
        from pyspark import SparkContext
        gw = SparkContext._gateway
        t0 = time.perf_counter()
        self.spark.stop()
        self.phases["stop_s"] = time.perf_counter() - t0
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def record(self) -> dict:
        import numpy
        import pyspark
        return {
            "workload": self.workload, "seed": self.seed, "trace": self.trace,
            "seconds": self.seconds, "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            **self.conf,
            "spark": pyspark.__version__, "python": sys.version.split()[0],
            "numpy": numpy.__version__, "commit": git_commit(),
            "inputs": self.digests,
            "passes": [{"wall_s": p["wall_s"], "traced": p["traced"],
                        "ops": p["ops"]} for p in self.passes],
            "timed_passes": len(self.warm), "phases_s": self.phases,
            "notes": {g.name: g.notes for g in getattr(self, "groups", [])},
            "errors": self.errors,
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "go_spatial_spark", "__init__.py")):
        print(f"perfbench: no go_spatial_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics as M, workloads as W
    if a.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"known: {', '.join(W.WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(out_dir, f"tmp-{os.getpid()}")
    configure_env(tmp, bool(a.trace))
    r = Runner(a.workload, a.seed, a.seconds, bool(a.trace), tmp)
    try:
        try:
            r.setup()
            r.measure()
            r.phases["checks_s"] = W.timed(r.check)
            if r.trace:
                r.phases["probes_s"] = W.timed(r.probes)
        finally:
            r.close()
        record = r.record()
        if r.trace:
            r.per_layer()
            path = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl")
            r.tracer.write(path)
            record["spans"] = os.path.relpath(path, ROOT)
        res = M.result(r.values, r.trace, r.attempted, r.failed)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
