"""Metric catalogue and the result line.

``END_TO_END`` and ``PER_LAYER`` are the single source of the names,
units and directions that ``BENCHMARK.json`` lists; a test keeps the
two in step.  A per-layer metric whose layer the workload never calls
reads 0 (the layer did no work in that run).
"""

from __future__ import annotations

END_TO_END = (  # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("items_per_s", "items/s", "higher", 0.25),
)

# Spark runtime set, per traced call: short name -> span name
RUNTIME_OPS = {
    "knn": "spatial_join.knn",
    "pip": "spatial_join.pip",
    "stencil_noop": "grid.stencil_noop",
    "dev_from_mean": "grid.stencil.dev_from_mean",
    "fill": "hydrology.fill",
    "d8": "hydrology.d8",
    "ngram_jaccard_top1": "dedup.ngram_jaccard_top1",
    "cosine_topk": "similarity.cosine_topk",
}
RUNTIME_UNITS = {"jobs": "count", "stages": "count", "exec_run_s": "s",
                 "exec_cpu_s": "s", "gc_s": "s", "shuffle_read_mb": "MB",
                 "shuffle_write_mb": "MB", "spill_mb": "MB",
                 "python_mb": "MB", "driver_gap_s": "s"}

STENCIL_KERNELS = ("slope", "hillshade", "mean_filter", "dev_from_mean")

PER_LAYER = (
    # demoted from end-to-end: they did not repeat within a tenth
    ("first_pass_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("session.start_s", "s", "lower"),
    ("inputs.gen_s", "s", "lower"),
    ("geocode.wall_s", "s", "lower"),
    ("cellindex.cells_per_s", "1/s", "higher"),
    ("pipeline.salted_cells.wall_s", "s", "lower"),
    ("spatial_join.pip.wall_s", "s", "lower"),
    ("spatial_join.pip.pairs", "count", "higher"),
    ("spatial_join.knn.wall_s", "s", "lower"),
    ("grid.stencil_noop.wall_s", "s", "lower"),
    *((f"grid.stencil.{k}.wall_s", "s", "lower") for k in STENCIL_KERNELS),
    ("grid.halo_shuffle_mb", "MB", "lower"),
    ("grid.arrow_mb", "MB", "lower"),
    *((f"kernels.{k}.ns_per_cell", "ns", "lower") for k in STENCIL_KERNELS),
    ("kernels.share", "ratio", "lower"),
    ("hydrology.fill.wall_s", "s", "lower"),
    ("hydrology.fill.rounds", "count", "lower"),
    ("hydrology.d8.wall_s", "s", "lower"),
    ("hydrology.driver_gap_s", "s", "lower"),
    ("checkpoint.write_mb", "MB", "lower"),
    ("checkpoint.stage_wall_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("tile_store.write_s", "s", "lower"),
    ("tile_store.write_mb", "MB", "lower"),
    ("tile_store.read_s", "s", "lower"),
    ("dedup.minhash_lsh_pairs.wall_s", "s", "lower"),
    ("dedup.simhash.wall_s", "s", "lower"),
    ("dedup.ngram_jaccard_top1.wall_s", "s", "lower"),
    ("dedup.ngram.pairs_out", "count", "higher"),
    ("similarity.cosine_topk.wall_s", "s", "lower"),
    ("similarity.ivf_topk.wall_s", "s", "lower"),
    ("similarity.memo_hit_s", "s", "lower"),
    ("corpus.tfidf_topk.wall_s", "s", "lower"),
    *((f"{op}.{f}", u, "lower") for op in RUNTIME_OPS
      for f, u in RUNTIME_UNITS.items()),
    ("trace.overhead_s", "s", "lower"),
    ("fail_ratio", "ratio", "lower"),
)


def result(values: dict, trace: bool, attempted: int, failed: int) -> dict:
    """The last stdout line: every end-to-end metric (untraced) or
    every per-layer metric (traced), each with its unit.  A metric
    missing from ``values`` is an error, not a silent zero."""
    table = PER_LAYER if trace else END_TO_END
    metrics = {}
    for name, unit, *_ in table:
        if name not in values:
            raise KeyError(f"metric {name} was not measured")
        metrics[name] = {"value": float(values[name]), "unit": unit}
    return {"correct": failed == 0, "attempted": int(attempted),
            "failed": int(failed), "metrics": metrics}
