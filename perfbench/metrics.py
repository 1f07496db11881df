"""Names, units and directions of every reported metric (BENCHMARK.json
mirrors these; ``test_perfbench.py`` checks that it does)."""

from __future__ import annotations

#: name -> (unit, better)
END_TO_END = {
    "docs_per_s": ("docs/s", "higher"),
    "recall": ("share", "higher"),
    "precision": ("share", "higher"),
    "dedup_ratio": ("ratio", "higher"),
    "setup_s": ("s", "lower"),
}

#: layers with Spark jobs of their own, in pipeline order
LAYERS = (
    "session", "textfns", "signatures", "candidates", "clustering", "spans",
    "sources", "bytedelta", "container",
)

#: metric read for every layer -> (unit, better)
LAYER_METRICS = {
    "wall_s": ("s", "lower"),
    "task_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "busy_share": ("share", "higher"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_skew": ("ratio", "lower"),
    "shuffle_read_mb": ("MB", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "rows_out": ("count", "lower"),
}

#: per-layer name -> (unit, better)
PER_LAYER = {
    f"{layer}.{m}": spec for layer in LAYERS for m, spec in LAYER_METRICS.items()
}
PER_LAYER.update({
    "session.jvm_start_s": ("s", "lower"),
    "pipeline.wall_s": ("s", "lower"),
    "pipeline.peak_rss_mb": ("MB", "lower"),
    "textfns.rep_share": ("share", "lower"),
    "candidates.keep_rate": ("share", "higher"),
    "spans.copy_share": ("share", "higher"),
    "input.docs": ("count", "higher"),
    "input.near_dup_share": ("share", "higher"),
    "input.exact_dup_share": ("share", "higher"),
    "input.mean_tokens": ("count", "higher"),
    "input.hot_bucket_share": ("share", "lower"),
    "tracing.overhead_ratio": ("ratio", "lower"),
})
